package graft

import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec}
import org.apache.spark.sql.functions._
import java.nio.file.Files

import graft.pages.Pages
import graft.pipeline.GeoPipeline
import graft.snapshot.Snapshot

class PipelineSpec extends SparkSpec {

  test("pages generation is deterministic; text is byte-identical per url") {
    val a = Pages.generate(spark, 500, seed = 42, numPartitions = 4)
      .select(col("url"), xxhash64(col("text")).as("h"))
    val b = Pages.generate(spark, 500, seed = 42, numPartitions = 8) // different parallelism
      .select(col("url"), xxhash64(col("text")).as("h2"))
    val joined = a.join(b, "url")
    assert(joined.count() == 500)
    assert(joined.filter(col("h") =!= col("h2")).count() == 0)
  }

  test("extracted text strips all markup and entities") {
    val rows = Pages.generate(spark, 20, 42, 2).select("text").collect()
    rows.foreach { r =>
      val t = r.getString(0)
      assert(!t.contains("<") && !t.contains(">"))
      assert(t.contains("Dispatch & notes from near Entityville-"))
    }
  }

  test("lang column matches the lang-id heuristic on its own text") {
    // lang is *assigned* by langId(text); the filler text per language is
    // built to be identified correctly, so distribution covers all 5 langs
    val langs = Pages.generate(spark, 300, 42, 4)
      .groupBy("lang").count().collect().map(_.getString(0)).toSet
    assert(langs == Set("en", "de", "fr", "es", "it"))
  }

  test("geocode attaches entity, point, cell and tiles for every page") {
    val pages = Pages.generate(spark, 400, 7, 4)
    val geo = Pages.geocode(pages, Pages.gazetteer(spark))
    assert(geo.count() == 400) // every synthetic page carries a gazetteer mention
    val r = geo.select("lat", "lon", "s2_cell", "tile_z4", "tile_z8", "tile_z12").collect()
    r.foreach { row =>
      assert(math.abs(row.getDouble(0)) <= 58.0)
      assert(math.abs(row.getDouble(1)) <= 170.0)
      assert(row.getLong(2) != 0L)
    }
  }

  test("snapshot write/read round trip + metrics + lineage") {
    val root = Files.createTempDirectory("snap").toString
    val df = spark.range(100).select(col("id"), (col("id") * 2).as("v"))
    val m = Snapshot.write(df, root, "stage1", "fp1")
    assert(m.snapshotId == 1 && m.parentId == 0)
    assert(m.rowCount == 100)
    assert(Snapshot.read(spark, root, 1).count() == 100)
    val metrics = spark.read.parquet(s"$root/metrics/snap-1")
    assert(metrics.agg(sum("rows_written")).collect()(0).getLong(0) == 100)
    assert(metrics.columns.toSet ==
      Set("snapshot_id", "partition_id", "rows_written", "task_millis"))
  }

  test("runStage resumes from checkpoint instead of recomputing") {
    val root = Files.createTempDirectory("snap").toString
    var computes = 0
    def compute = { computes += 1; spark.range(50).toDF("id") }
    val a = Snapshot.runStage(spark, root, "s", "fp")(compute)
    assert(a.count() == 50 && computes == 1)
    val b = Snapshot.runStage(spark, root, "s", "fp")(compute)
    assert(b.count() == 50 && computes == 1) // resumed, not recomputed
    assert(Snapshot.currentId(root).contains(1L))
    // different fingerprint -> recompute as child snapshot
    val c = Snapshot.runStage(spark, root, "s", "fp2")(compute)
    assert(c.count() == 50 && computes == 2)
    assert(Snapshot.currentId(root).contains(2L))
  }

  test("snapshot time travel, rollback and history") {
    val root = Files.createTempDirectory("snap").toString
    Snapshot.write(spark.range(10).toDF("id"), root, "s", "v1")
    val t1 = System.currentTimeMillis()
    Thread.sleep(5)
    Snapshot.write(spark.range(20).toDF("id"), root, "s", "v2")
    assert(Snapshot.currentId(root).contains(2L))
    assert(Snapshot.history(root).map(_.snapshotId) == Seq(2L, 1L))
    // time travel to before the second commit
    assert(Snapshot.readAsOf(spark, root, t1).count() == 10)
    // rollback flips the pointer; later snapshot stays readable by id
    Snapshot.rollback(root, 1L)
    assert(Snapshot.currentId(root).contains(1L))
    assert(Snapshot.read(spark, root, 2L).count() == 20)
  }

  test("streaming pages geocode: ST ops compose with structured streaming") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.functions.st._
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[String]
    val gaz = Pages.gazetteer(spark)
    val stream = input.toDF().toDF("text")
      .withColumn("entity",
        regexp_extract(col("text"), "(Entityville-\\d{4})", 1))
      .join(broadcast(gaz), Seq("entity"))
      .withColumn("cell", s2_cell(col("lat"), col("lon"), lit(9)))
      .withColumn("tile", tile_id(col("lat"), col("lon"), lit(8)))
    val q = stream.writeStream.format("memory").queryName("geo_stream")
      .outputMode("append").start()
    try {
      input.addData("dispatch from near Entityville-0007 today",
        "nothing geographic here")
      q.processAllAvailable()
      val rows = spark.sql("select entity, cell, tile from geo_stream").collect()
      assert(rows.length == 1)
      assert(rows(0).getString(0) == "Entityville-0007")
      assert(rows(0).getLong(1) != 0L)
    } finally q.stop()
  }

  test("flagship plan: layer-index probe and gazetteer broadcast hash join, no nested " +
    "loop, no shuffle exchange") {
    // size-based broadcasting off: both broadcasts must come from the
    // pipeline's own choices, whatever the layer sizes or the session default
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val plan = try {
      GeoPipeline.build(spark, 1000, 1, 2).queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.initialPlan
        case p => p
      }
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    // the admin layer (local rows) is probed through its broadcast index
    assert(SparkSpec.layerProbes(plan).map(p => (p.stats.level, p.stats.polygons)) == Seq((5, 128)),
      s"no admin probe:\n$plan")
    assert(plan.collect { case j: BroadcastHashJoinExec => j }.nonEmpty, s"no BHJ:\n$plan")
    assert(plan.collect { case j: BroadcastNestedLoopJoinExec => j }.isEmpty, s"BNLJ:\n$plan")
    // a BroadcastExchange is expected; only shuffles break the scan-parallel shape
    assert(plan.collect { case e: ShuffleExchangeLike => e }.isEmpty, s"shuffle:\n$plan")
  }

  test("pipeline end-to-end: every geocoded page joins exactly one admin cell") {
    val res = GeoPipeline.run(spark, nPages = 2000, seed = 42, numPartitions = 8)
    assert(res.rows == 2000)
    val cols = res.joined.columns
    assert(cols.contains("url_left") && cols.contains("admin_id_right"))
  }

  test("pipeline with snapshots: rerun is identical and resumes from checkpoints") {
    val root = Files.createTempDirectory("pipe").toString
    val r1 = GeoPipeline.run(spark, 1000, 42, 4, snapshotRoot = Some(root))
    val idAfterFirst = Snapshot.currentId(root)
    val h1 = r1.joined.select(xxhash64(col("url_left"), col("admin_id_right")))
      .agg(sum(col("xxhash64(url_left, admin_id_right)").cast("decimal(38,0)")))
      .collect()(0).getDecimal(0)
    val r2 = GeoPipeline.run(spark, 1000, 42, 4, snapshotRoot = Some(root))
    val h2 = r2.joined.select(xxhash64(col("url_left"), col("admin_id_right")))
      .agg(sum(col("xxhash64(url_left, admin_id_right)").cast("decimal(38,0)")))
      .collect()(0).getDecimal(0)
    assert(r1.rows == r2.rows)
    assert(h1 == h2) // byte-identical output across resume
    assert(Snapshot.currentId(root) == idAfterFirst) // no new snapshots: resumed
  }
}
