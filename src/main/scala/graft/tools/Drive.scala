package graft.tools

import org.apache.spark.sql.SparkSession

/** Verification driver: exercises the public API surface end-to-end. */
object Drive {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val e = graft.SparkEntry.entry(spark)
    println(s"ENTRY_ROWS ${e.count()} COLS ${e.columns.take(4).mkString(",")}")
    val root = java.nio.file.Files.createTempDirectory("drive_snap").toString
    val r1 = graft.pipeline.GeoPipeline.run(spark, 3000, 42, 4, snapshotRoot = Some(root))
    val id1 = graft.snapshot.Snapshot.currentId(root)
    val r2 = graft.pipeline.GeoPipeline.run(spark, 3000, 42, 4, snapshotRoot = Some(root))
    val id2 = graft.snapshot.Snapshot.currentId(root)
    println(s"SNAP rows1=${r1.rows} rows2=${r2.rows} id1=$id1 id2=$id2 resumed=${id1 == id2}")
    println("METRICS " + spark.read.parquet(s"$root/metrics/snap-1").columns.mkString(","))
    val plan = graft.pipeline.GeoPipeline.build(spark, 1000, 1, 2)
      .queryExecution.executedPlan.toString
    println("PLAN_BNLJ=" + plan.contains("BroadcastNestedLoop") +
      " PLAN_BHJ=" + plan.contains("BroadcastHashJoin") +
      " PLAN_PROBE=" + plan.contains("spatial_index_probe"))

    // left join on the points fast path against an in-memory layer must be
    // one outer Generate probing the layer's broadcast index, with NO
    // row-id machinery
    import org.apache.spark.sql.execution.GenerateExec
    import org.apache.spark.sql.functions._
    import graft.functions.st._
    val pts = spark.range(100).select(col("id"),
      st_point(col("id").cast("double") % 50, col("id").cast("double") % 30).as("geometry"))
    val polys = spark.range(4).select(col("id").as("pid"),
      st_makeBox(lit(0.0), lit(0.0), lit(25.0), lit(25.0)).as("geometry"))
    val lj = graft.join.SpatialJoin.join(pts, polys,
      graft.join.SpatialPredicate.Intersects, "left", cellLevel = 3, leftPointsOnly = true)
    val ljPlan = lj.queryExecution.executedPlan.toString
    val outerProbe = lj.queryExecution.executedPlan.collect {
      case g: GenerateExec if g.outer => g.generator
    }.exists(_.isInstanceOf[graft.join.LayerProbe])
    println("LEFTJOIN_OUTER_PROBE=" + outerProbe +
      " LEFTJOIN_NO_IDS=" + !ljPlan.contains("monotonically_increasing_id") +
      s" LEFTJOIN_ROWS=${lj.count()}")

    // r5: generic (polygon-left) LEFT join is one-pass — no ExistingRDD
    // (checkpoint) scan anywhere, the match-count Window present
    val polyLeft = spark.range(50).select(col("id").as("lid"),
      st_makeBox(col("id").cast("double"), lit(0.0),
        col("id").cast("double") + 2.0, lit(2.0)).as("geometry"))
    val glj = graft.join.SpatialJoin.join(polyLeft, polys,
      graft.join.SpatialPredicate.Intersects, "left", cellLevel = 3,
      leftPointsOnly = false)
    val gljPlan = glj.queryExecution.executedPlan.toString
    println("GENERIC_LEFT_NO_CKPT=" + !gljPlan.contains("ExistingRDD") +
      " GENERIC_LEFT_WINDOW=" + gljPlan.contains("Window") +
      s" GENERIC_LEFT_ROWS=${glj.count()}")

    // r5: the optimizer rule rescues a naive LEFT OUTER contains join
    graft.sql.GraftSql.registerRules(spark)
    spark.conf.set(graft.sql.SpatialJoinRule.CellLevelConf, "3")
    val naiveLeft = pts.join(polys.withColumnRenamed("geometry", "bgeom"),
      st_contains(col("bgeom"), col("geometry")), "left")
    val nlPlan = naiveLeft.queryExecution.executedPlan.toString
    println("RULE_LEFT_NO_BNLJ=" + !nlPlan.contains("BroadcastNestedLoopJoin") +
      s" RULE_LEFT_ROWS=${naiveLeft.count()}")

    // kNN through the bounded aggregate: partial agg, no Window operator
    val knnPlan = pts.crossJoin(broadcast(spark.range(2).select(col("id").as("qid"),
        lit(1.0).as("qx"), lit(2.0).as("qy"))))
      .withColumn("d", st_distance(col("geometry"), st_point(col("qx"), col("qy"))))
      .groupBy("qid").agg(topk_by(col("d"), col("id"), 3).as("tk"))
      .queryExecution.executedPlan.toString
    println("KNN_NO_WINDOW=" + !knnPlan.contains("Window") +
      " KNN_OBJ_AGG=" + knnPlan.contains("ObjectHashAggregate"))
    spark.stop()
  }
}
