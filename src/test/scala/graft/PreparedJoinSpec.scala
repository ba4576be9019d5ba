package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.locationtech.jts.geom.Coordinate

import graft.SparkSpec.{actionsFor, jobsFor, layerProbes}
import graft.functions.st
import graft.geom.Wkb
import graft.join.{SpatialJoin, SpatialPredicate}

/** Prepared-index reuse — the Spark counterpart of the reference's
 *  precomputed SpatialIndex handed in via SpatialJoinArgs
 *  (geopolars/src/spatial_index.rs:20-21; reuse test :558-624):
 *  prepare() builds a layer's index once, every later join probes it. */
class PreparedJoinSpec extends SparkSpec {

  private def boxWkb(minx: Double, miny: Double, maxx: Double, maxy: Double) =
    Wkb.write(Wkb.factory.createPolygon(Array(
      new Coordinate(minx, miny), new Coordinate(maxx, miny),
      new Coordinate(maxx, maxy), new Coordinate(minx, maxy),
      new Coordinate(minx, miny))))

  private def fixtures() = {
    import spark.implicits._
    val pts = (0 until 500).map { i =>
      (i.toLong, (i * 37 % 340 - 170) + 0.5, (i * 17 % 116 - 58) + 0.5)
    }.toDF("id", "lon", "lat")
      .select(col("id"), st.st_point(col("lon"), col("lat")).as("geometry"))
    val boxes = Seq(
      (1L, boxWkb(-170, -58, -30, 0)), (2L, boxWkb(-30, 0, 110, 58)),
      (3L, boxWkb(-170, 10, -100, 58)))
      .toDF("box_id", "geometry")
    (pts, boxes)
  }

  private def rows(df: DataFrame) =
    df.select(col("id_left"), col("box_id_right"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  /** `df` written to parquet and read back: a layer the plan does not hold. */
  private def onFile(df: DataFrame): DataFrame = {
    val path = java.nio.file.Files.createTempDirectory("prepared-layer").resolve("l").toString
    df.write.parquet(path)
    spark.read.parquet(path)
  }

  private def pointJoin(pts: DataFrame, layer: DataFrame) =
    SpatialJoin.join(pts, layer, SpatialPredicate.Intersects, "inner", cellLevel = 4,
      leftPointsOnly = true)

  test("prepared join == fresh join, reused across two joins through one index") {
    val (pts, boxes) = fixtures()
    // a fresh join indexes a DataFrame of its own over the same rows
    val fresh = pointJoin(pts, fixtures()._2)
    val layer = SpatialJoin.prepare(boxes, cellLevel = 4)
    // an in-memory layer is indexed as it is: no copy
    assert(layer eq boxes)
    val (first, second) = (pointJoin(pts, layer), pointJoin(pts, layer))
    val expect = rows(fresh)
    assert(expect.nonEmpty)
    assert(rows(first) == expect)
    assert(rows(second) == expect)
    val ids = Seq(first, second).map(df => layerProbes(df.queryExecution.executedPlan)
      .map(p => (p.stats.level, p.index.id)))
    assert(ids.head.map(_._1) == Seq(4) && ids.head == ids(1), s"$ids")
  }

  test("a join on a prepared parquet-backed layer starts no index-build and no " +
    "decision job") {
    val (pts, boxes) = fixtures()
    val parquet = onFile(boxes)
    var layer: DataFrame = null
    // the copy of a file-backed layer costs one action: its collect
    assert(actionsFor("prep-build") { layer = SpatialJoin.prepare(parquet, cellLevel = 4) } == 1)
    var joined: DataFrame = null
    assert(actionsFor("prep-join") { joined = pointJoin(pts, layer) } == 0)
    assert(layerProbes(joined.queryExecution.executedPlan).map(_.stats.level) == Seq(4))
    // running it is the probe's one job, and the rows are the fresh join's
    assert(jobsFor("prep-run") { joined.write.format("noop").mode("overwrite").save() } == 1)
    assert(rows(joined) == rows(pointJoin(pts, parquet)) && rows(joined).nonEmpty)
    // a cached layer is copied too: a cached right side keeps the hash join
    val cached = boxes.cache()
    try assert(layerProbes(pointJoin(pts, SpatialJoin.prepare(cached, cellLevel = 4))
      .queryExecution.executedPlan).nonEmpty)
    finally cached.unpersist()
  }

  test("prepared generic (non-point) path and left join also match fresh") {
    val (pts, boxes) = fixtures()
    val layer = SpatialJoin.prepare(onFile(boxes), cellLevel = 4)
    for (jt <- Seq("inner", "left"); pointsOnly <- Seq(false, true)) {
      def counts(df: DataFrame) = df.select("id_left", "box_id_right").collect()
        .map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1)))
        .groupBy(identity).view.mapValues(_.length).toMap
      val fresh = SpatialJoin.join(pts, boxes, SpatialPredicate.Intersects, jt, cellLevel = 4)
      val prepared = SpatialJoin.join(pts, layer, SpatialPredicate.Intersects, jt,
        cellLevel = 4, leftPointsOnly = pointsOnly)
      assert(counts(prepared) == counts(fresh), s"join type $jt, leftPointsOnly $pointsOnly")
    }
  }

  test("prepare rejects a streaming layer, naming it") {
    val stream = spark.readStream.format("rate").load()
      .select(col("value").as("id"), st.st_point(lit(0.0), lit(0.0)).as("geometry"))
    val e = intercept[IllegalArgumentException](SpatialJoin.prepare(stream, cellLevel = 4))
    assert(e.getMessage.contains("right is a streaming DataFrame"), e.getMessage)
  }
}
