package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.locationtech.jts.geom.{Coordinate, GeometryFactory, Polygon}

/**
 * Output checks. None of them calls the engine: the pipeline's join is
 * compared with an arithmetic assignment of points to the admin grid, and the
 * polygon join with a brute-force JTS `contains` over every polygon.
 */
object Checks {

  /** The admin layer of `GeoPipeline.build` as plain numbers: a 16 x 8 grid of
   *  22.5 x 15 degree rectangles from (-180, -60), id = lonIndex * 8 + latIndex. */
  val AdminGrid: Seq[(Long, Double, Double, Double, Double)] =
    for {
      i <- 0 until 16
      j <- 0 until 8
    } yield {
      val minLon = -180.0 + i * 22.5
      val minLat = -60.0 + j * 15.0
      ((i * 8 + j).toLong, minLon, minLat, minLon + 22.5, minLat + 15.0)
    }

  /**
   * Rows of the pipeline's joined output (`url_left`, `admin_id_right`) that
   * differ, as a multiset, from assigning each geocoded page (`url`, `lat`,
   * `lon`) to the grid rectangle whose interior holds it. A point on an edge
   * matches nothing (the engine's contains-not-covers rule). Returns the
   * number of differing rows and the number of expected rows.
   */
  def pipelineMismatches(joined: DataFrame, geocoded: DataFrame): (Long, Long) = {
    val spark = joined.sparkSession
    val grid = spark.createDataFrame(AdminGrid)
      .toDF("admin_id", "min_lon", "min_lat", "max_lon", "max_lat")
    val expected = geocoded.select("url", "lat", "lon")
      .join(broadcast(grid), col("lon") > col("min_lon") && col("lon") < col("max_lon") &&
        col("lat") > col("min_lat") && col("lat") < col("max_lat"))
      .select(col("url"), col("admin_id"))
      .persist()
    val actual = joined.select(col("url_left").as("url"),
      col("admin_id_right").cast("long").as("admin_id")).persist()
    try {
      val bad = actual.exceptAll(expected).count() + expected.exceptAll(actual).count()
      (bad, expected.count())
    } finally { expected.unpersist(); actual.unpersist() }
  }

  /**
   * Number of (point, polygon) pairs on which `actual` and a brute-force JTS
   * `contains` of every sampled point (id, x, y) against every polygon
   * disagree, counting duplicates.
   */
  def polyjoinMismatches(actual: Seq[(Long, Long)], sample: Seq[(Long, Double, Double)],
                         polygons: Seq[(Long, Polygon)]): Int = {
    val f = new GeometryFactory()
    val expected = for {
      (pid, x, y) <- sample
      pt = f.createPoint(new Coordinate(x, y))
      (polyId, poly) <- polygons
      if poly.contains(pt)
    } yield (pid, polyId)
    val want = expected.groupBy(identity).map { case (k, v) => k -> v.size }
    val got = actual.groupBy(identity).map { case (k, v) => k -> v.size }
    (want.keySet ++ got.keySet).toSeq
      .map(k => math.abs(want.getOrElse(k, 0) - got.getOrElse(k, 0))).sum
  }
}
