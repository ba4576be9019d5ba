package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.locationtech.jts.geom.Coordinate

import graft.geom.Wkb
import graft.join.{SpatialJoin, SpatialPredicate}
import graft.pages.{Pages, PagesKernel}
import graft.snapshot.Snapshot

/**
 * The headline workload (BASELINE.json north_star): synthesize pages ->
 * extract text -> geocode to points + S2 cells -> spatial-join against an
 * admin polygon layer -> tile assignment -> snapshot with lineage + metrics.
 * Resumable stage-by-stage via the snapshot layer.
 */
object GeoPipeline {

  /** Synthetic admin-boundary layer: a deterministic grid of rectangles over
   *  the gazetteer extent (lat [-60,60], lon [-180,180]), WKB polygons with
   *  numeric + string attributes shaped like naturalearth_lowres. */
  def adminLayer(spark: SparkSession, nLat: Int = 8, nLon: Int = 16): DataFrame = {
    val rows = for {
      i <- 0 until nLon
      j <- 0 until nLat
    } yield {
      val minLon = -180.0 + i * (360.0 / nLon)
      val minLat = -60.0 + j * (120.0 / nLat)
      val maxLon = minLon + 360.0 / nLon
      val maxLat = minLat + 120.0 / nLat
      val wkb = Wkb.write(Wkb.factory.createPolygon(Array(
        new Coordinate(minLon, minLat), new Coordinate(maxLon, minLat),
        new Coordinate(maxLon, maxLat), new Coordinate(minLon, maxLat),
        new Coordinate(minLon, minLat))))
      ((i * nLat + j).toLong, s"admin-$i-$j", wkb)
    }
    spark.createDataFrame(rows).toDF("admin_id", "admin_name", "geometry")
  }

  final case class Result(joined: DataFrame, pagesPerSec: Double, rows: Long)

  /** Build the full plan (no materialization). */
  def build(spark: SparkSession, nPages: Long, seed: Long, numPartitions: Int,
            snapshotRoot: Option[String] = None,
            s2Level: Int = SpatialJoin.DefaultCellLevel,
            zooms: Seq[Int] = Seq(4, 8, 12),
            joinCellLevel: Int = 5): DataFrame = {
    // fingerprint carries EVERY parameter that affects stage output — a
    // missing one would silently resume a stale snapshot after a param change
    val fp = s"n=$nPages,seed=$seed,s2=$s2Level,jcl=$joinCellLevel," +
      s"z=${zooms.mkString("-")},parts=$numPartitions"
    def stage(name: String)(compute: => DataFrame): DataFrame = snapshotRoot match {
      case Some(root) => Snapshot.runStage(spark, root, name, fp)(compute)
      case None => compute
    }

    val geocoded = stage("geocode") {
      val pages = Pages.generate(spark, nPages, seed, numPartitions)
      Pages.geocode(pages, Pages.gazetteer(spark), s2Level, zooms)
    }

    val admin = adminLayer(spark)

    stage("spatial_join") {
      val pts = geocoded.select(
        (col("url") +: col("warc_ts") +: col("lang") +: col("geometry") +:
          col("s2_cell") +: zooms.map(z => col(s"tile_z$z"))): _*)
      // join-bucketing level is sized to the polygon layer (admin rects are
      // 22.5 x 15 degrees): level 5 cells are ~2.8 degrees, so the tight
      // covering holds 76 cells per rect on average (9,712 rows for the 128
      // rects) and the broadcast stays thousands of rows, not millions.
      // s2Level (finer) is the storage/index resolution on the point side.
      SpatialJoin.join(pts, admin, SpatialPredicate.Intersects, "inner",
        cellLevel = joinCellLevel, leftPointsOnly = true)
    }
  }

  /**
   * Run end-to-end and materialize. When `snapshotRoot` is set, each stage is
   * checkpoint-or-resume through the snapshot layer.
   */
  def run(spark: SparkSession, nPages: Long, seed: Long, numPartitions: Int,
          snapshotRoot: Option[String] = None,
          s2Level: Int = SpatialJoin.DefaultCellLevel,
          zooms: Seq[Int] = Seq(4, 8, 12),
          joinCellLevel: Int = 5): Result = {
    val t0 = System.nanoTime()
    val joined = build(spark, nPages, seed, numPartitions, snapshotRoot, s2Level, zooms,
      joinCellLevel)
    val rows = joined.count()
    val secs = (System.nanoTime() - t0) / 1e9
    Result(joined, nPages / secs, rows)
  }
}
