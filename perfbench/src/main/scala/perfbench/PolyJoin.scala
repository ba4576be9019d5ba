package perfbench

import java.nio.{ByteBuffer, ByteOrder}
import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel
import org.locationtech.jts.geom.{Coordinate, GeometryFactory, Polygon}
import org.locationtech.jts.io.WKBWriter

import graft.join.{SpatialJoin, SpatialPredicate}

/** A generated polygon: an open ring of vertices (the closing vertex is
 *  added when the JTS polygon is built). */
final case class PolyShape(id: Long, xs: Array[Double], ys: Array[Double]) {
  def toJts(f: GeometryFactory): Polygon = {
    val cs = (xs.indices.map(i => new Coordinate(xs(i), ys(i))) :+ new Coordinate(xs(0), ys(0)))
    f.createPolygon(cs.toArray)
  }
}

/**
 * Seeded inputs of `polyjoin`: a layer of irregular star-shaped polygons
 * with 16 to 160 vertices over a 80 x 60 degree extent, and batches of
 * clustered points with a seeded share in eight hot spots.
 */
object PolyData {
  val MinLon = -40.0
  val MaxLon = 40.0
  val MinLat = -30.0
  val MaxLat = 30.0

  def layer(seed: Long, n: Int): IndexedSeq[PolyShape] = {
    val rnd = new SplittableRandom(Seeds.mix(seed, 0x1a7e5L))
    (0 until n).map { k =>
      val cx = MinLon + (MaxLon - MinLon) * rnd.nextDouble()
      val cy = MinLat + (MaxLat - MinLat) * rnd.nextDouble()
      val r = 0.15 + 0.45 * rnd.nextDouble()
      val v = 16 + rnd.nextInt(145)
      val xs = new Array[Double](v)
      val ys = new Array[Double](v)
      var i = 0
      while (i < v) {
        // strictly increasing angles and positive radii: a simple polygon
        val a = (i + 0.8 * rnd.nextDouble()) / v * 2 * math.Pi
        val rad = r * (0.55 + 0.45 * rnd.nextDouble())
        xs(i) = cx + rad * math.cos(a)
        ys(i) = cy + rad * math.sin(a)
        i += 1
      }
      PolyShape(k.toLong, xs, ys)
    }
  }

  /** Point coordinates of batch `b`: a seeded share (28-32%) of the points in
   *  eight tight hot spots, half of the rest in 32 loose clusters, the
   *  remainder uniform over the extent. */
  def points(seed: Long, b: Int, n: Int): (Array[Double], Array[Double]) = {
    val shape = new SplittableRandom(Seeds.mix(seed, 0x9011L))
    val hotShare = 0.28 + 0.04 * shape.nextDouble()
    def centre(): (Double, Double) = (MinLon + 4 + (MaxLon - MinLon - 8) * shape.nextDouble(),
      MinLat + 4 + (MaxLat - MinLat - 8) * shape.nextDouble())
    val hot = Array.fill(8)(centre())
    val loose = Array.fill(32)(centre())
    val rnd = new SplittableRandom(Seeds.mix(seed, 0x7000L + b))
    val xs = new Array[Double](n)
    val ys = new Array[Double](n)
    var i = 0
    while (i < n) {
      val u = rnd.nextDouble()
      if (u < hotShare) {
        val (x, y) = hot(rnd.nextInt(hot.length))
        xs(i) = x + 0.25 * gaussian(rnd); ys(i) = y + 0.25 * gaussian(rnd)
      } else if (u < hotShare + (1 - hotShare) / 2) {
        val (x, y) = loose(rnd.nextInt(loose.length))
        xs(i) = x + 1.5 * gaussian(rnd); ys(i) = y + 1.5 * gaussian(rnd)
      } else {
        xs(i) = MinLon + (MaxLon - MinLon) * rnd.nextDouble()
        ys(i) = MinLat + (MaxLat - MinLat) * rnd.nextDouble()
      }
      i += 1
    }
    (xs, ys)
  }

  private def gaussian(r: SplittableRandom): Double = { // Box-Muller
    val u1 = math.max(r.nextDouble(), 1e-300)
    math.sqrt(-2 * math.log(u1)) * math.cos(2 * math.Pi * r.nextDouble())
  }

  /** Little-endian 2D point WKB. */
  def pointWkb(x: Double, y: Double): Array[Byte] =
    ByteBuffer.allocate(21).order(ByteOrder.LITTLE_ENDIAN)
      .put(1.toByte).putInt(1).putDouble(x).putDouble(y).array()
}

/**
 * `polyjoin`: batches of clustered points joined against a large layer of
 * irregular polygons through `SpatialJoin.joinAutoBroadcast` with
 * `cellLevel = AutoLevel`, so the engine picks the cell level and the
 * strategy from the data. The layer far exceeds the refine cache.
 */
final class PolyJoin(seed: Long, nPoints: Int, nPolygons: Int, batches: Int, cores: Int,
                     checkSample: Int) extends Workload {
  val name = "polyjoin"
  private val parts = cores * 4
  private lazy val shapes = PolyData.layer(seed, nPolygons)
  private var layer: DataFrame = _
  private val batchFrames = mutable.ArrayBuffer.empty[DataFrame]

  def sizes: Seq[(String, String)] = Seq("points_per_op" -> Json.num(nPoints.toLong),
    "polygons" -> Json.num(nPolygons.toLong), "batches" -> Json.num(batches.toLong),
    "partitions" -> Json.num(parts.toLong),
    "vertices_total" -> Json.num(shapes.map(_.xs.length.toLong).sum),
    "check_sample_points" -> Json.num(checkSample.toLong))

  private val pointSchema = StructType(Seq(
    StructField("point_id", LongType, nullable = false),
    StructField("geometry", BinaryType, nullable = false)))

  def setup(spark: SparkSession): Unit = {
    batchFrames.clear() // frames of an earlier, stopped session
    val writer = new WKBWriter()
    val f = new GeometryFactory()
    layer = spark.createDataFrame(shapes.map(s => (s.id, writer.write(s.toJts(f)))))
      .toDF("poly_id", "geometry")
    (0 until batches).foreach { b =>
      val (xs, ys) = PolyData.points(seed, b, nPoints)
      val rows = (0 until nPoints).map(i =>
        Row(b.toLong * nPoints + i, PolyData.pointWkb(xs(i), ys(i))))
      val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, parts), pointSchema)
        .persist(StorageLevel.MEMORY_ONLY)
      df.count()
      batchFrames += df
    }
    val h = new Harness(new Tracer(false), None)
    h.force(joined(0))
  }

  private def joined(b: Int): DataFrame =
    SpatialJoin.joinAutoBroadcast(batchFrames(b), layer, SpatialPredicate.Intersects, "inner",
      cellLevel = SpatialJoin.AutoLevel, leftPointsOnly = true)

  def op(spark: SparkSession, i: Int): Op = {
    val b = i % batches
    Op(s"batch$b", i, nPoints.toLong, () => joined(b))
  }

  def tracedRound(spark: SparkSession, round: Int, h: Harness): Round = {
    val b = round % batches
    val o = op(spark, round)
    val plain = h.plain(o)
    val (traced, totals, planS, plan) = h.traced(o)
    val layers = mutable.HashMap.empty[String, Double]
    totals.foreach(t => layers ++= Harness.sparkLayers(t, planS))
    // the decisions joinAutoBroadcast makes, through the same public calls
    val (level, estimateS) = h.timed("join.estimate") {
      val l = SpatialJoin.autoCellLevel(layer)
      SpatialJoin.estimateCoveringBytes(layer, l)
      l
    }
    layers("join.estimate_s") = estimateS
    layers ++= JoinProbes.run(h, batchFrames(b), layer, level,
      broadcastPolygons = Harness.broadcastJoin(plan), refineSample = 20000)
    Round(Seq(plain, traced), layers.toMap)
  }

  /** The engine's (point, polygon) pairs for a seeded sample of batch `b`'s
   *  points, and that sample as (id, x, y). */
  def checkInputs(spark: SparkSession, b: Int): (Seq[(Long, Long)], Seq[(Long, Double, Double)]) = {
    val (xs, ys) = PolyData.points(seed, b, nPoints)
    val rnd = new SplittableRandom(Seeds.mix(seed, 0xc4ecL + b))
    val sample = Seq.fill(checkSample)(rnd.nextInt(nPoints)).distinct
      .map(i => (b.toLong * nPoints + i, xs(i), ys(i)))
    val ids = spark.createDataFrame(sample.map(s => Tuple1(s._1))).toDF("sample_id")
    val actual = joined(b).join(broadcast(ids), col("point_id_left") === col("sample_id"))
      .select(col("point_id_left"), col("poly_id_right")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    (actual, sample)
  }

  /** The layer as JTS polygons, built from the generated vertices. */
  def jtsPolygons: Seq[(Long, Polygon)] = {
    val f = new GeometryFactory()
    shapes.map(s => (s.id, s.toJts(f)))
  }

  def check(spark: SparkSession, keys: Set[String], checkDir: String): Map[String, Check] = {
    val polys = jtsPolygons
    keys.toSeq.sorted.map { key =>
      val (actual, sample) = checkInputs(spark, key.stripPrefix("batch").toInt)
      val bad = Checks.polyjoinMismatches(actual, sample, polys)
      key -> (if (bad == 0) Check.Pass
        else Check.Fail(s"$bad (point_id, poly_id) pairs differ from brute-force JTS contains " +
          s"on ${sample.size} sampled points"))
    }.toMap
  }
}
