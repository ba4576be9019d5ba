package graft

import org.apache.spark.sql.functions._

import graft.GeoImplicits._
import graft.functions.st._

/** The GeoDataFrame-style `.geo` namespace (SURVEY §1.5 mapping). */
class GeoImplicitsSpec extends SparkSpec {

  private def boxes = {
    import spark.implicits._
    (1L to 10L).toDF("id")
      .withColumn("geometry", st_makeBox(lit(0.0), lit(0.0),
        col("id").cast("double"), lit(2.0)))
  }

  test("accessors append columns; transforms replace the geometry column") {
    import spark.implicits._
    val withArea = boxes.geo.area()
    assert(withArea.columns.toSeq == Seq("id", "geometry", "area"))
    assert(withArea.filter(col("id") === 5).select("area").as[Double].head() == 10.0)

    val c = boxes.geo.centroid.geo.x().geo.y()
    val row = c.filter(col("id") === 4).select("x", "y").as[(Double, Double)].head()
    assert(row == ((2.0, 1.0)))

    val buffered = boxes.geo.buffer(1.0).geo.area()
    assert(buffered.filter(col("id") === 1).select("area").as[Double].head() > 2.0)
  }

  test("totalBounds, dissolve, explodeParts, toCrs") {
    import spark.implicits._
    assert(boxes.geo.totalBounds == ((0.0, 0.0, 10.0, 2.0)))

    val grouped = boxes.withColumn("g", col("id") % 2)
    val dis = grouped.geo.dissolve("g")
    assert(dis.count() == 2 && dis.columns.toSeq == Seq("g", "geometry"))

    val multi = boxes.limit(1)
      .withColumn("geometry", st_union(
        st_makeBox(lit(0.0), lit(0.0), lit(1.0), lit(1.0)),
        st_makeBox(lit(5.0), lit(0.0), lit(6.0), lit(1.0))))
    assert(multi.geo.explodeParts.count() == 2)

    val rt = boxes.geo("geometry").toCrs(4326, 3857).geo.toCrs(3857, 4326).geo.area()
    val a = rt.filter(col("id") === 3).select("area").as[Double].head()
    assert(math.abs(a - 6.0) < 1e-6)
  }

  test("rotate/scale/skew replace geometry; origin modes match st_ functions") {
    import spark.implicits._
    // 90deg CCW about the bbox center maps a (w x 2) box to a (2 x w) box
    val rot = boxes.geo.rotate(90.0).geo.area()
    assert(rot.filter(col("id") === 5).select("area").as[Double].head() == 10.0)
    val b = boxes.geo.rotate(90.0).geo("geometry").bounds()
      .filter(col("id") === 4)
      .select(col("bounds.maxx") - col("bounds.minx"),
        col("bounds.maxy") - col("bounds.miny")).as[(Double, Double)].head()
    assert(math.abs(b._1 - 2.0) < 1e-12 && math.abs(b._2 - 4.0) < 1e-12)

    val sc = boxes.geo.scale(2.0, 3.0).geo.area()
    assert(sc.filter(col("id") === 5).select("area").as[Double].head() == 60.0)
    // scaling about an explicit point moves the far corner proportionally
    val scp = boxes.geo.scale(2.0, 1.0, origin = "point", point = (0.0, 0.0))
      .geo.bounds().filter(col("id") === 5).select("bounds.maxx").as[Double].head()
    assert(scp == 10.0)
    // skew preserves area (unit determinant shear about any origin)
    val sk = boxes.geo.skew(30.0, 0.0, origin = "centroid").geo.area()
    assert(math.abs(sk.filter(col("id") === 5).select("area").as[Double].head() - 10.0) < 1e-9)
    intercept[IllegalArgumentException](boxes.geo.rotate(10.0, origin = "nope"))
  }

  test("distance/contains/intersects/within against another geometry column") {
    import spark.implicits._
    val withPt = boxes.withColumn("probe", st_point(lit(0.5), lit(1.0)))
    val d = withPt.geo.distance(col("probe")).filter(col("id") === 1)
      .select("distance").as[Double].head()
    assert(d == 0.0) // point inside box 1
    assert(withPt.geo.contains(col("probe")).filter(col("contains")).count() == 10)
    assert(withPt.geo.intersects(col("probe")).filter(col("intersects")).count() == 10)
    // a box is within the envelope of a larger box
    val big = boxes.withColumn("hull", st_makeBox(lit(-1.0), lit(-1.0), lit(20.0), lit(3.0)))
    assert(big.geo.within(col("hull")).filter(col("within")).count() == 10)
  }

  test("sjoin on a prepared layer, sjoin with DWithin, and toCrs with ProjOptions") {
    import spark.implicits._
    val pts = Seq((1L, 0.5, 0.5), (2L, 5.5, 1.0), (3L, 40.0, 40.0))
      .toDF("pid", "lon", "lat")
      .select(col("pid"), st_point(col("lon"), col("lat")).as("geometry"))
    val layer = graft.join.SpatialJoin.prepare(boxes, cellLevel = 4)
    for (pointsOnly <- Seq(false, true)) {
      val j = pts.geo.sjoin(layer, cellLevel = 4, leftPointsOnly = pointsOnly)
      assert(j.select("pid_left").as[Long].collect().toSet == Set(1L, 2L))
    }
    val w = pts.geo.sjoin(boxes, graft.join.SpatialPredicate.DWithin(1.5), cellLevel = 4)
    // point 3 at (40,40) is > 1.5 from every box; 1 and 2 are inside/near
    assert(w.select("pid_left").as[Long].distinct().collect().toSet == Set(1L, 2L))
    val opts = graft.geom.ProjOptions(Map("MY:M" -> "EPSG:3857"))
    val t = pts.geo.toCrs("EPSG:4326", "MY:M", opts).geo.x("mx")
      .filter(col("pid") === 3).select("mx").as[Double].head()
    assert(math.abs(t - graft.geom.Proj.fromLonLat(3857, 40.0, 40.0)._1) < 1e-9)
  }

  test("sjoin mirrors SpatialJoin with suffixed columns") {
    import spark.implicits._
    val pts = Seq((1L, 0.5, 0.5), (2L, 40.0, 40.0)).toDF("pid", "px", "py")
      .withColumn("geometry", st_point(col("px"), col("py")))
    val out = pts.geo.sjoin(boxes, cellLevel = 3, leftPointsOnly = true)
    assert(out.columns.contains("pid_left") && out.columns.contains("id_right"))
    assert(out.select("pid_left").distinct().count() == 1)
  }
}
