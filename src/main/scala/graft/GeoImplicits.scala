package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.st._
import graft.join.{SpatialJoin, SpatialPredicate}

/**
 * GeoDataFrame-style extension API — the Spark mapping of the reference's
 * `GeoDataFrame` (a DataFrame plus one designated geometry column, default
 * name "geometry": py-geopolars geodataframe.py:12,15-26) and its GeoSeries
 * operator namespace (`.geo`, geoseries.py:48-54). No subclassing: an
 * implicit value class adds a `.geo` namespace to any DataFrame, per
 * SURVEY §1.5.
 *
 *   import graft.GeoImplicits._
 *   df.geo.area()                  // append an accessor column
 *   df.geo.centroid                // replace the geometry column
 *   df.geo.toCrs(4326, 3857)
 *   df.geo.sjoin(adminLayer)       // cell-bucketed spatial join
 *   df.geo.dissolve("region")      // st_union_agg per group
 *   df.geo("other_geom_col").area()
 */
object GeoImplicits {

  /** The reference's DEFAULT_GEO_COLUMN_NAME (geodataframe.py:12). */
  val DefaultGeomCol = "geometry"

  implicit class GeoDataFrameOps(private val df: DataFrame) extends AnyVal {
    /** Operator namespace on the default geometry column. */
    def geo: GeoOps = new GeoOps(df, DefaultGeomCol)
    /** Operator namespace on a designated geometry column. */
    def geo(geomCol: String): GeoOps = new GeoOps(df, geomCol)
  }

  final class GeoOps private[GeoImplicits] (df: DataFrame, gcol: String) {
    private def gc: Column = col(gcol)

    private def originMode(origin: String): Int = origin match {
      case "center" => graft.geom.GeomKernel.ORIGIN_CENTER
      case "centroid" => graft.geom.GeomKernel.ORIGIN_CENTROID
      case "point" => graft.geom.GeomKernel.ORIGIN_POINT
      case other => throw new IllegalArgumentException(
        s"origin must be center|centroid|point, got $other")
    }

    // ---- accessors: append a value column ----
    def area(as: String = "area"): DataFrame = df.withColumn(as, st_area(gc))
    def length(as: String = "length"): DataFrame = df.withColumn(as, st_length(gc))
    def geodesicLength(method: String, as: String = "geodesic_length"): DataFrame =
      df.withColumn(as, st_geodesicLength(gc, method))
    def geomType(as: String = "geom_type"): DataFrame = df.withColumn(as, st_geomType(gc))
    def isEmpty(as: String = "is_empty"): DataFrame = df.withColumn(as, st_isEmpty(gc))
    def x(as: String = "x"): DataFrame = df.withColumn(as, st_x(gc))
    def y(as: String = "y"): DataFrame = df.withColumn(as, st_y(gc))
    def bounds(as: String = "bounds"): DataFrame = df.withColumn(as, st_bounds(gc))
    def wkt(as: String = "wkt"): DataFrame = df.withColumn(as, st_asText(gc))

    // ---- geometry -> geometry: replace the geometry column ----
    def centroid: DataFrame = df.withColumn(gcol, st_centroid(gc))
    def convexHull: DataFrame = df.withColumn(gcol, st_convexHull(gc))
    def envelope: DataFrame = df.withColumn(gcol, st_envelope(gc))
    def exterior: DataFrame = df.withColumn(gcol, st_exterior(gc))
    def simplify(tolerance: Double): DataFrame =
      df.withColumn(gcol, st_simplify(gc, lit(tolerance)))
    def buffer(distance: Double): DataFrame =
      df.withColumn(gcol, st_buffer(gc, lit(distance)))
    def translate(dx: Double, dy: Double): DataFrame =
      df.withColumn(gcol, st_translate(gc, lit(dx), lit(dy)))
    /** Rotate degrees CCW about "center" (bbox), "centroid", or a point. */
    def rotate(angleDeg: Double, origin: String = "center",
               point: (Double, Double) = (0.0, 0.0)): DataFrame =
      df.withColumn(gcol, st_rotate(gc, lit(angleDeg), lit(originMode(origin)),
        lit(point._1), lit(point._2)))
    def scale(xf: Double, yf: Double, origin: String = "center",
              point: (Double, Double) = (0.0, 0.0)): DataFrame =
      df.withColumn(gcol, st_scale(gc, lit(xf), lit(yf), lit(originMode(origin)),
        lit(point._1), lit(point._2)))
    /** Shear by degree angles along x/y (the reference's skew). */
    def skew(xsDeg: Double, ysDeg: Double, origin: String = "center",
             point: (Double, Double) = (0.0, 0.0)): DataFrame =
      df.withColumn(gcol, st_skew(gc, lit(xsDeg), lit(ysDeg), lit(originMode(origin)),
        lit(point._1), lit(point._2)))
    def affine(a: Double, b: Double, d: Double, e: Double,
               xoff: Double, yoff: Double): DataFrame =
      df.withColumn(gcol, st_affine(gc, lit(a), lit(b), lit(d), lit(e), lit(xoff), lit(yoff)))
    def toCrs(fromSrid: Int, toSrid: Int): DataFrame =
      df.withColumn(gcol, st_transform(gc, lit(fromSrid), lit(toSrid)))
    /** PROJ parameter-string / "EPSG:nnnn" / PROJJSON variant (to_crs). */
    def toCrs(fromCrs: String, toCrs: String): DataFrame =
      df.withColumn(gcol, st_transform(gc, fromCrs, toCrs))
    /** `to_crs_with_options` (geoseries.rs:259-266): resolve CRS names
     *  through the options' named-CRS registry first. */
    def toCrs(fromCrs: String, toCrs: String, options: graft.geom.ProjOptions): DataFrame =
      df.withColumn(gcol, st_transform(gc, fromCrs, toCrs, options))
    /** One row per geometry part (the reference's explode). */
    def explodeParts: DataFrame = df.withColumn(gcol, explode(st_dump(gc)))

    // ---- binary accessors against another geometry expression ----
    def distance(other: Column, as: String = "distance"): DataFrame =
      df.withColumn(as, st_distance(gc, other))
    def contains(other: Column, as: String = "contains"): DataFrame =
      df.withColumn(as, st_contains(gc, other))
    def intersects(other: Column, as: String = "intersects"): DataFrame =
      df.withColumn(as, st_intersects(gc, other))
    def within(other: Column, as: String = "within"): DataFrame =
      df.withColumn(as, st_within(gc, other))

    // ---- frame-level operations ----
    /** (minx, miny, maxx, maxy) over the whole frame — an action. */
    def totalBounds: (Double, Double, Double, Double) = {
      val b = st_bounds(gc)
      val r = df.agg(min(b.getField("minx")), min(b.getField("miny")),
        max(b.getField("maxx")), max(b.getField("maxy"))).head()
      (r.getDouble(0), r.getDouble(1), r.getDouble(2), r.getDouble(3))
    }

    /** Dissolve: union geometries per group (geopandas-style). */
    def dissolve(by: String): DataFrame =
      df.groupBy(by).agg(st_union_agg(gc).as(gcol))

    /** Cell-bucketed spatial join against another geometry frame (a layer
     *  from [[SpatialJoin.prepare]] included); `SpatialPredicate.DWithin(r)`
     *  joins the rows of `right` within `r` planar units. [[SpatialJoin.join]]
     *  decides broadcast or shuffle from the data, and the cell level too
     *  when `cellLevel` is `SpatialJoin.AutoLevel`. */
    def sjoin(right: DataFrame,
              predicate: SpatialPredicate = SpatialPredicate.Intersects,
              how: String = "inner",
              cellLevel: Int = SpatialJoin.DefaultCellLevel,
              leftPointsOnly: Boolean = false): DataFrame =
      SpatialJoin.join(df, right, predicate, how, cellLevel = cellLevel,
        leftPointsOnly = leftPointsOnly)
  }
}
