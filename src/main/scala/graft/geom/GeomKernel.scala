package graft.geom

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String
import org.locationtech.jts.geom._
import org.locationtech.jts.geom.util.AffineTransformation
import org.locationtech.jts.simplify.DouglasPeuckerSimplifier

/**
 * Scalar geometry kernel. Every public method is designed to be invoked from
 * Catalyst via `StaticInvoke` (codegen emits a direct static call through the
 * Scala static forwarders), so signatures use Catalyst-internal types:
 * `Array[Byte]` for BinaryType, `UTF8String` for StringType, `ArrayData` for
 * arrays, boxed returns where NULL is a legal result.
 *
 * Semantics follow the reference operator contracts documented in
 * /root/reference/geopolars/geopolars-geo/src/geoseries.rs:10-181 and
 * py-geopolars/python/geopolars/internals/georust/geoseries.py (the reference
 * bodies are `todo!()`; semantics come from their doc-comments). Geometry-type
 * ids follow py-geopolars/python/geopolars/enums.py:4-15.
 */
object GeomKernel {

  // ---- geometry type ids (pygeos/GEOS-compatible; enums.py:4-15) ----
  final val MISSING = -1
  final val POINT = 0
  final val LINESTRING = 1
  final val LINEARRING = 2
  final val POLYGON = 3
  final val MULTIPOINT = 4
  final val MULTILINESTRING = 5
  final val MULTIPOLYGON = 6
  final val GEOMETRYCOLLECTION = 7

  // one-entry per-thread decode memo: a multi-op projection (area + centroid
  // + bounds + ... of the same geometry column) re-decodes identical WKB per
  // op per row; consecutive equal-content calls reuse the parsed geometry.
  // Kernels never mutate a decoded geometry (transform/affine copy() first),
  // so sharing is safe. Tiny WKBs (points) decode directly — cheaper than
  // the memo bookkeeping.
  private val lastDecoded = new ThreadLocal[JoinGeom]
  @inline private def g(wkb: Array[Byte]): Geometry = {
    if (wkb.length <= 32) return Wkb.read(wkb)
    val e = lastDecoded.get()
    if (e != null && java.util.Arrays.equals(e.bytes, wkb)) e.geom
    else {
      val ne = new JoinGeom(wkb, Wkb.read(wkb))
      lastDecoded.set(ne)
      ne.geom
    }
  }
  @inline private def out(geom: Geometry): Array[Byte] = Wkb.write(geom)

  /** 2-point XY LineString WKB: 41 bytes = order + type(2) + n(2) + 4 doubles. */
  @inline private def isLine2Wkb(b: Array[Byte]): Boolean =
    b.length == 41 && {
      if (b(0) == 1)
        b(1) == 2 && b(2) == 0 && b(3) == 0 && b(4) == 0 &&
          b(5) == 2 && b(6) == 0 && b(7) == 0 && b(8) == 0
      else
        b(1) == 0 && b(2) == 0 && b(3) == 0 && b(4) == 2 &&
          b(5) == 0 && b(6) == 0 && b(7) == 0 && b(8) == 2
    }

  // ================= constructors =================

  def stPoint(x: Double, y: Double): Array[Byte] =
    out(Wkb.factory.createPoint(new Coordinate(x, y)))

  /** Axis-aligned rectangle polygon; shell CCW, closed. */
  def stMakeBox(minx: Double, miny: Double, maxx: Double, maxy: Double): Array[Byte] = {
    val shell = Array(
      new Coordinate(minx, miny), new Coordinate(maxx, miny),
      new Coordinate(maxx, maxy), new Coordinate(minx, maxy),
      new Coordinate(minx, miny))
    out(Wkb.factory.createPolygon(shell))
  }

  def stMakeLine(x1: Double, y1: Double, x2: Double, y2: Double): Array[Byte] =
    out(Wkb.factory.createLineString(Array(new Coordinate(x1, y1), new Coordinate(x2, y2))))

  def stMakeLine3(x1: Double, y1: Double, x2: Double, y2: Double,
                  x3: Double, y3: Double): Array[Byte] =
    out(Wkb.factory.createLineString(Array(
      new Coordinate(x1, y1), new Coordinate(x2, y2), new Coordinate(x3, y3))))

  def stGeomFromText(wkt: UTF8String): Array[Byte] = out(Wkb.readWkt(wkt.toString))

  def stAsText(wkb: Array[Byte]): UTF8String = UTF8String.fromString(Wkb.writeWkt(g(wkb)))

  // ================= accessors / measures =================

  /** Planar area in CRS units (geoseries.rs:14-16). */
  def stArea(wkb: Array[Byte]): Double = g(wkb).getArea

  /** Point centroid; need not lie within the geometry (geoseries.rs:18-21). */
  def stCentroid(wkb: Array[Byte]): Array[Byte] = out(g(wkb).getCentroid)

  /** Smallest convex polygon containing all points (geoseries.rs:23-26). */
  def stConvexHull(wkb: Array[Byte]): Array[Byte] = out(g(wkb).convexHull())

  /** Axis-aligned bounding geometry (geoseries.rs:28-33). */
  def stEnvelope(wkb: Array[Byte]): Array[Byte] = out(g(wkb).getEnvelope)

  /** (minx, miny, maxx, maxy) struct — same bbox the reference's R-tree nodes
   *  carry (spatial_index.rs:206-276). */
  def stBounds(wkb: Array[Byte]): InternalRow = {
    val e = g(wkb).getEnvelopeInternal
    new GenericInternalRow(Array[Any](e.getMinX, e.getMinY, e.getMaxX, e.getMaxY))
  }

  /** Planar length; Point/MultiPoint -> 0; Polygon -> exterior-ring length only
   *  (geoseries.rs:35-41: "For a Polygon it returns the length of the exterior
   *  ring"). */
  def stLength(wkb: Array[Byte]): Double = {
    if (isLine2Wkb(wkb)) {
      val le = wkb(0) == 1
      val dx = wkbDouble(wkb, 9, le) - wkbDouble(wkb, 25, le)
      val dy = wkbDouble(wkb, 17, le) - wkbDouble(wkb, 33, le)
      return math.sqrt(dx * dx + dy * dy)
    }
    lengthOf(g(wkb))
  }

  private def lengthOf(geom: Geometry): Double = geom match {
    case _: Point | _: MultiPoint => 0.0
    case p: Polygon => p.getExteriorRing.getLength
    case mp: MultiPolygon =>
      var s = 0.0
      var i = 0
      while (i < mp.getNumGeometries) {
        s += mp.getGeometryN(i).asInstanceOf[Polygon].getExteriorRing.getLength; i += 1
      }
      s
    case gc: GeometryCollection =>
      var s = 0.0
      var i = 0
      while (i < gc.getNumGeometries) { s += lengthOf(gc.getGeometryN(i)); i += 1 }
      s
    case other => other.getLength
  }

  /** Geodesic length in meters on WGS84; method in {"geodesic","haversine",
   *  "vincenty"} (geoseries.rs:52-58; py-geopolars/src/geo.rs:64-72). */
  def stGeodesicLength(wkb: Array[Byte], method: UTF8String): Double = {
    val m = method.toString.toLowerCase
    // 2-point line fast path: segment distance straight from the raw WKB
    if (isLine2Wkb(wkb)) {
      val le = wkb(0) == 1
      return segDist(m, wkbDouble(wkb, 17, le), wkbDouble(wkb, 9, le),
        wkbDouble(wkb, 33, le), wkbDouble(wkb, 25, le))
    }
    geodesicLengthOf(g(wkb), m)
  }

  private def segDist(m: String, y1: Double, x1: Double, y2: Double, x2: Double): Double = m match {
    case "haversine" => Geodesic.haversine(y1, x1, y2, x2)
    case "vincenty" => Geodesic.vincenty(y1, x1, y2, x2)
    case _ => Geodesic.geodesic(y1, x1, y2, x2)
  }

  private def geodesicLengthOf(geom: Geometry, m: String): Double = geom match {
    case _: Point | _: MultiPoint => 0.0
    case l: LineString =>
      val cs = l.getCoordinates
      var s = 0.0
      var i = 1
      while (i < cs.length) { s += segDist(m, cs(i - 1).y, cs(i - 1).x, cs(i).y, cs(i).x); i += 1 }
      s
    case p: Polygon => geodesicLengthOf(p.getExteriorRing, m)
    case coll: GeometryCollection =>
      var s = 0.0
      var i = 0
      while (i < coll.getNumGeometries) { s += geodesicLengthOf(coll.getGeometryN(i), m); i += 1 }
      s
    case _ => 0.0
  }

  /** Haversine point distance in meters (scalar form used by kNN queries). */
  def haversineDist(lat1: Double, lon1: Double, lat2: Double, lon2: Double): Double =
    Geodesic.haversine(lat1, lon1, lat2, lon2)

  /** Exterior ring of a Polygon, NULL otherwise (geoseries.rs:43-47). */
  def stExterior(wkb: Array[Byte]): Array[Byte] = g(wkb) match {
    case p: Polygon => out(Wkb.factory.createLineString(p.getExteriorRing.getCoordinates))
    case _ => null
  }

  /** pygeos-compatible type id (enums.py:4-15; geoseries.rs:60-73). */
  def stGeomType(wkb: Array[Byte]): Int = g(wkb) match {
    case _: Point => POINT
    case _: LinearRing => LINEARRING
    case _: LineString => LINESTRING
    case _: Polygon => POLYGON
    case _: MultiPoint => MULTIPOINT
    case _: MultiLineString => MULTILINESTRING
    case _: MultiPolygon => MULTIPOLYGON
    case _: GeometryCollection => GEOMETRYCOLLECTION
    case _ => MISSING
  }

  def stIsEmpty(wkb: Array[Byte]): Boolean = g(wkb).isEmpty

  /** Re-encode WKB as 2D (XY) in the engine's canonical little-endian form,
   *  dropping Z/M ordinates — `read_file(force_2d=True)`
   *  (reference: py-geopolars io/file.py:57-59 "If the geometry has Z
   *  values, setting this to True will cause those to be ignored and 2D
   *  geometries to be returned"). Accepts both ISO (+1000/+2000/+3000 type
   *  offsets) and EWKB (flag-bit) Z/M encodings, either byte order — the
   *  same input envelope as JTS's reader; output is always this engine's
   *  canonical XY little-endian WKB, so already-canonical input round-trips
   *  byte-identically. */
  def stForce2d(wkb: Array[Byte]): Array[Byte] = out(g(wkb))

  /** True when the bytes parse as WKB this engine accepts. The geometry
   *  kernels stay FAIL-FAST on malformed bytes (corruption must not
   *  silently become NULLs mid-pipeline); this is the ingest-boundary
   *  quarantine predicate — filter/flag bad rows once at the edge of a
   *  100-TB corpus, then run the fail-fast kernels on what survives.
   *  Bypasses the decode memo so a garbage probe never pollutes it.
   *
   *  Defense order matters: JTS's WKBReader pre-allocates arrays straight
   *  from untrusted count fields, so crafted bytes can throw
   *  OutOfMemoryError / StackOverflowError — VM errors a `catch Exception`
   *  misses, killing the executor this predicate exists to protect. So (1)
   *  [[Wkb.structurallyValid]] bounds every count against the buffer before
   *  WKBReader sees the bytes, and (2) this one predicate additionally
   *  catches those two VM errors as belt-and-braces (quarantine only — the
   *  fail-fast kernels never catch them). */
  def stIsValidWkb(wkb: Array[Byte]): Boolean =
    Wkb.structurallyValid(wkb) && {
      try { Wkb.read(wkb); true }
      catch {
        case scala.util.control.NonFatal(_) => false
        case _: OutOfMemoryError | _: StackOverflowError => false
      }
    }

  /** True for closed features (geoseries.rs:78-83). */
  def stIsRing(wkb: Array[Byte]): Boolean = g(wkb) match {
    case l: LineString => l.isClosed // includes LinearRing
    case _: Point => true
    case _ => false
  }

  /** x of Point geometries; NULL for other types (geoseries.rs:176-177). */
  def stX(wkb: Array[Byte]): java.lang.Double = g(wkb) match {
    case p: Point if !p.isEmpty => Double.box(p.getX)
    case _ => null
  }

  def stY(wkb: Array[Byte]): java.lang.Double = g(wkb) match {
    case p: Point if !p.isEmpty => Double.box(p.getY)
    case _ => null
  }

  // ================= binary predicates / measures =================

  /** Row-wise cartesian distance in CRS units (geoseries.rs:141-146); NaN
   *  when either operand is empty, so `st_distance <= r` never holds there
   *  (Spark orders NaN above every number). */
  def stDistance(a: Array[Byte], b: Array[Byte]): Double = {
    // point-point fast path: straight hypot from the raw WKB doubles
    if (isPointWkb(a) && isPointWkb(b)) {
      val la = a(0) == 1; val lb = b(0) == 1
      // sqrt(dx*dx+dy*dy) — bit-identical to JTS Point.distance (hypot is
      // more accurate in the last ulp, which would perturb rank ties)
      val dx = wkbDouble(a, 5, la) - wkbDouble(b, 5, lb)
      val dy = wkbDouble(a, 13, la) - wkbDouble(b, 13, lb)
      return math.sqrt(dx * dx + dy * dy)
    }
    distance(g(a), g(b))
  }

  // JTS reads 0 against an empty operand, which would put every geometry
  // within any radius of an empty one; an empty point's NaN coordinates
  // give the point-point formula NaN already
  private def distance(a: Geometry, b: Geometry): Double =
    if (a.isEmpty || b.isEmpty) Double.NaN else a.distance(b)

  /** Boundary-exclusive containment — georust `Contains` semantics, which the
   *  reference join tests pin down (boundary points NOT contained:
   *  spatial_index.rs:434-480 expects inner shape (2,4)). JTS `contains`
   *  matches; `covers` would not. */
  def stContains(a: Array[Byte], b: Array[Byte]): Boolean = g(a).contains(g(b))

  def stIntersects(a: Array[Byte], b: Array[Byte]): Boolean = g(a).intersects(g(b))

  def stWithin(a: Array[Byte], b: Array[Byte]): Boolean = g(a).within(g(b))

  /** Fast bbox-overlap prefilter — the role the reference's R-tree candidate
   *  pass plays (spatial_index.rs:73-76). */
  def bboxIntersects(a: Array[Byte], b: Array[Byte]): Boolean =
    g(a).getEnvelopeInternal.intersects(g(b).getEnvelopeInternal)

  // ---- the reference's exact join predicate truth table ----
  final val PRED_INTERSECTS = 0
  final val PRED_CONTAINS = 1

  // Refine fast path plumbing. In the production join the right side is a
  // small broadcast polygon layer probed millions of times per task: decoding
  // the same WKB through JTS per candidate pair dominated the refine profile
  // (~15% of pipeline samples). A thread-local LRU keyed by content hash
  // (byte-verified on hit, so a 64-bit collision can only cost a re-parse,
  // never a wrong geometry) holds the parsed geometry plus a lazily built
  // point-in-area locator; the 21-byte XY point side is parsed directly from
  // its WKB without JTS at all. The indexed layer probe (`LayerIndex`) keeps
  // one shared [[JoinGeom]] per polygon instead and bypasses this cache.

  /** A parsed join geometry with its point-in-area locator, built on first
   *  use. Safe to share between threads once built by [[joinGeom]]: the
   *  locator is a synchronized lazy val over JTS's own synchronized index
   *  build, and every envelope JTS would otherwise cache lazily is computed
   *  before the value is published. */
  private[graft] final class JoinGeom private[geom] (val bytes: Array[Byte], val geom: Geometry) {
    lazy val areaLocator = new org.locationtech.jts.algorithm.locate
      .IndexedPointInAreaLocator(geom)
  }

  /** A [[JoinGeom]] to share across threads (one per polygon of a broadcast
   *  layer), parsed from `wkb` with every component envelope precomputed. */
  private[graft] def joinGeom(wkb: Array[Byte]): JoinGeom = {
    val geom = Wkb.read(wkb)
    geom.apply(new GeometryComponentFilter {
      def filter(c: Geometry): Unit = c.getEnvelopeInternal
    })
    new JoinGeom(wkb, geom)
  }

  /** Entries per thread in the refine cache: enough for an admin-sized
   *  layer, small enough that a 2,500-polygon layer's parsed geometries and
   *  locators do not stay resident in every task thread. */
  private final val RefineCacheEntries = 1024

  private val refineCache = ThreadLocal.withInitial[java.util.LinkedHashMap[Long, JoinGeom]](
    () => new java.util.LinkedHashMap[Long, JoinGeom](64, 0.75f, true) {
      override def removeEldestEntry(e: java.util.Map.Entry[Long, JoinGeom]): Boolean =
        size > RefineCacheEntries
    })

  private def fnv(b: Array[Byte]): Long = {
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < b.length) { h ^= (b(i) & 0xffL); h *= 0x100000001b3L; i += 1 }
    h
  }

  /** Parse-through cache for geometries worth caching (the replicated join
   *  side); tiny WKBs (points) are unique per row and bypass it. Once full it
   *  evicts the least recently used entry. */
  private def cached(b: Array[Byte]): JoinGeom = {
    val m = refineCache.get()
    val k = fnv(b)
    val e = m.get(k)
    if (e != null && java.util.Arrays.equals(e.bytes, b)) e
    else {
      val ne = new JoinGeom(b, Wkb.read(b))
      m.put(k, ne)
      ne
    }
  }

  /** 2D point WKB: 21 bytes = byte order + uint32 type(1) + x + y. */
  @inline private def isPointWkb(b: Array[Byte]): Boolean =
    b.length == 21 && {
      if (b(0) == 1) b(1) == 1 && b(2) == 0 && b(3) == 0 && b(4) == 0
      else b(1) == 0 && b(2) == 0 && b(3) == 0 && b(4) == 1
    }
  @inline private def wkbDouble(b: Array[Byte], off: Int, le: Boolean): Double = {
    var bits = 0L
    var i = 0
    while (i < 8) {
      val by = b(off + (if (le) i else 7 - i)) & 0xffL
      bits |= by << (8 * i)
      i += 1
    }
    java.lang.Double.longBitsToDouble(bits)
  }

  /** Bounding box of a join's left geometry, as `stBounds` computes it; an
   *  XY point's comes straight from its WKB. */
  private[graft] def joinEnvelope(wkb: Array[Byte]): Envelope =
    if (isPointWkb(wkb)) {
      val le = wkb(0) == 1
      val x = wkbDouble(wkb, 5, le); val y = wkbDouble(wkb, 13, le)
      new Envelope(x, x, y, y)
    } else g(wkb).getEnvelopeInternal

  /** [[stDistance]]`(lhs, rhs.bytes)`, bit for bit, on the parsed `rhs`:
   *  the same point-point formula, else JTS's distance from the left
   *  operand. */
  private[graft] def distanceWith(lhs: Array[Byte], rhs: JoinGeom): Double =
    if (isPointWkb(rhs.bytes)) stDistance(lhs, rhs.bytes) else distance(g(lhs), rhs.geom)

  /** [[joinRefineWith]] on two WKBs, the right one parsed through the refine
   *  cache. */
  def joinRefine(lhs: Array[Byte], rhs: Array[Byte], predicate: Int): Boolean =
    joinRefineWith(lhs, if (rhs.length <= 32) new JoinGeom(rhs, Wkb.read(rhs)) else cached(rhs),
      predicate)

  /**
   * Exact replica of the reference's candidate-refinement dispatch
   * (spatial_index.rs:89-137), including its quirks:
   *   - Point vs (Multi)Polygon (either order) ignores the requested predicate
   *     and always tests polygon-contains-point;
   *   - Polygon/Polygon and MultiPolygon/Polygon honor Contains vs Intersects;
   *   - Polygon vs MultiPolygon supports only Intersects;
   *   - (Multi)LineString vs Point (either order) tests line-contains-point;
   *   - every other type pairing is `false` (fall-through arm).
   * georust has no `Line` scalar type distinct from LineString in our model, so
   * the Line arms collapse into the LineString arms. This is the one home of
   * the truth table: [[joinRefine]] and the indexed layer probe both call it.
   */
  private[graft] def joinRefineWith(lhs: Array[Byte], rhs: JoinGeom, predicate: Int): Boolean = {
    if (isPointWkb(lhs)) {
      // truth-table arms with a point left-hand side, JTS-free on the left:
      // (Point, (Multi)Polygon) -> polygon-contains-point == interior locate;
      // (Point, (Multi)LineString) -> line.contains(point); anything else ->
      // fall-through false — identical to the general match below.
      val le = lhs(0) == 1
      val x = wkbDouble(lhs, 5, le); val y = wkbDouble(lhs, 13, le)
      return rhs.geom match {
        case _: Polygon | _: MultiPolygon =>
          rhs.areaLocator.locate(new Coordinate(x, y)) == Location.INTERIOR
        case l: LineString =>
          l.contains(Wkb.factory.createPoint(new Coordinate(x, y)))
        case l: MultiLineString =>
          l.contains(Wkb.factory.createPoint(new Coordinate(x, y)))
        case _ => false
      }
    }
    val lg = if (lhs.length <= 32) g(lhs) else cached(lhs).geom
    (lg, rhs.geom) match {
      case (p: Point, poly: Polygon) => poly.contains(p)
      case (poly: Polygon, p: Point) => poly.contains(p)
      case (p: Point, poly: MultiPolygon) => poly.contains(p)
      case (poly: MultiPolygon, p: Point) => poly.contains(p)
      case (a: Polygon, b: Polygon) =>
        if (predicate == PRED_CONTAINS) a.contains(b) else a.intersects(b)
      case (a: MultiPolygon, b: Polygon) =>
        if (predicate == PRED_CONTAINS) a.contains(b) else a.intersects(b)
      case (a: Polygon, b: MultiPolygon) =>
        if (predicate == PRED_CONTAINS) false else a.intersects(b)
      case (l: LineString, p: Point) => l.contains(p)
      case (p: Point, l: LineString) => l.contains(p)
      case (l: MultiLineString, p: Point) => l.contains(p)
      case (p: Point, l: MultiLineString) => l.contains(p)
      case _ => false
    }
  }

  // ================= affine family =================
  // Shapely/georust 6-parameter matrix [a, b, d, e, xoff, yoff]:
  //   x' = a*x + b*y + xoff ; y' = d*x + e*y + yoff
  // (matrix order documented at georust/geoseries.py:33). JTS
  // AffineTransformation takes (m00,m01,m02,m10,m11,m12) = (a,b,xoff,d,e,yoff).

  final val ORIGIN_CENTER = 0 // bbox center
  final val ORIGIN_CENTROID = 1
  final val ORIGIN_POINT = 2

  private def applyAffine(geom: Geometry, a: Double, b: Double, d: Double, e: Double,
                          xoff: Double, yoff: Double): Geometry = {
    val t = new AffineTransformation(a, b, xoff, d, e, yoff)
    val res = geom.copy()
    res.apply(t)
    res.geometryChanged()
    res
  }

  private def origin(geom: Geometry, mode: Int, ox: Double, oy: Double): (Double, Double) =
    mode match {
      case ORIGIN_CENTER =>
        val env = geom.getEnvelopeInternal
        ((env.getMinX + env.getMaxX) / 2, (env.getMinY + env.getMaxY) / 2)
      case ORIGIN_CENTROID =>
        val c = geom.getCentroid; (c.getX, c.getY)
      case _ => (ox, oy)
    }

  def stAffine(wkb: Array[Byte], a: Double, b: Double, d: Double, e: Double,
               xoff: Double, yoff: Double): Array[Byte] =
    out(applyAffine(g(wkb), a, b, d, e, xoff, yoff))

  /** Constant offset (geoseries.rs:163-174). */
  def stTranslate(wkb: Array[Byte], dx: Double, dy: Double): Array[Byte] =
    out(applyAffine(g(wkb), 1, 0, 0, 1, dx, dy))

  /** Rotate by degrees CCW around origin (geoseries.rs:85-93). */
  def stRotate(wkb: Array[Byte], angleDeg: Double, originMode: Int,
               ox: Double, oy: Double): Array[Byte] = {
    val geom = g(wkb)
    val (x0, y0) = origin(geom, originMode, ox, oy)
    val r = math.toRadians(angleDeg)
    val cos = math.cos(r); val sin = math.sin(r)
    // rotate about (x0,y0): translate(-o) . rotate . translate(+o)
    out(applyAffine(geom, cos, -sin, sin, cos,
      x0 - x0 * cos + y0 * sin, y0 - x0 * sin - y0 * cos))
  }

  /** Scale per-axis around origin; negative factors mirror (geoseries.rs:95-107). */
  def stScale(wkb: Array[Byte], xf: Double, yf: Double, originMode: Int,
              ox: Double, oy: Double): Array[Byte] = {
    val geom = g(wkb)
    val (x0, y0) = origin(geom, originMode, ox, oy)
    out(applyAffine(geom, xf, 0, 0, yf, x0 - x0 * xf, y0 - y0 * yf))
  }

  /** Shear by x/y angles in degrees. Matrix per the reference doc
   *  (geoseries.rs:129-138): [[1, tan(xs), xoff], [tan(ys), 1, yoff]] with
   *  xoff = -origin.y * tan(xs), yoff = -origin.x * tan(ys). */
  def stSkew(wkb: Array[Byte], xsDeg: Double, ysDeg: Double, originMode: Int,
             ox: Double, oy: Double): Array[Byte] = {
    val geom = g(wkb)
    val (x0, y0) = origin(geom, originMode, ox, oy)
    val tx = math.tan(math.toRadians(xsDeg))
    val ty = math.tan(math.toRadians(ysDeg))
    out(applyAffine(geom, 1, tx, ty, 1, -y0 * tx, -x0 * ty))
  }

  // ================= reshaping =================

  /** Multi-part -> array of single-part WKBs (geoseries.rs:49-50); pair with
   *  Spark `explode`/`posexplode` — mirrors benches/explode.rs:21-24. */
  def stDump(wkb: Array[Byte]): ArrayData = {
    val geom = g(wkb)
    val n = geom.getNumGeometries
    val parts = new Array[Any](n)
    var i = 0
    while (i < n) { parts(i) = out(geom.getGeometryN(i)); i += 1 }
    new GenericArrayData(parts)
  }

  /** Douglas-Peucker simplification (geoseries.rs:109-116). */
  def stSimplify(wkb: Array[Byte], tolerance: Double): Array[Byte] =
    out(DouglasPeuckerSimplifier.simplify(g(wkb), tolerance))

  // ================= set-theoretic overlay (geoseries.rst:74-77, 85) =================

  def stUnion(a: Array[Byte], b: Array[Byte]): Array[Byte] = out(g(a).union(g(b)))

  def stIntersection(a: Array[Byte], b: Array[Byte]): Array[Byte] =
    out(g(a).intersection(g(b)))

  def stDifference(a: Array[Byte], b: Array[Byte]): Array[Byte] =
    out(g(a).difference(g(b)))

  def stSymDifference(a: Array[Byte], b: Array[Byte]): Array[Byte] =
    out(g(a).symDifference(g(b)))

  /** JTS buffer, default quadrant segments (8). */
  def stBuffer(wkb: Array[Byte], distance: Double): Array[Byte] =
    out(g(wkb).buffer(distance))

  // ================= CRS =================
  // The reference reprojects vertex-wise via PROJ (ops/proj.rs:33-70). PROJ is
  // unavailable offline; Proj.scala implements the projections directly.
  // Every way of naming a CRS resolves to a ProjString.Spec (an EPSG code
  // through ProjString's EPSG registry, the one list of supported codes),
  // and one vertex loop routes each pair through the WGS84 lon/lat hub.

  /** Numeric-EPSG to_crs. Both codes resolve first, so an unknown code
   *  throws (naming it) even when the two are equal. */
  def stTransform(wkb: Array[Byte], fromSrid: Int, toSrid: Int): Array[Byte] =
    transform(wkb, ProjString.epsg(fromSrid), ProjString.epsg(toSrid))

  /** Vertex-wise from -> WGS84 lon/lat -> to; the WKB is returned unchanged
   *  when both sides resolve to the same Spec. */
  private def transform(wkb: Array[Byte], from: ProjString.Spec,
                        to: ProjString.Spec): Array[Byte] = {
    if (from == to) return wkb
    val geom = g(wkb).copy()
    val filter: CoordinateFilter = { (c: Coordinate) =>
      val (lon, lat) = ProjString.toLonLat(from, c.x, c.y)
      val (x, y) = ProjString.fromLonLat(to, lon, lat)
      c.x = x; c.y = y
    }
    geom.apply(filter)
    geom.geometryChanged()
    out(geom)
  }

  /** EPSG code of the WGS84 UTM zone containing a point. */
  def utmSrid(lat: Double, lon: Double): Int = Proj.utmSrid(lat, lon)

  // CRS strings arrive as column literals — Catalyst evaluates a Literal to
  // the SAME UTF8String instance every row, so an identity memo removes the
  // per-row toString + cache lookup entirely (falls through to the parse
  // cache for non-literal CRS columns).
  private val projMemo = new ThreadLocal[Array[AnyRef]] {
    override def initialValue(): Array[AnyRef] = new Array[AnyRef](4)
  }
  private def projSpec(s: UTF8String, slot: Int): ProjString.Spec = {
    val m = projMemo.get()
    if (m(slot) eq s) return m(slot + 1).asInstanceOf[ProjString.Spec]
    val spec = ProjString.parse(s.toString)
    m(slot) = s; m(slot + 1) = spec
    spec
  }

  /** PROJ parameter-string / EPSG-authority / PROJJSON to_crs — the
   *  reference's general reprojection surface (ops/proj.rs:33-70). Specs are
   *  parse-cached; per-vertex work is pure projection math. */
  def stTransformProj(wkb: Array[Byte], from: UTF8String, to: UTF8String): Array[Byte] =
    transform(wkb, projSpec(from, 0), projSpec(to, 2))
}
