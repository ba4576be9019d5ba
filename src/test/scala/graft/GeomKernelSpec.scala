package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.geom.GeomKernel._

/** Pure kernel tests (no Spark). */
class GeomKernelSpec extends AnyFunSuite {

  test("overlay: intersection/union/difference areas on boxes are exact") {
    val a = stMakeBox(0, 0, 10, 10)
    val b = stMakeBox(5, 5, 20, 20)
    assert(stArea(stIntersection(a, b)) == 25.0)
    assert(stArea(stUnion(a, b)) == 100.0 + 225.0 - 25.0)
    assert(stArea(stDifference(a, b)) == 75.0)
    assert(stArea(stSymDifference(a, b)) == 75.0 + 200.0)
    // disjoint
    val c = stMakeBox(100, 100, 101, 101)
    assert(stArea(stIntersection(a, c)) == 0.0)
  }

  test("buffer: area of buffered box equals closed-form fan formula (quadsegs=8)") {
    // JTS default buffer: straight sides offset by d + 4 corner fans of 8
    // segments each -> area = wh + 2(w+h)d + 2*8*d^2*sin(pi/16)
    val d = 2.0
    val area = stArea(stBuffer(stMakeBox(0, 0, 7, 3), d))
    val formula = 7.0 * 3 + 2 * (7 + 3) * d + 2 * 8 * d * d * math.sin(math.Pi / 16)
    assert(math.abs(area - formula) < 1e-9, s"area=$area formula=$formula")
  }

  test("geodesic: haversine equator degree ~ 111.19 km") {
    val d = graft.geom.Geodesic.haversine(0, 0, 0, 1)
    assert(math.abs(d - 111194.9) < 1.0)
  }

  test("truth table: polygon x multipolygon supports only intersects") {
    val p = stMakeBox(0, 0, 10, 10)
    val mpWkt = "MULTIPOLYGON(((1 1, 2 1, 2 2, 1 2, 1 1)))"
    val mp = stGeomFromText(org.apache.spark.unsafe.types.UTF8String.fromString(mpWkt))
    // (Polygon, MultiPolygon, Contains) has no arm in the reference -> false
    assert(!joinRefine(p, mp, PRED_CONTAINS))
    assert(joinRefine(p, mp, PRED_INTERSECTS))
    // but (MultiPolygon, Polygon, Contains) IS supported
    assert(joinRefine(mp, stMakeBox(1.2, 1.2, 1.8, 1.8), PRED_CONTAINS))
  }

  test("exterior of non-polygon is null; geom types match pygeos ids") {
    assert(stExterior(stPoint(1, 2)) == null)
    assert(stGeomType(stPoint(1, 2)) == POINT)
    assert(stGeomType(stMakeLine(0, 0, 1, 1)) == LINESTRING)
    assert(stGeomType(stMakeBox(0, 0, 1, 1)) == POLYGON)
    val mp = stGeomFromText(org.apache.spark.unsafe.types.UTF8String.fromString(
      "MULTIPOINT((1 1), (2 2))"))
    assert(stGeomType(mp) == MULTIPOINT)
    val gc = stGeomFromText(org.apache.spark.unsafe.types.UTF8String.fromString(
      "GEOMETRYCOLLECTION(POINT(1 1))"))
    assert(stGeomType(gc) == GEOMETRYCOLLECTION)
  }

  test("joinRefine fast path == naive truth table (property, incl. boundaries)") {
    // the cached/point-parsing fast path must be indistinguishable from a
    // direct JTS re-implementation of the reference dispatch
    import org.locationtech.jts.geom._
    import graft.geom.Wkb
    def naive(lhs: Array[Byte], rhs: Array[Byte], pred: Int): Boolean =
      (Wkb.read(lhs), Wkb.read(rhs)) match {
        case (p: Point, poly: Polygon) => poly.contains(p)
        case (poly: Polygon, p: Point) => poly.contains(p)
        case (p: Point, poly: MultiPolygon) => poly.contains(p)
        case (poly: MultiPolygon, p: Point) => poly.contains(p)
        case (a: Polygon, b: Polygon) =>
          if (pred == PRED_CONTAINS) a.contains(b) else a.intersects(b)
        case (a: MultiPolygon, b: Polygon) =>
          if (pred == PRED_CONTAINS) a.contains(b) else a.intersects(b)
        case (a: Polygon, b: MultiPolygon) =>
          if (pred == PRED_CONTAINS) false else a.intersects(b)
        case (l: LineString, p: Point) => l.contains(p)
        case (p: Point, l: LineString) => l.contains(p)
        case (l: MultiLineString, p: Point) => l.contains(p)
        case (p: Point, l: MultiLineString) => l.contains(p)
        case _ => false
      }
    val rnd = new scala.util.Random(77)
    val f = Wkb.factory
    def wkt(s: String) = stGeomFromText(org.apache.spark.unsafe.types.UTF8String.fromString(s))
    val polys: Seq[Array[Byte]] = (0 until 6).map { _ =>
      val x = rnd.nextInt(20).toDouble; val y = rnd.nextInt(20).toDouble
      stMakeBox(x, y, x + 1 + rnd.nextInt(10), y + 1 + rnd.nextInt(10))
    } :+ wkt("MULTIPOLYGON(((0 0, 8 0, 8 8, 0 8, 0 0)), ((20 20, 25 20, 25 25, 20 25, 20 20)))")
    val lines = Seq(
      stMakeLine(0, 0, 10, 10),
      wkt("MULTILINESTRING((0 0, 5 0), (7 7, 9 9))"))
    // points: random interior/exterior + exact corners and edge midpoints
    // (boundary-exclusive containment is the semantics under test)
    val pts = (0 until 120).map(_ => stPoint(rnd.nextInt(30) - 2 + rnd.nextDouble() * 2,
      rnd.nextInt(30) - 2 + rnd.nextDouble() * 2)) ++
      Seq(stPoint(0, 0), stPoint(8, 8), stPoint(4, 0), stPoint(0, 4),
        stPoint(5, 5), stPoint(10, 10), stPoint(2.5, 0), stPoint(5, 0))
    val geoms = polys ++ lines ++ pts
    for (a <- geoms; b <- polys ++ lines; pred <- Seq(PRED_INTERSECTS, PRED_CONTAINS)) {
      assert(joinRefine(a, b, pred) == naive(a, b, pred),
        s"fast path diverged: pred=$pred a=${Wkb.read(a)} b=${Wkb.read(b)}")
    }
    // repeated probes hit the cache — results must stay stable
    val p0 = pts.head
    val r0 = joinRefine(p0, polys.head, PRED_INTERSECTS)
    (0 until 100).foreach(_ => assert(joinRefine(p0, polys.head, PRED_INTERSECTS) == r0))
  }

  test("refine cache: cycling more polygons than its 1,024 entries gives a fresh " +
    "parse's booleans, and a shared JoinGeom gives the same") {
    import org.locationtech.jts.geom.Polygon
    import graft.geom.Wkb
    // 1,500 distinct boxes, probed in three full cycles by a point inside,
    // one on the edge and one outside each: every probe past the first
    // 1,024 evicts, and the cycle order makes each lookup a miss
    val boxes = (0 until 1500).map(i => stMakeBox(i * 0.01, 0, i * 0.01 + 0.005 + i * 1e-6, 1))
    def probes(i: Int) = Seq(stPoint(i * 0.01 + 0.002, 0.5), stPoint(i * 0.01, 0.5),
      stPoint(i * 0.01 - 0.002, 0.5))
    for (_ <- 0 until 3; (b, i) <- boxes.zipWithIndex; p <- probes(i)) {
      val fresh = Wkb.read(b).asInstanceOf[Polygon].contains(Wkb.read(p))
      assert(joinRefine(p, b, PRED_INTERSECTS) == fresh, s"box $i")
      assert(joinRefineWith(p, joinGeom(b), PRED_INTERSECTS) == fresh, s"box $i")
    }
    assert(boxes.indices.count(i => joinRefine(probes(i).head, boxes(i), PRED_CONTAINS)) == 1500)
  }

  test("distance to an empty operand is NaN, never within a radius; distanceWith " +
    "equals stDistance bit for bit") {
    import graft.geom.Wkb
    val f = Wkb.factory
    val empties = Seq(f.createPolygon(), f.createPoint(), f.createLineString()).map(Wkb.write)
    val geoms = Seq(stPoint(1, 2), stMakeBox(0, 0, 3, 3), stMakeLine(-1, -1, 4, 5)) ++ empties
    for (a <- geoms; b <- geoms) {
      val d = stDistance(a, b)
      if (empties.contains(a) || empties.contains(b)) assert(d.isNaN, s"${Wkb.read(a)} ${Wkb.read(b)}")
      else assert(d >= 0)
      assert(java.lang.Double.doubleToLongBits(distanceWith(a, joinGeom(b))) ==
        java.lang.Double.doubleToLongBits(d), s"${Wkb.read(a)} ${Wkb.read(b)}")
    }
  }

  test("length: polygon uses exterior ring only (reference contract)") {
    // polygon with a hole: perimeter of hole must NOT count
    val wkt = "POLYGON((0 0, 10 0, 10 10, 0 10, 0 0), (4 4, 6 4, 6 6, 4 6, 4 4))"
    val p = stGeomFromText(org.apache.spark.unsafe.types.UTF8String.fromString(wkt))
    assert(stLength(p) == 40.0) // JTS getLength would give 48
  }

  test("stIsValidWkb: valid WKB true; fuzz garbage/truncations false, never throw") {
    val valid = stPoint(3.0, 4.0)
    assert(stIsValidWkb(valid))
    assert(stIsValidWkb(stMakeBox(0, 0, 2, 2)))
    assert(!stIsValidWkb(Array.empty[Byte]))
    assert(!stIsValidWkb(Array[Byte](9) ++ valid)) // corrupted byte-order marker
    val rnd = new scala.util.Random(5150)
    for (_ <- 0 until 500) {
      val b = rnd.nextInt(3) match {
        case 0 => java.util.Arrays.copyOf(valid, rnd.nextInt(valid.length))
        case 1 =>
          val c = valid.clone(); c(rnd.nextInt(c.length)) = rnd.nextInt(256).toByte; c
        case _ => val c = new Array[Byte](rnd.nextInt(64)); rnd.nextBytes(c); c
      }
      stIsValidWkb(b) // contract: boolean either way, never an exception
    }
  }

  test("stIsValidWkb: hostile count fields and deep nesting rejected before " +
    "JTS can OOM/stack-overflow (ADVICE r4)") {
    import java.nio.{ByteBuffer, ByteOrder}
    // LineString claiming 2^30 points in a 20-byte buffer: WKBReader would
    // allocate the coordinate array from the count (8 GiB) before reading a
    // single coordinate — the pre-scanner must bound it against the buffer
    val hugeCount = ByteBuffer.allocate(9 + 16).order(ByteOrder.LITTLE_ENDIAN)
      .put(1.toByte).putInt(2).putInt(1 << 30).putDouble(0).putDouble(0).array()
    assert(!graft.geom.Wkb.structurallyValid(hugeCount))
    assert(!stIsValidWkb(hugeCount))
    // same attack on a polygon ring count
    val hugeRings = ByteBuffer.allocate(9 + 8).order(ByteOrder.LITTLE_ENDIAN)
      .put(1.toByte).putInt(3).putInt(Int.MinValue).array()
    assert(!stIsValidWkb(hugeRings))
    // 64 nested GeometryCollection(1) headers then a point: deeper than
    // MaxNestingDepth -> rejected (JTS would recurse once per level)
    val deep = ByteBuffer.allocate(64 * 9 + 5 + 16).order(ByteOrder.LITTLE_ENDIAN)
    (0 until 64).foreach(_ => deep.put(1.toByte).putInt(7).putInt(1))
    deep.put(1.toByte).putInt(1).putDouble(1).putDouble(2)
    assert(!stIsValidWkb(deep.array()))
    // buffer ends exactly where a COUNT FIELD starts: the scanner must
    // return false, not read past the end (review regression: the header
    // check passed but the 4-byte count read was unguarded)
    for (tpe <- Seq(2, 3, 6, 7); extra <- 0 to 3) {
      val short = ByteBuffer.allocate(5 + extra).order(ByteOrder.LITTLE_ENDIAN)
        .put(1.toByte).putInt(tpe).array()
      val padded = java.util.Arrays.copyOf(short, 5 + extra) // zero pad bytes
      assert(!graft.geom.Wkb.structurallyValid(padded), s"tpe=$tpe extra=$extra")
      assert(!stIsValidWkb(padded))
    }
    // leniency parity with WKBReader: trailing bytes after a complete
    // geometry are ignored, and big-endian + nested multis still pass
    assert(stIsValidWkb(stPoint(1, 2) ++ Array[Byte](0, 1, 2, 3)))
    val mp = graft.geom.Wkb.write(graft.geom.Wkb.readWkt(
      "MULTIPOLYGON (((0 0, 1 0, 1 1, 0 0)), ((2 2, 3 2, 3 3, 2 2)))"))
    assert(stIsValidWkb(mp) && graft.geom.Wkb.structurallyValid(mp))
    val be = ByteBuffer.allocate(21).order(ByteOrder.BIG_ENDIAN)
      .put(0.toByte).putInt(1).putDouble(3).putDouble(4).array()
    assert(stIsValidWkb(be))
  }
}
