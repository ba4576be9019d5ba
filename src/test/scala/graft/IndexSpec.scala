package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.index.{H3, S2, Tile}

/** Pure-Scala index properties (no Spark needed). Property-style via seeded
 *  random sampling (the scalatestplus-scalacheck bridge is not in the
 *  offline cache). */
class IndexSpec extends AnyFunSuite {

  /** 200 seeded (lat, lon) samples. */
  private def forAllPoints(f: (Double, Double) => Unit): Unit = {
    val rnd = new scala.util.Random(20260816L)
    (0 until 200).foreach { _ =>
      f(rnd.nextDouble() * 168 - 84, rnd.nextDouble() * 358 - 179)
    }
  }
  private def forAllPointsRes(maxRes: Int)(f: (Double, Double, Int) => Unit): Unit = {
    val rnd = new scala.util.Random(42424242L)
    (0 until 200).foreach { _ =>
      f(rnd.nextDouble() * 168 - 84, rnd.nextDouble() * 358 - 179, rnd.nextInt(maxRes + 1))
    }
  }

  // ---------------- S2 ----------------

  test("s2: leaf id has level 30, sentinel bit set") {
    val id = S2.leafCell(45.0, 10.0)
    assert(S2.level(id) == 30)
    assert((id & 1L) == 1L)
  }

  test("s2: parent is a prefix (range containment) at every level") {
    forAllPoints { (lat, lon) =>
      val leaf = S2.leafCell(lat, lon)
      (0 to 29).foreach { lvl =>
        val p = S2.parent(leaf, lvl)
        assert(S2.level(p) == lvl)
        assert(S2.contains(p, leaf))
        assert(S2.parent(p, lvl) == p) // idempotent
        // parent chain is monotone: parent at lvl of parent at lvl+1 == parent at lvl
        assert(S2.parent(S2.parent(leaf, lvl + 1), lvl) == p)
      }
    }
  }

  test("s2: nearby points share coarse cells, far points do not") {
    val a = S2.cellId(48.8566, 2.3522, 9)   // Paris
    val b = S2.cellId(48.8570, 2.3530, 9)   // ~50m away
    val c = S2.cellId(-33.8688, 151.2093, 9) // Sydney
    assert(a == b)
    assert(a != c)
    assert(S2.cellId(48.8566, 2.3522, 4) == S2.parent(a, 4))
  }

  test("s2: coverRect covers every contained point's cell (completeness)") {
    val rnd = new scala.util.Random(7)
    (0 until 20).foreach { _ =>
      val lat0 = rnd.nextDouble() * 100 - 50
      val lon0 = rnd.nextDouble() * 300 - 150
      val dLat = rnd.nextDouble() * 8 + 0.1
      val dLon = rnd.nextDouble() * 8 + 0.1
      val lvl = 6
      val cover = S2.coverRect(lat0, lon0, lat0 + dLat, lon0 + dLon, lvl).toSet
      (0 until 200).foreach { _ =>
        val la = lat0 + rnd.nextDouble() * dLat
        val lo = lon0 + rnd.nextDouble() * dLon
        assert(cover.contains(S2.cellId(la, lo, lvl)),
          s"uncovered point ($la,$lo) in rect ($lat0,$lon0)+($dLat,$dLon)")
      }
    }
  }

  test("s2: coverRect complete for wide asymmetric rects at fine levels") {
    // regression for the single-face extent bug: u/v extrema of a rect edge
    // occur at the face-centre meridian / equator, not at corner samples, so
    // wide rects asymmetric about the meridian used to miss cells at lvl>=9
    val rnd = new scala.util.Random(99)
    val rects = Seq(
      // wide, asymmetric about face-0 meridian (the demonstrated failure)
      (3.0, -41.0, 9.0, 12.0), (-12.0, -40.5, -2.0, 30.0),
      // face-boundary straddlers
      (10.0, 40.0, 18.0, 52.0), (-20.0, 130.0, -8.0, 142.0),
      // polar and near-polar
      (62.0, -170.0, 79.0, 20.0), (-80.0, 10.0, -55.0, 100.0),
      // dateline-adjacent and equator straddler
      (5.0, 168.0, 15.0, 179.9), (-6.0, -179.9, 4.0, -150.0))
    for ((la0, lo0, la1, lo1) <- rects; lvl <- Seq(9, 10, 11, 12)) {
      val cover = S2.coverRect(la0, lo0, la1, lo1, lvl).toSet
      var k = 0
      while (k < 3000) {
        val la = la0 + rnd.nextDouble() * (la1 - la0)
        val lo = lo0 + rnd.nextDouble() * (lo1 - lo0)
        assert(cover.contains(S2.cellId(la, lo, lvl)),
          s"uncovered ($la,$lo) lvl=$lvl rect=($la0,$lo0,$la1,$lo1)")
        k += 1
      }
    }
  }

  test("s2: coverRect edge/corner stress (boundary-biased points)") {
    // points biased to rect edges and corners, where ij truncation +
    // face-boundary clamping interact
    val rnd = new scala.util.Random(123)
    (0 until 12).foreach { _ =>
      val la0 = rnd.nextDouble() * 140 - 70
      val lo0 = rnd.nextDouble() * 340 - 170
      val la1 = la0 + rnd.nextDouble() * 25 + 0.05
      val lo1 = lo0 + rnd.nextDouble() * 45 + 0.05
      val lvl = 8 + rnd.nextInt(3)
      val cover = S2.coverRect(la0, lo0, math.min(la1, 89.9), math.min(lo1, 179.9), lvl).toSet
      val laB = math.min(la1, 89.9); val loB = math.min(lo1, 179.9)
      val edgePts = Seq(
        (la0, lo0), (la0, loB), (laB, lo0), (laB, loB),
        (la0, (lo0 + loB) / 2), (laB, (lo0 + loB) / 2),
        ((la0 + laB) / 2, lo0), ((la0 + laB) / 2, loB)) ++
        (0 until 500).map { _ =>
          if (rnd.nextBoolean()) (if (rnd.nextBoolean()) la0 else laB,
            lo0 + rnd.nextDouble() * (loB - lo0))
          else (la0 + rnd.nextDouble() * (laB - la0), if (rnd.nextBoolean()) lo0 else loB)
        }
      edgePts.foreach { case (la, lo) =>
        assert(cover.contains(S2.cellId(la, lo, lvl)),
          s"uncovered edge point ($la,$lo) lvl=$lvl rect=($la0,$lo0,$laB,$loB)")
      }
    }
  }

  test("s2: coverRect size stays proportional to rect area (no face blowup)") {
    // a mid-latitude rect reaching into a polar face must not enumerate the
    // whole polar face
    val c = S2.coverRect(30.0, 0.0, 60.0, 90.0, 9)
    // rect is ~30x90 deg; at level 9 (~0.176 deg cells) the area bound is
    // ~(30/0.176)*(90/0.176)*distortion; whole-sphere would be 6*512*512=1.5M
    assert(c.length < 500000, s"covering exploded: ${c.length}")
    val small = S2.coverRect(40.0, 10.0, 40.5, 10.5, 9)
    assert(small.length < 120, s"small covering too big: ${small.length}")
  }

  test("s2: coverCount equals coverRect's length, and coverRect's ids are distinct") {
    // seeded random rects at every level 0-12, sized so the covering stays
    // small, plus rects around the poles, the antimeridian, face boundaries
    // (lon = ±45°, ±135°), cube corners and the equator
    val rnd = new scala.util.Random(31337)
    val anchors = Seq((90.0, 0.0), (-90.0, 77.0), (89.99, -179.99), (0.0, 180.0),
      (0.0, -180.0), (12.0, 179.95), (0.0, 45.0), (20.0, -135.0), (-30.0, 135.0),
      (35.264, 45.0), (-35.264, -45.0), (0.0, 0.0), (45.0, 90.0))
    def clampRect(la0: Double, lo0: Double, la1: Double, lo1: Double) =
      (math.max(-90.0, la0), math.max(-180.0, lo0), math.min(90.0, la1), math.min(180.0, lo1))
    for (lvl <- 0 to 12) {
      val e = math.min(60.0, 240.0 / (1 << lvl)) // ~ a few dozen cells per axis
      val random = (0 until 40).map { _ =>
        val la0 = rnd.nextDouble() * 180 - 90
        val lo0 = rnd.nextDouble() * 360 - 180
        clampRect(la0, lo0, la0 + rnd.nextDouble() * e, lo0 + rnd.nextDouble() * e)
      }
      val special = anchors.map { case (la, lo) =>
        val h = e * (0.05 + rnd.nextDouble())
        clampRect(la - h, lo - h, la + h, lo + h)
      }
      // degenerate (zero-width or zero-height) rects
      val thin = Seq(clampRect(10.0, -50.0, 10.0, -50.0 + e), clampRect(-60.0, 120.0, -60.0 + e, 120.0))
      for ((la0, lo0, la1, lo1) <- random ++ special ++ thin) {
        val ids = S2.coverRect(la0, lo0, la1, lo1, lvl)
        val where = s"lvl=$lvl rect=($la0,$lo0,$la1,$lo1)"
        assert(S2.coverCount(la0, lo0, la1, lo1, lvl) == ids.length, where)
        assert(ids.distinct.length == ids.length, s"duplicate ids: $where")
        assert(ids.forall(S2.level(_) == lvl), s"wrong level: $where")
      }
    }
  }

  /** Cube-corner latitude atan(1/sqrt(2)), where three faces meet at lon ±45°/±135°. */
  private val CubeCornerLat = math.toDegrees(math.atan(1 / math.sqrt(2)))

  /** Seeded rects for every level 0-14 — random ones on all six faces plus
   *  rects around the poles, the antimeridian, face boundaries (lon
   *  ±45°/±135°), cube corners and the equator, degenerate ones, and thin
   *  strips across the critical lines — sized so each covering stays small. */
  private def coverRects(f: (Int, (Double, Double, Double, Double)) => Unit): Unit = {
    val rnd = new scala.util.Random(4242L)
    val c = CubeCornerLat
    val anchors = Seq((90.0, 0.0), (-90.0, 77.0), (89.99, -179.99), (0.0, 180.0),
      (0.0, -180.0), (12.0, 179.95), (0.0, 45.0), (0.0, -45.0), (20.0, -135.0),
      (-30.0, 135.0), (c, 45.0), (-c, -45.0), (c, -135.0), (-c, 135.0), (0.0, 0.0),
      (45.0, 90.0), (-60.0, 0.0), (0.0, 90.0), (0.0, -90.0))
    def clampRect(la0: Double, lo0: Double, la1: Double, lo1: Double) =
      (math.max(-90.0, la0), math.max(-180.0, lo0), math.min(90.0, la1), math.min(180.0, lo1))
    for (lvl <- 0 to 14) {
      val e = math.min(60.0, 240.0 / (1 << lvl))
      val random = (0 until 30).map { _ =>
        val la0 = rnd.nextDouble() * 180 - 90
        val lo0 = rnd.nextDouble() * 360 - 180
        clampRect(la0, lo0, la0 + rnd.nextDouble() * e, lo0 + rnd.nextDouble() * e)
      }
      val special = anchors.map { case (la, lo) =>
        val h = e * (0.05 + rnd.nextDouble())
        clampRect(la - h, lo - h * rnd.nextDouble(), la + h * rnd.nextDouble(), lo + h)
      }
      val degenerate = Seq(clampRect(10.0, -50.0, 10.0, -50.0 + e),
        clampRect(-60.0, 120.0, -60.0 + e, 120.0), (c, 45.0, c, 45.0), (0.0, -135.0, 0.0, -135.0),
        (-90.0, -180.0, -90.0, 180.0), (0.0, 180.0, e, 180.0))
      // long thin strips across the critical meridians, where u/v peak
      // between the rect's corners: a few cells thick and up to 60° (or
      // 1,000 cells) long. A parallel bends in uv, so a strip's covering
      // grows with its length squared; off the equatorial band strips run
      // only to level 8
      val half = math.min(30.0, 500 * S2.approxEdgeDeg(lvl))
      val meridians = Seq(0.0, 45.0, -90.0, 135.0)
      def strip(la: Double, lo: Double) = clampRect(la, lo - half * rnd.nextDouble(),
        la + e * rnd.nextDouble(), lo + half * rnd.nextDouble())
      val strips = meridians.map(strip(rnd.nextDouble() * 60 - 30, _)) ++
        (if (lvl > 8) Nil
         else meridians.map(strip((rnd.nextDouble() * 45 + 40) * (if (rnd.nextBoolean()) 1 else -1), _)))
      (random ++ special ++ degenerate ++ strips).foreach(r => f(lvl, r))
    }
  }

  test("s2: tight coverRect is complete at levels 0-14 — interior, edge, corner " +
    "and critical-line points") {
    val rnd = new scala.util.Random(20261019L)
    var checked = 0L
    coverRects { case (lvl, (la0, lo0, la1, lo1)) =>
      val cover = S2.coverRect(la0, lo0, la1, lo1, lvl).toSet
      def lat() = la0 + rnd.nextDouble() * (la1 - la0)
      def lon() = lo0 + rnd.nextDouble() * (lo1 - lo0)
      val corners = for (la <- Seq(la0, la1); lo <- Seq(lo0, lo1)) yield (la, lo)
      val interior = Seq.fill(100)((lat(), lon()))
      val edges = Seq.fill(10)(Seq((la0, lon()), (la1, lon()), (lat(), lo0), (lat(), lo1))).flatten
      // the lines where u or v turns: every multiple of 45° lon, the equator,
      // and the cube-corner latitudes, each crossed with the rect's bounds
      val critLon = (math.ceil(lo0 / 45.0).toInt to math.floor(lo1 / 45.0).toInt).map(_ * 45.0)
      val critLat = Seq(0.0, CubeCornerLat, -CubeCornerLat).filter(la => la >= la0 && la <= la1)
      val critical = critLon.flatMap(lo => Seq((la0, lo), (la1, lo), (lat(), lo))) ++
        critLat.flatMap(la => Seq((la, lo0), (la, lo1), (la, lon()))) ++
        (for (la <- critLat; lo <- critLon) yield (la, lo))
      (corners ++ interior ++ edges ++ critical).foreach { case (la, lo) =>
        if (!cover.contains(S2.cellId(la, lo, lvl)))
          fail(s"uncovered ($la,$lo) lvl=$lvl rect=($la0,$lo0,$la1,$lo1)")
        checked += 1
      }
    }
    assert(checked > 100000, s"only $checked points checked")
  }

  /** (lat, lon) degrees of the point at (s, t) on `face`: the inverse
   *  of S2's face projection, quadratic ST -> UV -> gnomonic xyz. */
  private def faceStToLatLon(face: Int, s: Double, t: Double): (Double, Double) = {
    def uv(s: Double) = if (s >= 0.5) (4 * s * s - 1) / 3 else (1 - 4 * (1 - s) * (1 - s)) / 3
    val (u, v) = (uv(s), uv(t))
    val (x, y, z) = face match {
      case 0 => (1.0, u, v);   case 1 => (-u, 1.0, v);  case 2 => (-u, -v, 1.0)
      case 3 => (-1.0, -v, -u); case 4 => (v, -1.0, -u); case _ => (-v, u, -1.0)
    }
    (math.toDegrees(math.atan2(z, math.hypot(x, y))), math.toDegrees(math.atan2(y, x)))
  }

  test("s2: tight coverRect — a rect inside one cell covers exactly that cell, " +
    "a rect smaller than a cell covers at most 4") {
    val rnd = new scala.util.Random(77L)
    def clamped(la: Double, lo: Double, h: Double) =
      (math.max(-90.0, la - h), math.max(-180.0, lo - h),
        math.min(90.0, la + h), math.min(180.0, lo + h))
    for (lvl <- 0 to 14; _ <- 0 until 40) {
      val n = 1 << lvl
      val face = rnd.nextInt(6)
      val (i, j) = (rnd.nextInt(n), rnd.nextInt(n))
      // a cell's centre is >= (2/3) 2^-lvl from its edges in uv, and the
      // gnomonic uv moves < 3 per radian of lat or lon, so a rect of
      // half-size 1e-3 * 90 / 2^lvl degrees stays strictly inside the cell
      val (la, lo) = faceStToLatLon(face, (i + 0.5) / n, (j + 0.5) / n)
      val cell = S2.cellId(la, lo, lvl)
      assert(S2.face(cell) == face, s"inverse projection off: lvl=$lvl face=$face")
      val (a0, b0, a1, b1) = clamped(la, lo, 1e-3 * 90.0 / n)
      val inside = S2.coverRect(a0, b0, a1, b1, lvl)
      assert(inside.toSeq == Seq(cell), s"lvl=$lvl cell ($face,$i,$j): ${inside.length} cells")
      // a rect spanning 10 * 2^-lvl degrees moves uv by < 6 * 10 * 2^-lvl
      // radians = 1.05 * 2^-lvl, below a cell's uv width of >= (4/3) 2^-lvl:
      // at most 2 cells per axis; away from the face edges (st in
      // [0.1, 0.9]), on one face only
      val (pa, po) = faceStToLatLon(face, 0.1 + 0.8 * rnd.nextDouble(), 0.1 + 0.8 * rnd.nextDouble())
      val (c0, d0, c1, d1) = clamped(pa, po, math.min(2.5, 5.0 / n))
      val small = S2.coverRect(c0, d0, c1, d1, lvl)
      assert(small.length <= 4 && small.forall(S2.face(_) == face),
        s"lvl=$lvl rect ($c0,$d0,$c1,$d1): ${small.length} cells")
    }
  }

  test("s2: all six faces reachable") {
    val faces = Seq((0.0, 0.0), (0.0, 90.0), (89.0, 0.0), (0.0, 180.0), (0.0, -90.0),
      (-89.0, 0.0)).map { case (la, lo) => S2.face(S2.leafCell(la, lo)) }.toSet
    assert(faces == Set(0, 1, 2, 3, 4, 5))
  }

  // ---------------- H3 ----------------

  test("h3: resolution and face round-trip; digits padded with 7") {
    forAllPointsRes(15) { (lat, lon, res) =>
      val h = H3.cell(lat, lon, res)
      assert(H3.resolution(h) == res)
      assert(H3.face(h) >= 0 && H3.face(h) < 20)
    }
  }

  test("h3: packed fields are disjoint — digit slots read 0..6 below res, 7 at/above") {
    // Guards the id layout itself: an overlap between the base-cell field and
    // the digit region (the pre-fix layout OR'd ab<<38 across digits 0..2,
    // making pack lossy) corrupts digit reads and lets distinct cells collide.
    forAllPointsRes(15) { (lat, lon, res) =>
      val h = H3.cell(lat, lon, res)
      assert((h >>> 62) == 1L, s"mode/sign bits wrong: $h")
      (0 until H3.MaxRes).foreach { d =>
        val digit = (h >> (3 * (H3.MaxRes - 1 - d))) & 7
        if (d < res) assert(digit <= 6, s"digit $d=$digit res=$res")
        else assert(digit == 7, s"pad digit $d=$digit res=$res")
      }
    }
  }

  test("h3: parent chain is consistent and prefix-monotone") {
    forAllPoints { (lat, lon) =>
      val h = H3.cell(lat, lon, 12)
      (0 to 11).foreach { r =>
        val p = H3.parent(h, r)
        assert(H3.resolution(p) == r)
        assert(H3.isParentOf(p, h))
        assert(H3.parent(H3.parent(h, r + 1), r) == p)
      }
    }
  }

  test("h3: nearby points share cells at coarse res, distinct far away") {
    val a = H3.cell(48.8566, 2.3522, 9)
    val b = H3.cell(48.85661, 2.35221, 9)
    val c = H3.cell(-33.8688, 151.2093, 9)
    assert(a == b)
    assert(a != c)
  }

  test("h3: determinism across calls") {
    forAllPoints { (lat, lon) =>
      assert(H3.cell(lat, lon, 10) == H3.cell(lat, lon, 10))
    }
  }

  test("h3: aperture-7 — resolution r+1 refines r (child count sanity)") {
    // sample many points inside one res-6 cell; their res-7 cells must be
    // few (<= ~7 + boundary effects) and all children of some res-6 cell
    val base = H3.cell(40.0, -100.0, 6)
    val rnd = new scala.util.Random(11)
    val eps = H3.approxEdgeDeg(6) / 4
    val children = (0 until 500).map { _ =>
      val la = 40.0 + (rnd.nextDouble() - 0.5) * eps
      val lo = -100.0 + (rnd.nextDouble() - 0.5) * eps
      H3.cell(la, lo, 7)
    }.toSet
    assert(children.nonEmpty && children.size <= 9)
    val sameParent = children.filter(c => H3.parent(c, 6) == base)
    assert(sameParent.nonEmpty)
  }

  test("h3: coverRect covers every contained point's cell (completeness)") {
    val rnd = new scala.util.Random(13)
    (0 until 10).foreach { _ =>
      val lat0 = rnd.nextDouble() * 80 - 40
      val lon0 = rnd.nextDouble() * 300 - 150
      val dLat = rnd.nextDouble() * 3 + 0.1
      val dLon = rnd.nextDouble() * 3 + 0.1
      val res = 4
      val cover = H3.coverRect(lat0, lon0, lat0 + dLat, lon0 + dLon, res).toSet
      (0 until 100).foreach { _ =>
        val la = lat0 + rnd.nextDouble() * dLat
        val lo = lon0 + rnd.nextDouble() * dLon
        assert(cover.contains(H3.cell(la, lo, res)))
      }
    }
  }

  test("h3: coverRect complete at finer res, polar and face-boundary rects") {
    val rnd = new scala.util.Random(31)
    val rects = Seq(
      (3.0, -41.0, 7.0, -33.0), (48.0, 5.0, 52.0, 11.0),   // mid-lat
      (62.0, -10.0, 66.0, 3.0), (-66.0, 100.0, -62.0, 111.0), // high-lat
      (-1.5, 178.0, 1.5, 179.9))                            // dateline+equator
    for ((la0, lo0, la1, lo1) <- rects; res <- Seq(5, 6, 7)) {
      val cover = H3.coverRect(la0, lo0, la1, lo1, res).toSet
      (0 until 800).foreach { _ =>
        val la = la0 + rnd.nextDouble() * (la1 - la0)
        val lo = lo0 + rnd.nextDouble() * (lo1 - lo0)
        assert(cover.contains(H3.cell(la, lo, res)),
          s"h3 uncovered ($la,$lo) res=$res rect=($la0,$lo0,$la1,$lo1)")
      }
    }
  }

  test("h3: coverRect flood fill is O(cells) — country-sized bbox at res 8") {
    // the grid-sampling cover was O((area/pitch)^2): ~10^8 cell() calls for
    // this bbox at res 8. The lattice BFS must finish quickly with a cover
    // proportional to the cell count, and stay complete.
    val (la0, lo0, la1, lo1) = (44.0, 2.0, 51.0, 12.0) // ~France-sized
    val res = 8
    val t0 = System.nanoTime()
    val cover = H3.coverRect(la0, lo0, la1, lo1, res).toSet
    val secs = (System.nanoTime() - t0) / 1e9
    // expected cell count ~ area / hex area; allow a generous band
    val hexEdge = H3.approxEdgeDeg(res)
    val expected = (la1 - la0) * (lo1 - lo0) * math.cos(math.toRadians(47.5)) /
      (2.598 * hexEdge * hexEdge / 4 * 3) // hex area = 3*sqrt(3)/2 * r^2
    assert(cover.size > expected / 4 && cover.size < expected * 6,
      s"cover=${cover.size} expected~$expected")
    assert(secs < 30.0, s"coverRect took ${secs}s — not O(cells)")
    val rnd = new scala.util.Random(17)
    (0 until 2000).foreach { _ =>
      val la = la0 + rnd.nextDouble() * (la1 - la0)
      val lo = lo0 + rnd.nextDouble() * (lo1 - lo0)
      assert(cover.contains(H3.cell(la, lo, res)), s"uncovered ($la,$lo)")
    }
  }

  test("h3: coverRect complete on polar and pole-containing rects") {
    val rnd = new scala.util.Random(41)
    for ((la0, lo0, la1, lo1) <- Seq(
      (84.0, -180.0, 90.0, 180.0), (-90.0, -180.0, -85.0, 180.0),
      (86.0, 10.0, 88.0, 60.0)); res <- Seq(4, 5)) {
      val cover = H3.coverRect(la0, lo0, la1, lo1, res).toSet
      (0 until 500).foreach { _ =>
        val la = math.min(89.9999, la0 + rnd.nextDouble() * (la1 - la0))
        val lo = lo0 + rnd.nextDouble() * (lo1 - lo0)
        assert(cover.contains(H3.cell(la, lo, res)),
          s"h3 polar uncovered ($la,$lo) res=$res rect=($la0,$lo0,$la1,$lo1)")
      }
    }
  }

  // ---------------- Tile ----------------

  test("h3: grid disk — hex-ball cardinality, self-containment, ring growth") {
    import graft.index.H3
    val pts = Seq((48.1, 11.6), (-33.9, 18.4), (0.3, -0.2), (40.7, -74.0), (55.7, 37.6))
    for ((lat, lon) <- pts; k <- 0 to 3) {
      val d = H3.disk(lat, lon, 8, k)
      assert(d.length == 1 + 3 * k * (k + 1), s"($lat,$lon) k=$k")
      assert(d.distinct.length == d.length)
      assert(d.contains(H3.cell(lat, lon, 8)))
      assert(d.forall(H3.resolution(_) == 8))
      // monotone: a smaller disk is a subset of a larger one
      if (k > 0) assert(H3.disk(lat, lon, 8, k - 1).toSet.subsetOf(d.toSet))
    }
    // k=0 is exactly the containing cell
    assert(H3.disk(48.1, 11.6, 9, 0).toSeq == Seq(H3.cell(48.1, 11.6, 9)))
    intercept[IllegalArgumentException](H3.disk(0, 0, 8, -1))
  }

  test("tile: known anchors at z=1 and packing round-trip") {
    // z=1: four tiles; (0,0) lon/lat -> tile (1,1)? lon 0 -> x=1, lat 0 -> y=1
    assert(Tile.tileX(0.0, 1) == 1)
    assert(Tile.tileY(0.0, 1) == 1)
    assert(Tile.tileX(-180.0, 1) == 0)
    forAllPointsRes(18) { (lat, lon, z) =>
      val id = Tile.tileId(lat, lon, z)
      assert(Tile.zoom(id) == z)
      assert(Tile.x(id) == Tile.tileX(lon, z))
      assert(Tile.y(id) == Tile.tileY(lat, z))
      // parent prefix property
      if (z > 0) assert(Tile.parent(id, z - 1) == Tile.tileId(lat, lon, z - 1) ||
        // boundary: a point exactly on a tile edge can legitimately round to
        // the adjacent child; parent must still be the shifted coordinates
        Tile.parent(id, z - 1) == Tile.pack(z - 1, Tile.x(id) >> 1, Tile.y(id) >> 1))
    }
  }

  test("tile: bounds contain the generating point") {
    forAllPointsRes(13) { (lat, lon, z0) =>
      val z = z0 + 2
      val id = Tile.tileId(lat, lon, z)
      val (w, s, e, n) = Tile.bounds(id)
      assert(lon >= w - 1e-9 && lon <= e + 1e-9)
      assert(lat >= s - 1e-6 && lat <= n + 1e-6)
    }
  }
}
