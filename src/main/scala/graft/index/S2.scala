package graft.index

/**
 * Pure-Scala S2 cell ids (cube face + quadratic ST projection + Hilbert
 * curve), implemented from the published S2 geometry scheme. This is the
 * distributed analogue of the reference's per-Series R-tree: cell-prefix
 * equality replaces AABB candidate generation
 * (reference: geopolars/src/spatial_index.rs:314-350 builds `rstar::RTree`
 * node-per-row; we bucket rows by cell instead so candidates co-locate in the
 * same shuffle partition).
 *
 * Layout (standard S2): 3 face bits, 2*30 position bits along the Hilbert
 * curve, then a trailing sentinel 1-bit marking the level. Parent cells share
 * the child's high-order bits — "cell-prefix bucketing" is parent-id equality.
 */
object S2 {
  final val MaxLevel = 30

  // Hilbert sub-cell orderings. ij is encoded as i*2 + j.
  // posToIJ(orientation)(pos) = ij; ijToPos is its inverse.
  private val posToIJ: Array[Array[Int]] = Array(
    Array(0, 1, 3, 2), // canonical order
    Array(0, 2, 3, 1), // axes swapped
    Array(3, 2, 0, 1), // bits inverted
    Array(3, 1, 0, 2)) // swapped & inverted
  private val ijToPos: Array[Array[Int]] = {
    val inv = Array.ofDim[Int](4, 4)
    for (r <- 0 until 4; pos <- 0 until 4) inv(r)(posToIJ(r)(pos)) = pos
    inv
  }
  private val SwapMask = 1
  private val InvertMask = 2
  private val posToOrientation = Array(SwapMask, 0, 0, InvertMask | SwapMask)

  /** lat/lon degrees -> leaf (level 30) cell id. */
  def leafCell(latDeg: Double, lonDeg: Double): Long = {
    val lat = math.toRadians(latDeg); val lon = math.toRadians(lonDeg)
    val cosLat = math.cos(lat)
    val x = cosLat * math.cos(lon)
    val y = cosLat * math.sin(lon)
    val z = math.sin(lat)
    val face = largestAbsComponent(x, y, z)
    val (u, v) = faceXyzToUv(face, x, y, z)
    val i = stToIj(uvToSt(u))
    val j = stToIj(uvToSt(v))
    fromFaceIj(face, i, j)
  }

  /** lat/lon degrees -> cell id at `level` (0..30). */
  def cellId(latDeg: Double, lonDeg: Double, level: Int): Long =
    parent(leafCell(latDeg, lonDeg), level)

  /** Parent of `id` at `level` (must be <= id's level). */
  def parent(id: Long, level: Int): Long = {
    val lsb = 1L << (2 * (MaxLevel - level))
    (id & -lsb) | lsb
  }

  def level(id: Long): Int = MaxLevel - (java.lang.Long.numberOfTrailingZeros(id) >> 1)

  def face(id: Long): Int = (id >>> 61).toInt

  /** Range [min, max] of leaf ids contained in this cell — enables range scans
   *  / partition pruning on a leaf-sorted layout. */
  def rangeMin(id: Long): Long = id - (lowestOnBit(id) - 1)
  def rangeMax(id: Long): Long = id + (lowestOnBit(id) - 1)
  private def lowestOnBit(id: Long): Long = id & -id

  def contains(parentId: Long, childId: Long): Boolean =
    childId >= rangeMin(parentId) && childId <= rangeMax(parentId)

  private def largestAbsComponent(x: Double, y: Double, z: Double): Int = {
    val ax = math.abs(x); val ay = math.abs(y); val az = math.abs(z)
    if (ax > ay) {
      if (ax > az) { if (x >= 0) 0 else 3 } else { if (z >= 0) 2 else 5 }
    } else {
      if (ay > az) { if (y >= 0) 1 else 4 } else { if (z >= 0) 2 else 5 }
    }
  }

  private def faceXyzToUv(face: Int, x: Double, y: Double, z: Double): (Double, Double) =
    face match {
      case 0 => (y / x, z / x)
      case 1 => (-x / y, z / y)
      case 2 => (-x / z, -y / z)
      case 3 => (z / x, y / x)
      case 4 => (z / y, -x / y)
      case _ => (-y / z, x / z)
    }

  /** Quadratic projection — equalizes cell areas across a face. */
  private def uvToSt(u: Double): Double =
    if (u >= 0) 0.5 * math.sqrt(1 + 3 * u) else 1 - 0.5 * math.sqrt(1 - 3 * u)

  private def stToIj(s: Double): Int = {
    val m = (1 << MaxLevel).toDouble
    math.max(0, math.min((1 << MaxLevel) - 1, math.floor(s * m).toInt))
  }

  /** (face, i, j) at level 30 -> leaf cell id via Hilbert curve traversal. */
  def fromFaceIj(face: Int, i: Int, j: Int): Long = {
    var pos = 0L
    var orientation = face & SwapMask
    var k = MaxLevel - 1
    while (k >= 0) {
      val ij = (((i >> k) & 1) << 1) | ((j >> k) & 1)
      val p = ijToPos(orientation)(ij)
      pos = (pos << 2) | p
      orientation ^= posToOrientation(p)
      k -= 1
    }
    (face.toLong << 61) | (pos << 1) | 1L
  }

  /** Approximate cell edge length in degrees at `level` (for coverings). */
  def approxEdgeDeg(level: Int): Double = 90.0 / (1L << level)

  /** Float-safety margin added to each side of a face's exact uv bound in
   *  [[coverRect]]; see the error argument there. */
  private final val UvMargin = 1e-12

  // lat/lon bounding box of each face's point set (with FP-safety margin):
  // equatorial faces reach |lat| 45° (at the centre meridian) and span 90° of
  // lon; polar faces start at the corner latitude asin(1/sqrt(3)) = 33.557°.
  // Face 3 wraps the antimeridian, so it carries two lon windows.
  private val faceClipBoxes: Array[Array[(Double, Double, Double, Double)]] = {
    val e = 0.5 // margin, degrees
    Array(
      Array((-45 - e, -45 - e, 45 + e, 45 + e)),                       // face 0
      Array((-45 - e, 45 - e, 45 + e, 135 + e)),                       // face 1
      Array((33.0, -180.0, 90.0, 180.0)),                              // face 2 (N pole)
      Array((-45 - e, 135 - e, 45 + e, 180.0),
            (-45 - e, -180.0, 45 + e, -135 + e)),                      // face 3 (wraps)
      Array((-45 - e, -135 - e, 45 + e, -45 + e)),                     // face 4
      Array((-90.0, -180.0, -33.0, 180.0)))                            // face 5 (S pole)
  }

  /**
   * Complete covering of a lat/lon rectangle with cell ids at `level`.
   *
   * Per-face analytic bound: on every face, u and v restricted to the rect
   * are monotone between critical lines, so their extrema over the rect are
   * attained at rect corners/edge endpoints, on cardinal meridians
   * (lon ≡ 0 mod 45° — face centers AND face boundaries of the equatorial
   * faces, u/v axes of the polar faces), or at the equator. Evaluating the
   * (unclamped) gnomonic u/v of that augmented sample grid on each face and
   * clamping to the face square [-1,1]² therefore bounds the projection of
   * every rect point that lands on that face — including points on the face
   * boundary, where a sample from the far side clamps to exactly ±1. The ij
   * rectangle of that bound is a complete covering, and a tight one: a rect
   * inside one cell covers that cell alone. False-positive cells are fine
   * (refinement removes them); missing a cell is not. Used by the polygon
   * side of the cell-bucketed spatial join.
   *
   * The bound is exact in real arithmetic; in floating point it widens by
   * [[UvMargin]] (1e-12) on every side before `uvToSt`/`stToIj`. A point's
   * cell comes from [[leafCell]], which evaluates the same formulas as the
   * samples (toRadians, cos/sin, one product, one quotient). Each step is
   * within an ulp or two; the quotient's denominator stays above 0.49 on a
   * face's clip box, and on a face |u|, |v| <= 1 with derivatives of order 1
   * in the angles, so the point's computed u/v and the exact value differ
   * by a few 1e-16 — and so do the samples'. That covers
   * `Math.sin`/`cos` intrinsics that differ by an ulp between the
   * interpreter and the JIT. A margin four orders of magnitude above that
   * error keeps every rect point's computed u/v inside the widened bound;
   * `uvToSt` and `stToIj` are monotone, so its cell is in the ij range. The
   * margin widens a covering only for rects within 1e-12 in uv (a few
   * micrometres on the ground) of a cell edge.
   */
  def coverRect(minLat: Double, minLon: Double, maxLat: Double, maxLon: Double,
                lvl: Int): Array[Long] = {
    val rects = faceRects(minLat, minLon, maxLat, maxLon, lvl)
    val n = rectArea(rects)
    require(n <= Int.MaxValue - 8, s"covering of $n cells at level $lvl does not fit an array")
    // distinct (face, i, j) at one level are distinct cells: no dedupe needed
    val cellShift = MaxLevel - lvl
    val out = new Array[Long](n.toInt)
    var k = 0
    var f = 0
    while (f < 6) {
      var i = rects(4 * f)
      while (i <= rects(4 * f + 1)) {
        var j = rects(4 * f + 2)
        while (j <= rects(4 * f + 3)) {
          out(k) = parent(fromFaceIj(f, i << cellShift, j << cellShift), lvl)
          k += 1
          j += 1
        }
        i += 1
      }
      f += 1
    }
    out
  }

  /** Number of cells [[coverRect]] returns for the same arguments, without
   *  building them: the sum of the per-face ij rectangle areas. */
  def coverCount(minLat: Double, minLon: Double, maxLat: Double, maxLon: Double,
                 lvl: Int): Long =
    rectArea(faceRects(minLat, minLon, maxLat, maxLon, lvl))

  private def rectArea(rects: Array[Int]): Long = {
    var n = 0L
    var f = 0
    while (f < 6) {
      val di = rects(4 * f + 1) - rects(4 * f) + 1
      val dj = rects(4 * f + 3) - rects(4 * f + 2) + 1
      if (di > 0 && dj > 0) n += di.toLong * dj
      f += 1
    }
    n
  }

  /** The covering's clamped ij rectangle on each face at level `lvl`, as
   *  (i0, i1, j0, j1) at offset 4 * face; a face the rect misses holds an
   *  empty range (i1 < i0). */
  private def faceRects(minLat: Double, minLon: Double, maxLat: Double, maxLon: Double,
                        lvl: Int): Array[Int] = {
    val cellShift = MaxLevel - lvl
    val rects = new Array[Int](24)
    var f = 0
    while (f < 6) {
      // unclamped uv bound over the augmented samples of the rect clipped to
      // this face's lat/lon box (a superset of the face's point set, so the
      // clip never excludes a rect point that lies on this face)
      var uMin = Double.MaxValue; var uMax = Double.MinValue
      var vMin = Double.MaxValue; var vMax = Double.MinValue
      var any = false
      for ((bLat0, bLon0, bLat1, bLon1) <- faceClipBoxes(f)) {
        val cLat0 = math.max(minLat, bLat0); val cLat1 = math.min(maxLat, bLat1)
        val cLon0 = math.max(minLon, bLon0); val cLon1 = math.min(maxLon, bLon1)
        if (cLat0 <= cLat1 && cLon0 <= cLon1) {
          // samples: corners/midpoints plus the u/v critical lines — every
          // multiple of 45° lon (face centres + boundaries + polar axes) and
          // the equator — when inside the clipped range
          val latS = {
            val b = scala.collection.mutable.SortedSet(cLat0, (cLat0 + cLat1) / 2, cLat1)
            if (cLat0 < 0 && cLat1 > 0) b += 0.0
            b
          }
          val lonS = {
            val b = scala.collection.mutable.SortedSet(cLon0, (cLon0 + cLon1) / 2, cLon1)
            var c = math.ceil(cLon0 / 45.0) * 45.0
            while (c <= cLon1) { b += c; c += 45.0 }
            b
          }
          for (la <- latS; lo <- lonS) {
            val lat = math.toRadians(la); val lon = math.toRadians(lo)
            val cl = math.cos(lat)
            val x = cl * math.cos(lon); val y = cl * math.sin(lon); val z = math.sin(lat)
            val denomOk = f match {
              case 0 => x > 1e-12;  case 1 => y > 1e-12;  case 2 => z > 1e-12
              case 3 => x < -1e-12; case 4 => y < -1e-12; case _ => z < -1e-12
            }
            if (denomOk) {
              val (u, v) = faceXyzToUv(f, x, y, z)
              any = true
              if (u < uMin) uMin = u; if (u > uMax) uMax = u
              if (v < vMin) vMin = v; if (v > vMax) vMax = v
            }
          }
        }
      }
      // widen the exact bound by the float margin, then skip faces whose uv
      // box misses the face square entirely: no rect point projects onto
      // this face (a point exactly on a face boundary, whose face the
      // largest-component test may assign either way, lies within the margin
      // of ±1 on both faces and is kept on both)
      uMin -= UvMargin; uMax += UvMargin; vMin -= UvMargin; vMax += UvMargin
      if (any && uMax >= -1 && uMin <= 1 && vMax >= -1 && vMin <= 1) {
        val i0 = stToIj(uvToSt(math.max(-1, uMin))) >> cellShift
        val i1 = stToIj(uvToSt(math.min(1, uMax))) >> cellShift
        val j0 = stToIj(uvToSt(math.max(-1, vMin))) >> cellShift
        val j1 = stToIj(uvToSt(math.min(1, vMax))) >> cellShift
        rects(4 * f) = i0; rects(4 * f + 1) = i1
        rects(4 * f + 2) = j0; rects(4 * f + 3) = j1
      } else {
        rects(4 * f) = 0; rects(4 * f + 1) = -1
        rects(4 * f + 2) = 0; rects(4 * f + 3) = -1
      }
      f += 1
    }
    rects
  }
}
