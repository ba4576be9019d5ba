package graft.geom

/**
 * Pure-math CRS reprojection, replacing the reference's PROJ pipeline
 * dependency (reference: geopolars/geopolars-geo/src/ops/proj.rs:33-70 —
 * arbitrary PROJ strings, vertex-wise; PROJ does not ship offline, so we
 * implement the projections themselves). This object holds the projection
 * math, the ellipsoids and the Helmert datum shift. Which EPSG codes are
 * supported, and with which parameters, is ProjString's EPSG registry
 * (`ProjString.epsgTable`): every way of naming a CRS resolves to a
 * `ProjString.Spec`, and `toLonLat`/`fromLonLat(srid, …)` below only look
 * the code up there.
 *
 * Datum semantics: an EPSG code names the PROJECTION only — geographic
 * input is taken in the CRS's own datum (exactly PROJ's behavior for a
 * `+proj=... +ellps=...` string with no +towgs84). Full
 * `EPSG:4326 -> EPSG:27700`-style parity including the official Helmert
 * datum shift is available through the PROJ-string surface
 * (`ProjString.parse` + `+towgs84=...`, see Helmert below), e.g. the OSGB36
 * position-vector 7-tuple; register such strings as named aliases via
 * `ProjOptions.extraCrs` to use them wherever a CRS name is accepted.
 *
 * Transverse Mercator uses the 4th-order Krüger series in n (Karney 2011,
 * "Transverse Mercator with an accuracy of a few nanometers", the series
 * form also printed in OGP Guidance Note 7-2) with an exact Newton inverse
 * of the conformal latitude — sub-micrometer in-zone accuracy. LAEA follows
 * Snyder 1987 §24 (ellipsoidal case) with the authalic-latitude series
 * inverse. Everything is per-vertex scalar math: it runs inside whole-stage
 * codegen via GeomKernel's one transform loop like every other kernel.
 */
object Proj {

  // WGS84
  private val A84 = 6378137.0
  private val F84 = 1.0 / 298.257223563
  // GRS80 (ETRS89)
  private val A80 = 6378137.0
  private val F80 = 1.0 / 298.257222101

  final case class Ellipsoid(a: Double, f: Double) {
    val n: Double = f / (2 - f)
    val e2: Double = f * (2 - f)
    val e: Double = math.sqrt(e2)
    // rectifying radius A = a/(1+n) (1 + n²/4 + n⁴/64 + ...)
    val rectA: Double = a / (1 + n) * (1 + n * n / 4 + n * n * n * n / 64)
    // Krüger forward (alpha) and inverse (beta) coefficients, order n^4
    val alpha: Array[Double] = {
      val n2 = n * n; val n3 = n2 * n; val n4 = n3 * n
      Array(
        n / 2 - 2 * n2 / 3 + 5 * n3 / 16 + 41 * n4 / 180,
        13 * n2 / 48 - 3 * n3 / 5 + 557 * n4 / 1440,
        61 * n3 / 240 - 103 * n4 / 140,
        49561 * n4 / 161280)
    }
    val beta: Array[Double] = {
      val n2 = n * n; val n3 = n2 * n; val n4 = n3 * n
      Array(
        n / 2 - 2 * n2 / 3 + 37 * n3 / 96 - n4 / 360,
        n2 / 48 + n3 / 15 - 437 * n4 / 1440,
        17 * n3 / 480 - 37 * n4 / 840,
        4397 * n4 / 161280)
    }
  }

  val Wgs84: Ellipsoid = Ellipsoid(A84, F84)
  val Grs80: Ellipsoid = Ellipsoid(A80, F80)

  // ---------------- Transverse Mercator (Krüger series) ----------------

  /** lon/lat degrees -> TM easting/northing (meters). */
  def tmForward(ell: Ellipsoid, lonDeg: Double, latDeg: Double,
                lon0Deg: Double, k0: Double, fe: Double, fn: Double): (Double, Double) = {
    val phi = math.toRadians(latDeg)
    val lam = math.toRadians(lonDeg - lon0Deg)
    val e = ell.e
    val sphi = math.sin(phi)
    // conformal latitude: tau' = sinh(asinh(tan phi) - e atanh(e sin phi)) …
    // computed via t = sinh(psi), psi = atanh(sin phi) - e atanh(e sin phi)
    val psi = atanh(sphi) - e * atanh(e * sphi)
    val t = math.sinh(psi)
    val xiP = math.atan2(t, math.cos(lam))
    val etaP = asinh(math.sin(lam) / math.hypot(t, math.cos(lam)))
    var xi = xiP; var eta = etaP
    var j = 0
    while (j < 4) {
      val k = 2.0 * (j + 1)
      xi += ell.alpha(j) * math.sin(k * xiP) * math.cosh(k * etaP)
      eta += ell.alpha(j) * math.cos(k * xiP) * math.sinh(k * etaP)
      j += 1
    }
    (fe + k0 * ell.rectA * eta, fn + k0 * ell.rectA * xi)
  }

  /** Newton-invert tau' = tan(conformal latitude) -> tau = tan(phi)
   *  (Karney's exact inverse, shared by the TM and Mercator inverses). */
  private def invTauP(ell: Ellipsoid, tauP: Double): Double = {
    val e = ell.e
    var tau = tauP
    var i = 0
    while (i < 6) {
      val s = math.sinh(e * atanh(e * tau / math.hypot(1.0, tau)))
      val tauPi = tau * math.hypot(1.0, s) - s * math.hypot(1.0, tau)
      val dtau = (tauP - tauPi) * (1 + (1 - ell.e2) * tau * tau) /
        ((1 - ell.e2) * math.hypot(1.0, tauPi) * math.hypot(1.0, tau))
      tau += dtau
      if (math.abs(dtau) < 1e-15 * math.max(1.0, math.abs(tau))) i = 6
      i += 1
    }
    tau
  }

  /** TM easting/northing -> lon/lat degrees. */
  def tmInverse(ell: Ellipsoid, x: Double, y: Double,
                lon0Deg: Double, k0: Double, fe: Double, fn: Double): (Double, Double) = {
    val xi = (y - fn) / (k0 * ell.rectA)
    val eta = (x - fe) / (k0 * ell.rectA)
    var xiP = xi; var etaP = eta
    var j = 0
    while (j < 4) {
      val k = 2.0 * (j + 1)
      xiP -= ell.beta(j) * math.sin(k * xi) * math.cosh(k * eta)
      etaP -= ell.beta(j) * math.cos(k * xi) * math.sinh(k * eta)
      j += 1
    }
    val lam = math.atan2(math.sinh(etaP), math.cos(xiP))
    // tau' = tan(conformal latitude)
    val tauP = math.sin(xiP) / math.hypot(math.sinh(etaP), math.cos(xiP))
    (lon0Deg + math.toDegrees(lam), math.toDegrees(math.atan(invTauP(ell, tauP))))
  }

  // ---------------- Mercator (ellipsoidal, Snyder §7) ----------------

  /** lon/lat degrees -> ellipsoidal-Mercator easting/northing.
   *  x = FE + a·k0·λ, y = FN + a·k0·ψ with ψ the isometric latitude. */
  def mercForward(ell: Ellipsoid, lonDeg: Double, latDeg: Double,
                  lon0Deg: Double, k0: Double, fe: Double, fn: Double): (Double, Double) = {
    val phi = math.toRadians(latDeg)
    val sphi = math.sin(phi)
    val psi = atanh(sphi) - ell.e * atanh(ell.e * sphi)
    (fe + ell.a * k0 * math.toRadians(wrapLonDeg(lonDeg - lon0Deg)),
      fn + ell.a * k0 * psi)
  }

  def mercInverse(ell: Ellipsoid, x: Double, y: Double,
                  lon0Deg: Double, k0: Double, fe: Double, fn: Double): (Double, Double) = {
    val psi = (y - fn) / (ell.a * k0)
    val tau = invTauP(ell, math.sinh(psi))
    (wrapLonDeg(lon0Deg + math.toDegrees((x - fe) / (ell.a * k0))),
      math.toDegrees(math.atan(tau)))
  }

  @inline private def atanh(x: Double): Double = 0.5 * math.log((1 + x) / (1 - x))
  @inline private def asinh(x: Double): Double = math.log(x + math.hypot(1.0, x))

  // ---------------- Lambert Azimuthal Equal Area (Snyder §24) ----------------

  /** Snyder's q (authalic-area function); q/qp = sin(authalic latitude).
   *  Spherical limit (e -> 0) is q = 2·sin(phi). */
  def authalicQ(ell: Ellipsoid, sphi: Double): Double = {
    val e = ell.e
    if (e < 1e-12) return 2 * sphi
    (1 - ell.e2) * (sphi / (1 - ell.e2 * sphi * sphi) -
      (1 / (2 * e)) * math.log((1 - e * sphi) / (1 + e * sphi)))
  }

  /** Snyder's D (eq. 24-20): stretches x / compresses y so the oblique-aspect
   *  map is exactly equal-area on the ellipsoid. D = a·m₀ / (Rq·cos β₀) with
   *  m₀ = cos φ₀ / √(1 − e² sin² φ₀). ≈1.000425 for EPSG:3035 (lat0=52). */
  private def laeaD(ell: Ellipsoid, lat0Deg: Double, beta0: Double, rq: Double): Double = {
    val phi0 = math.toRadians(lat0Deg)
    val s0 = math.sin(phi0)
    val m0 = math.cos(phi0) / math.sqrt(1 - ell.e2 * s0 * s0)
    ell.a * m0 / (rq * math.cos(beta0))
  }

  /** True when lat0 denotes a polar aspect (|lat_0| = 90 within PROJ's own
   *  angular tolerance). */
  @inline def laeaIsPolar(lat0Deg: Double): Boolean =
    math.abs(math.abs(lat0Deg) - 90.0) < 1e-9

  /** LAEA forward (Snyder 1987: eq. 24-17..24-20 oblique aspect,
   *  eq. 24-23..24-25 polar aspects); lat0/lon0 in degrees. */
  def laeaForward(ell: Ellipsoid, lonDeg: Double, latDeg: Double,
                  lat0Deg: Double, lon0Deg: Double,
                  fe: Double, fn: Double): (Double, Double) = {
    val qp = authalicQ(ell, 1.0)
    val q = authalicQ(ell, math.sin(math.toRadians(latDeg)))
    if (laeaIsPolar(lat0Deg)) {
      // polar aspects (Snyder eq. 24-23/24-24 north, 24-25 south):
      // rho = a*sqrt(qp -/+ q). q is re-evaluated with the sign folded out
      // (q(-s) = -q(s) analytically, but not in floating point: the two log
      // arguments are reciprocals, and sqrt amplifies that last-ulp residue
      // to ~0.2 m at the pole itself); max(0,.) absorbs the remaining
      // half-ulp when the projected point IS the center pole
      val north = lat0Deg > 0
      val sphi = math.sin(math.toRadians(latDeg))
      val qa = authalicQ(ell, math.abs(sphi))
      val qs = if (sphi < 0) -qa else qa
      val rho = ell.a * math.sqrt(math.max(0.0, if (north) qp - qs else qp + qs))
      val lam = math.toRadians(lonDeg - lon0Deg)
      val x = fe + rho * math.sin(lam)
      val y = if (north) fn - rho * math.cos(lam) else fn + rho * math.cos(lam)
      return (x, y)
    }
    val q0 = authalicQ(ell, math.sin(math.toRadians(lat0Deg)))
    val beta = math.asin(clamp1(q / qp))
    val beta0 = math.asin(clamp1(q0 / qp))
    val rq = ell.a * math.sqrt(qp / 2)
    val d = laeaD(ell, lat0Deg, beta0, rq)
    val lam = math.toRadians(lonDeg - lon0Deg)
    val denom = 1 + math.sin(beta0) * math.sin(beta) +
      math.cos(beta0) * math.cos(beta) * math.cos(lam)
    val b = rq * math.sqrt(2 / denom)
    val x = fe + b * d * math.cos(beta) * math.sin(lam)
    val y = fn + (b / d) * (math.cos(beta0) * math.sin(beta) -
      math.sin(beta0) * math.cos(beta) * math.cos(lam))
    (x, y)
  }

  /** LAEA inverse (oblique and polar aspects). */
  def laeaInverse(ell: Ellipsoid, x0: Double, y0: Double,
                  lat0Deg: Double, lon0Deg: Double,
                  fe: Double, fn: Double): (Double, Double) = {
    val qp = authalicQ(ell, 1.0)
    if (laeaIsPolar(lat0Deg)) {
      // Snyder eq. 24-31/20-18: sin(beta) = +-(1 - rho^2/(a^2 qp));
      // lambda = atan2(x, -y) north, atan2(x, y) south
      val north = lat0Deg > 0
      val x = x0 - fe; val y = y0 - fn
      val rho = math.hypot(x, y)
      if (rho < 1e-12) return (lon0Deg, lat0Deg)
      val s = 1 - rho * rho / (ell.a * ell.a * qp)
      val beta = math.asin(clamp1(if (north) s else -s))
      val lam = if (north) math.atan2(x, -y) else math.atan2(x, y)
      return (lon0Deg + math.toDegrees(lam),
        math.toDegrees(authalicToGeodetic(ell, beta, qp)))
    }
    val q0 = authalicQ(ell, math.sin(math.toRadians(lat0Deg)))
    val beta0 = math.asin(clamp1(q0 / qp))
    val rq = ell.a * math.sqrt(qp / 2)
    val d = laeaD(ell, lat0Deg, beta0, rq)
    // Snyder 24-28/24-29: undo D before the spherical-style inverse
    val x = (x0 - fe) / d; val y = (y0 - fn) * d
    val rho = math.hypot(x, y)
    if (rho < 1e-12) return (lon0Deg, lat0Deg)
    val ce = 2 * math.asin(clamp1(rho / (2 * rq)))
    val beta = math.asin(clamp1(math.cos(ce) * math.sin(beta0) +
      y * math.sin(ce) * math.cos(beta0) / rho))
    val lam = math.atan2(x * math.sin(ce),
      rho * math.cos(beta0) * math.cos(ce) - y * math.sin(beta0) * math.sin(ce))
    (lon0Deg + math.toDegrees(lam),
      math.toDegrees(authalicToGeodetic(ell, beta, qp)))
  }

  /** Authalic -> geodetic latitude: series start, then Newton on q(sin phi)
   *  (the O(e^6) series alone leaves ~1e-9 deg; two Newton steps reach ulp).
   *  Shared by the oblique and polar LAEA inverses. */
  private def authalicToGeodetic(ell: Ellipsoid, beta: Double, qp: Double): Double = {
    val e2 = ell.e2; val e4 = e2 * e2; val e6 = e4 * e2
    var phi = beta +
      (e2 / 3 + 31 * e4 / 180 + 517 * e6 / 5040) * math.sin(2 * beta) +
      (23 * e4 / 360 + 251 * e6 / 3780) * math.sin(4 * beta) +
      (761 * e6 / 45360) * math.sin(6 * beta)
    val qTarget = qp * math.sin(beta)
    var it = 0
    while (it < 3) {
      val sphi = math.sin(phi)
      val denom = 1 - e2 * sphi * sphi
      val dq = 2 * (1 - e2) * math.cos(phi) / (denom * denom)
      if (math.abs(dq) > 1e-16) phi += (qTarget - authalicQ(ell, sphi)) / dq
      it += 1
    }
    phi
  }

  @inline private def clamp1(x: Double): Double = math.max(-1.0, math.min(1.0, x))

  /** PROJ's adjlon on a degree value: wrap into [-180, 180]. Exact identity
   *  for already-wrapped inputs (no fp perturbation), one step otherwise —
   *  enough for geographic inputs where |Δλ| ≤ 360. Applied where a kernel
   *  is LINEAR in Δλ (cylindrical x = c·Δλ, conic θ = n·Δλ): without it a
   *  Δλ of -220° maps a world-width away from PROJ's +140°. The azimuthal
   *  kernels consume Δλ only through sin/cos and need no wrap. */
  @inline def wrapLonDeg(d: Double): Double =
    if (d > 180.0) d - 360.0 else if (d < -180.0) d + 360.0 else d

  // ------ Lambert Cylindrical Equal Area (Snyder §10; EPSG method 9835) ------

  /** CEA forward: x = a·k0·Δλ, y = a·q(φ)/(2·k0), where k0 = m(φ1) is the
   *  standard parallel's meridian scale (EASE-Grid 2.0 global EPSG:6933 has
   *  φ1 = 30). Equal-area by construction: the Jacobian is the constant
   *  a²·k0·(1/2k0)·dq, independent of φ and λ. Spherical limit (q = 2 sin φ,
   *  k0 = cos φ1) is Snyder 10-1/10-2. */
  def ceaForward(ell: Ellipsoid, lonDeg: Double, latDeg: Double,
                 lon0Deg: Double, k0: Double,
                 fe: Double, fn: Double): (Double, Double) =
    (fe + ell.a * k0 * math.toRadians(wrapLonDeg(lonDeg - lon0Deg)),
      fn + ell.a * authalicQ(ell, math.sin(math.toRadians(latDeg))) / (2 * k0))

  /** CEA inverse via the authalic latitude (same series + Newton the LAEA
   *  inverse uses). */
  def ceaInverse(ell: Ellipsoid, x: Double, y: Double,
                 lon0Deg: Double, k0: Double,
                 fe: Double, fn: Double): (Double, Double) = {
    val qp = authalicQ(ell, 1.0)
    val r = clamp1(2 * k0 * (y - fn) / (ell.a * qp))
    val lon = wrapLonDeg(lon0Deg + math.toDegrees((x - fe) / (ell.a * k0)))
    // asin is ill-conditioned at |r| -> 1 and the Newton step degenerates
    // (dq -> 0), so the poles are answered exactly rather than refined; the
    // window (~1 m of latitude) is the map's own singular zone — meridians
    // have collapsed there and no cylindrical inverse can resolve finer
    if (1.0 - math.abs(r) < 1e-14) return (lon, if (r >= 0) 90.0 else -90.0)
    val beta = math.asin(r)
    (lon, math.toDegrees(authalicToGeodetic(ell, beta, qp)))
  }

  // ------ Equidistant Cylindrical (Snyder §12; EPSG method 1028) ------

  /** Meridional arc M(φ), Snyder eq. 3-21 (O(e⁶); the e⁸ tail is < 5e-5 m
   *  on WGS84). Deliberately this series — not the Krüger rectifying
   *  northing — so the oracle SQL can mirror it term-for-term; ProjSpec
   *  cross-checks it against the independent Krüger machinery to < 1 mm. */
  def meridionalArc(ell: Ellipsoid, latDeg: Double): Double = {
    val e2 = ell.e2; val e4 = e2 * e2; val e6 = e4 * e2
    val phi = math.toRadians(latDeg)
    ell.a * ((1 - e2 / 4 - 3 * e4 / 64 - 5 * e6 / 256) * phi
      - (3 * e2 / 8 + 3 * e4 / 32 + 45 * e6 / 1024) * math.sin(2 * phi)
      + (15 * e4 / 256 + 45 * e6 / 1024) * math.sin(4 * phi)
      - (35 * e6 / 3072) * math.sin(6 * phi))
  }

  /** EQC forward (EPSG 1028 — WGS 84 / World Equidistant Cylindrical
   *  EPSG:4087): x = ν1·cos φ1·Δλ = a·m(φ1)·Δλ, y = M(φ). `k0` carries
   *  m(φ1); the method has no scale factor of its own. */
  def eqcForward(ell: Ellipsoid, lonDeg: Double, latDeg: Double,
                 lon0Deg: Double, k0: Double,
                 fe: Double, fn: Double): (Double, Double) =
    (fe + ell.a * k0 * math.toRadians(wrapLonDeg(lonDeg - lon0Deg)),
      fn + meridionalArc(ell, latDeg))

  /** EQC inverse: rectifying-latitude series (Snyder eq. 3-26) seeds two
   *  Newton steps on M(φ) (dM/dφ = a(1−e²)/(1−e² sin²φ)^{3/2}) to reach
   *  sub-ulp round trips. */
  def eqcInverse(ell: Ellipsoid, x: Double, y: Double,
                 lon0Deg: Double, k0: Double,
                 fe: Double, fn: Double): (Double, Double) = {
    val e2 = ell.e2
    val m0 = ell.a * (1 - e2 / 4 - 3 * e2 * e2 / 64 - 5 * e2 * e2 * e2 / 256)
    val mu = (y - fn) / m0
    val se = math.sqrt(1 - e2)
    val e1 = (1 - se) / (1 + se)
    val e12 = e1 * e1; val e13 = e12 * e1; val e14 = e12 * e12
    var phi = mu + (3 * e1 / 2 - 27 * e13 / 32) * math.sin(2 * mu) +
      (21 * e12 / 16 - 55 * e14 / 32) * math.sin(4 * mu) +
      (151 * e13 / 96) * math.sin(6 * mu) +
      (1097 * e14 / 512) * math.sin(8 * mu)
    var it = 0
    while (it < 2) {
      val sphi = math.sin(phi); val den = 1 - e2 * sphi * sphi
      val dM = ell.a * (1 - e2) / (den * math.sqrt(den))
      phi += ((y - fn) - meridionalArc(ell, math.toDegrees(phi))) / dM
      it += 1
    }
    (wrapLonDeg(lon0Deg + math.toDegrees((x - fe) / (ell.a * k0))),
      math.toDegrees(phi))
  }

  /** EASE-Grid 2.0's x-scale: m(30°) on WGS84 (full map width is then
   *  2·a·k0·π = 34,735,060.89 m — NSIDC's published extent). */
  final lazy val Ease2K0: Double = mFactor(Wgs84, math.toRadians(30.0))

  // ------ Hotine Oblique Mercator (EPSG 9812/9815; +proj=omerc) ------
  //
  // GN 7-2's Hotine construction: an aposphere ("sphere of constant total
  // curvature") carries a Mercator-like conformal grid along an initial
  // line through the projection centre (φc, λc) at azimuth αc, then the
  // skew (u, v) grid rotates by γc into the rectified eastings/northings.
  // Variant B (9815, the modern form — RSO Borneo EPSG:29873, Alaska zone 1)
  // anchors the false origin at the projection centre via the uc offset;
  // variant A (9812, PROJ's +no_uoff) at the aposphere's natural origin.

  private final case class OmercConsts(bb: Double, aa: Double, h: Double,
                                       gamma0: Double, lam0: Double,
                                       uc: Double, sinGc: Double, cosGc: Double)

  // the constants depend only on the CRS (one cached Spec per string), not
  // the point — ~15 transcendental ops that must not be paid per row.
  // Bounded like ProjString's parse cache; a (rare) overflow just recomputes.
  private val omercCache =
    new java.util.concurrent.ConcurrentHashMap[(Double, Double, Double, Double, Double, Double, Double), OmercConsts]()

  private def omercConsts(ell: Ellipsoid, latcDeg: Double, loncDeg: Double,
                          alphacDeg: Double, gammacDeg: Double,
                          kc: Double): OmercConsts = {
    val key = (ell.a, ell.f, latcDeg, loncDeg, alphacDeg, gammacDeg, kc)
    val hit = omercCache.get(key)
    if (hit != null) return hit
    val c = omercConstsCompute(ell, latcDeg, loncDeg, alphacDeg, gammacDeg, kc)
    if (omercCache.size < 256) omercCache.putIfAbsent(key, c)
    c
  }

  private def omercConstsCompute(ell: Ellipsoid, latcDeg: Double, loncDeg: Double,
                                 alphacDeg: Double, gammacDeg: Double,
                                 kc: Double): OmercConsts = {
    val e2 = ell.e2
    val phic = math.toRadians(latcDeg)
    val alphac = math.toRadians(alphacDeg)
    val cphi = math.cos(phic); val sphi = math.sin(phic)
    val bb = math.sqrt(1 + e2 * cphi * cphi * cphi * cphi / (1 - e2))
    val aa = ell.a * bb * kc * math.sqrt(1 - e2) / (1 - e2 * sphi * sphi)
    val t0 = conformalT(ell, phic)
    val d = bb * math.sqrt(1 - e2) / (cphi * math.sqrt(1 - e2 * sphi * sphi))
    val d2 = math.max(d * d, 1.0)
    val sgn = if (phic >= 0) 1.0 else -1.0
    val f = d + math.sqrt(d2 - 1) * sgn
    val h = f * math.pow(t0, bb)
    val g = (f - 1 / f) / 2
    // clamp for the same fp hazard d2 guards one line up: for near-zero
    // lat_0 with alpha ~ 90, d rounds just below 1 and the ratio above it
    val gamma0 = math.asin(clamp1(math.sin(alphac) / d))
    val lam0 = math.toRadians(loncDeg) - math.asin(g * math.tan(gamma0)) / bb
    val uc = (aa / bb) * math.atan2(math.sqrt(d2 - 1), math.cos(alphac)) * sgn
    val gc = math.toRadians(gammacDeg)
    OmercConsts(bb, aa, h, gamma0, lam0, uc, math.sin(gc), math.cos(gc))
  }

  /** Hotine Oblique Mercator forward (GN 7-2; `variantA` = EPSG 9812 /
   *  PROJ's +no_uoff, otherwise 9815). Pinned to the guidance note's
   *  Timbalai 1948 / RSO Borneo worked example in ProjSpec (<1 cm). */
  def omercForward(ell: Ellipsoid, lonDeg: Double, latDeg: Double,
                   latcDeg: Double, loncDeg: Double,
                   alphacDeg: Double, gammacDeg: Double, kc: Double,
                   fe: Double, fn: Double,
                   variantA: Boolean): (Double, Double) = {
    val c = omercConsts(ell, latcDeg, loncDeg, alphacDeg, gammacDeg, kc)
    val t = conformalT(ell, math.toRadians(latDeg))
    val q = c.h / math.pow(t, c.bb)
    val bigS = (q - 1 / q) / 2; val bigT = (q + 1 / q) / 2
    val dlam = math.toRadians(wrapLonDeg(lonDeg - math.toDegrees(c.lam0)))
    val v0 = math.sin(c.bb * dlam)
    val u0 = (-v0 * math.cos(c.gamma0) + bigS * math.sin(c.gamma0)) / bigT
    val v = c.aa * math.log((1 - u0) / (1 + u0)) / (2 * c.bb)
    val uRaw = c.aa * math.atan2(bigS * math.cos(c.gamma0) + v0 * math.sin(c.gamma0),
      math.cos(c.bb * dlam)) / c.bb
    val u = if (variantA) uRaw else uRaw - c.uc
    (fe + v * c.cosGc + u * c.sinGc, fn + u * c.cosGc - v * c.sinGc)
  }

  /** Hotine Oblique Mercator inverse (GN 7-2 reverse formulas + the shared
   *  conformal-latitude inverse). */
  def omercInverse(ell: Ellipsoid, x: Double, y: Double,
                   latcDeg: Double, loncDeg: Double,
                   alphacDeg: Double, gammacDeg: Double, kc: Double,
                   fe: Double, fn: Double,
                   variantA: Boolean): (Double, Double) = {
    val c = omercConsts(ell, latcDeg, loncDeg, alphacDeg, gammacDeg, kc)
    val vp = (x - fe) * c.cosGc - (y - fn) * c.sinGc
    val up = (y - fn) * c.cosGc + (x - fe) * c.sinGc + (if (variantA) 0.0 else c.uc)
    val qp = math.exp(-c.bb * vp / c.aa)
    val sp = (qp - 1 / qp) / 2; val tp = (qp + 1 / qp) / 2
    val vv = math.sin(c.bb * up / c.aa)
    val uu = (vv * math.cos(c.gamma0) + sp * math.sin(c.gamma0)) / tp
    val t = math.pow(c.h / math.sqrt((1 + uu) / (1 - uu)), 1 / c.bb)
    val lam = c.lam0 - math.atan2(sp * math.cos(c.gamma0) - vv * math.sin(c.gamma0),
      math.cos(c.bb * up / c.aa)) / c.bb
    (wrapLonDeg(math.toDegrees(lam)),
      math.toDegrees(geodeticFromT(ell, t)))
  }

  // ------ Krovak (EPSG 9819; +proj=krovak — S-JTSK EPSG:5513/5514) ------
  //
  // GN 7-2's Krovak chain: Gauss conformal sphere at the projection centre,
  // rotation to the oblique pole at azimuth αC, then a conformal conic
  // tangent at the pseudo standard parallel φP = 78.5° (fixed by the
  // method). Axes: EPSG:5513 runs X south / Y west (positive); EPSG:5514
  // (the modern east/north form) negates both.

  private final case class KrovakConsts(bb: Double, t0: Double, n: Double,
                                        r0: Double, sinAc: Double, cosAc: Double,
                                        lam0Deg: Double, tpn: Double)

  private val krovakCache =
    new java.util.concurrent.ConcurrentHashMap[(Double, Double, Double, Double, Double, Double), KrovakConsts]()

  private final val KrovakPhiP = math.toRadians(78.5)

  /** S-JTSK defaults (GN 7-2 / PROJ): λ0 = 42°30' east of Ferro = 24°50' E
   *  Greenwich; αC = 30°17'17.3031". */
  final val KrovakLon0: Double = 24 + 50 / 60.0
  final val KrovakAlpha: Double = 30 + 17 / 60.0 + 17.3031 / 3600.0

  private def krovakConsts(ell: Ellipsoid, latcDeg: Double, lon0Deg: Double,
                           alphacDeg: Double, kp: Double): KrovakConsts = {
    val key = (ell.a, ell.f, latcDeg, lon0Deg, alphacDeg, kp)
    val hit = krovakCache.get(key)
    if (hit != null) return hit
    val e = ell.e; val e2 = ell.e2
    val phic = math.toRadians(latcDeg)
    val sphi = math.sin(phic)
    val aG = ell.a * math.sqrt(1 - e2) / (1 - e2 * sphi * sphi)
    val bb = math.sqrt(1 + e2 * math.pow(math.cos(phic), 4) / (1 - e2))
    val g0 = math.asin(clamp1(sphi / bb))
    val t0 = math.tan(math.Pi / 4 + g0 / 2) *
      math.pow((1 + e * sphi) / (1 - e * sphi), e * bb / 2) /
      math.pow(math.tan(math.Pi / 4 + phic / 2), bb)
    val n = math.sin(KrovakPhiP)
    val r0 = kp * aG / math.tan(KrovakPhiP)
    val ac = math.toRadians(alphacDeg)
    val c = KrovakConsts(bb, t0, n, r0, math.sin(ac), math.cos(ac), lon0Deg,
      math.pow(math.tan(math.Pi / 4 + KrovakPhiP / 2), n))
    if (krovakCache.size < 256) krovakCache.putIfAbsent(key, c)
    c
  }

  /** Krovak forward (GN 7-2). Axes follow PROJ's krovak exactly: the
   *  default returns (−westing, −southing) — the EPSG:5514 Krovak East
   *  North tuple — and `czech` drops the negation, returning
   *  (westing, southing) like PROJ's +czech (note: x is the WESTING there,
   *  not GN 7-2's X-first southing print order). Pinned to the guidance
   *  note's S-JTSK worked example in ProjSpec. */
  def krovakForward(ell: Ellipsoid, lonDeg: Double, latDeg: Double,
                    latcDeg: Double, lon0Deg: Double,
                    alphacDeg: Double, kp: Double,
                    fe: Double, fn: Double, czech: Boolean): (Double, Double) = {
    val c = krovakConsts(ell, latcDeg, lon0Deg, alphacDeg, kp)
    val e = ell.e
    val phi = math.toRadians(latDeg)
    val sphi = math.sin(phi)
    val u = 2 * (math.atan(c.t0 * math.pow(math.tan(phi / 2 + math.Pi / 4), c.bb) /
      math.pow((1 + e * sphi) / (1 - e * sphi), e * c.bb / 2)) - math.Pi / 4)
    val v = c.bb * math.toRadians(wrapLonDeg(c.lam0Deg - lonDeg))
    val t = math.asin(clamp1(c.cosAc * math.sin(u) +
      c.sinAc * math.cos(u) * math.cos(v)))
    val d = math.asin(clamp1(math.cos(u) * math.sin(v) / math.cos(t)))
    val th = c.n * d
    val r = c.r0 * c.tpn / math.pow(math.tan(t / 2 + math.Pi / 4), c.n)
    val xs = r * math.cos(th); val yw = r * math.sin(th)
    if (czech) (fe + yw, fn + xs) else (fe - yw, fn - xs)
  }

  /** Krovak inverse (GN 7-2 reverse formulas; the latitude fixed point
   *  converges in a handful of steps like the other conformal inverses). */
  def krovakInverse(ell: Ellipsoid, x: Double, y: Double,
                    latcDeg: Double, lon0Deg: Double,
                    alphacDeg: Double, kp: Double,
                    fe: Double, fn: Double, czech: Boolean): (Double, Double) = {
    val c = krovakConsts(ell, latcDeg, lon0Deg, alphacDeg, kp)
    val e = ell.e
    val xs = if (czech) y - fn else fn - y
    val yw = if (czech) x - fe else fe - x
    val r = math.hypot(xs, yw)
    val th = math.atan2(yw, xs)
    val d = th / c.n
    val t = 2 * (math.atan(math.pow(c.r0 / r, 1 / c.n) *
      math.tan(math.Pi / 4 + KrovakPhiP / 2)) - math.Pi / 4)
    val u = math.asin(clamp1(c.cosAc * math.sin(t) -
      c.sinAc * math.cos(t) * math.cos(d)))
    val v = math.asin(clamp1(math.cos(t) * math.sin(d) / math.cos(u)))
    val tanU = math.pow(c.t0, -1 / c.bb) *
      math.pow(math.tan(u / 2 + math.Pi / 4), 1 / c.bb)
    var phi = u
    var it = 0
    while (it < 8) {
      val s = e * math.sin(phi)
      phi = 2 * (math.atan(tanU * math.pow((1 + s) / (1 - s), e / 2)) - math.Pi / 4)
      it += 1
    }
    (wrapLonDeg(c.lam0Deg - math.toDegrees(v / c.bb)), math.toDegrees(phi))
  }

  // ------ Mollweide (Snyder §31; +proj=moll, ESRI:54009 World Mollweide) ------

  /** Mollweide's auxiliary angle θ: 2θ + sin 2θ = π·sin φ, by Newton from
   *  θ0 = φ (quadratic convergence; ~5 steps anywhere off the poles, where
   *  θ is answered exactly). PROJ's moll is the spherical formulation — an
   *  ellipsoidal CRS contributes only its semi-major axis as R, mirrored
   *  here. */
  private def mollTheta(phiRad: Double): Double = {
    val target = math.Pi * math.sin(phiRad)
    if (math.abs(phiRad) >= math.toRadians(90.0) - 1e-12)
      return if (phiRad >= 0) math.Pi / 2 else -math.Pi / 2
    // Newton from θ0 = φ overshoots near the poles (f' = 2 + 2cos 2θ → 0 at
    // the solution, so the first step is ~π/8 regardless of how close φ is,
    // and recovery is only linear). The expansion at the pole — with
    // δ = π/2−θ, ε = π/2−|φ|: 2θ + sin 2θ = π − (4/3)δ³ and the target is
    // π(1−ε²/2), so δ* = (3πε²/8)^⅓ — seeds the polar cap instead.
    val eps = math.Pi / 2 - math.abs(phiRad)
    var th =
      if (eps < 0.1) {
        val d0 = math.cbrt(3 * math.Pi * eps * eps / 8)
        (math.Pi / 2 - d0) * math.signum(phiRad)
      } else phiRad
    var it = 0
    while (it < 50) {
      val d = (2 * th + math.sin(2 * th) - target) / (2 + 2 * math.cos(2 * th))
      th -= d
      if (math.abs(d) < 1e-15) it = 50
      it += 1
    }
    th
  }

  /** Mollweide forward (Snyder eq. 31-1/31-2): x = (2√2/π)·R·Δλ·cos θ,
   *  y = √2·R·sin θ. The full map is the ellipse with semi-axes 2√2·R and
   *  √2·R whose area π·(2√2R)(√2R) = 4πR² is the sphere's — equal-area by
   *  construction. */
  def mollForward(ell: Ellipsoid, lonDeg: Double, latDeg: Double,
                  lon0Deg: Double, fe: Double, fn: Double): (Double, Double) = {
    val th = mollTheta(math.toRadians(latDeg))
    val r = ell.a
    (fe + (2 * math.sqrt(2.0) / math.Pi) * r *
      math.toRadians(wrapLonDeg(lonDeg - lon0Deg)) * math.cos(th),
      fn + math.sqrt(2.0) * r * math.sin(th))
  }

  /** Mollweide inverse (Snyder eq. 31-6..31-8); the poles answer lon0 (the
   *  map's singular points, like the sinusoidal). */
  def mollInverse(ell: Ellipsoid, x: Double, y: Double,
                  lon0Deg: Double, fe: Double, fn: Double): (Double, Double) = {
    val r = ell.a
    val th = math.asin(clamp1((y - fn) / (math.sqrt(2.0) * r)))
    val lat = math.toDegrees(math.asin(clamp1((2 * th + math.sin(2 * th)) / math.Pi)))
    val c = math.cos(th)
    if (c < 1e-12) (lon0Deg, lat)
    else (wrapLonDeg(lon0Deg + math.toDegrees(
      math.Pi * (x - fe) / (2 * math.sqrt(2.0) * r * c))), lat)
  }

  // ------ Sinusoidal (Snyder §30; the MODIS Land grid projection) ------

  /** Sinusoidal forward: x = a·m(φ)·Δλ (parallels true to scale),
   *  y = M(φ) (meridian distances true). Equal-area and pseudocylindrical;
   *  the spherical limit (m = cos φ, M = R·φ) is Snyder 30-1/30-2 — the
   *  MODIS Land tiles use exactly that on the R = 6,371,007.181 m authalic
   *  sphere (10° of equatorial arc = the published 1,111,950.52 m tile). */
  def sinuForward(ell: Ellipsoid, lonDeg: Double, latDeg: Double,
                  lon0Deg: Double, fe: Double, fn: Double): (Double, Double) = {
    val phi = math.toRadians(latDeg)
    (fe + ell.a * mFactor(ell, phi) * math.toRadians(wrapLonDeg(lonDeg - lon0Deg)),
      fn + meridionalArc(ell, latDeg))
  }

  /** Sinusoidal inverse: φ from the meridional arc (same series + Newton
   *  as EQC), then λ from the parallel's scale. At the poles every λ maps
   *  to the same point — λ0 is answered (the map's singular zone). */
  def sinuInverse(ell: Ellipsoid, x: Double, y: Double,
                  lon0Deg: Double, fe: Double, fn: Double): (Double, Double) = {
    val (_, lat) = eqcInverse(ell, 0.0, y, 0.0, 1.0, 0.0, fn)
    val m = mFactor(ell, math.toRadians(lat))
    if (m < 1e-12) (lon0Deg, lat)
    else (wrapLonDeg(lon0Deg + math.toDegrees((x - fe) / (ell.a * m))), lat)
  }

  // ---------------- UTM zones ----------------

  final val UtmK0 = 0.9996

  /** UTM zone (1..60) containing a longitude. Longitude is first wrapped into
   *  [-180, 180), so lon=180 lands in zone 1 (its wrapped value is -180) —
   *  the same convention the oracle SQL mirrors. */
  def utmZone(lonDeg: Double): Int = {
    var lon = lonDeg % 360.0
    if (lon >= 180.0) lon -= 360.0 else if (lon < -180.0) lon += 360.0
    math.min(60, math.max(1, (math.floor((lon + 180.0) / 6.0) + 1).toInt))
  }

  // ---------------- Polar Stereographic (Snyder §21; EPSG 9810/9829) --------

  /** Snyder t (eq. 15-9): the conformal-latitude exponential,
   *  t = tan(π/4 − φ/2)·[(1 + e·sinφ)/(1 − e·sinφ)]^(e/2). t(90°)=0, t(0)=1. */
  def conformalT(ell: Ellipsoid, phi: Double): Double = {
    val s = ell.e * math.sin(phi)
    math.tan(math.Pi / 4 - phi / 2) * math.pow((1 + s) / (1 - s), ell.e / 2)
  }

  /** Snyder m (eq. 14-15): cosφ/√(1 − e²sin²φ) — the parallel-radius factor. */
  @inline def mFactor(ell: Ellipsoid, phi: Double): Double = {
    val s = math.sin(phi)
    math.cos(phi) / math.sqrt(1 - ell.e2 * s * s)
  }

  /** Snyder's polar constant √((1+e)^(1+e)·(1−e)^(1−e)) (in eq. 21-33). */
  @inline private def stereC(ell: Ellipsoid): Double =
    math.sqrt(math.pow(1 + ell.e, 1 + ell.e) * math.pow(1 - ell.e, 1 - ell.e))

  /**
   * Variant-B (standard parallel `lat_ts`, EPSG 9829 — the EPSG:3413/3031
   * form) reduced to variant A's pole scale: ρ = a·m_F·t/t_F ≡ 2·a·k₀·t/C
   * with k₀ = m_F·C/(2·t_F) (eq. 21-34 vs 21-33; PROJ does the same
   * reduction internally). lat_ts = ±90 means the pole itself, k₀ = 1.
   */
  def stereK0FromTs(ell: Ellipsoid, latTsDeg: Double): Double = {
    val phiF = math.toRadians(math.abs(latTsDeg))
    if (phiF > math.toRadians(90.0) - 1e-12) 1.0
    else mFactor(ell, phiF) * stereC(ell) / (2 * conformalT(ell, phiF))
  }

  /** True when lat0 denotes a polar aspect (same tolerance as LAEA). */
  @inline def stereIsPolar(lat0Deg: Double): Boolean = laeaIsPolar(lat0Deg)

  /** Polar Stereographic forward (Snyder eq. 21-33/21-30/21-31; south via
   *  the (−φ, −λ, −x, −y) mirror, eq. 21-32 remarks). lat0 = ±90 only. */
  def stereForward(ell: Ellipsoid, lonDeg: Double, latDeg: Double,
                   lat0Deg: Double, lon0Deg: Double, k0: Double,
                   fe: Double, fn: Double): (Double, Double) = {
    val north = lat0Deg > 0
    val phi = math.toRadians(if (north) latDeg else -latDeg)
    val lam = math.toRadians(if (north) lonDeg - lon0Deg else -(lonDeg - lon0Deg))
    val rho = 2 * ell.a * k0 * conformalT(ell, phi) / stereC(ell)
    val x = rho * math.sin(lam)
    val y = -rho * math.cos(lam)
    if (north) (fe + x, fn + y) else (fe - x, fn - y)
  }

  /** Polar Stereographic inverse (Snyder eq. 21-39, then conformal →
   *  geodetic latitude: series 3-5 + fixed-point 7-9 polish to ulp). */
  def stereInverse(ell: Ellipsoid, x0: Double, y0: Double,
                   lat0Deg: Double, lon0Deg: Double, k0: Double,
                   fe: Double, fn: Double): (Double, Double) = {
    val north = lat0Deg > 0
    var x = x0 - fe
    var y = y0 - fn
    if (!north) { x = -x; y = -y }
    val rho = math.hypot(x, y)
    if (rho < 1e-12) return (lon0Deg, lat0Deg)
    val t = rho * stereC(ell) / (2 * ell.a * k0)
    val phi = geodeticFromT(ell, t)
    val lam = math.atan2(x, -y)
    // lon0 +- lam can leave (-180, 180] (Snyder's own example: -100 - 110 =
    // -210 for a point at 150E) — normalize like PROJ does
    def wrap(d: Double): Double = {
      val w = ((d + 180.0) % 360.0 + 360.0) % 360.0 - 180.0
      if (w == -180.0 && d > 0) 180.0 else w
    }
    if (north) (wrap(lon0Deg + math.toDegrees(lam)), math.toDegrees(phi))
    else (wrap(lon0Deg - math.toDegrees(lam)), -math.toDegrees(phi))
  }

  /** Invert Snyder's t (eq. 15-9) -> geodetic latitude in radians:
   *  O(e^8) trig series from the conformal latitude (Snyder eq. 3-5), then
   *  two Snyder 7-9 fixed-point steps (contraction ~e², so the series'
   *  ~1e-10 residual drops below a ulp). Shared by the polar-stereographic
   *  and Lambert-conformal inverses. */
  def geodeticFromT(ell: Ellipsoid, t: Double): Double = {
    val chi = math.Pi / 2 - 2 * math.atan(t)
    val e2 = ell.e2; val e4 = e2 * e2; val e6 = e4 * e2; val e8 = e6 * e2
    var phi = chi +
      (e2 / 2 + 5 * e4 / 24 + e6 / 12 + 13 * e8 / 360) * math.sin(2 * chi) +
      (7 * e4 / 48 + 29 * e6 / 240 + 811 * e8 / 11520) * math.sin(4 * chi) +
      (7 * e6 / 120 + 81 * e8 / 1120) * math.sin(6 * chi) +
      (4279 * e8 / 161280) * math.sin(8 * chi)
    var it = 0
    while (it < 2) {
      val s = ell.e * math.sin(phi)
      phi = math.Pi / 2 - 2 * math.atan(t * math.pow((1 - s) / (1 + s), ell.e / 2))
      it += 1
    }
    phi
  }

  // ------ Lambert Conformal Conic, 2SP (Snyder §15; EPSG method 9802) ------

  /** LCC 2SP forward (Snyder eq. 15-1..15-10): standard parallels lat1/lat2,
   *  false origin (lat0, lon0), eastings/northings fe/fn.
   *
   *  `k0` is the EPSG 9801 (1SP) scale factor at natural origin: with
   *  lat1 = lat2 = lat0 the cone constant degenerates to n = sin(lat0) and
   *  GN 7-2's r = a·F·tⁿ·k0 is exactly the 2SP radius scaled by k0 — so the
   *  1SP method is this function with equal parallels and k0 ≠ 1. The 2SP
   *  method itself has no scale factor (k0 = 1); PROJ's `+proj=lcc` applies
   *  `+k_0` uniformly and this mirrors that. */
  def lccForward(ell: Ellipsoid, lonDeg: Double, latDeg: Double,
                 lat0Deg: Double, lon0Deg: Double,
                 lat1Deg: Double, lat2Deg: Double,
                 fe: Double, fn: Double, k0: Double = 1.0): (Double, Double) = {
    val p1 = math.toRadians(lat1Deg); val p2 = math.toRadians(lat2Deg)
    val m1 = mFactor(ell, p1); val t1 = conformalT(ell, p1)
    val n =
      if (math.abs(lat1Deg - lat2Deg) < 1e-12) math.sin(p1) // 1SP limit
      else (math.log(m1) - math.log(mFactor(ell, p2))) /
        (math.log(t1) - math.log(conformalT(ell, p2)))
    val f = m1 / (n * math.pow(t1, n))
    val ak = ell.a * k0
    val rho0 = ak * f * math.pow(conformalT(ell, math.toRadians(lat0Deg)), n)
    val rho = ak * f * math.pow(conformalT(ell, math.toRadians(latDeg)), n)
    val th = n * math.toRadians(wrapLonDeg(lonDeg - lon0Deg))
    (fe + rho * math.sin(th), fn + rho0 - rho * math.cos(th))
  }

  /** LCC 2SP inverse (Snyder eq. 15-11/14-11: rho' = sign(n)·hypot, then the
   *  shared t-inverse). `k0` as in [[lccForward]]. */
  def lccInverse(ell: Ellipsoid, x0: Double, y0: Double,
                 lat0Deg: Double, lon0Deg: Double,
                 lat1Deg: Double, lat2Deg: Double,
                 fe: Double, fn: Double, k0: Double = 1.0): (Double, Double) = {
    val p1 = math.toRadians(lat1Deg); val p2 = math.toRadians(lat2Deg)
    val m1 = mFactor(ell, p1); val t1 = conformalT(ell, p1)
    val n =
      if (math.abs(lat1Deg - lat2Deg) < 1e-12) math.sin(p1)
      else (math.log(m1) - math.log(mFactor(ell, p2))) /
        (math.log(t1) - math.log(conformalT(ell, p2)))
    val f = m1 / (n * math.pow(t1, n))
    val ak = ell.a * k0
    val rho0 = ak * f * math.pow(conformalT(ell, math.toRadians(lat0Deg)), n)
    val x = x0 - fe; val y = rho0 - (y0 - fn)
    val sgn = if (n >= 0) 1.0 else -1.0
    val rho = sgn * math.hypot(x, y)
    if (math.abs(rho) < 1e-12) {
      // the cone apex: latitude is the pole of the cone's hemisphere
      return (lon0Deg, if (n >= 0) 90.0 else -90.0)
    }
    val th = math.atan2(sgn * x, sgn * y)
    val t = math.pow(rho / (ak * f), 1.0 / n)
    (wrapLonDeg(lon0Deg + math.toDegrees(th / n)),
      math.toDegrees(geodeticFromT(ell, t)))
  }

  // ------ Albers Equal Area conic (Snyder §14; EPSG method 9822) ------

  /** Albers cone constants (n, C, rho0) from the standard parallels and
   *  false origin — Snyder eq. 14-14/14-13/14-12a. */
  @inline private def albersCone(ell: Ellipsoid, lat0Deg: Double,
                                 lat1Deg: Double, lat2Deg: Double): (Double, Double, Double) = {
    val p1 = math.toRadians(lat1Deg); val p2 = math.toRadians(lat2Deg)
    val m1 = mFactor(ell, p1); val m2 = mFactor(ell, p2)
    val q1 = authalicQ(ell, math.sin(p1)); val q2 = authalicQ(ell, math.sin(p2))
    val n =
      if (math.abs(lat1Deg - lat2Deg) < 1e-12) math.sin(p1) // 1SP limit
      else (m1 * m1 - m2 * m2) / (q2 - q1)
    val c = m1 * m1 + n * q1
    val q0 = authalicQ(ell, math.sin(math.toRadians(lat0Deg)))
    val rho0 = ell.a * math.sqrt(c - n * q0) / n
    (n, c, rho0)
  }

  /** Albers Equal Area forward (Snyder eq. 14-12..14-15). */
  def albersForward(ell: Ellipsoid, lonDeg: Double, latDeg: Double,
                    lat0Deg: Double, lon0Deg: Double,
                    lat1Deg: Double, lat2Deg: Double,
                    fe: Double, fn: Double): (Double, Double) = {
    val (n, c, rho0) = albersCone(ell, lat0Deg, lat1Deg, lat2Deg)
    val q = authalicQ(ell, math.sin(math.toRadians(latDeg)))
    val rho = ell.a * math.sqrt(c - n * q) / n
    val th = n * math.toRadians(wrapLonDeg(lonDeg - lon0Deg))
    (fe + rho * math.sin(th), fn + rho0 - rho * math.cos(th))
  }

  /** Albers inverse (Snyder eq. 14-19..14-21 + the shared authalic-latitude
   *  inverse). */
  def albersInverse(ell: Ellipsoid, x0: Double, y0: Double,
                    lat0Deg: Double, lon0Deg: Double,
                    lat1Deg: Double, lat2Deg: Double,
                    fe: Double, fn: Double): (Double, Double) = {
    val (n, c, rho0) = albersCone(ell, lat0Deg, lat1Deg, lat2Deg)
    val x = x0 - fe; val y = rho0 - (y0 - fn)
    val sgn = if (n >= 0) 1.0 else -1.0
    val rho = sgn * math.hypot(x, y)
    val th = math.atan2(sgn * x, sgn * y)
    val q = (c - rho * rho * n * n / (ell.a * ell.a)) / n
    val qp = authalicQ(ell, 1.0)
    val beta = math.asin(clamp1(q / qp))
    (wrapLonDeg(lon0Deg + math.toDegrees(th / n)),
      math.toDegrees(authalicToGeodetic(ell, beta, qp)))
  }

  // ------ Oblique ("double") Stereographic (EPSG method 9809; +proj=sterea)
  //
  // The Gauss conformal-sphere construction from EPSG Guidance Note 7-2:
  // ellipsoid -> conformal sphere of radius R = sqrt(rho0*nu0) at the
  // origin, then spherical stereographic on that sphere. This is the RD New
  // (Amersfoort, EPSG:28992) method — distinct from the polar +proj=stere
  // family above AND from Snyder's single-projection oblique form.

  private final case class GaussSphere(R: Double, n: Double, c: Double,
                                       chi0: Double, lam0: Double)

  private def gaussSphere(ell: Ellipsoid, lat0Deg: Double, lon0Deg: Double): GaussSphere = {
    val e = ell.e; val e2 = ell.e2
    val phi0 = math.toRadians(lat0Deg)
    val s0 = math.sin(phi0)
    val rho0 = ell.a * (1 - e2) / math.pow(1 - e2 * s0 * s0, 1.5)
    val nu0 = ell.a / math.sqrt(1 - e2 * s0 * s0)
    val bigR = math.sqrt(rho0 * nu0)
    val n = math.sqrt(1 + e2 * math.pow(math.cos(phi0), 4) / (1 - e2))
    val s1 = (1 + s0) / (1 - s0)
    val s2 = (1 - e * s0) / (1 + e * s0)
    val w1 = math.pow(s1 * math.pow(s2, e), n)
    val sinChi00 = (w1 - 1) / (w1 + 1)
    val c = (n + s0) * (1 - sinChi00) / ((n - s0) * (1 + sinChi00))
    val w2 = c * w1
    val chi0 = math.asin((w2 - 1) / (w2 + 1))
    GaussSphere(bigR, n, c, chi0, math.toRadians(lon0Deg))
  }

  /** Oblique Stereographic forward (GN 7-2 formulas, method 9809). */
  def stereaForward(ell: Ellipsoid, lonDeg: Double, latDeg: Double,
                    lat0Deg: Double, lon0Deg: Double, k0: Double,
                    fe: Double, fn: Double): (Double, Double) = {
    val g = gaussSphere(ell, lat0Deg, lon0Deg)
    val phi = math.toRadians(latDeg)
    val s = math.sin(phi)
    val sa = (1 + s) / (1 - s)
    val sb = (1 - ell.e * s) / (1 + ell.e * s)
    val w = g.c * math.pow(sa * math.pow(sb, ell.e), g.n)
    val chi = math.asin((w - 1) / (w + 1))
    val dLam = g.n * (math.toRadians(lonDeg) - g.lam0)
    val b = 1 + math.sin(chi) * math.sin(g.chi0) +
      math.cos(chi) * math.cos(g.chi0) * math.cos(dLam)
    val x = fe + 2 * g.R * k0 * math.cos(chi) * math.sin(dLam) / b
    val y = fn + 2 * g.R * k0 * (math.sin(chi) * math.cos(g.chi0) -
      math.cos(chi) * math.sin(g.chi0) * math.cos(dLam)) / b
    (x, y)
  }

  /** Oblique Stereographic inverse (GN 7-2: sphere inverse, then the
   *  isometric-latitude fixed point back to the ellipsoid). */
  def stereaInverse(ell: Ellipsoid, x0: Double, y0: Double,
                    lat0Deg: Double, lon0Deg: Double, k0: Double,
                    fe: Double, fn: Double): (Double, Double) = {
    val gs = gaussSphere(ell, lat0Deg, lon0Deg)
    val x = x0 - fe; val y = y0 - fn
    val rk = 2 * gs.R * k0
    val g = rk * math.tan(math.Pi / 4 - gs.chi0 / 2)
    val h = 2 * rk * math.tan(gs.chi0) + g
    val i = math.atan2(x, h + y)
    val j = math.atan2(x, g - y) - i
    val chi = gs.chi0 + 2 * math.atan((y - x * math.tan(j / 2)) / rk)
    val dLam = j + 2 * i
    val lam = dLam / gs.n + gs.lam0
    // conformal-sphere latitude -> ellipsoid latitude via the isometric
    // latitude psi (GN 7-2's iteration; converges at ~e^2 per step)
    val psi = 0.5 * math.log((1 + math.sin(chi)) / (gs.c * (1 - math.sin(chi)))) / gs.n
    var phi = 2 * math.atan(math.exp(psi)) - math.Pi / 2
    var it = 0
    while (it < 6) {
      val s = ell.e * math.sin(phi)
      val psiI = math.log(math.tan(phi / 2 + math.Pi / 4) *
        math.pow((1 - s) / (1 + s), ell.e / 2))
      val dPhi = -(psiI - psi) * math.cos(phi) * (1 - s * s) / (1 - ell.e2)
      phi += dPhi
      if (math.abs(dPhi) < 1e-15) it = 6
      it += 1
    }
    (math.toDegrees(lam), math.toDegrees(phi))
  }

  /** Bessel 1841 — the RD New (EPSG:28992) ellipsoid. */
  val Bessel: Ellipsoid = Ellipsoid(6377397.155, 1.0 / 299.1528128)

  /** Airy 1830 — the OSGB36 / British National Grid ellipsoid. */
  val Airy: Ellipsoid = Ellipsoid(6377563.396, 1.0 / 299.3249646)

  // ============ geodetic <-> geocentric + Helmert datum shifts ============

  /** Geodetic lon/lat degrees (ellipsoidal height 0) -> geocentric Cartesian
   *  XYZ meters (EPSG method 9602's geographic/geocentric conversion — the
   *  `cart` step PROJ runs around every `+towgs84` shift; 2D transforms set
   *  h = 0 exactly as here). */
  def geodeticToXyz(ell: Ellipsoid, lonDeg: Double, latDeg: Double): (Double, Double, Double) = {
    val lam = math.toRadians(lonDeg); val phi = math.toRadians(latDeg)
    val s = math.sin(phi); val c = math.cos(phi)
    val nu = ell.a / math.sqrt(1 - ell.e2 * s * s) // prime-vertical radius
    (nu * c * math.cos(lam), nu * c * math.sin(lam), nu * (1 - ell.e2) * s)
  }

  /** Geocentric XYZ -> geodetic lon/lat degrees. The ellipsoidal height is
   *  discarded — the 2D-transform contract (PROJ drops h the same way when
   *  the caller hands in 2D coordinates). Bowring's closed-form estimate,
   *  then fixed-point refinement to double-precision convergence. */
  def xyzToGeodetic(ell: Ellipsoid, x: Double, y: Double, z: Double): (Double, Double) = {
    val p = math.hypot(x, y)
    if (p < 1e-9) return (0.0, if (z >= 0) 90.0 else -90.0)
    val b = ell.a * (1 - ell.f)
    val ep2 = ell.e2 / (1 - ell.e2)
    val th = math.atan2(z * ell.a, p * b)
    val st = math.sin(th); val ct = math.cos(th)
    var phi = math.atan2(z + ep2 * b * st * st * st,
      p - ell.e2 * ell.a * ct * ct * ct)
    var it = 0
    while (it < 8) { // phi = atan((z + e2 nu(phi) sin(phi)) / p)
      val s = math.sin(phi)
      val nu = ell.a / math.sqrt(1 - ell.e2 * s * s)
      val next = math.atan2(z + ell.e2 * nu * s, p)
      if (next == phi) it = 8 else phi = next
      it += 1
    }
    (math.toDegrees(math.atan2(y, x)), math.toDegrees(phi))
  }

  /**
   * 7-parameter Helmert transform in the position-vector rotation convention
   * (EPSG method 9606; with zero rotations/scale it degenerates to the
   * 3-parameter geocentric translation, method 9603). This is the convention
   * of PROJ's `+towgs84=tx,ty,tz,rx,ry,rz,ds` flag, which it models: the
   * parameters map LOCAL-datum geocentric coordinates TO WGS84. Fields are
   * SI — meters, RADIANS, and a unit scale offset (arc-seconds and ppm are
   * converted at parse time, ProjString.doParse).
   */
  final case class Helmert(tx: Double, ty: Double, tz: Double,
                           rx: Double, ry: Double, rz: Double, ds: Double) {
    /** local geocentric -> WGS84 (GN 7-2 position-vector matrix). */
    def forward(x: Double, y: Double, z: Double): (Double, Double, Double) = {
      val m = 1.0 + ds
      (tx + m * (x - rz * y + ry * z),
        ty + m * (rz * x + y - rx * z),
        tz + m * (-ry * x + rx * y + z))
    }

    /** WGS84 -> local: the EXACT inverse of the (small-angle) forward matrix
     *  R = I + skew(r), via adj(R)/det(R) with det = 1 + |r|² — so
     *  forward∘inverse roundtrips to machine precision. PROJ's transposed-
     *  matrix approximation differs by O(|r|²) ≈ sub-micrometer for real
     *  datum rotations (≤ tens of arc-seconds). */
    def inverse(xw: Double, yw: Double, zw: Double): (Double, Double, Double) = {
      val m = 1.0 + ds
      val u = (xw - tx) / m; val v = (yw - ty) / m; val w = (zw - tz) / m
      val det = 1.0 + rx * rx + ry * ry + rz * rz
      ((u * (1 + rx * rx) + v * (rz + rx * ry) + w * (rx * rz - ry)) / det,
        (u * (rx * ry - rz) + v * (1 + ry * ry) + w * (rx + ry * rz)) / det,
        (u * (ry + rx * rz) + v * (ry * rz - rx) + w * (1 + rz * rz)) / det)
    }
  }

  /** EPSG code of the WGS84 UTM zone containing a point. */
  def utmSrid(latDeg: Double, lonDeg: Double): Int =
    (if (latDeg >= 0) 32600 else 32700) + utmZone(lonDeg)

  /** Projected CRS (an EPSG registry code) -> lon/lat degrees. */
  def toLonLat(srid: Int, x: Double, y: Double): (Double, Double) =
    ProjString.toLonLat(ProjString.epsg(srid), x, y)

  /** lon/lat degrees -> projected CRS (an EPSG registry code). */
  def fromLonLat(srid: Int, lon: Double, lat: Double): (Double, Double) =
    ProjString.fromLonLat(ProjString.epsg(srid), lon, lat)
}
