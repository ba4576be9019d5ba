package graft.geom

import java.util.concurrent.ConcurrentHashMap

/**
 * PROJ parameter-string CRS support — the generality of the reference's only
 * live reprojection path (geopolars/geopolars-geo/src/ops/proj.rs:33-70
 * accepts arbitrary PROJ authority strings). PROJ itself does not ship
 * offline, so the parameters are parsed here and routed to this repo's own
 * projection kernels:
 *
 *   +proj=tmerc    Krüger-series Transverse Mercator (with +lat_0 offset)
 *   +proj=merc     ellipsoidal Mercator (spherical when the ellipsoid is);
 *                  +lat_ts gives EPSG 9805 variant B, folded into k0
 *   +proj=laea     Snyder LAEA, all aspects incl. polar, with the D factor
 *   +proj=stere    polar Stereographic (+lat_ts variant B folded into k0)
 *   +proj=sterea   oblique/double Stereographic (EPSG 9809 Gauss sphere)
 *   +proj=lcc      Lambert Conformal Conic: 2SP with +lat_1/+lat_2
 *                  (EPSG 9802), 1SP with +lat_1 alone + +k_0 (EPSG 9801)
 *   +proj=aea      Albers Equal Area conic (+lat_1/+lat_2)
 *   +proj=cea      Lambert Cylindrical Equal Area (EPSG 9835 — EASE-Grid
 *                  2.0; +lat_ts or +k_0)
 *   +proj=eqc      Equidistant Cylindrical (EPSG 1028 — EPSG:4087; +lat_ts)
 *   +proj=sinu     Sinusoidal (Snyder §30 — the MODIS Land grid via +R)
 *   +proj=moll     Mollweide (Snyder §31 — ESRI:54009 World Mollweide)
 *   +proj=omerc    Hotine Oblique Mercator (EPSG 9815; +no_uoff -> 9812 —
 *                  +lat_0/+lonc/+alpha/+gamma/+k_0; RSO Borneo, Alaska 1)
 *   +proj=krovak   Krovak (EPSG 9819 — S-JTSK EPSG:5514, +czech for the
 *                  positive-southing/westing EPSG:5513 axes)
 *   +proj=webmerc  Pseudo Mercator (EPSG 1024 — EPSG:3857)
 *   +proj=longlat  identity (degrees)
 *   EPSG:nnnn      authority form, looked up in the EPSG registry
 *                  (`epsgTable` below — the one list of supported codes)
 *
 * Recognized parameters: +ellps (WGS84 | GRS80 | intl | bessel | airy |
 * mod_airy | clrk66 | clrk80ign | krass | sphere), +a +b +rf +f +R overrides,
 * +proj=utm +zone=1..60 [+south] (the fixed-form tmerc shorthand),
 * +lat_0 +lon_0 +lat_ts +lat_1 +lat_2 +k/+k_0 +x_0 +y_0, +towgs84 datum
 * shifts (3-parameter geocentric translation EPSG 9603, or 7-parameter
 * position-vector Helmert EPSG 9606 — PROJ's convention, applied through
 * geocentric XYZ around the WGS84 hub), +datum shorthands (PROJ's built-in
 * table: NAD83, OSGB36, nzgd49, ire65, potsdam, … — expanded to their
 * ellipsoid + towgs84 tuple; grid-shift NAD27 is refused), +units/+to_meter
 * projected-axis units (ft, us-ft, km, … — PROJ's fr_meter output step),
 * and the no-op tail every PROJ string carries (+no_defs, +type=crs).
 * `OGC:CRS84` (bare / authority / URN spelling) and `urn:ogc:def:crs:EPSG::n`
 * are accepted as CRS names. Anything else throws — a CRS must never be
 * silently misinterpreted.
 */
/**
 * Options for `to_crs`-style transforms — the analogue of the reference's
 * `ProjOptions` (geopolars-geo/src/ops/proj.rs:15-18; second entry point
 * geoseries.rs:259-266). The reference's only option widens CRS resolution
 * (extra PROJ search paths); PROJ's database does not ship offline, so the
 * equivalent here is an extra named-CRS registry: alias -> any definition
 * `ProjString.parse` accepts (EPSG:nnnn, +proj= string, PROJJSON). Lookup
 * is case-sensitive, one level deep (an alias must map to a concrete
 * definition, not another alias), and unknown names pass through to the
 * normal parser unchanged.
 */
final case class ProjOptions(extraCrs: Map[String, String] = Map.empty) {
  def resolve(crs: String): String = extraCrs.get(crs) match {
    case Some(defn) =>
      require(!extraCrs.contains(defn),
        s"ProjOptions: alias '$crs' maps to another alias '$defn'")
      defn
    case None => crs
  }
}

object ProjString {

  final case class Spec(proj: String, ell: Proj.Ellipsoid,
                        lat0: Double, lon0: Double, k0: Double,
                        x0: Double, y0: Double,
                        /** rectifying-northing of lat_0 (tmerc origin shift) */
                        tmRefY: Double = 0.0,
                        /** standard parallels (lcc 2SP) */
                        lat1: Double = 0.0, lat2: Double = 0.0,
                        /** +towgs84 datum shift (local geocentric -> WGS84);
                         *  None = the CRS shares the WGS84 datum */
                        helmert: Option[Proj.Helmert] = None,
                        /** projected-axis unit in meters (+units/+to_meter);
                         *  PROJ semantics: +x_0/+y_0 stay in meters, the
                         *  WHOLE projected coordinate (false origin included)
                         *  converts on output */
                        toMeter: Double = 1.0)

  // parse results are tiny and the distinct strings per job are few (they
  // arrive as column literals); cap the cache against adversarial cardinality
  private val cache = new ConcurrentHashMap[String, Spec]()
  private val MaxCache = 4096

  def parse(s: String): Spec = {
    val hit = cache.get(s)
    if (hit != null) return hit
    val spec = doParse(s)
    if (cache.size < MaxCache) cache.putIfAbsent(s, spec)
    spec
  }

  private val knownEllipsoids = Map(
    "WGS84" -> Proj.Wgs84,
    "GRS80" -> Proj.Grs80,
    "intl" -> Proj.Ellipsoid(6378388.0, 1.0 / 297.0),
    "bessel" -> Proj.Bessel,
    "airy" -> Proj.Airy,
    // defined a/b in PROJ's table; f = (a-b)/a
    "mod_airy" -> Proj.Ellipsoid(6377340.189, (6377340.189 - 6356034.446) / 6377340.189),
    "clrk66" -> Proj.Ellipsoid(6378206.4, (6378206.4 - 6356583.8) / 6378206.4),
    "krass" -> Proj.Ellipsoid(6378245.0, 1.0 / 298.3),
    "clrk80ign" -> Proj.Ellipsoid(6378249.2, 1.0 / 293.4660212936269),
    "sphere" -> Proj.Ellipsoid(6371000.0, 0.0))

  /** PROJ's built-in `+units=` projected-axis units (pj_units table) as
   *  to-meter factors. Anything else needs an explicit `+to_meter=`. */
  private val knownUnits = Map(
    "m" -> 1.0, "km" -> 1000.0, "dm" -> 0.1, "cm" -> 0.01, "mm" -> 0.001,
    "ft" -> 0.3048, "us-ft" -> 1200.0 / 3937.0, "ind-ft" -> 0.30479841,
    "yd" -> 0.9144, "us-yd" -> 3600.0 / 3937.0,
    "mi" -> 1609.344, "us-mi" -> 6336000.0 / 3937.0,
    "kmi" -> 1852.0, "fath" -> 1.8288, "ch" -> 20.1168, "us-ch" -> 79200.0 / 3937.0,
    "link" -> 0.201168, "us-in" -> 100.0 / 3937.0, "in" -> 0.0254)

  /** PROJ's built-in `+datum=` shorthands (pj_datums table): ellipsoid plus
   *  the Helmert tuple to WGS84, expanded exactly as PROJ expands them. The
   *  grid-shift datums (NAD27's conus/alaska NTv2 grids) are refused — a
   *  grid file cannot be summarized as 7 numbers without silently degrading
   *  accuracy by tens of meters. */
  private val knownDatums: Map[String, (String, String)] = Map(
    "WGS84" -> ("WGS84", "0,0,0"),
    "NAD83" -> ("GRS80", "0,0,0"),
    "GGRS87" -> ("GRS80", "-199.87,74.79,246.62"),
    "potsdam" -> ("bessel", "598.1,73.7,418.2,0.202,0.045,-2.455,6.7"),
    "carthage" -> ("clrk80ign", "-263.0,6.0,431.0"),
    "hermannskogel" -> ("bessel", "577.326,90.129,463.919,5.137,1.474,5.297,2.4232"),
    "ire65" -> ("mod_airy", "482.530,-130.596,564.557,-1.042,-0.214,-0.631,8.15"),
    "nzgd49" -> ("intl", "59.47,-5.04,187.44,0.47,-0.1,1.024,-4.5993"),
    "OSGB36" -> ("airy", "446.448,-125.157,542.060,0.1502,0.2470,0.8421,-20.4894"))

  private def fail(s: String, why: String): Nothing =
    throw new IllegalArgumentException(s"to_crs: unsupported PROJ string '$s' ($why)")

  private def doParse(raw: String): Spec = {
    var s = raw.trim
    if (s.startsWith("{")) return parseProjJson(s)
    // OGC:CRS84 — WGS84 geographic in explicit lon/lat axis order (the
    // GeoJSON / GeoParquet default CRS). This engine is always lon/lat, so
    // it is exactly the longlat identity; accepted in the bare, authority,
    // and URN spellings pyproj emits.
    val sl = s.toLowerCase
    if (sl == "crs84" || sl == "ogc:crs84" || sl == "urn:ogc:def:crs:ogc:1.3:crs84")
      return epsg(4326)
    // urn:ogc:def:crs:EPSG::nnnn -> the EPSG authority form
    if (sl.startsWith("urn:ogc:def:crs:epsg:"))
      s = "EPSG:" + s.substring(s.lastIndexOf(':') + 1)
    // the two well-known ESRI world-projection codes, expanded to their
    // published proj-string definitions (WGS84, lon_0 = 0)
    if (sl == "esri:54008") s = "+proj=sinu +lon_0=0 +x_0=0 +y_0=0 +ellps=WGS84"
    if (sl == "esri:54009") s = "+proj=moll +lon_0=0 +x_0=0 +y_0=0 +ellps=WGS84"
    if (s.toLowerCase.startsWith("epsg:")) {
      val srid = try s.substring(5).trim.toInt catch {
        case _: NumberFormatException => fail(s, "bad EPSG code")
      }
      return epsg(srid)
    }
    if (!s.startsWith("+")) fail(s, "expected +proj=... or EPSG:nnnn")
    var kv = Map.empty[String, String]
    s.split("\\s+").withFilter(_.nonEmpty).foreach { tok =>
      if (!tok.startsWith("+")) fail(s, s"token '$tok' does not start with +")
      val t = tok.drop(1)
      val i = t.indexOf('=')
      kv += (if (i < 0) (t, "") else (t.take(i), t.drop(i + 1)))
    }
    val known = Set("proj", "ellps", "datum", "a", "b", "rf", "f", "R",
      "lat_0", "lon_0", "lat_ts", "lat_1", "lat_2", "k", "k_0", "x_0", "y_0",
      "lonc", "alpha", "gamma", "no_uoff", "czech",
      "zone", "south", "units", "to_meter", "no_defs", "towgs84", "type")
    kv.keys.find(!known.contains(_)).foreach(k => fail(s, s"unknown parameter +$k"))
    // +units / +to_meter: projected-axis unit. PROJ lets an explicit
    // +to_meter coexist with (and win over) +units, but a string carrying
    // both is almost always a generator bug — refuse unless they agree.
    val toMeter = (kv.get("units"), kv.get("to_meter")) match {
      case (None, None) => 1.0
      case (Some(u), None) =>
        knownUnits.getOrElse(u, fail(s, s"unsupported units $u"))
      case (None, Some(t)) =>
        val v = try t.toDouble catch {
          case _: NumberFormatException => fail(s, "bad number for +to_meter")
        }
        if (!(v > 0.0)) fail(s, "+to_meter must be positive")
        v
      case (Some(u), Some(t)) =>
        val uv = knownUnits.getOrElse(u, fail(s, s"unsupported units $u"))
        val tv = try t.toDouble catch {
          case _: NumberFormatException => fail(s, "bad number for +to_meter")
        }
        if (math.abs(uv - tv) > 1e-12 * uv)
          fail(s, s"+units=$u and +to_meter=$t disagree")
        uv
    }
    // +datum shorthand expands to its ellipsoid + towgs84 tuple exactly as
    // PROJ expands it; explicit +ellps/+towgs84/axis overrides alongside a
    // datum are contradictory and refused.
    kv.get("datum").foreach { d =>
      if (d == "NAD27")
        fail(s, "+datum=NAD27 is grid-shift-based (NTv2); no 7-parameter " +
          "expansion is honest — reproject via a +towgs84 approximation explicitly")
      val (e, t) = knownDatums.getOrElse(d, fail(s, s"unsupported datum $d"))
      Seq("ellps", "towgs84", "a", "b", "rf", "f", "R").find(kv.contains)
        .foreach(k => fail(s, s"+datum=$d conflicts with explicit +$k"))
      kv += ("ellps" -> e); kv += ("towgs84" -> t); kv -= "datum"
    }
    // +proj=utm: PROJ's most common projected-CRS shorthand — a fixed-form
    // tmerc with lon_0 = zone·6−183, k_0 = 0.9996, x_0 = 500000, y_0 = 0
    // (10,000,000 with +south). Explicit overrides of the hardwired
    // parameters are refused rather than silently ignored (PROJ ignores
    // them — a +lon_0 the caller typed but never applied is a trap).
    if (kv.get("proj").contains("utm")) {
      val z = try kv.getOrElse("zone", fail(s, "+proj=utm needs +zone=1..60")).toInt
        catch { case _: NumberFormatException => fail(s, "bad number for +zone") }
      if (z < 1 || z > 60) fail(s, s"+zone=$z out of range 1..60")
      Seq("lat_0", "lon_0", "x_0", "y_0", "k", "k_0", "lat_ts", "lat_1", "lat_2")
        .find(kv.contains).foreach(k => fail(s, s"+proj=utm fixes +$k — remove it"))
      kv += ("proj" -> "tmerc"); kv += ("lon_0" -> (z * 6 - 183).toString)
      kv += ("k" -> "0.9996"); kv += ("x_0" -> "500000")
      kv += ("y_0" -> (if (kv.contains("south")) "10000000" else "0"))
      kv -= "zone"; kv -= "south"
    } else if (kv.contains("zone") || kv.contains("south"))
      fail(s, "+zone/+south are only meaningful with +proj=utm")
    // +towgs84: 3-parameter geocentric translation (EPSG 9603) or 7-parameter
    // position-vector Helmert (EPSG 9606) mapping the local datum to WGS84 —
    // PROJ's convention. Arc-seconds and ppm normalize to radians / unit
    // scale here; an all-zero shift is the same as no shift.
    val helmert = kv.get("towgs84").flatMap { v =>
      val ps = v.split(",", -1).map(t => try t.trim.toDouble catch {
        case _: NumberFormatException => fail(s, "bad number in +towgs84")
      })
      if (ps.length != 3 && ps.length != 7)
        fail(s, s"+towgs84 needs 3 or 7 comma-separated values, got ${ps.length}")
      if (ps.forall(_ == 0.0)) None
      else {
        val asec = math.Pi / (180.0 * 3600.0)
        val r = if (ps.length == 7) ps.slice(3, 6).map(_ * asec) else Array(0.0, 0.0, 0.0)
        Some(Proj.Helmert(ps(0), ps(1), ps(2), r(0), r(1), r(2),
          if (ps.length == 7) ps(6) * 1e-6 else 0.0))
      }
    }

    def num(key: String, default: Double): Double =
      kv.get(key).map(v => try v.toDouble catch {
        case _: NumberFormatException => fail(s, s"bad number for +$key")
      }).getOrElse(default)

    val proj = kv.getOrElse("proj", fail(s, "missing +proj"))
    // ellipsoid: named base, then explicit overrides
    var ell = kv.get("ellps") match {
      case Some(name) => knownEllipsoids.getOrElse(name, fail(s, s"unknown ellps $name"))
      case None => if (kv.contains("R")) knownEllipsoids("sphere") else Proj.Wgs84
    }
    if (kv.contains("R")) ell = Proj.Ellipsoid(num("R", ell.a), 0.0)
    if (kv.contains("a")) {
      val a = num("a", ell.a)
      val f =
        if (kv.contains("rf")) 1.0 / num("rf", 0)
        else if (kv.contains("f")) num("f", 0)
        else if (kv.contains("b")) (a - num("b", a)) / a
        else ell.f
      ell = Proj.Ellipsoid(a, f)
    } else if (kv.contains("rf")) ell = Proj.Ellipsoid(ell.a, 1.0 / num("rf", 0))
    else if (kv.contains("f")) ell = Proj.Ellipsoid(ell.a, num("f", 0))

    val lat0 = num("lat_0", 0.0)
    val lon0 = num("lon_0", 0.0)
    val k0 = if (kv.contains("k_0")) num("k_0", 1.0) else num("k", 1.0)
    val x0 = num("x_0", 0.0)
    val y0 = num("y_0", 0.0)
    // +lat_ts (standard parallel) folds into the pole/equator scale at parse
    // time — PROJ's own reduction: stere variant B -> variant A via
    // Proj.stereK0FromTs; merc variant B (EPSG 9805), cea (9835) and eqc
    // (1028) via the parallel's meridian-scale m(lat_ts) =
    // cos φ1 / √(1−e²sin²φ1). PROJ treats +lat_ts and +k/+k_0 as mutually
    // exclusive in all of them.
    val k0eff =
      if (kv.contains("lat_ts")) {
        if (!Set("stere", "merc", "cea", "eqc").contains(proj))
          fail(s, "+lat_ts is only supported for +proj=stere|merc|cea|eqc")
        if (kv.contains("k") || kv.contains("k_0"))
          fail(s, s"+lat_ts and +k/+k_0 are mutually exclusive for $proj")
        if (proj == "stere") Proj.stereK0FromTs(ell, num("lat_ts", 90.0))
        else {
          // a polar standard parallel degenerates m(φ1) to ~0 (every point
          // collapses / blows up); PROJ refuses it for these projections too
          val ts = num("lat_ts", 0.0)
          if (math.abs(ts) >= 90.0)
            fail(s, s"+lat_ts=$ts out of range (-90, 90) for +proj=$proj")
          Proj.mFactor(ell, math.toRadians(ts))
        }
      } else k0
    // EPSG 9820 (LAEA), 9822 (Albers) and 1028 (Equidistant Cylindrical)
    // have no scale factor; PROJ ignores a +k_0 on them silently — refuse
    // instead (same policy as +proj=utm's fixed parameters: a knob the
    // caller typed but never applied is a trap). cea keeps +k_0 (PROJ's
    // alternative spelling of the standard parallel's scale).
    if ((kv.contains("k") || kv.contains("k_0")) &&
      (proj == "laea" || proj == "aea" || proj == "eqc" || proj == "sinu" ||
        proj == "moll" || proj == "longlat"))
      fail(s, s"+k/+k_0 is not a parameter of +proj=$proj — remove it")

    if (kv.contains("lat_1") || kv.contains("lat_2")) {
      if (proj != "lcc" && proj != "aea")
        fail(s, "+lat_1/+lat_2 are only supported for +proj=lcc|aea")
      // lcc with +lat_1 alone is the 1SP form (EPSG 9801): the single
      // standard parallel doubles as both parallels (n = sin lat_1) and
      // +k_0 applies (PROJ defaults lat_2 := lat_1 the same way). Albers
      // has no EPSG 1SP method — keep it strict.
      if (!kv.contains("lat_1"))
        fail(s, s"+proj=$proj needs +lat_1 (+lat_2 for the 2SP form)")
      if (proj == "aea" && !kv.contains("lat_2"))
        fail(s, "+proj=aea needs BOTH +lat_1 and +lat_2 (2SP form)")
    }
    if (proj == "longlat" && toMeter != 1.0)
      fail(s, "+units/+to_meter on +proj=longlat (degrees have no linear unit)")
    // webmerc's Spec replaces the ellipsoid with the sphere of its
    // semi-major axis, so the Helmert hub conversion would run its
    // geodetic<->XYZ legs on that sphere — up to ~21 km of latitude error.
    // EPSG 1024 is defined on WGS84; a datum-shifted pseudo-Mercator is
    // refused rather than silently miscomputed.
    if (proj == "webmerc" && helmert.isDefined)
      fail(s, "+towgs84/+datum shifts are not supported with +proj=webmerc")
    if ((kv.contains("lonc") || kv.contains("gamma") ||
      kv.contains("no_uoff")) && proj != "omerc")
      fail(s, "+lonc/+gamma/+no_uoff are only meaningful with +proj=omerc")
    if (kv.contains("alpha") && proj != "omerc" && proj != "krovak")
      fail(s, "+alpha is only meaningful with +proj=omerc|krovak")
    if (kv.contains("czech") && proj != "krovak")
      fail(s, "+czech is only meaningful with +proj=krovak")
    if (proj == "krovak") {
      // Krovak (EPSG 9819 — S-JTSK). PROJ's spelling with its defaults:
      // centre 49.5N, +lon_0 = 24°50' E Greenwich (42°30' E of Ferro),
      // +alpha the centre-line azimuth, +k the pseudo-standard-parallel
      // scale; +czech flips to the positive southing/westing EPSG:5513
      // axes. φP = 78.5° is fixed by the method. (+lat_ts/+lat_1/+lat_2
      // already failed above — they are not krovak parameters.)
      val latc = if (kv.contains("lat_0")) lat0 else 49.5
      if (latc <= 0.0 || latc >= 90.0)
        fail(s, s"+proj=krovak lat_0=$latc: centre latitude must be in (0, 90)")
      val kk = if (kv.contains("k") || kv.contains("k_0")) k0eff else 0.9999
      if (kk <= 0.0) fail(s, s"+k_0=$kk must be positive for +proj=krovak")
      val l0 = if (kv.contains("lon_0")) lon0 else Proj.KrovakLon0
      val al = if (kv.contains("alpha")) num("alpha", 0.0) else Proj.KrovakAlpha
      // PROJ's one projection-specific ellipsoid default: bare +proj=krovak
      // means Bessel (S-JTSK's ellipsoid), NOT the general WGS84 fallback —
      // ~740 m of semi-major difference if silently substituted
      val ellK =
        if (Seq("ellps", "datum", "a", "b", "rf", "f", "R").exists(kv.contains)) ell
        else knownEllipsoids("bessel")
      val variant = if (kv.contains("czech")) "krovakcz" else "krovak"
      return mkSpec(s, variant, ellK, latc, l0, kk, x0, y0, al, 0.0)
        .copy(helmert = helmert, toMeter = toMeter)
    }
    if (proj == "omerc") {
      // Hotine Oblique Mercator (EPSG 9815; +no_uoff gives 9812 variant A).
      // PROJ's spelling: centre at (+lat_0, +lonc), initial-line azimuth
      // +alpha, rectified-grid angle +gamma (defaults to alpha per GN 7-2),
      // +k_0 the scale on the initial line. The construction degenerates at
      // the equator and poles — refused, as GN 7-2 restricts.
      if (!kv.contains("alpha")) fail(s, "+proj=omerc needs +alpha")
      if (!kv.contains("lonc")) fail(s, "+proj=omerc needs +lonc")
      if (kv.contains("lon_0"))
        fail(s, "+proj=omerc takes +lonc, not +lon_0 — remove it")
      if (lat0 == 0.0 || math.abs(lat0) >= 90.0)
        fail(s, s"+proj=omerc lat_0=$lat0: centre latitude must be in " +
          "(-90, 0) or (0, 90)")
      if (k0eff <= 0.0)
        fail(s, s"+k_0=$k0eff must be positive for +proj=omerc")
      val variant = if (kv.contains("no_uoff")) "omerca" else "omerc"
      return mkSpec(s, variant, ell, lat0, num("lonc", 0.0), k0eff, x0, y0,
        num("alpha", 0.0), num("gamma", num("alpha", 0.0)))
        .copy(helmert = helmert, toMeter = toMeter)
    }
    mkSpec(s, proj, ell, lat0, lon0, k0eff, x0, y0,
      num("lat_1", 0.0), num("lat_2", num("lat_1", 0.0)))
      .copy(helmert = helmert, toMeter = toMeter)
  }

  private def mkSpec(s: String, proj: String, ell: Proj.Ellipsoid,
                     lat0: Double, lon0: Double, k0: Double,
                     x0: Double, y0: Double,
                     lat1: Double = 0.0, lat2: Double = 0.0): Spec =
    proj match {
      // laea: all aspects — oblique/equatorial (Snyder 24-17..24-20) and the
      // polar forms (24-23..24-25), selected inside Proj.laeaForward.
      // sterea: Oblique ("double") Stereographic, EPSG method 9809 — the
      // Gauss conformal-sphere construction (RD New / EPSG:28992). Any aspect.
      case "longlat" | "merc" | "laea" | "sterea" =>
        Spec(proj, ell, lat0, lon0, k0, x0, y0)
      case "tmerc" =>
        // +lat_0 shifts the northing origin by the (scaled) rectifying
        // northing of lat_0 on the central meridian
        val refY = if (lat0 == 0.0) 0.0
          else Proj.tmForward(ell, lon0, lat0, lon0, k0, 0.0, 0.0)._2
        Spec(proj, ell, lat0, lon0, k0, x0, y0, refY)
      case "lcc" =>
        // Lambert Conformal Conic, 2SP (Snyder §15; EPSG 9802 — Lambert-93,
        // US State Plane) and 1SP (EPSG 9801 — Jamaica National Grid):
        // equal standard parallels degenerate the cone constant to
        // n = sin(lat_1) and k0 scales the radii (GN 7-2 r = a·F·tⁿ·k0).
        if (lat1 == 0.0 && lat2 == 0.0)
          fail(s, "+proj=lcc needs +lat_1 (and +lat_2 for the 2SP form)")
        Spec(proj, ell, lat0, lon0, k0, x0, y0, lat1 = lat1, lat2 = lat2)
      case "aea" =>
        // Albers Equal Area conic (Snyder §14; EPSG 9822 — CONUS Albers)
        if (lat1 == 0.0 && lat2 == 0.0)
          fail(s, "+proj=aea needs +lat_1/+lat_2")
        Spec(proj, ell, lat0, lon0, k0, x0, y0, lat1 = lat1, lat2 = lat2)
      case "cea" | "eqc" =>
        // Lambert Cylindrical Equal Area (Snyder §10; EPSG 9835 —
        // EASE-Grid 2.0) / Equidistant Cylindrical (Snyder §12; EPSG 1028 —
        // EPSG:4087). k0 carries the standard parallel's meridian scale
        // m(lat_ts); neither method has a latitude-of-origin parameter.
        if (lat0 != 0.0)
          fail(s, s"+lat_0 is not a parameter of +proj=$proj — remove it")
        if (k0 <= 0.0)
          fail(s, s"+k_0=$k0 must be positive for +proj=$proj")
        Spec(proj, ell, 0, lon0, k0, x0, y0)
      case "omerc" | "omerca" =>
        // Hotine Oblique Mercator: lat1/lat2 carry the initial-line azimuth
        // and rectified-grid angle (degrees); "omerca" is the +no_uoff
        // variant A (EPSG 9812)
        Spec(proj, ell, lat0, lon0, k0, x0, y0, lat1 = lat1, lat2 = lat2)
      case "krovak" | "krovakcz" =>
        // Krovak: lat1 carries the centre-line azimuth; "krovakcz" is the
        // +czech positive southing/westing variant (EPSG:5513 axes)
        Spec(proj, ell, lat0, lon0, k0, x0, y0, lat1 = lat1)
      case "sinu" | "moll" =>
        // Sinusoidal (Snyder §30 — the MODIS Land grid on its authalic
        // sphere via +R) / Mollweide (Snyder §31 — ESRI:54009 World
        // Mollweide). Only +lon_0/+x_0/+y_0; no scale or origin latitude
        // exists in either projection.
        if (lat0 != 0.0)
          fail(s, s"+lat_0 is not a parameter of +proj=$proj — remove it")
        Spec(proj, ell, 0, lon0, 1.0, x0, y0)
      case "webmerc" =>
        // PROJ 5+'s +proj=webmerc (EPSG 1024 Popular Visualisation Pseudo
        // Mercator): spherical Mercator formulas on the base ellipsoid's
        // semi-major axis, geodetic latitude used directly — EPSG:3857.
        // The method fixes lat_0 = 0 and has no scale factor.
        if (lat0 != 0.0 || k0 != 1.0)
          fail(s, "+proj=webmerc fixes +lat_0=0 and has no +k_0 — remove them")
        Spec("merc", Proj.Ellipsoid(ell.a, 0.0), 0, lon0, 1.0, x0, y0)
      case "stere" =>
        // POLAR aspects only (Snyder 21-30..21-39; EPSG 9810/9829 — the
        // EPSG:3413/3031 family). The oblique/equatorial ellipsoidal
        // stereographic is a different EPSG method (9809, Gauss conformal
        // sphere) this engine does not implement — fail fast, never
        // approximate.
        if (!Proj.stereIsPolar(lat0))
          fail(s, s"+proj=stere lat_0=$lat0: only the polar aspects" +
            " (lat_0=+-90) are implemented")
        Spec(proj, ell, lat0, lon0, k0, x0, y0)
      case other => fail(s, s"unsupported +proj=$other")
    }

  // ---------- the EPSG registry: the one list of supported numeric CRSs.
  // Numeric st_transform, `EPSG:n` and `urn:ogc:def:crs:EPSG::n` all resolve
  // here, so an EPSG code is just a name for the Spec its PROJ definition
  // parses to. Parameters are the registry's defining values (DMS as exact
  // sums; ftUS false origins converted to meters, the axis unit applied on
  // output like +units=us-ft). Geographic input is taken in each CRS's own
  // datum: the codes name the projection only, no datum shift. ----------

  private val epsgTable: Map[Int, Spec] = {
    def reg(proj: String, ell: Proj.Ellipsoid, lat0: Double, lon0: Double,
            k0: Double, x0: Double, y0: Double,
            lat1: Double = 0.0, lat2: Double = 0.0): Spec =
      mkSpec(s"EPSG registry +proj=$proj", proj, ell, lat0, lon0, k0, x0, y0, lat1, lat2)
    val usFt = knownUnits("us-ft")
    // WGS84 / UTM zones 1..60: 326zz north, 327zz south (FN 10,000,000)
    val utm = for (zone <- 1 to 60; (base, fn) <- Seq(32600 -> 0.0, 32700 -> 10000000.0))
      yield (base + zone) ->
        reg("tmerc", Proj.Wgs84, 0.0, zone * 6.0 - 183.0, Proj.UtmK0, 500000.0, fn)
    Map(
      4326 -> reg("longlat", Proj.Wgs84, 0, 0, 1, 0, 0),
      // Web-Mercator: the closed form R·ln tan(π/4 + φ/2) on the sphere of
      // the WGS84 semi-major axis (see project/unproject)
      3857 -> Spec("pseudomerc", Proj.Ellipsoid(Proj.Wgs84.a, 0.0), 0, 0, 1, 0, 0),
      // ETRS89-extended / LAEA Europe
      3035 -> reg("laea", Proj.Grs80, 52.0, 10.0, 1, 4321000.0, 3210000.0),
      // NSIDC Sea Ice Polar Stereographic North (lat_ts 70) / Antarctic Polar
      // Stereographic (lat_ts -71): variant B, k0 from the standard parallel
      3413 -> reg("stere", Proj.Wgs84, 90.0, -45.0, Proj.stereK0FromTs(Proj.Wgs84, 70.0), 0, 0),
      3031 -> reg("stere", Proj.Wgs84, -90.0, 0.0, Proj.stereK0FromTs(Proj.Wgs84, -71.0), 0, 0),
      // Amersfoort / RD New: origin 52°09'22.178"N 5°23'15.500"E
      28992 -> reg("sterea", Proj.Bessel, 52.0 + 9.0 / 60 + 22.178 / 3600,
        5.0 + 23.0 / 60 + 15.500 / 3600, 0.9999079, 155000.0, 463000.0),
      // RGF93 / Lambert-93
      2154 -> reg("lcc", Proj.Grs80, 46.5, 3.0, 1, 700000.0, 6600000.0, 44.0, 49.0),
      // NAD83 / New York Long Island (ftUS): FE 984250 ftUS (= 300000 m)
      2263 -> reg("lcc", Proj.Grs80, 40.0 + 10.0 / 60, -74.0, 1, 984250.0 * usFt, 0.0,
        40.0 + 40.0 / 60, 41.0 + 2.0 / 60).copy(toMeter = usFt),
      // NAD83 / California zone 6 (ftUS): EPSG's rounded-decimal ftUS false
      // origin, converted — hence the 0.1 mm tails PROJ also carries
      2230 -> reg("lcc", Proj.Grs80, 32.0 + 10.0 / 60, -116.25, 1,
        6561666.667 * usFt, 1640416.667 * usFt,
        32.0 + 47.0 / 60, 33.0 + 53.0 / 60).copy(toMeter = usFt),
      // NAD83 / Conus Albers
      5070 -> reg("aea", Proj.Grs80, 23.0, -96.0, 1, 0, 0, 29.5, 45.5),
      // WGS 84 / NSIDC EASE-Grid 2.0 Global (standard parallel 30)
      6933 -> reg("cea", Proj.Wgs84, 0, 0, Proj.Ease2K0, 0, 0),
      // WGS 84 / World Equidistant Cylindrical
      4087 -> reg("eqc", Proj.Wgs84, 0, 0, 1, 0, 0),
      // S-JTSK / Krovak East North
      5514 -> reg("krovak", Proj.Bessel, 49.5, Proj.KrovakLon0, 0.9999, 0, 0, Proj.KrovakAlpha),
      // OSGB36 / British National Grid: natural origin 49N 2W, the FN applies
      // at the origin latitude (tmerc's lat_0 shift)
      27700 -> reg("tmerc", Proj.Airy, 49.0, -2.0, 0.9996012717, 400000.0, -100000.0)
    ) ++ utm
  }

  /** The registry's codes, ascending, runs of consecutive codes as a..b. */
  private lazy val epsgCodes: String =
    epsgTable.keys.toSeq.sorted.foldLeft(List.empty[(Int, Int)]) {
      case ((a, b) :: rest, c) if c == b + 1 => (a, c) :: rest
      case (runs, c) => (c, c) :: runs
    }.reverse.map { case (a, b) => if (a == b) s"$a" else s"$a..$b" }.mkString(", ")

  /** The Spec an EPSG code names; an unknown code throws, naming it and the
   *  registry's codes. */
  private[geom] def epsg(code: Int): Spec = epsgTable.getOrElse(code,
    throw new IllegalArgumentException(
      s"st_transform: unsupported CRS EPSG:$code (supported: $epsgCodes)"))

  // ---------- PROJJSON (the reference Python wrapper's CRS interchange:
  // py-geopolars/python/geopolars/internals/geoseries.py:257-261 serializes
  // pyproj CRS objects to PROJJSON and hands the string down) ----------

  /** Minimal recursive-descent JSON parser — objects as Map[String, Any],
   *  arrays as List[Any], numbers as Double. No dependencies by design
   *  (the build allows none); PROJJSON payloads are tiny and arrive as
   *  cached column literals, so parser speed is irrelevant. */
  private[graft] object Json {
    def parse(s: String): Any = {
      val p = new P(s); val v = p.value(); p.ws()
      if (!p.eof) throw new IllegalArgumentException("trailing JSON content")
      v
    }
    private final class P(s: String) {
      private var i = 0
      def eof: Boolean = i >= s.length
      def ws(): Unit = while (i < s.length && s.charAt(i).isWhitespace) i += 1
      private def expect(c: Char): Unit = {
        if (eof || s.charAt(i) != c)
          throw new IllegalArgumentException(s"expected '$c' at $i")
        i += 1
      }
      def value(): Any = {
        ws()
        if (eof) throw new IllegalArgumentException("unexpected end of JSON")
        s.charAt(i) match {
          case '{' => obj()
          case '[' => arr()
          case '"' => str()
          case 't' => lit("true", java.lang.Boolean.TRUE)
          case 'f' => lit("false", java.lang.Boolean.FALSE)
          case 'n' => lit("null", null)
          case _ => num()
        }
      }
      private def lit(word: String, v: Any): Any = {
        if (!s.startsWith(word, i))
          throw new IllegalArgumentException(s"bad literal at $i")
        i += word.length; v
      }
      private def obj(): Map[String, Any] = {
        expect('{'); ws()
        if (!eof && s.charAt(i) == '}') { i += 1; return Map.empty }
        val b = Map.newBuilder[String, Any]
        var done = false
        while (!done) {
          ws(); val k = str(); ws(); expect(':')
          b += (k -> value()); ws()
          if (!eof && s.charAt(i) == ',') i += 1
          else { expect('}'); done = true }
        }
        b.result()
      }
      private def arr(): List[Any] = {
        expect('['); ws()
        if (!eof && s.charAt(i) == ']') { i += 1; return Nil }
        val b = List.newBuilder[Any]
        var done = false
        while (!done) {
          b += value(); ws()
          if (!eof && s.charAt(i) == ',') i += 1
          else { expect(']'); done = true }
        }
        b.result()
      }
      private def str(): String = {
        expect('"')
        val sb = new StringBuilder
        while (!eof && s.charAt(i) != '"') {
          val c = s.charAt(i)
          if (c == '\\') {
            i += 1
            if (eof) throw new IllegalArgumentException("bad escape")
            s.charAt(i) match {
              case '"' => sb.append('"'); case '\\' => sb.append('\\')
              case '/' => sb.append('/'); case 'b' => sb.append('\b')
              case 'f' => sb.append('\f'); case 'n' => sb.append('\n')
              case 'r' => sb.append('\r'); case 't' => sb.append('\t')
              case 'u' =>
                if (i + 5 > s.length)
                  throw new IllegalArgumentException("truncated \\u escape")
                sb.append(Integer.parseInt(s.substring(i + 1, i + 5), 16).toChar)
                i += 4
              case o => throw new IllegalArgumentException(s"bad escape \\$o")
            }
          } else sb.append(c)
          i += 1
        }
        expect('"'); sb.result()
      }
      private def num(): Double = {
        val start = i
        while (i < s.length && "+-0123456789.eE".indexOf(s.charAt(i)) >= 0) i += 1
        try s.substring(start, i).toDouble catch {
          case _: NumberFormatException =>
            throw new IllegalArgumentException(s"bad number at $start")
        }
      }
    }
  }

  /** PROJJSON conversion methods: (EPSG method code, lower-case method
   *  name, this repo's projection kernel). A method is found by its EPSG id
   *  first, then by name. */
  private val projJsonMethods: Seq[(Int, String, String)] = Seq(
    (9807, "transverse mercator", "tmerc"),
    (9804, "mercator (variant a)", "merc"),
    (9805, "mercator (variant b)", "mercb"), // standard parallel, no k0
    (1024, "popular visualisation pseudo mercator", "webmerc"),
    (9820, "lambert azimuthal equal area", "laea"),
    (9810, "polar stereographic (variant a)", "stere"),
    (9829, "polar stereographic (variant b)", "stere"),
    (9809, "oblique stereographic", "sterea"), // Gauss double
    (9801, "lambert conic conformal (1sp)", "lcc1sp"),
    (9802, "lambert conic conformal (2sp)", "lcc"),
    (9822, "albers equal area", "aea"),
    (9835, "lambert cylindrical equal area", "cea"), // standard parallel
    (1028, "equidistant cylindrical", "eqc")) // standard parallel

  private def parseProjJson(raw: String): Spec = {
    def fail(why: String): Nothing =
      throw new IllegalArgumentException(s"to_crs: unsupported PROJJSON ($why)")
    val root = Json.parse(raw) match {
      case m: Map[String @unchecked, Any @unchecked] => m
      case _ => fail("root is not an object")
    }
    def objField(m: Map[String, Any], k: String): Map[String, Any] = m.get(k) match {
      case Some(o: Map[String @unchecked, Any @unchecked]) => o
      case _ => fail(s"missing object field '$k'")
    }
    def ellipsoidOf(crs: Map[String, Any]): Proj.Ellipsoid = {
      // modern PROJJSON nests the ellipsoid under datum OR datum_ensemble
      val datum = crs.get("datum").orElse(crs.get("datum_ensemble")) match {
        case Some(d: Map[String @unchecked, Any @unchecked]) => d
        case _ => fail("base CRS has no datum/datum_ensemble")
      }
      val e = objField(datum, "ellipsoid")
      (e.get("semi_major_axis"), e.get("inverse_flattening"),
        e.get("semi_minor_axis"), e.get("radius")) match {
        case (Some(a: Double), Some(rf: Double), _, _) =>
          Proj.Ellipsoid(a, if (rf == 0.0) 0.0 else 1.0 / rf)
        case (Some(a: Double), None, Some(b: Double), _) =>
          Proj.Ellipsoid(a, (a - b) / a)
        case (_, _, _, Some(r: Double)) => Proj.Ellipsoid(r, 0.0)
        case _ => fail("ellipsoid needs semi_major_axis + inverse_flattening" +
          "/semi_minor_axis, or radius")
      }
    }
    root.get("type") match {
      case Some("GeographicCRS") =>
        mkSpec(raw, "longlat", ellipsoidOf(root), 0, 0, 1, 0, 0)
      case Some("ProjectedCRS") =>
        val ell = ellipsoidOf(objField(root, "base_crs"))
        val conv = objField(root, "conversion")
        val method = objField(conv, "method")
        val byCode = method.get("id") match {
          case Some(id: Map[String @unchecked, Any @unchecked])
            if id.get("authority").contains("EPSG") =>
            id.get("code").collect { case c: Double => c.toInt }
              .flatMap(c => projJsonMethods.find(_._1 == c)).map(_._3)
          case _ => None
        }
        val proj = byCode
          .orElse(method.get("name").collect { case n: String => n }
            .flatMap(n => projJsonMethods.find(_._2 == n.toLowerCase)).map(_._3))
          .getOrElse(fail(s"unsupported conversion method ${method.get("name")}"))
        var lat0 = 0.0; var lon0 = 0.0; var k0 = 1.0; var x0 = 0.0; var y0 = 0.0
        var latTs = Option.empty[Double]
        var lat1 = 0.0; var lat2 = 0.0
        conv.get("parameters") match {
          case Some(ps: List[Any @unchecked]) => ps.foreach {
            case p: Map[String @unchecked, Any @unchecked] =>
              val v = p.get("value") match {
                case Some(d: Double) => d
                case _ => fail("parameter without numeric value")
              }
              val unitName = p.get("unit") match {
                case Some(u: String) => u
                case Some(u: Map[String @unchecked, Any @unchecked]) =>
                  u.get("name").collect { case n: String => n }.getOrElse("")
                case _ => ""
              }
              if (!Set("degree", "metre", "unity").contains(unitName.toLowerCase))
                fail(s"unsupported parameter unit '$unitName'")
              p.get("name").collect { case n: String => n.toLowerCase } match {
                case Some("latitude of natural origin") => lat0 = v
                case Some("longitude of natural origin") => lon0 = v
                case Some("scale factor at natural origin") => k0 = v
                // Polar Stereographic variant B (EPSG 9829) parameters
                case Some("latitude of standard parallel") => latTs = Some(v)
                case Some("longitude of origin") => lon0 = v
                // LCC 2SP (EPSG 9802) parameters
                case Some("latitude of false origin") => lat0 = v
                case Some("longitude of false origin") => lon0 = v
                case Some("latitude of 1st standard parallel") => lat1 = v
                case Some("latitude of 2nd standard parallel") => lat2 = v
                case Some("easting at false origin") => x0 = v
                case Some("northing at false origin") => y0 = v
                case Some("false easting") => x0 = v
                case Some("false northing") => y0 = v
                case Some(other) => fail(s"unsupported parameter '$other'")
                case None => fail("parameter without name")
              }
            case _ => fail("non-object parameter entry")
          }
          case _ => fail("conversion has no parameters list")
        }
        if (proj == "stere" && latTs.isDefined) {
          // variant B: lat_0 is implied by the standard parallel's pole
          val pole = if (latTs.get >= 0) 90.0 else -90.0
          return mkSpec(raw, proj, ell, pole, lon0,
            Proj.stereK0FromTs(ell, latTs.get), x0, y0)
        }
        if (proj == "mercb" || proj == "cea" || proj == "eqc") {
          // Mercator variant B (EPSG 9805) / Lambert Cylindrical Equal Area
          // (9835) / Equidistant Cylindrical (1028): the 1st standard
          // parallel folds into the x-scale via the meridian scale m(φ1) —
          // none of these methods has a scale-factor parameter, so one
          // appearing is a malformed document
          if (lat2 != 0.0)
            fail(s"2nd standard parallel is not valid for method '$proj'")
          if (k0 != 1.0)
            fail(s"scale factor is not valid for method '$proj'")
          if (lat0 != 0.0)
            fail(s"latitude of natural origin is not valid for method '$proj'")
          // these methods spell their parallel 'Latitude of 1st standard
          // parallel' (EPSG 8823); the 8832 'Latitude of standard parallel'
          // spelling belongs to polar stereographic B and would otherwise
          // slip through as lat1 = 0 (k0 = 1 — silently wrong eastings)
          if (latTs.isDefined)
            fail(s"'Latitude of standard parallel' is not valid for method '$proj'")
          if (math.abs(lat1) >= 90.0)
            fail(s"standard parallel $lat1 is out of range for method '$proj'")
          val target = if (proj == "mercb") "merc" else proj
          return mkSpec(raw, target, ell, 0.0, lon0,
            Proj.mFactor(ell, math.toRadians(lat1)), x0, y0)
        }
        // a parameter that the chosen method cannot consume must fail, not
        // silently drop — a stray standard parallel on a TM conversion means
        // the document is NOT the projection we'd compute
        if ((lat1 != 0.0 || lat2 != 0.0) && proj != "lcc" && proj != "aea")
          fail(s"standard-parallel parameters are not valid for method '$proj'")
        if (latTs.isDefined && proj != "stere")
          fail(s"'Latitude of standard parallel' is not valid for method '$proj'")
        if (proj == "lcc1sp")
          // LCC 1SP (EPSG 9801): the latitude of natural origin IS the single
          // standard parallel; k0 applies (see Proj.lccForward)
          return mkSpec(raw, "lcc", ell, lat0, lon0, k0, x0, y0, lat0, lat0)
        if (proj == "lcc" || proj == "aea")
          return mkSpec(raw, proj, ell, lat0, lon0, k0, x0, y0, lat1, lat2)
        if (proj == "webmerc") {
          // pseudo-mercator: spherical formulas on the base semi-major axis.
          // EPSG 1024 fixes lat_0 = 0 and has no scale factor — same
          // strictness the +proj=webmerc string path enforces
          if (lat0 != 0.0)
            fail("latitude of natural origin must be 0 for method 1024")
          if (k0 != 1.0) fail("scale factor is not valid for method 1024")
          mkSpec(raw, "merc", Proj.Ellipsoid(ell.a, 0.0), 0.0, lon0, 1.0, x0, y0)
        } else mkSpec(raw, proj, ell, lat0, lon0, k0, x0, y0)
      case other => fail(s"unsupported CRS type $other")
    }
  }

  // The transform hub is WGS84 lon/lat (EPSG:4326, how the reference's PROJ
  // pipelines are built: ops/proj.rs:58-67 crs_to_crs through the geodetic
  // CRS). A spec with a +towgs84 shift projects LOCAL-datum geographic
  // coordinates, so hub coordinates pass through the (inverse) Helmert via
  // geocentric XYZ before projecting, and after unprojecting on the way out.

  /** WGS84 hub lon/lat -> the spec's local-datum geographic lon/lat. */
  private def hubToLocal(spec: Spec, lon: Double, lat: Double): (Double, Double) =
    spec.helmert match {
      case None => (lon, lat)
      case Some(h) =>
        val (xw, yw, zw) = Proj.geodeticToXyz(Proj.Wgs84, lon, lat)
        val (x, y, z) = h.inverse(xw, yw, zw)
        Proj.xyzToGeodetic(spec.ell, x, y, z)
    }

  /** The spec's local-datum geographic lon/lat -> WGS84 hub lon/lat. */
  private def localToHub(spec: Spec, lon: Double, lat: Double): (Double, Double) =
    spec.helmert match {
      case None => (lon, lat)
      case Some(h) =>
        val (x, y, z) = Proj.geodeticToXyz(spec.ell, lon, lat)
        val (xw, yw, zw) = h.forward(x, y, z)
        Proj.xyzToGeodetic(Proj.Wgs84, xw, yw, zw)
    }

  def fromLonLat(spec: Spec, lon: Double, lat: Double): (Double, Double) = {
    val (lo, la) = hubToLocal(spec, lon, lat)
    val (x, y) = project(spec, lo, la)
    // PROJ's fr_meter step: the whole projected coordinate (false origin
    // included — +x_0/+y_0 are always meters) converts to the axis unit
    if (spec.toMeter == 1.0) (x, y) else (x / spec.toMeter, y / spec.toMeter)
  }

  def toLonLat(spec: Spec, x: Double, y: Double): (Double, Double) = {
    val (lo, la) =
      if (spec.toMeter == 1.0) unproject(spec, x, y)
      else unproject(spec, x * spec.toMeter, y * spec.toMeter)
    localToHub(spec, lo, la)
  }

  private def project(spec: Spec, lon: Double, lat: Double): (Double, Double) = spec.proj match {
    case "longlat" => (lon, lat)
    case "pseudomerc" => // EPSG:3857's closed form, R = the sphere's radius
      (math.toRadians(lon) * spec.ell.a,
        math.log(math.tan(math.Pi / 4 + math.toRadians(lat) / 2)) * spec.ell.a)
    case "merc" => Proj.mercForward(spec.ell, lon, lat, spec.lon0, spec.k0, spec.x0, spec.y0)
    case "tmerc" =>
      val (x, y) = Proj.tmForward(spec.ell, lon, lat, spec.lon0, spec.k0, spec.x0, spec.y0)
      (x, y - spec.tmRefY)
    case "laea" =>
      Proj.laeaForward(spec.ell, lon, lat, spec.lat0, spec.lon0, spec.x0, spec.y0)
    case "stere" =>
      Proj.stereForward(spec.ell, lon, lat, spec.lat0, spec.lon0, spec.k0,
        spec.x0, spec.y0)
    case "sterea" =>
      Proj.stereaForward(spec.ell, lon, lat, spec.lat0, spec.lon0, spec.k0,
        spec.x0, spec.y0)
    case "lcc" =>
      Proj.lccForward(spec.ell, lon, lat, spec.lat0, spec.lon0,
        spec.lat1, spec.lat2, spec.x0, spec.y0, spec.k0)
    case "aea" =>
      Proj.albersForward(spec.ell, lon, lat, spec.lat0, spec.lon0,
        spec.lat1, spec.lat2, spec.x0, spec.y0)
    case "cea" =>
      Proj.ceaForward(spec.ell, lon, lat, spec.lon0, spec.k0, spec.x0, spec.y0)
    case "eqc" =>
      Proj.eqcForward(spec.ell, lon, lat, spec.lon0, spec.k0, spec.x0, spec.y0)
    case "sinu" =>
      Proj.sinuForward(spec.ell, lon, lat, spec.lon0, spec.x0, spec.y0)
    case "moll" =>
      Proj.mollForward(spec.ell, lon, lat, spec.lon0, spec.x0, spec.y0)
    case "omerc" | "omerca" =>
      Proj.omercForward(spec.ell, lon, lat, spec.lat0, spec.lon0,
        spec.lat1, spec.lat2, spec.k0, spec.x0, spec.y0,
        variantA = spec.proj == "omerca")
    case "krovak" | "krovakcz" =>
      Proj.krovakForward(spec.ell, lon, lat, spec.lat0, spec.lon0,
        spec.lat1, spec.k0, spec.x0, spec.y0, czech = spec.proj == "krovakcz")
  }

  private def unproject(spec: Spec, x: Double, y: Double): (Double, Double) = spec.proj match {
    case "longlat" => (x, y)
    case "pseudomerc" =>
      (math.toDegrees(x / spec.ell.a),
        math.toDegrees(2 * math.atan(math.exp(y / spec.ell.a)) - math.Pi / 2))
    case "merc" => Proj.mercInverse(spec.ell, x, y, spec.lon0, spec.k0, spec.x0, spec.y0)
    case "tmerc" => Proj.tmInverse(spec.ell, x, y + spec.tmRefY, spec.lon0, spec.k0,
      spec.x0, spec.y0)
    case "laea" => Proj.laeaInverse(spec.ell, x, y, spec.lat0, spec.lon0, spec.x0, spec.y0)
    case "stere" =>
      Proj.stereInverse(spec.ell, x, y, spec.lat0, spec.lon0, spec.k0,
        spec.x0, spec.y0)
    case "sterea" =>
      Proj.stereaInverse(spec.ell, x, y, spec.lat0, spec.lon0, spec.k0,
        spec.x0, spec.y0)
    case "lcc" =>
      Proj.lccInverse(spec.ell, x, y, spec.lat0, spec.lon0,
        spec.lat1, spec.lat2, spec.x0, spec.y0, spec.k0)
    case "aea" =>
      Proj.albersInverse(spec.ell, x, y, spec.lat0, spec.lon0,
        spec.lat1, spec.lat2, spec.x0, spec.y0)
    case "cea" =>
      Proj.ceaInverse(spec.ell, x, y, spec.lon0, spec.k0, spec.x0, spec.y0)
    case "eqc" =>
      Proj.eqcInverse(spec.ell, x, y, spec.lon0, spec.k0, spec.x0, spec.y0)
    case "sinu" =>
      Proj.sinuInverse(spec.ell, x, y, spec.lon0, spec.x0, spec.y0)
    case "moll" =>
      Proj.mollInverse(spec.ell, x, y, spec.lon0, spec.x0, spec.y0)
    case "omerc" | "omerca" =>
      Proj.omercInverse(spec.ell, x, y, spec.lat0, spec.lon0,
        spec.lat1, spec.lat2, spec.k0, spec.x0, spec.y0,
        variantA = spec.proj == "omerca")
    case "krovak" | "krovakcz" =>
      Proj.krovakInverse(spec.ell, x, y, spec.lat0, spec.lon0,
        spec.lat1, spec.k0, spec.x0, spec.y0, czech = spec.proj == "krovakcz")
  }
}
