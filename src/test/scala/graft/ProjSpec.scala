package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.geom.{Geodesic, Proj, ProjOptions, ProjString}

/** CRS math: Krüger Transverse Mercator (UTM) and LAEA, property-tested
 *  against independent references — the Karney geodesic solver for scale,
 *  authalic sphere areas for equal-area, defining anchors for offsets. */
class ProjSpec extends AnyFunSuite {

  test("utm: natural origin anchor — (0N, lon0) -> (500000, 0); south FN") {
    val (e, n) = Proj.tmForward(Proj.Wgs84, 3.0, 0.0, 3.0, Proj.UtmK0, 500000, 0)
    assert(math.abs(e - 500000) < 1e-6 && math.abs(n) < 1e-6)
    val (es, ns) = Proj.fromLonLat(32731, 3.0, -0.00001) // south zone 31
    assert(math.abs(es - 500000) < 1e-3 && math.abs(ns - 10000000) < 1.2)
  }

  test("utm: round trip < 1e-9 degrees across zones, hemispheres, in-zone offsets") {
    val rnd = new scala.util.Random(17)
    (0 until 500).foreach { _ =>
      val lat = rnd.nextDouble() * 160 - 80
      val lon = rnd.nextDouble() * 358 - 179
      val srid = Proj.utmSrid(lat, lon)
      val (x, y) = Proj.fromLonLat(srid, lon, lat)
      val (lon2, lat2) = Proj.toLonLat(srid, x, y)
      assert(math.abs(lat2 - lat) < 1e-9 && math.abs(lon2 - lon) < 1e-9,
        s"roundtrip drift at ($lat,$lon) srid=$srid")
    }
  }

  test("utm: central-meridian scale equals k0 against the Karney solver") {
    // ds(UTM)/ds(geodesic) along the central meridian must be exactly k0
    for (lat <- Seq(-60.0, -20.0, 0.0, 35.0, 70.0)) {
      val lon0 = 9.0 // zone 32
      val d = 0.01
      val (_, n1) = Proj.tmForward(Proj.Wgs84, lon0, lat, lon0, Proj.UtmK0, 500000, 0)
      val (_, n2) = Proj.tmForward(Proj.Wgs84, lon0, lat + d, lon0, Proj.UtmK0, 500000, 0)
      val geod = Geodesic.geodesic(lat, lon0, lat + d, lon0)
      val k = (n2 - n1) / geod
      assert(math.abs(k - Proj.UtmK0) < 1e-7, s"meridian scale $k at lat=$lat")
    }
  }

  test("utm: in-zone point scale stays inside the TM envelope [k0, k0*sec-ish]") {
    val rnd = new scala.util.Random(23)
    (0 until 300).foreach { _ =>
      val lat = rnd.nextDouble() * 140 - 70
      val lonInZone = rnd.nextDouble() * 5.9 - 2.95 // within +-3 deg of lon0
      val lon0 = 9.0
      val lon = lon0 + lonInZone
      val brg = rnd.nextDouble() * 360
      val d = 0.002
      val lat2 = lat + d * math.cos(math.toRadians(brg))
      val lon2 = lon + d * math.sin(math.toRadians(brg)) / math.cos(math.toRadians(lat))
      val (x1, y1) = Proj.tmForward(Proj.Wgs84, lon, lat, lon0, Proj.UtmK0, 500000, 0)
      val (x2, y2) = Proj.tmForward(Proj.Wgs84, lon2, lat2, lon0, Proj.UtmK0, 500000, 0)
      val ratio = math.hypot(x2 - x1, y2 - y1) / Geodesic.geodesic(lat, lon, lat2, lon2)
      assert(ratio > 0.99955 && ratio < 1.0012, s"scale $ratio at ($lat,$lon)")
    }
  }

  test("laea 3035: defining anchor (52N,10E) -> (4321000, 3210000) exactly") {
    val (x, y) = Proj.fromLonLat(3035, 10.0, 52.0)
    assert(math.abs(x - 4321000.0) < 1e-6 && math.abs(y - 3210000.0) < 1e-6)
  }

  test("laea 3035: published IOGP GN7-2 sample (50N,5E) -> E 3962799.45 N 2999718.85") {
    // Independent published coordinate (IOGP Guidance Note 7-2, Lambert
    // Azimuthal Equal Area example, ETRS89-LAEA parameters). Pins the Snyder
    // D factor (eq. 24-20): without D the easting is off by ~152 m here.
    val (x, y) = Proj.fromLonLat(3035, 5.0, 50.0)
    assert(math.abs(x - 3962799.45) < 0.01, s"E=$x")
    assert(math.abs(y - 2999718.85) < 0.01, s"N=$y")
    val (lon, lat) = Proj.toLonLat(3035, 3962799.45, 2999718.85)
    assert(math.abs(lon - 5.0) < 1e-7 && math.abs(lat - 50.0) < 1e-7)
  }

  test("laea 3035: round trip < 1e-9 degrees over the European window") {
    val rnd = new scala.util.Random(29)
    (0 until 300).foreach { _ =>
      val lat = rnd.nextDouble() * 37 + 34  // 34..71
      val lon = rnd.nextDouble() * 55 - 11  // -11..44
      val (x, y) = Proj.fromLonLat(3035, lon, lat)
      val (lon2, lat2) = Proj.toLonLat(3035, x, y)
      assert(math.abs(lat2 - lat) < 1e-9 && math.abs(lon2 - lon) < 1e-9)
    }
  }

  test("laea 3035: equal-area — projected quad area == authalic-sphere area") {
    // LAEA on the ellipsoid preserves area exactly; the ellipsoidal area of a
    // lon/lat box is (a^2/2) * dlam * (q(lat2) - q(lat1)) in closed form
    // (Snyder's q). Shoelace the projected quad (small boxes, so edge
    // curvature is negligible at the asserted tolerance).
    val ell = Proj.Grs80
    for ((lat, lon) <- Seq((40.0, 5.0), (55.0, 20.0), (65.0, 30.0), (48.0, -8.0))) {
      val d = 0.02
      val corners = Seq((lon, lat), (lon + d, lat), (lon + d, lat + d), (lon, lat + d))
        .map { case (lo, la) => Proj.fromLonLat(3035, lo, la) }
      var area = 0.0
      (0 until 4).foreach { i =>
        val (x1, y1) = corners(i); val (x2, y2) = corners((i + 1) % 4)
        area += x1 * y2 - x2 * y1
      }
      area = math.abs(area) / 2
      val exact = ell.a * ell.a / 2 * math.toRadians(d) *
        (Proj.authalicQ(ell, math.sin(math.toRadians(lat + d))) -
          Proj.authalicQ(ell, math.sin(math.toRadians(lat))))
      assert(math.abs(area / exact - 1) < 2e-5, s"area ratio ${area / exact} at $lat")
    }
  }

  test("proj-string: spherical merc on R=6378137 equals the EPSG:3857 kernel") {
    val spec = ProjString.parse("+proj=merc +R=6378137 +units=m +no_defs")
    for ((lat, lon) <- Seq((48.1, 11.6), (-33.9, 18.4), (0.0, 0.0), (70.0, -150.0))) {
      val (x1, y1) = ProjString.fromLonLat(spec, lon, lat)
      val (x2, y2) = Proj.fromLonLat(3857, lon, lat)
      assert(math.abs(x1 - x2) < 1e-6 && math.abs(y1 - y2) < 1e-6,
        s"merc sphere mismatch at ($lat,$lon): ($x1,$y1) vs ($x2,$y2)")
    }
  }

  test("proj-string: ellipsoidal merc round trips; point scale is k0*sqrt(1-e2 s2)/cos(phi)") {
    val spec = ProjString.parse("+proj=merc +ellps=WGS84")
    val rnd = new scala.util.Random(31)
    (0 until 200).foreach { _ =>
      val lat = rnd.nextDouble() * 160 - 80
      val lon = rnd.nextDouble() * 360 - 180
      val (x, y) = ProjString.fromLonLat(spec, lon, lat)
      val (lon2, lat2) = ProjString.toLonLat(spec, x, y)
      assert(math.abs(lat2 - lat) < 1e-9 && math.abs(lon2 - lon) < 1e-9)
    }
    // local scale along a parallel vs the Karney geodesic
    for (lat <- Seq(0.0, 30.0, 60.0)) {
      val dLon = 0.01
      val (x1, _) = ProjString.fromLonLat(spec, 10.0, lat)
      val (x2, _) = ProjString.fromLonLat(spec, 10.0 + dLon, lat)
      val ground = Geodesic.geodesic(lat, 10.0, lat, 10.0 + dLon)
      val s = math.sin(math.toRadians(lat))
      val expect = math.sqrt(1 - Proj.Wgs84.e2 * s * s) / math.cos(math.toRadians(lat))
      assert(math.abs((x2 - x1) / ground / expect - 1) < 1e-6,
        s"merc scale at lat=$lat: ${(x2 - x1) / ground} vs $expect")
    }
  }

  test("proj-string: tmerc with lat_0 shifts northing by the rectifying northing") {
    val withLat0 = ProjString.parse("+proj=tmerc +lat_0=12.5 +lon_0=33 +k=0.9999 +ellps=GRS80")
    val noLat0 = ProjString.parse("+proj=tmerc +lat_0=0 +lon_0=33 +k=0.9999 +ellps=GRS80")
    // the origin itself maps to (x_0, y_0)
    val (ox, oy) = ProjString.fromLonLat(withLat0, 33.0, 12.5)
    assert(math.abs(ox) < 1e-9 && math.abs(oy) < 1e-9)
    // constant offset between the two, equal to northing(lat_0) in the
    // unshifted system; and exact round trip
    val (_, y0) = ProjString.fromLonLat(noLat0, 33.0, 12.5)
    for ((lat, lon) <- Seq((10.0, 31.0), (40.0, 35.5), (-5.0, 33.0))) {
      val (xa, ya) = ProjString.fromLonLat(withLat0, lon, lat)
      val (xb, yb) = ProjString.fromLonLat(noLat0, lon, lat)
      assert(math.abs(xa - xb) < 1e-9 && math.abs((yb - ya) - y0) < 1e-6)
      val (lon2, lat2) = ProjString.toLonLat(withLat0, xa, ya)
      assert(math.abs(lon2 - lon) < 1e-9 && math.abs(lat2 - lat) < 1e-9)
    }
  }

  test("proj-string: laea params reproduce EPSG:3035; EPSG authority form works") {
    val spec = ProjString.parse(
      "+proj=laea +lat_0=52 +lon_0=10 +x_0=4321000 +y_0=3210000 +ellps=GRS80 +units=m +no_defs")
    val (x, y) = ProjString.fromLonLat(spec, 5.0, 50.0)
    val (xc, yc) = Proj.fromLonLat(3035, 5.0, 50.0)
    assert(x == xc && y == yc, s"laea params ($x,$y) vs code ($xc,$yc)")
    val epsg = ProjString.parse("EPSG:3857")
    assert(ProjString.fromLonLat(epsg, 11.6, 48.1) == Proj.fromLonLat(3857, 11.6, 48.1))
  }

  test("proj-string: unknown parameters, projections, and datum shifts throw") {
    intercept[IllegalArgumentException](ProjString.parse("+proj=robin +lon_0=0"))
    intercept[IllegalArgumentException](ProjString.parse("+proj=merc +nadgrids=@null"))
    // +units parses since r5 session 4 (fr_meter output step)
    assert(ProjString.parse("+proj=merc +units=ft").toMeter == 0.3048)
    // +towgs84 parses since r5 session 3 (Helmert shift support)
    assert(ProjString.parse(
      "+proj=merc +ellps=WGS84 +towgs84=598.1,73.7,418.2").helmert.isDefined)
    // polar-aspect laea parses since r5 (it used to be a documented refusal)
    assert(ProjString.parse("+proj=laea +lat_0=90 +ellps=WGS84").proj == "laea")
    // EPSG:2154 (Lambert-93) parses since r5 session 2 (LCC landed)
    assert(ProjString.parse("EPSG:2154") == ProjString.parse("+proj=lcc +lat_0=46.5 " +
      "+lon_0=3 +lat_1=44 +lat_2=49 +x_0=700000 +y_0=6600000 +ellps=GRS80"))
    intercept[IllegalArgumentException](ProjString.parse("EPSG:2056"))
    // the zero shift every exported WGS84 string carries is accepted
    assert(ProjString.parse("+proj=merc +ellps=WGS84 +towgs84=0,0,0").proj == "merc")
  }

  test("PROJJSON: UTM 32N conversion equals the EPSG code path bit-for-bit") {
    // the reference Python wrapper serializes pyproj CRS objects to PROJJSON
    // and hands the string down (geoseries.py:257-261)
    val pj = """{"type":"ProjectedCRS","name":"WGS 84 / UTM zone 32N",
      "base_crs":{"type":"GeographicCRS","name":"WGS 84",
        "datum":{"type":"GeodeticReferenceFrame","name":"World Geodetic System 1984",
          "ellipsoid":{"name":"WGS 84","semi_major_axis":6378137,"inverse_flattening":298.257223563}}},
      "conversion":{"name":"UTM zone 32N",
        "method":{"name":"Transverse Mercator","id":{"authority":"EPSG","code":9807}},
        "parameters":[
          {"name":"Latitude of natural origin","value":0,"unit":"degree"},
          {"name":"Longitude of natural origin","value":9,"unit":"degree"},
          {"name":"Scale factor at natural origin","value":0.9996,"unit":"unity"},
          {"name":"False easting","value":500000,"unit":"metre"},
          {"name":"False northing","value":0,"unit":"metre"}]},
      "id":{"authority":"EPSG","code":32632}}"""
    val spec = ProjString.parse(pj)
    for ((lon, lat) <- Seq((11.6, 48.1), (6.2, 51.0), (9.0, 0.5), (12.0, -20.0))) {
      assert(ProjString.fromLonLat(spec, lon, lat) == Proj.fromLonLat(32632, lon, lat))
      val (x, y) = ProjString.fromLonLat(spec, lon, lat)
      assert(ProjString.toLonLat(spec, x, y) == Proj.toLonLat(32632, x, y))
    }
  }

  test("PROJJSON: method-by-name, datum_ensemble, LAEA, geographic, and errors") {
    // LAEA by method NAME only (no id), ellipsoid via datum_ensemble — the
    // shape recent pyproj emits for EPSG:3035's ETRS89 ensemble base
    val laea = """{"type":"ProjectedCRS","name":"ETRS89-extended / LAEA Europe",
      "base_crs":{"type":"GeographicCRS","name":"ETRS89",
        "datum_ensemble":{"name":"European Terrestrial Reference System 1989 ensemble",
          "ellipsoid":{"name":"GRS 1980","semi_major_axis":6378137,"inverse_flattening":298.257222101}}},
      "conversion":{"name":"Europe Equal Area 2001",
        "method":{"name":"Lambert Azimuthal Equal Area"},
        "parameters":[
          {"name":"Latitude of natural origin","value":52,"unit":"degree"},
          {"name":"Longitude of natural origin","value":10,"unit":"degree"},
          {"name":"False easting","value":4321000,"unit":"metre"},
          {"name":"False northing","value":3210000,"unit":"metre"}]}}"""
    val spec = ProjString.parse(laea)
    assert(ProjString.fromLonLat(spec, 5.0, 50.0) == Proj.fromLonLat(3035, 5.0, 50.0))

    val geo = """{"type":"GeographicCRS","name":"WGS 84",
      "datum":{"type":"GeodeticReferenceFrame","name":"World Geodetic System 1984",
        "ellipsoid":{"name":"WGS 84","semi_major_axis":6378137,"inverse_flattening":298.257223563}}}"""
    assert(ProjString.fromLonLat(ProjString.parse(geo), 7.5, -33.25) == ((7.5, -33.25)))

    // unsupported method, unknown parameter, bad unit, malformed JSON: throw
    intercept[IllegalArgumentException](ProjString.parse(
      """{"type":"ProjectedCRS","base_crs":{"type":"GeographicCRS",
        "datum":{"ellipsoid":{"semi_major_axis":6378137,"inverse_flattening":298.3}}},
        "conversion":{"method":{"name":"Robinson"},"parameters":[]}}"""))
    intercept[IllegalArgumentException](ProjString.parse(
      """{"type":"ProjectedCRS","base_crs":{"type":"GeographicCRS",
        "datum":{"ellipsoid":{"semi_major_axis":6378137,"inverse_flattening":298.3}}},
        "conversion":{"method":{"name":"Transverse Mercator"},
        "parameters":[{"name":"Latitude of 1st standard parallel","value":10,"unit":"degree"}]}}"""))
    intercept[IllegalArgumentException](ProjString.parse(
      """{"type":"ProjectedCRS","base_crs":{"type":"GeographicCRS",
        "datum":{"ellipsoid":{"semi_major_axis":6378137,"inverse_flattening":298.3}}},
        "conversion":{"method":{"name":"Transverse Mercator"},
        "parameters":[{"name":"False easting","value":500,"unit":"foot"}]}}"""))
    intercept[IllegalArgumentException](ProjString.parse("""{"type":"ProjectedCRS","""))
    intercept[IllegalArgumentException](ProjString.parse("""{"type":"CompoundCRS"}"""))
  }

  test("ProjOptions: named-CRS registry resolves aliases (to_crs_with_options)") {
    val opts = ProjOptions(Map(
      "TEST:UTM32" -> "+proj=tmerc +lat_0=0 +lon_0=9 +k=0.9996 +x_0=500000 +y_0=0 +ellps=WGS84",
      "TEST:WGS" -> "EPSG:4326",
      "LOOP:A" -> "LOOP:B", "LOOP:B" -> "EPSG:4326"))
    val spec = ProjString.parse(opts.resolve("TEST:UTM32"))
    assert(ProjString.fromLonLat(spec, 11.6, 48.1) == Proj.fromLonLat(32632, 11.6, 48.1))
    assert(opts.resolve("EPSG:3857") == "EPSG:3857") // unknown names pass through
    intercept[IllegalArgumentException](opts.resolve("LOOP:A")) // alias->alias rejected
    // Spark surface: the options overload must equal the plain EPSG path
    import org.apache.spark.sql.functions._
    import graft.functions.st
    val spark = SparkSpec.spark
    val df = spark.range(1).select(
      st.st_transform(st.st_point(lit(11.6), lit(48.1)), "TEST:WGS", "TEST:UTM32", opts)
        .as("a"),
      st.st_transform(st.st_point(lit(11.6), lit(48.1)), lit(4326), lit(32632)).as("b"))
    val r = df.select(st.st_x(col("a")) === st.st_x(col("b")) &&
      st.st_y(col("a")) === st.st_y(col("b"))).head()
    assert(r.getBoolean(0))
  }

  test("PROJJSON fuzz: truncations/mutations fail cleanly, never hang or crash") {
    val valid = """{"type":"ProjectedCRS","base_crs":{"type":"GeographicCRS",
      "datum":{"ellipsoid":{"semi_major_axis":6378137,"inverse_flattening":298.257223563}}},
      "conversion":{"method":{"name":"Transverse Mercator"},
      "parameters":[{"name":"Longitude of natural origin","value":9,"unit":"degree"}]}}"""
    val rnd = new scala.util.Random(2026)
    for (_ <- 0 until 300) {
      val s = rnd.nextInt(3) match {
        case 0 => valid.substring(0, rnd.nextInt(valid.length + 1))
        case 1 =>
          val b = valid.toCharArray
          (0 until 1 + rnd.nextInt(5)).foreach { _ =>
            b(rnd.nextInt(b.length)) = (32 + rnd.nextInt(95)).toChar
          }
          new String(b)
        case _ => "{" + Array.fill(rnd.nextInt(80))((32 + rnd.nextInt(95)).toChar).mkString
      }
      // contract: a parse either succeeds or throws IllegalArgumentException
      try ProjString.parse(s)
      catch {
        case _: IllegalArgumentException => // expected for malformed input
      }
    }
  }

  test("polar-aspect LAEA: Snyder's published sample, spherical closed form, " +
    "south aspect, roundtrips (r5)") {
    import graft.geom.Proj
    // Snyder 1987 Appendix A, ellipsoidal polar LAEA numerical example:
    // International 1924 (a=6378388, 1/f=297), north polar, lon_0=-100,
    // point (80N, 5E) -> x=1077459.7, y=288704.5
    val intl = Proj.Ellipsoid(6378388.0, 1.0 / 297.0)
    val (x, y) = Proj.laeaForward(intl, 5.0, 80.0, 90.0, -100.0, 0, 0)
    assert(math.abs(x - 1077459.7) < 0.1, s"x=$x")
    assert(math.abs(y - 288704.5) < 0.1, s"y=$y")
    val (lon, lat) = Proj.laeaInverse(intl, x, y, 90.0, -100.0, 0, 0)
    assert(math.abs(lon - 5.0) < 1e-9 && math.abs(lat - 80.0) < 1e-9)
    // spherical limit: rho must equal the closed form 2R sin((90-phi)/2)
    val sph = Proj.Ellipsoid(6371000.0, 0.0)
    for (phi <- Seq(-30.0, 0.0, 40.0, 70.0, 89.0, 90.0); lam <- Seq(-120.0, 15.0)) {
      val (xs, ys) = Proj.laeaForward(sph, lam, phi, 90.0, 0.0, 0, 0)
      val closed = 2 * 6371000.0 * math.sin(math.toRadians(90 - phi) / 2)
      assert(math.abs(math.hypot(xs, ys) - closed) < 1e-6, s"phi=$phi")
    }
    // south aspect roundtrip + the pole maps to the origin
    val (xw, yw) = Proj.laeaForward(Proj.Wgs84, 40.0, -75.0, -90.0, 30.0, 10000, 20000)
    val (lo2, la2) = Proj.laeaInverse(Proj.Wgs84, xw, yw, -90.0, 30.0, 10000, 20000)
    assert(math.abs(lo2 - 40.0) < 1e-9 && math.abs(la2 - (-75.0)) < 1e-9)
    val (xp, yp) = Proj.laeaForward(Proj.Wgs84, 123.0, -90.0, -90.0, 30.0, 0, 0)
    assert(math.hypot(xp, yp) < 1e-6)
    // equal-area property on the ellipsoid: projected quad area equals the
    // ellipsoidal authalic-sphere quad area (the projection's defining
    // invariant; catches any D-factor/scaling mistake)
    val ell = Proj.Wgs84
    val qp = Proj.authalicQ(ell, 1.0)
    def quadArea(lat1: Double, lat2: Double, lon1: Double, lon2: Double): Double = {
      // exact ellipsoid area between parallels/meridians: a^2/2 * dlam * (q2-q1)
      val q1 = Proj.authalicQ(ell, math.sin(math.toRadians(lat1)))
      val q2 = Proj.authalicQ(ell, math.sin(math.toRadians(lat2)))
      ell.a * ell.a / 2 * math.toRadians(lon2 - lon1) * (q2 - q1)
    }
    def shoelace(pts: Seq[(Double, Double)]): Double = {
      val c = pts :+ pts.head
      math.abs(c.sliding(2).map { case Seq((x1, y1), (x2, y2)) => x1 * y2 - x2 * y1 }.sum / 2)
    }
    // small quad at 75N: project a dense boundary polygon, compare areas
    val (la1, lb1, lo1, lo2b) = (75.0, 75.5, 20.0, 21.0)
    val n = 50
    val boundary =
      (0 to n).map(i => (lo1 + (lo2b - lo1) * i / n, la1)) ++
      (0 to n).map(i => (lo2b, la1 + (lb1 - la1) * i / n)) ++
      (0 to n).map(i => (lo2b - (lo2b - lo1) * i / n, lb1)) ++
      (0 to n).map(i => (lo1, lb1 - (lb1 - la1) * i / n))
    val projd = boundary.map { case (lo, la) => Proj.laeaForward(ell, lo, la, 90.0, 0.0, 0, 0) }
    val aProj = shoelace(projd)
    val aTrue = quadArea(la1, lb1, lo1, lo2b)
    assert(math.abs(aProj / aTrue - 1) < 1e-6, s"area ratio ${aProj / aTrue}")
    // proj-string polar LAEA no longer fails (r4 restriction removed)
    val spec = graft.geom.ProjString.parse(
      "+proj=laea +lat_0=90 +lon_0=10 +x_0=0 +y_0=0 +ellps=WGS84 +units=m +no_defs")
    val (gx, gy) = graft.geom.ProjString.fromLonLat(spec, 15.0, 60.0)
    val (glon, glat) = graft.geom.ProjString.toLonLat(spec, gx, gy)
    assert(math.abs(glon - 15.0) < 1e-9 && math.abs(glat - 60.0) < 1e-9)
  }

  test("transform dispatch: 3857 <-> UTM via the lon/lat hub; bad srid throws") {
    val (mx, my) = Proj.fromLonLat(3857, 11.6, 48.1)
    val (lon, lat) = Proj.toLonLat(3857, mx, my)
    assert(math.abs(lon - 11.6) < 1e-12 && math.abs(lat - 48.1) < 1e-12)
    assert(Proj.utmSrid(48.1, 11.6) == 32632)
    assert(Proj.utmSrid(-33.9, 18.4) == 32734)
    intercept[IllegalArgumentException](Proj.toLonLat(2056, 0, 0))
  }

  test("polar stereographic: Snyder's published sample, EPSG:3413/3031 " +
    "roundtrips, spherical limit, proj-string + PROJJSON (r5)") {
    import graft.geom.{Proj, ProjString}
    // Snyder 1987 Appendix A, ellipsoidal Polar Stereographic example:
    // International 1924, variant B with standard parallel -71 (south),
    // lon_0=-100; point (75S, 150E) -> x=-1540033.6, y=-560526.4,
    // rho=1638869.5, k0(ts=-71)=0.9727690
    val intl = Proj.Ellipsoid(6378388.0, 1.0 / 297.0)
    val k0 = Proj.stereK0FromTs(intl, -71.0)
    assert(math.abs(k0 - 0.972769054) < 1e-8, s"k0=$k0")
    val (x, y) = Proj.stereForward(intl, 150.0, -75.0, -90.0, -100.0, k0, 0, 0)
    assert(math.abs(x - -1540033.6) < 0.1, s"x=$x")
    assert(math.abs(y - -560526.4) < 0.1, s"y=$y")
    val (lon, lat) = Proj.stereInverse(intl, x, y, -90.0, -100.0, k0, 0, 0)
    assert(math.abs(lon - 150.0) < 1e-9 && math.abs(lat - -75.0) < 1e-9, s"$lon $lat")

    // EPSG:3413 (NSIDC north, lat_ts=70, lon_0=-45): the central meridian
    // maps to x=0 / y<0, and the whole Arctic roundtrips to sub-nm degrees
    val (x0m, y0m) = Proj.fromLonLat(3413, -45.0, 70.0)
    assert(math.abs(x0m) < 1e-6 && y0m < 0, s"$x0m $y0m")
    for (la <- Seq(35.0, 60.0, 80.0, 89.9, 90.0); lo <- Seq(-170.0, -45.0, 0.0, 133.0)) {
      val (px, py) = Proj.fromLonLat(3413, lo, la)
      val (lo2, la2) = Proj.toLonLat(3413, px, py)
      assert(math.abs(la2 - la) < 1e-9, s"lat $la -> $la2")
      if (la < 90.0) assert(math.abs(lo2 - lo) < 1e-9, s"lon $lo -> $lo2")
    }
    for (la <- Seq(-50.0, -71.0, -88.0); lo <- Seq(-120.0, 0.0, 77.0)) {
      val (px, py) = Proj.fromLonLat(3031, lo, la)
      val (lo2, la2) = Proj.toLonLat(3031, px, py)
      assert(math.abs(la2 - la) < 1e-9 && math.abs(lo2 - lo) < 1e-9, s"$lo $la")
    }
    // at the standard parallel the local scale is 1: rho equals the
    // parallel radius a*m(70)/... check via the defining identity
    // rho(ts) = a * m(ts) (variant B's construction)
    val rho70 = {
      val (px, py) = Proj.fromLonLat(3413, 0.0, 70.0)
      math.hypot(px, py)
    }
    val m70 = {
      val s = math.sin(math.toRadians(70)); val e2 = Proj.Wgs84.e2
      math.cos(math.toRadians(70)) / math.sqrt(1 - e2 * s * s)
    }
    assert(math.abs(rho70 - Proj.Wgs84.a * m70) < 1e-6)

    // spherical limit: rho = 2 R k0 tan((90-phi)/2)
    val sph = Proj.Ellipsoid(6371000.0, 0.0)
    for (phi <- Seq(0.0, 30.0, 60.0, 89.0, 90.0)) {
      val (xs, ys) = Proj.stereForward(sph, 25.0, phi, 90.0, 0.0, 0.994, 0, 0)
      val closed = 2 * 6371000.0 * 0.994 * math.tan(math.toRadians(90 - phi) / 2)
      assert(math.abs(math.hypot(xs, ys) - closed) < 1e-6, s"phi=$phi")
    }

    // proj-string: EPSG:3413's definition; lat_ts folds into k0 at parse
    val spec = ProjString.parse(
      "+proj=stere +lat_0=90 +lat_ts=70 +lon_0=-45 +x_0=0 +y_0=0 " +
        "+datum=WGS84 +units=m +no_defs")
    val (sx, sy) = ProjString.fromLonLat(spec, 133.0, 80.0)
    val (ex, ey) = Proj.fromLonLat(3413, 133.0, 80.0)
    assert(sx == ex && sy == ey, s"($sx,$sy) != ($ex,$ey)")
    val (bl, bb) = ProjString.toLonLat(spec, sx, sy)
    assert(math.abs(bl - 133.0) < 1e-9 && math.abs(bb - 80.0) < 1e-9)
    // oblique aspect and conflicting params fail fast
    intercept[IllegalArgumentException](ProjString.parse("+proj=stere +lat_0=52"))
    intercept[IllegalArgumentException](
      ProjString.parse("+proj=stere +lat_0=90 +lat_ts=70 +k_0=0.994"))
    // (+proj=merc +lat_ts is the 9805 variant-B form — valid since r5,
    // covered by its own test)
    intercept[IllegalArgumentException](
      ProjString.parse("+proj=tmerc +lat_ts=45"))

    // PROJJSON variant B (EPSG 9829 parameter names)
    val pj =
      """{"type":"ProjectedCRS","name":"NSIDC-ish",
        |"base_crs":{"type":"GeographicCRS","datum":{"ellipsoid":
        |  {"semi_major_axis":6378137,"inverse_flattening":298.257223563}}},
        |"conversion":{"method":{"name":"Polar Stereographic (variant B)",
        |  "id":{"authority":"EPSG","code":9829}},
        | "parameters":[
        |  {"name":"Latitude of standard parallel","value":70,"unit":"degree"},
        |  {"name":"Longitude of origin","value":-45,"unit":"degree"},
        |  {"name":"False easting","value":0,"unit":"metre"},
        |  {"name":"False northing","value":0,"unit":"metre"}]}}""".stripMargin
    val specJ = ProjString.parse(pj)
    val (jx, jy) = ProjString.fromLonLat(specJ, 133.0, 80.0)
    assert(jx == ex && jy == ey, s"PROJJSON ($jx,$jy) != EPSG ($ex,$ey)")
  }

  test("oblique (double) stereographic: EPSG GN7-2's published RD New sample, " +
    "EPSG:28992 roundtrips, proj-string sterea (r5)") {
    import graft.geom.{Proj, ProjString}
    // EPSG Guidance Note 7-2, Oblique Stereographic (method 9809) worked
    // example — Amersfoort / RD New on Bessel 1841: natural origin
    // 52°09'22.178"N 5°23'15.500"E, k0=0.9999079, FE=155000, FN=463000;
    // input 53°N 6°E -> E 196105.283, N 557057.739
    val lat0 = 52.0 + 9.0 / 60 + 22.178 / 3600
    val lon0 = 5.0 + 23.0 / 60 + 15.500 / 3600
    val (e1, n1) = Proj.stereaForward(Proj.Bessel, 6.0, 53.0, lat0, lon0,
      0.9999079, 155000.0, 463000.0)
    assert(math.abs(e1 - 196105.283) < 0.001, s"E=$e1")
    assert(math.abs(n1 - 557057.739) < 0.001, s"N=$n1")
    val (lo1, la1) = Proj.stereaInverse(Proj.Bessel, e1, n1, lat0, lon0,
      0.9999079, 155000.0, 463000.0)
    assert(math.abs(lo1 - 6.0) < 1e-9 && math.abs(la1 - 53.0) < 1e-9, s"$lo1 $la1")

    // EPSG:28992 integer-code path over the Dutch window
    for (la <- Seq(50.8, 52.2, 53.4); lo <- Seq(3.5, 5.4, 7.1)) {
      val (px, py) = Proj.fromLonLat(28992, lo, la)
      val (lo2, la2) = Proj.toLonLat(28992, px, py)
      assert(math.abs(lo2 - lo) < 1e-9 && math.abs(la2 - la) < 1e-9, s"$lo $la")
    }
    // origin maps to the false origin; scale at origin is k0 (conformal)
    val (ox, oy) = Proj.fromLonLat(28992, lon0, lat0)
    assert(math.abs(ox - 155000.0) < 1e-6 && math.abs(oy - 463000.0) < 1e-6)

    // +proj=sterea bit-equals the EPSG-code path (shortest-repr params
    // parse back to the identical doubles)
    val spec = ProjString.parse(
      s"+proj=sterea +lat_0=$lat0 +lon_0=$lon0 " +
        "+k_0=0.9999079 +x_0=155000 +y_0=463000 +ellps=bessel +units=m +no_defs")
    val (sx, sy) = ProjString.fromLonLat(spec, 5.9, 52.5)
    val (ex2, ey2) = Proj.fromLonLat(28992, 5.9, 52.5)
    assert(sx == ex2 && sy == ey2, s"($sx,$sy) != ($ex2,$ey2)")
    val (bl, bb) = ProjString.toLonLat(spec, sx, sy)
    assert(math.abs(bl - 5.9) < 1e-9 && math.abs(bb - 52.5) < 1e-9)
  }

  test("Lambert Conformal Conic 2SP: Snyder's published sample, Lambert-93 " +
    "(EPSG:2154), proj-string + PROJJSON (r5)") {
    import graft.geom.{Proj, ProjString}
    // Snyder 1987 Appendix A, ellipsoidal LCC example — Clarke 1866,
    // standard parallels 33/45, false origin (23N, 96W); point (35N, 75W)
    // -> x = 1,894,410.9, y = 1,564,649.5
    val clarke = Proj.Ellipsoid(6378206.4, (6378206.4 - 6356583.8) / 6378206.4)
    val (x, y) = Proj.lccForward(clarke, -75.0, 35.0, 23.0, -96.0, 33.0, 45.0, 0, 0)
    assert(math.abs(x - 1894410.9) < 0.1, s"x=$x")
    assert(math.abs(y - 1564649.5) < 0.1, s"y=$y")
    val (lo, la) = Proj.lccInverse(clarke, x, y, 23.0, -96.0, 33.0, 45.0, 0, 0)
    assert(math.abs(lo - -75.0) < 1e-9 && math.abs(la - 35.0) < 1e-9, s"$lo $la")

    // EPSG:2154 (RGF93 / Lambert-93): false origin maps to (700000, 6600000);
    // round trips over metropolitan France to sub-nm degrees
    val (ox, oy) = Proj.fromLonLat(2154, 3.0, 46.5)
    assert(math.abs(ox - 700000.0) < 1e-6 && math.abs(oy - 6600000.0) < 1e-6)
    for (la2 <- Seq(41.5, 44.0, 46.5, 49.0, 51.0); lo2 <- Seq(-4.5, 3.0, 8.2)) {
      val (px, py) = Proj.fromLonLat(2154, lo2, la2)
      val (lo3, la3) = Proj.toLonLat(2154, px, py)
      assert(math.abs(lo3 - lo2) < 1e-9 && math.abs(la3 - la2) < 1e-9, s"$lo2 $la2")
    }
    // conformality: local scale is isotropic (E-W vs N-S scale equal) away
    // from the parallels too
    val d = 1e-4
    val (ax, ay) = Proj.fromLonLat(2154, 2.0, 47.0)
    val (bx2, by2) = Proj.fromLonLat(2154, 2.0 + d, 47.0)
    val (cx2, cy2) = Proj.fromLonLat(2154, 2.0, 47.0 + d)
    val sEW = math.hypot(bx2 - ax, by2 - ay) /
      (math.toRadians(d) * math.cos(math.toRadians(47.0)) * 6378137.0)
    val sNS = math.hypot(cx2 - ax, cy2 - ay) / (math.toRadians(d) * 6378137.0)
    assert(math.abs(sEW / sNS - 1) < 1e-2, s"$sEW vs $sNS") // loose: sphere approx

    // +proj=lcc bit-equals the EPSG-code path; PROJJSON 9802 names too
    val spec = ProjString.parse(
      "+proj=lcc +lat_0=46.5 +lon_0=3 +lat_1=44 +lat_2=49 " +
        "+x_0=700000 +y_0=6600000 +ellps=GRS80 +units=m +no_defs")
    val (sx, sy) = ProjString.fromLonLat(spec, 2.35, 48.85)
    val (ex, ey) = Proj.fromLonLat(2154, 2.35, 48.85)
    assert(sx == ex && sy == ey, s"($sx,$sy) != ($ex,$ey)")
    val pj =
      """{"type":"ProjectedCRS","name":"L93-ish",
        |"base_crs":{"type":"GeographicCRS","datum":{"ellipsoid":
        |  {"semi_major_axis":6378137,"inverse_flattening":298.257222101}}},
        |"conversion":{"method":{"name":"Lambert Conic Conformal (2SP)",
        |  "id":{"authority":"EPSG","code":9802}},
        | "parameters":[
        |  {"name":"Latitude of false origin","value":46.5,"unit":"degree"},
        |  {"name":"Longitude of false origin","value":3,"unit":"degree"},
        |  {"name":"Latitude of 1st standard parallel","value":44,"unit":"degree"},
        |  {"name":"Latitude of 2nd standard parallel","value":49,"unit":"degree"},
        |  {"name":"Easting at false origin","value":700000,"unit":"metre"},
        |  {"name":"Northing at false origin","value":6600000,"unit":"metre"}]}}""".stripMargin
    val specJ = ProjString.parse(pj)
    val (jx, jy) = ProjString.fromLonLat(specJ, 2.35, 48.85)
    assert(jx == ex && jy == ey, s"PROJJSON ($jx,$jy) != EPSG ($ex,$ey)")
    // missing parallels fail fast
    intercept[IllegalArgumentException](ProjString.parse("+proj=lcc +lat_0=46.5"))
    intercept[IllegalArgumentException](ProjString.parse("+proj=merc +lat_1=30 +lat_2=40"))
  }

  test("Albers Equal Area: Snyder's published sample, EPSG:5070 roundtrips, " +
    "equal-area property, proj-string aea (r5)") {
    import graft.geom.{Proj, ProjString}
    // Snyder 1987 Appendix A, ellipsoidal Albers example — Clarke 1866,
    // parallels 29.5/45.5, origin (23N, 96W); point (35N, 75W) ->
    // x = 1,885,472.7, y = 1,535,925.0
    val clarke = Proj.Ellipsoid(6378206.4, (6378206.4 - 6356583.8) / 6378206.4)
    val (x, y) = Proj.albersForward(clarke, -75.0, 35.0, 23.0, -96.0, 29.5, 45.5, 0, 0)
    assert(math.abs(x - 1885472.7) < 0.1, s"x=$x")
    assert(math.abs(y - 1535925.0) < 0.1, s"y=$y")
    val (lo, la) = Proj.albersInverse(clarke, x, y, 23.0, -96.0, 29.5, 45.5, 0, 0)
    assert(math.abs(lo - -75.0) < 1e-9 && math.abs(la - 35.0) < 1e-9, s"$lo $la")

    // EPSG:5070 (NAD83 / Conus Albers, GRS80) round trips over CONUS
    for (la2 <- Seq(25.0, 33.0, 40.0, 49.0); lo2 <- Seq(-124.0, -96.0, -67.0)) {
      val (px, py) = Proj.fromLonLat(5070, lo2, la2)
      val (lo3, la3) = Proj.toLonLat(5070, px, py)
      assert(math.abs(lo3 - lo2) < 1e-9 && math.abs(la3 - la2) < 1e-9, s"$lo2 $la2")
    }
    // the projection's defining invariant: projected quad area equals the
    // exact ellipsoidal area (a^2/2 * dlam * (q2-q1)) — same check that
    // pins LAEA; catches any cone-constant mistake
    val ell = Proj.Grs80
    for ((la2, lo2) <- Seq((30.0, -110.0), (40.0, -90.0), (47.0, -75.0))) {
      val d = 0.02
      val corners = Seq((lo2, la2), (lo2 + d, la2), (lo2 + d, la2 + d), (lo2, la2 + d))
        .map { case (o, a2) => Proj.fromLonLat(5070, o, a2) }
      var area = 0.0
      (0 until 4).foreach { i =>
        val (x1, y1) = corners(i); val (x2, y2) = corners((i + 1) % 4)
        area += x1 * y2 - x2 * y1
      }
      area = math.abs(area) / 2
      val exact = ell.a * ell.a / 2 * math.toRadians(d) *
        (Proj.authalicQ(ell, math.sin(math.toRadians(la2 + d))) -
          Proj.authalicQ(ell, math.sin(math.toRadians(la2))))
      assert(math.abs(area / exact - 1) < 2e-5, s"area ratio ${area / exact} at $la2")
    }
    // +proj=aea bit-equals the EPSG-code path
    val spec = ProjString.parse(
      "+proj=aea +lat_0=23 +lon_0=-96 +lat_1=29.5 +lat_2=45.5 " +
        "+x_0=0 +y_0=0 +ellps=GRS80 +units=m +no_defs")
    val (sx, sy) = ProjString.fromLonLat(spec, -100.0, 38.0)
    val (ex, ey) = Proj.fromLonLat(5070, -100.0, 38.0)
    assert(sx == ex && sy == ey, s"($sx,$sy) != ($ex,$ey)")
    val (bl, bb) = ProjString.toLonLat(spec, sx, sy)
    assert(math.abs(bl - -100.0) < 1e-9 && math.abs(bb - 38.0) < 1e-9)
  }

  test("EPSG:27700 British National Grid: OS guide's published sample + roundtrips") {
    import graft.geom.Proj
    // "A guide to coordinate systems in Great Britain" (OS), worked example:
    // 52°39'27.2531"N, 1°43'4.5177"E -> E 651409.903, N 313177.270
    val lat = 52.0 + 39.0 / 60 + 27.2531 / 3600
    val lon = 1.0 + 43.0 / 60 + 4.5177 / 3600
    val (e, n) = Proj.fromLonLat(27700, lon, lat)
    assert(math.abs(e - 651409.903) < 0.001, s"E=$e")
    assert(math.abs(n - 313177.270) < 0.001, s"N=$n")
    // true origin maps to (FE, FN)
    val (ox, oy) = Proj.fromLonLat(27700, -2.0, 49.0)
    assert(math.abs(ox - 400000.0) < 1e-6 && math.abs(oy - -100000.0) < 1e-6)
    for (la <- Seq(50.0, 53.5, 57.0, 60.5); lo <- Seq(-7.0, -2.0, 1.5)) {
      val (px, py) = Proj.fromLonLat(27700, lo, la)
      val (lo2, la2) = Proj.toLonLat(27700, px, py)
      assert(math.abs(lo2 - lo) < 1e-9 && math.abs(la2 - la) < 1e-9, s"$lo $la")
    }
  }

  test("Helmert position vector: IOGP GN 7-2 worked example (EPSG 9606)") {
    import graft.geom.Proj
    // GN 7-2 §4.4.4.2 (WGS72 -> WGS84): tX=0 tY=0 tZ=+4.5 m, rX=rY=0
    // rZ=+0.554", dS=+0.219 ppm; source (3657660.66, 255768.55, 5201382.11)
    // -> target (3657660.78, 255778.43, 5201387.75).
    val asec = math.Pi / (180.0 * 3600.0)
    val h = Proj.Helmert(0.0, 0.0, 4.5, 0.0, 0.0, 0.554 * asec, 0.219e-6)
    val (x, y, z) = h.forward(3657660.66, 255768.55, 5201382.11)
    assert(math.abs(x - 3657660.78) < 0.01, s"X=$x")
    assert(math.abs(y - 255778.43) < 0.01, s"Y=$y")
    assert(math.abs(z - 5201387.75) < 0.01, s"Z=$z")
    // the exact-matrix inverse roundtrips to machine precision
    val (bx, by, bz) = h.inverse(x, y, z)
    assert(math.abs(bx - 3657660.66) < 1e-8)
    assert(math.abs(by - 255768.55) < 1e-8)
    assert(math.abs(bz - 5201382.11) < 1e-8)
  }

  test("geodetic <-> geocentric roundtrips on WGS84, Airy and the sphere") {
    import graft.geom.Proj
    for (ell <- Seq(Proj.Wgs84, Proj.Airy, Proj.Ellipsoid(6371000.0, 0.0));
         la <- Seq(-89.0, -45.5, 0.0, 33.25, 52.1, 89.0);
         lo <- Seq(-179.0, -60.0, 0.0, 91.5, 179.5)) {
      val (x, y, z) = Proj.geodeticToXyz(ell, lo, la)
      val (lo2, la2) = Proj.xyzToGeodetic(ell, x, y, z)
      assert(math.abs(lo2 - lo) < 1e-11 && math.abs(la2 - la) < 1e-11,
        s"$ell $lo $la -> $lo2 $la2")
    }
    // poles: p = 0 branch
    val (_, _, zp) = Proj.geodeticToXyz(Proj.Wgs84, 0.0, 90.0)
    assert(Proj.xyzToGeodetic(Proj.Wgs84, 0.0, 0.0, zp)._2 == 90.0)
  }

  test("+towgs84 parse + transform semantics") {
    import graft.geom.{Proj, ProjString}
    // all-zero shift == no parameter (both 3 and 7 values)
    assert(ProjString.parse("+proj=longlat +ellps=WGS84 +towgs84=0,0,0").helmert.isEmpty)
    assert(ProjString.parse(
      "+proj=longlat +ellps=WGS84 +towgs84=0,0,0,0,0,0,0").helmert.isEmpty)
    // 7 params with zero rotation/scale == 3 params
    val s3 = ProjString.parse("+proj=longlat +ellps=intl +towgs84=-87,-98,-121")
    val s7 = ProjString.parse(
      "+proj=longlat +ellps=intl +towgs84=-87,-98,-121,0,0,0,0")
    assert(ProjString.fromLonLat(s3, 12.3, 45.6) == ProjString.fromLonLat(s7, 12.3, 45.6))
    // wrong arity fails fast
    intercept[IllegalArgumentException](
      ProjString.parse("+proj=longlat +ellps=WGS84 +towgs84=1,2"))

    // a radial shift at (0N,0E) leaves lon/lat unchanged (absorbed in h):
    // WGS84 (0,0) is at XYZ (a,0,0); towgs84=100,0,0 pulls X only
    val rad = ProjString.parse("+proj=longlat +ellps=WGS84 +towgs84=100,0,0")
    val (rl, rb) = ProjString.fromLonLat(rad, 0.0, 0.0)
    assert(math.abs(rl) < 1e-12 && math.abs(rb) < 1e-12, s"($rl,$rb)")
    // a tangential shift at (0,0) moves lon by atan2(-ty, a) exactly
    val tan = ProjString.parse("+proj=longlat +ellps=WGS84 +towgs84=0,100,0")
    val (tl, tb) = ProjString.fromLonLat(tan, 0.0, 0.0)
    val expLon = math.toDegrees(math.atan2(-100.0, 6378137.0))
    assert(math.abs(tl - expLon) < 1e-12 && math.abs(tb) < 1e-12, s"($tl,$tb)")

    // full OSGB36 string (tmerc on Airy + the official 7-param shift):
    // WGS84 hub roundtrips through the datum-shifted grid, and the shift
    // moves the projected point by the ~50-200 m OSGB36<->WGS84 offset
    val osgb = "+proj=tmerc +lat_0=49 +lon_0=-2 +k=0.9996012717 " +
      "+x_0=400000 +y_0=-100000 +ellps=airy " +
      "+towgs84=446.448,-125.157,542.06,0.15,0.247,0.842,-20.489"
    val so = ProjString.parse(osgb)
    // 2D roundtrip tolerance: the ellipsoidal height is dropped on both
    // directions of a datum shift (the 2D contract), so a shifted roundtrip
    // is exact only to ~mm (PROJ behaves identically); 1e-7 deg ~ 1 cm
    for ((lo, la) <- Seq((-0.1278, 51.5074), (-3.2, 55.95), (-5.93, 54.6))) {
      val (e, n) = ProjString.fromLonLat(so, lo, la)
      val (lo2, la2) = ProjString.toLonLat(so, e, n)
      assert(math.abs(lo2 - lo) < 1e-7 && math.abs(la2 - la) < 1e-7, s"$lo $la")
      val (e0, n0) = Proj.fromLonLat(27700, lo, la) // same grid, no shift
      val d = math.hypot(e - e0, n - n0)
      assert(d > 50 && d < 200, s"datum offset $d m at ($lo,$la)")
    }
  }

  test("+units / +to_meter: PROJ fr_meter output semantics") {
    import graft.geom.ProjString
    // us-ft output is EXACTLY the meters output / 0.30480060960121924 —
    // false easting included (PROJ converts the whole coordinate, +x_0 is
    // given in meters): EPSG:2230-style California zone 6 in US survey feet
    val base = "+proj=lcc +lat_1=33.88333333333334 +lat_2=32.78333333333333 " +
      "+lat_0=32.16666666666666 +lon_0=-116.25 +x_0=2000000.0001016 " +
      "+y_0=500000.0001016002 +ellps=GRS80"
    val m = ProjString.parse(base)
    val usft = ProjString.parse(base + " +units=us-ft")
    val usftM = 1200.0 / 3937.0
    for ((lo, la) <- Seq((-117.2, 32.7), (-116.0, 33.5), (-115.5, 32.9))) {
      val (xm, ym) = ProjString.fromLonLat(m, lo, la)
      val (xf, yf) = ProjString.fromLonLat(usft, lo, la)
      assert(math.abs(xf - xm / usftM) < 1e-9 * math.abs(xf), s"x $xf vs ${xm / usftM}")
      assert(math.abs(yf - ym / usftM) < 1e-9 * math.abs(yf) + 1e-9)
      // and the inverse consumes feet
      val (lo2, la2) = ProjString.toLonLat(usft, xf, yf)
      assert(math.abs(lo2 - lo) < 1e-11 && math.abs(la2 - la) < 1e-11)
    }
    // +to_meter with the same factor is identical; a disagreeing pair fails
    // the decimal literal and 1200/3937 differ by at most 1 ulp in the
    // to-meter factor, so compare the projected output to 1 ulp too
    val viaTm = ProjString.parse(base + " +to_meter=0.30480060960121924")
    val (tx, ty) = ProjString.fromLonLat(viaTm, -116.0, 33.5)
    val (ux, uy) = ProjString.fromLonLat(usft, -116.0, 33.5)
    assert(math.abs(tx - ux) <= math.ulp(ux) && math.abs(ty - uy) <= math.ulp(uy))
    intercept[IllegalArgumentException](
      ProjString.parse(base + " +units=us-ft +to_meter=0.3048"))
    // km and international feet
    val km = ProjString.parse("+proj=merc +ellps=WGS84 +units=km")
    val mm0 = ProjString.parse("+proj=merc +ellps=WGS84")
    val (kx, ky) = ProjString.fromLonLat(km, 10.0, 45.0)
    val (mx0, my0) = ProjString.fromLonLat(mm0, 10.0, 45.0)
    assert(math.abs(kx - mx0 / 1000.0) < 1e-12 * math.abs(mx0))
    assert(math.abs(ky - my0 / 1000.0) < 1e-12 * math.abs(my0))
    assert(math.abs(ProjString.parse("+proj=merc +ellps=WGS84 +units=ft")
      .toMeter - 0.3048) == 0.0)
    // degrees have no linear unit
    intercept[IllegalArgumentException](
      ProjString.parse("+proj=longlat +ellps=WGS84 +units=ft"))
    intercept[IllegalArgumentException](
      ProjString.parse("+proj=merc +ellps=WGS84 +units=parsec"))
    intercept[IllegalArgumentException](
      ProjString.parse("+proj=merc +ellps=WGS84 +to_meter=-1"))
  }

  test("+datum shorthands expand to PROJ's ellipsoid + towgs84 tuples") {
    import graft.geom.ProjString
    // +datum=OSGB36 is point-for-point the explicit airy + official 7-tuple
    val short = ProjString.parse("+proj=tmerc +lat_0=49 +lon_0=-2 " +
      "+k=0.9996012717 +x_0=400000 +y_0=-100000 +datum=OSGB36")
    val long = ProjString.parse("+proj=tmerc +lat_0=49 +lon_0=-2 " +
      "+k=0.9996012717 +x_0=400000 +y_0=-100000 +ellps=airy " +
      "+towgs84=446.448,-125.157,542.060,0.1502,0.2470,0.8421,-20.4894")
    for ((lo, la) <- Seq((-0.1278, 51.5074), (-3.2, 55.95)))
      assert(ProjString.fromLonLat(short, lo, la) ==
        ProjString.fromLonLat(long, lo, la))
    // NAD83 == GRS80 with a zero shift (WGS84-equivalent hub)
    val nad83 = ProjString.parse("+proj=merc +datum=NAD83")
    assert(nad83.helmert.isEmpty && nad83.ell == graft.geom.Proj.Grs80)
    // WGS84 stays the no-op it always was
    assert(ProjString.parse("+proj=longlat +datum=WGS84").helmert.isEmpty)
    // the new ellipsoids resolve (ire65 -> mod_airy, carthage -> clrk80ign)
    assert(ProjString.parse("+proj=merc +datum=ire65").ell.a == 6377340.189)
    assert(ProjString.parse("+proj=merc +datum=carthage").ell.a == 6378249.2)
    assert(ProjString.parse("+proj=merc +ellps=clrk66").ell.a == 6378206.4)
    // grid-shift datum and contradictions fail fast
    intercept[IllegalArgumentException](
      ProjString.parse("+proj=merc +datum=NAD27"))
    intercept[IllegalArgumentException](
      ProjString.parse("+proj=merc +datum=OSGB36 +ellps=WGS84"))
    intercept[IllegalArgumentException](
      ProjString.parse("+proj=merc +datum=OSGB36 +towgs84=1,2,3"))
    intercept[IllegalArgumentException](
      ProjString.parse("+proj=merc +datum=ED50"))
  }

  test("EPSG:2263 / EPSG:2230 state-plane ftUS: pins, parity, roundtrips") {
    import graft.geom.{Proj, ProjString}
    // at the false origin (40°10'N 74°W) the projection yields the false
    // easting/northing EXACTLY (rho == rho0, theta == 0) — 984250 ftUS, 0
    val (ox, oy) = Proj.fromLonLat(2263, -74.0, 40.0 + 10.0 / 60)
    assert(math.abs(ox - 984250.0) < 1e-7 && math.abs(oy) < 1e-7, s"origin ($ox,$oy)")
    // parity: the EPSG code path == the full PROJ string through the new
    // +datum/+units machinery (epsg.io's string for 2263)
    val ps2263 = ProjString.parse("+proj=lcc +lat_1=41.03333333333333 " +
      "+lat_2=40.66666666666666 +lat_0=40.16666666666666 +lon_0=-74 " +
      "+x_0=300000.0000000001 +y_0=0 +datum=NAD83 +units=us-ft +no_defs")
    for ((lo, la) <- Seq((-74.006, 40.7128), (-73.77, 40.64), (-74.15, 40.58))) {
      val (xa, ya) = Proj.fromLonLat(2263, lo, la)
      val (xb, yb) = ProjString.fromLonLat(ps2263, lo, la)
      assert(math.abs(xa - xb) < 1e-5 && math.abs(ya - yb) < 1e-5,
        s"2263 parity ($xa,$ya) vs ($xb,$yb)")
      val (lo2, la2) = Proj.toLonLat(2263, xa, ya)
      assert(math.abs(lo2 - lo) < 1e-11 && math.abs(la2 - la) < 1e-11)
      // NYC sits mid-range of the zone: x within the nybb ftUS envelope
      assert(xa > 900000 && xa < 1100000 && ya > 100000 && ya < 300000)
    }
    // scale factor is exactly 1 on a standard parallel: a short east-west
    // step projects to (arc length along the parallel) to first order
    val phi1 = math.toRadians(40.0 + 40.0 / 60)
    val m1 = math.cos(phi1) / math.sqrt(1 - Proj.Grs80.e2 * math.sin(phi1) * math.sin(phi1))
    val dLon = 1e-3
    val (x1, y1) = Proj.fromLonLat(2263, -74.0, 40.0 + 40.0 / 60)
    val (x2, y2) = Proj.fromLonLat(2263, -74.0 + dLon, 40.0 + 40.0 / 60)
    val usftM = 1200.0 / 3937.0
    val chordM = math.hypot(x2 - x1, y2 - y1) * usftM
    val arcM = Proj.Grs80.a * m1 * math.toRadians(dLon)
    assert(math.abs(chordM / arcM - 1.0) < 1e-8, s"k on lat_1: ${chordM / arcM}")
    // EPSG:2230 (CA zone 6 ftUS) == the meters-string from the units test
    // divided by the ftUS factor, and roundtrips
    val ca = ProjString.parse("+proj=lcc +lat_1=33.88333333333334 " +
      "+lat_2=32.78333333333333 +lat_0=32.16666666666666 +lon_0=-116.25 " +
      "+x_0=2000000.0001016 +y_0=500000.0001016002 +ellps=GRS80 +units=us-ft")
    for ((lo, la) <- Seq((-117.2, 32.7), (-116.0, 33.5))) {
      val (xa, ya) = Proj.fromLonLat(2230, lo, la)
      val (xb, yb) = ProjString.fromLonLat(ca, lo, la)
      assert(math.abs(xa - xb) < 1e-5 && math.abs(ya - yb) < 1e-5)
      val (lo2, la2) = Proj.toLonLat(2230, xa, ya)
      assert(math.abs(lo2 - lo) < 1e-11 && math.abs(la2 - la) < 1e-11)
    }
  }

  test("+proj=utm shorthand: equals the EPSG 326xx/327xx code path") {
    import graft.geom.{Proj, ProjString}
    // north: zone 33 == EPSG:32633 bit-for-bit (same kernels, same params)
    val z33 = ProjString.parse("+proj=utm +zone=33 +ellps=WGS84")
    for ((lo, la) <- Seq((15.0, 52.0), (13.4, 48.1), (17.9, 59.3)))
      assert(ProjString.fromLonLat(z33, lo, la) == Proj.fromLonLat(32633, lo, la))
    // south: +south flips the false northing; zone 19 south == EPSG:32719
    val z19s = ProjString.parse("+proj=utm +zone=19 +south +ellps=WGS84")
    for ((lo, la) <- Seq((-70.6, -33.4), (-68.0, -20.0)))
      assert(ProjString.fromLonLat(z19s, lo, la) == Proj.fromLonLat(32719, lo, la))
    // inverse consumes the same coordinates
    val (x, y) = ProjString.fromLonLat(z33, 15.0, 52.0)
    val (lo2, la2) = ProjString.toLonLat(z33, x, y)
    assert(math.abs(lo2 - 15.0) < 1e-11 && math.abs(la2 - 52.0) < 1e-11)
    // no +ellps defaults to WGS84 (same as the EPSG codes); +datum=NAD83
    // composes (GRS80, zero shift) — the standard NAD83 UTM string
    assert(ProjString.fromLonLat(ProjString.parse("+proj=utm +zone=33"), 15.0, 52.0)
      == Proj.fromLonLat(32633, 15.0, 52.0))
    val nad83 = ProjString.parse("+proj=utm +zone=17 +datum=NAD83 +units=m +no_defs")
    assert(nad83.proj == "tmerc" && nad83.ell == Proj.Grs80 && nad83.helmert.isEmpty)
    // errors: missing/bad zone, overriding a hardwired param, orphan +south
    intercept[IllegalArgumentException](ProjString.parse("+proj=utm"))
    intercept[IllegalArgumentException](ProjString.parse("+proj=utm +zone=61"))
    intercept[IllegalArgumentException](ProjString.parse("+proj=utm +zone=0"))
    intercept[IllegalArgumentException](ProjString.parse("+proj=utm +zone=x"))
    intercept[IllegalArgumentException](
      ProjString.parse("+proj=utm +zone=33 +lon_0=9"))
    intercept[IllegalArgumentException](ProjString.parse("+proj=merc +south"))
  }

  test("OGC:CRS84 and URN spellings resolve as CRS names") {
    import graft.geom.ProjString
    for (name <- Seq("CRS84", "OGC:CRS84", "urn:ogc:def:crs:OGC:1.3:CRS84")) {
      val spec = ProjString.parse(name)
      assert(spec.proj == "longlat" && spec.helmert.isEmpty)
      assert(ProjString.fromLonLat(spec, 12.5, -33.25) == ((12.5, -33.25)))
    }
    // urn EPSG form resolves through the EPSG registry
    val urn = ProjString.parse("urn:ogc:def:crs:EPSG::3857")
    assert(urn == ProjString.parse("EPSG:3857"))
    assert(ProjString.fromLonLat(urn, 10.0, 45.0) ==
      graft.geom.Proj.fromLonLat(3857, 10.0, 45.0))
    intercept[IllegalArgumentException](
      ProjString.parse("urn:ogc:def:crs:EPSG::99999"))
  }

  test("EPSG registry: numeric, EPSG:n and URN spellings agree bit for bit on " +
    "every code, all 120 UTM zones included, and round-trip") {
    import org.apache.spark.sql.functions._
    import graft.functions.st
    val spark = SparkSpec.spark
    // one point inside each code's area of use; UTM zones 1 degree east of
    // their central meridian at 30N / 30S
    val named = Seq(4326 -> (10.0, 50.0), 3857 -> (11.6, 48.1), 3035 -> (10.0, 52.0),
      3413 -> (-45.0, 75.0), 3031 -> (0.0, -75.0), 28992 -> (5.4, 52.1),
      2154 -> (3.0, 46.5), 2263 -> (-73.9, 40.7), 2230 -> (-117.0, 33.0),
      5070 -> (-96.0, 38.0), 6933 -> (10.0, 40.0), 4087 -> (10.0, 40.0),
      5514 -> (15.0, 50.0), 27700 -> (-2.0, 53.0))
    val utm = for (z <- 1 to 60; (base, lat) <- Seq(32600 -> 30.0, 32700 -> -30.0))
      yield (base + z) -> ((z * 6.0 - 183.0 + 1.0, lat))
    val points = named ++ utm
    assert(points.size == 134)
    // an unlisted code fails with the registry's own list: exactly these codes
    val msg = intercept[IllegalArgumentException](ProjString.parse("EPSG:9999")).getMessage
    assert(msg.contains("EPSG:9999"), msg)
    val listed = "supported: (.*)\\)".r.findFirstMatchIn(msg).get.group(1).split(", ")
      .flatMap(_.split("\\.\\.") match {
        case Array(a, b) => a.toInt to b.toInt
        case Array(a) => Seq(a.toInt)
      })
    assert(listed.toSeq == points.map(_._1).sorted, msg)

    val rows = spark.createDataFrame(points.map { case (c, (lo, la)) => (c, lo, la) })
      .toDF("code", "lon", "lat")
    val pt = st.st_point(col("lon"), col("lat"))
    val epsg = concat(lit("EPSG:"), col("code"))
    val urn = concat(lit("urn:ogc:def:crs:EPSG::"), col("code"))
    val fwd = Seq(
      st.st_transform(pt, lit(4326), col("code")),
      st.st_transform_crs(pt, lit("EPSG:4326"), epsg),
      st.st_transform_crs(pt, lit("urn:ogc:def:crs:EPSG::4326"), urn))
    val inv = Seq(
      st.st_transform(fwd(0), col("code"), lit(4326)),
      st.st_transform_crs(fwd(0), epsg, lit("EPSG:4326")),
      st.st_transform_crs(fwd(0), urn, lit("urn:ogc:def:crs:EPSG::4326")))
    val xy = (fwd ++ inv).flatMap(g => Seq(st.st_x(g), st.st_y(g)))
    val out = rows.select(col("code") +: col("lon") +: col("lat") +: xy: _*).collect()
    assert(out.length == points.size)
    def bits(d: Double): Long = java.lang.Double.doubleToLongBits(d)
    out.foreach { r =>
      val code = r.getInt(0); val lon = r.getDouble(1); val lat = r.getDouble(2)
      val v = (3 until 15).map(r.getDouble)
      // the three spellings: forward (v0..v5) and inverse (v6..v11), bitwise
      for (k <- Seq(0, 6); j <- 1 to 2; c <- 0 to 1)
        assert(bits(v(k + c)) == bits(v(k + 2 * j + c)), s"EPSG:$code spelling $j: $v")
      // the driver-side numeric API is the same Spec
      val (ex, ey) = Proj.fromLonLat(code, lon, lat)
      assert(bits(ex) == bits(v(0)) && bits(ey) == bits(v(1)), s"EPSG:$code forward")
      assert(math.abs(v(6) - lon) < 1e-9 && math.abs(v(7) - lat) < 1e-9,
        s"EPSG:$code round trip ($lon,$lat) -> (${v(6)},${v(7)})")
    }
  }

  test("st_transform: one validation order for both spellings; equal CRSs return " +
    "the input") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.unsafe.types.UTF8String
    import graft.functions.st
    import graft.geom.GeomKernel
    val wkb = GeomKernel.stPoint(11.6, 48.1)
    def u(s: String) = UTF8String.fromString(s)
    // an unknown code is rejected, named, even when from == to
    for (thunk <- Seq(() => GeomKernel.stTransform(wkb, 9999, 9999),
      () => GeomKernel.stTransform(wkb, 4326, 9999),
      () => GeomKernel.stTransformProj(wkb, u("EPSG:9999"), u("EPSG:9999")))) {
      val e = intercept[IllegalArgumentException](thunk())
      assert(e.getMessage.contains("EPSG:9999") && e.getMessage.contains("3857"),
        e.getMessage)
    }
    // both sides resolving to the same Spec returns the WKB itself
    assert(GeomKernel.stTransform(wkb, 3857, 3857) eq wkb)
    assert(GeomKernel.stTransformProj(wkb, u("EPSG:3857"),
      u("urn:ogc:def:crs:EPSG::3857")) eq wkb)
    // and through the Spark surface, both spellings fail the query
    def causes(t: Throwable): String =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).map(_.getMessage).mkString(" | ")
    val spark = SparkSpec.spark
    val p = spark.range(1).select(st.st_point(col("id").cast("double"), lit(1.0)).as("g"))
    for (c <- Seq(st.st_transform(col("g"), lit(9999), lit(9999)),
      st.st_transform(col("g"), "EPSG:9999", "EPSG:9999"))) {
      val e = intercept[Exception](p.select(c).collect())
      assert(causes(e).contains("EPSG:9999"), causes(e))
    }
  }

  test("LCC 1SP (EPSG 9801): GN 7-2 Jamaica sample, k0 scaling, PROJJSON (r5)") {
    import graft.geom.{Proj, ProjString}
    // EPSG GN 7-2 worked example — Jamaica 1969 / National Grid (EPSG:24200),
    // Clarke 1866, lat_0 = lat_1 = 18N, lon_0 = 77W, k0 = 1, FE/FN
    // 250000/150000; phi 17°55'55.80"N, lam 76°56'37.26"W
    // -> E 255966.58, N 142493.51
    val jam = ProjString.parse("+proj=lcc +lat_1=18 +lat_0=18 +lon_0=-77 " +
      "+k_0=1 +x_0=250000 +y_0=150000 +ellps=clrk66 +units=m +no_defs")
    val lam = -(76 + 56 / 60.0 + 37.26 / 3600.0)
    val phi = 17 + 55 / 60.0 + 55.80 / 3600.0
    val (je, jn) = ProjString.fromLonLat(jam, lam, phi)
    assert(math.abs(je - 255966.58) < 0.01, s"E=$je")
    assert(math.abs(jn - 142493.51) < 0.01, s"N=$jn")
    val (jlo, jla) = ProjString.toLonLat(jam, je, jn)
    assert(math.abs(jlo - lam) < 1e-9 && math.abs(jla - phi) < 1e-9)

    // +k_0 really scales: GN 7-2's r = a·F·tⁿ·k0 means the offset from the
    // false origin is linear in k0 (and the 2SP code path must honor it)
    val jamS = ProjString.parse("+proj=lcc +lat_1=18 +lat_0=18 +lon_0=-77 " +
      "+k_0=0.9998 +x_0=250000 +y_0=150000 +ellps=clrk66")
    val (se, sn) = ProjString.fromLonLat(jamS, lam, phi)
    assert(math.abs((se - 250000) - 0.9998 * (je - 250000)) < 1e-6, s"$se")
    assert(math.abs((sn - 150000) - 0.9998 * (jn - 150000)) < 1e-6, s"$sn")
    val (slo, sla) = ProjString.toLonLat(jamS, se, sn)
    assert(math.abs(slo - lam) < 1e-9 && math.abs(sla - phi) < 1e-9)

    // PROJJSON method 9801 (by code and by name) bit-equals the proj-string
    val pj =
      """{"type":"ProjectedCRS","name":"Jamaica 1969 / National Grid",
        |"base_crs":{"type":"GeographicCRS","datum":{"ellipsoid":
        |  {"semi_major_axis":6378206.4,"semi_minor_axis":6356583.8}}},
        |"conversion":{"method":{"name":"Lambert Conic Conformal (1SP)",
        |  "id":{"authority":"EPSG","code":9801}},
        | "parameters":[
        |  {"name":"Latitude of natural origin","value":18,"unit":"degree"},
        |  {"name":"Longitude of natural origin","value":-77,"unit":"degree"},
        |  {"name":"Scale factor at natural origin","value":1,"unit":"unity"},
        |  {"name":"False easting","value":250000,"unit":"metre"},
        |  {"name":"False northing","value":150000,"unit":"metre"}]}}""".stripMargin
    val (pe, pn) = ProjString.fromLonLat(ProjString.parse(pj), lam, phi)
    assert(pe == je && pn == jn, s"PROJJSON ($pe,$pn) != ($je,$jn)")

    // a 9801 document carrying a standard-parallel parameter is malformed
    intercept[IllegalArgumentException](ProjString.parse(pj.replace(
      """{"name":"Latitude of natural origin","value":18,"unit":"degree"},""",
      """{"name":"Latitude of natural origin","value":18,"unit":"degree"},
        |{"name":"Latitude of 1st standard parallel","value":18,"unit":"degree"},"""
        .stripMargin)))
    // EPSG 9820/9822 have no scale factor: +k_0 on laea/aea is refused, not
    // silently dropped (PROJ ignores it)
    intercept[IllegalArgumentException](
      ProjString.parse("+proj=laea +lat_0=52 +lon_0=10 +k_0=0.9 +ellps=GRS80"))
    intercept[IllegalArgumentException](ProjString.parse(
      "+proj=aea +lat_1=29.5 +lat_2=45.5 +lat_0=23 +lon_0=-96 +k=2 +ellps=GRS80"))
  }

  test("Mercator variant B (EPSG 9805): GN 7-2 Caspian sample, +lat_ts, " +
    "PROJJSON (r5)") {
    import graft.geom.{Proj, ProjString}
    // EPSG GN 7-2 worked example — Pulkovo 1942 / Caspian Sea Mercator:
    // Krassowsky 1940, lat_ts = 42N, lon_0 = 51E; phi 53N lam 53E
    // -> E 165704.29, N 5171848.07
    val cas = ProjString.parse(
      "+proj=merc +lat_ts=42 +lon_0=51 +x_0=0 +y_0=0 +ellps=krass +units=m")
    val (ce, cn) = ProjString.fromLonLat(cas, 53.0, 53.0)
    assert(math.abs(ce - 165704.29) < 0.01, s"E=$ce")
    assert(math.abs(cn - 5171848.07) < 0.01, s"N=$cn")
    val (clo, cla) = ProjString.toLonLat(cas, ce, cn)
    assert(math.abs(clo - 53.0) < 1e-9 && math.abs(cla - 53.0) < 1e-9)
    // the fold: k0 = m(lat_ts), the parallel's meridian scale
    assert(cas.proj == "merc" && math.abs(cas.k0 -
      Proj.mFactor(cas.ell, math.toRadians(42.0))) == 0.0)

    // PROJJSON method 9805 bit-equals the proj-string fold
    val pj =
      """{"type":"ProjectedCRS","name":"Caspian Sea Mercator",
        |"base_crs":{"type":"GeographicCRS","datum":{"ellipsoid":
        |  {"semi_major_axis":6378245,"inverse_flattening":298.3}}},
        |"conversion":{"method":{"name":"Mercator (variant B)",
        |  "id":{"authority":"EPSG","code":9805}},
        | "parameters":[
        |  {"name":"Latitude of 1st standard parallel","value":42,"unit":"degree"},
        |  {"name":"Longitude of natural origin","value":51,"unit":"degree"},
        |  {"name":"False easting","value":0,"unit":"metre"},
        |  {"name":"False northing","value":0,"unit":"metre"}]}}""".stripMargin
    val (pe, pn) = ProjString.fromLonLat(ProjString.parse(pj), 53.0, 53.0)
    assert(pe == ce && pn == cn, s"PROJJSON ($pe,$pn) != ($ce,$cn)")

    // a 9805 document with a scale factor is malformed (the method has none)
    intercept[IllegalArgumentException](ProjString.parse(pj.replace(
      """{"name":"False easting","value":0,"unit":"metre"},""",
      """{"name":"Scale factor at natural origin","value":0.99,"unit":"unity"},
        |{"name":"False easting","value":0,"unit":"metre"},""".stripMargin)))
    // +lat_ts and +k/+k_0 stay mutually exclusive for merc, like stere
    intercept[IllegalArgumentException](
      ProjString.parse("+proj=merc +lat_ts=42 +k_0=0.9 +ellps=krass"))
  }

  test("Cylindrical Equal Area (EPSG 9835): EASE-Grid 2.0 extent, equal-area " +
    "invariant, proj-string cea, PROJJSON (r5)") {
    import graft.geom.{Proj, ProjString}
    // EPSG:6933 (WGS 84 / NSIDC EASE-Grid 2.0 Global, lat_ts = 30): the
    // antimeridian maps to NSIDC's published map half-width a·m(30°)·π
    val (xm, y0) = Proj.fromLonLat(6933, 180.0, 0.0)
    assert(math.abs(xm - 17367530.445161372) < 1e-6, s"xmax=$xm")
    assert(math.abs(y0) < 1e-9)
    // equal-area: a projected cell's area equals the exact ellipsoidal
    // surface-area element a²(1−e²)cosφ/(1−e²sin²φ)² dλdφ at any latitude
    val a = 6378137.0; val e2 = 0.00669437999014132
    val d = 1e-5
    for (lat <- Seq(-67.0, -30.0, 0.0, 18.0, 45.0, 78.0)) {
      val (x1, ya) = Proj.fromLonLat(6933, 10.0, lat)
      val (x2, _) = Proj.fromLonLat(6933, 10.0 + d, lat)
      val (_, yb) = Proj.fromLonLat(6933, 10.0, lat + d)
      val cell = (x2 - x1) * (yb - ya)
      val s = math.sin(math.toRadians(lat)); val den = 1 - e2 * s * s
      val exact = a * a * (1 - e2) * math.cos(math.toRadians(lat)) / (den * den) *
        math.toRadians(d) * math.toRadians(d)
      assert(math.abs(cell / exact - 1.0) < 1e-4, s"lat=$lat: $cell vs $exact")
    }
    // round trips to sub-nm degrees, poles included
    for (lat <- Seq(-90.0, -55.5, 0.0, 33.25, 89.0, 90.0); lon <- Seq(-170.0, 4.5)) {
      val (px, py) = Proj.fromLonLat(6933, lon, lat)
      val (lo, la) = Proj.toLonLat(6933, px, py)
      assert(math.abs(lo - lon) < 1e-9 && math.abs(la - lat) < 1e-9, s"$lon $lat -> $lo $la")
    }
    // +proj=cea +lat_ts=30 bit-equals the EPSG:6933 code path; k0 is the
    // parallel's meridian scale; +k_0 is PROJ's alternative spelling
    val spec = ProjString.parse("+proj=cea +lat_ts=30 +ellps=WGS84 +units=m")
    assert(spec.k0 == Proj.Ease2K0)
    val (sx, sy) = ProjString.fromLonLat(spec, 76.0, -41.0)
    val (ex, ey) = Proj.fromLonLat(6933, 76.0, -41.0)
    assert(sx == ex && sy == ey, s"($sx,$sy) != ($ex,$ey)")
    assert(ProjString.parse("+proj=cea +k_0=0.9 +ellps=WGS84").k0 == 0.9)
    // PROJJSON method 9835 bit-equals too
    val pj =
      """{"type":"ProjectedCRS","name":"EASE-Grid 2.0 Global",
        |"base_crs":{"type":"GeographicCRS","datum":{"ellipsoid":
        |  {"semi_major_axis":6378137,"inverse_flattening":298.257223563}}},
        |"conversion":{"method":{"name":"Lambert Cylindrical Equal Area",
        |  "id":{"authority":"EPSG","code":9835}},
        | "parameters":[
        |  {"name":"Latitude of 1st standard parallel","value":30,"unit":"degree"},
        |  {"name":"Longitude of natural origin","value":0,"unit":"degree"},
        |  {"name":"False easting","value":0,"unit":"metre"},
        |  {"name":"False northing","value":0,"unit":"metre"}]}}""".stripMargin
    val (jx, jy) = ProjString.fromLonLat(ProjString.parse(pj), 76.0, -41.0)
    assert(jx == ex && jy == ey)
    // 9835 has no latitude-of-origin parameter; +lat_0 on cea is refused
    intercept[IllegalArgumentException](
      ProjString.parse("+proj=cea +lat_0=10 +ellps=WGS84"))
  }

  test("Equidistant Cylindrical (EPSG 1028): GN 7-2 sample, Krüger arc " +
    "cross-check, proj-string eqc, PROJJSON (r5)") {
    import graft.geom.{Proj, ProjString}
    // EPSG GN 7-2 worked example — WGS 84 / World Equidistant Cylindrical
    // (EPSG:4087): phi 55N lam 10E -> E 1113194.91, N 6097230.31
    val (pe, pn) = Proj.fromLonLat(4087, 10.0, 55.0)
    assert(math.abs(pe - 1113194.91) < 0.01, s"E=$pe")
    assert(math.abs(pn - 6097230.31) < 0.01, s"N=$pn")
    // the Snyder 3-21 meridional arc agrees with the INDEPENDENT Krüger
    // rectifying northing (tmerc's central meridian, k0 = 1) to < 1 mm
    for (lat <- Seq(-80.0, -33.0, 0.0, 12.5, 55.0, 89.0)) {
      val m = Proj.meridionalArc(Proj.Wgs84, lat)
      val k = Proj.tmForward(Proj.Wgs84, 0.0, lat, 0.0, 1.0, 0.0, 0.0)._2
      assert(math.abs(m - k) < 1e-3, s"lat=$lat: snyder $m vs kruger $k")
    }
    // round trips to sub-nm degrees (series + Newton inverse)
    for (lat <- Seq(-89.5, -42.0, 0.0, 17.9, 71.3); lon <- Seq(-150.0, 33.0)) {
      val (px, py) = Proj.fromLonLat(4087, lon, lat)
      val (lo, la) = Proj.toLonLat(4087, px, py)
      assert(math.abs(lo - lon) < 1e-9 && math.abs(la - lat) < 1e-9, s"$lon $lat -> $lo $la")
    }
    // +proj=eqc bit-equals the EPSG:4087 code path; +lat_ts scales x by the
    // parallel's meridian scale and leaves the northing alone
    val spec = ProjString.parse("+proj=eqc +ellps=WGS84 +units=m")
    val (sx, sy) = ProjString.fromLonLat(spec, 10.0, 55.0)
    assert(sx == pe && sy == pn, s"($sx,$sy) != ($pe,$pn)")
    val ts = ProjString.parse("+proj=eqc +lat_ts=30 +ellps=WGS84")
    val (tx, ty) = ProjString.fromLonLat(ts, 10.0, 55.0)
    assert(math.abs(tx - pe * Proj.Ease2K0) < 1e-6 && ty == pn, s"($tx,$ty)")
    // PROJJSON method 1028 bit-equals
    val pj =
      """{"type":"ProjectedCRS","name":"World Equidistant Cylindrical",
        |"base_crs":{"type":"GeographicCRS","datum":{"ellipsoid":
        |  {"semi_major_axis":6378137,"inverse_flattening":298.257223563}}},
        |"conversion":{"method":{"name":"Equidistant Cylindrical",
        |  "id":{"authority":"EPSG","code":1028}},
        | "parameters":[
        |  {"name":"Latitude of 1st standard parallel","value":0,"unit":"degree"},
        |  {"name":"Longitude of natural origin","value":0,"unit":"degree"},
        |  {"name":"False easting","value":0,"unit":"metre"},
        |  {"name":"False northing","value":0,"unit":"metre"}]}}""".stripMargin
    val (jx, jy) = ProjString.fromLonLat(ProjString.parse(pj), 10.0, 55.0)
    assert(jx == pe && jy == pn)
    // EPSG 1028 has no scale factor: +k_0 on eqc is refused
    intercept[IllegalArgumentException](
      ProjString.parse("+proj=eqc +k_0=0.9 +ellps=WGS84"))
    intercept[IllegalArgumentException](
      ProjString.parse("+proj=eqc +lat_0=10 +ellps=WGS84"))
  }

  test("Sinusoidal (Snyder §30): MODIS grid tile anchor, equal-area " +
    "invariant, roundtrips (r5)") {
    import graft.geom.{Proj, ProjString}
    // the MODIS Land grid: sinusoidal on the R = 6,371,007.181 m authalic
    // sphere; a 10°x10° tile at the origin is LP DAAC's published
    // 1,111,950.51966… m square (their constant is the mm-rounded
    // half-width 20,015,109.354/18 — the exact R·π/18 is 0.1 mm larger,
    // so the anchor tolerance is 2e-4 m, not fp precision)
    val modis = ProjString.parse("+proj=sinu +R=6371007.181 +units=m +no_defs")
    val tile = 1111950.5196666666
    val (tx, ty0) = ProjString.fromLonLat(modis, 10.0, 0.0)
    assert(math.abs(tx - tile) < 2e-4 && ty0 == 0.0, s"($tx,$ty0)")
    val (x0, tyy) = ProjString.fromLonLat(modis, 0.0, 10.0)
    assert(x0 == 0.0 && math.abs(tyy - tile) < 2e-4, s"($x0,$tyy)")
    // spherical definition holds anywhere: x = R·Δλ·cos φ
    val (sx, _) = ProjString.fromLonLat(modis, -75.0, -50.0)
    assert(math.abs(sx - 6371007.181 * math.toRadians(-75.0) *
      math.cos(math.toRadians(-50.0))) < 1e-6)
    // equal-area on the ELLIPSOIDAL form too: a projected cell's area equals
    // the exact surface-area element a²(1−e²)cosφ/(1−e²sin²φ)² dλdφ
    val ws = ProjString.parse("+proj=sinu +ellps=WGS84")
    val a = 6378137.0; val e2 = 0.00669437999014132
    val d = 1e-5
    for (lat <- Seq(-62.0, 0.0, 37.0, 81.0)) {
      val (xa, ya) = ProjString.fromLonLat(ws, 10.0, lat)
      val (xb, yb) = ProjString.fromLonLat(ws, 10.0 + d, lat)
      val (xc, yc) = ProjString.fromLonLat(ws, 10.0, lat + d)
      // shear the parallelogram spanned by the two offsets (x varies with
      // lat in a pseudocylindrical, so use the cross product)
      val cell = math.abs((xb - xa) * (yc - ya) - (xc - xa) * (yb - ya))
      val s = math.sin(math.toRadians(lat)); val den = 1 - e2 * s * s
      val exact = a * a * (1 - e2) * math.cos(math.toRadians(lat)) / (den * den) *
        math.toRadians(d) * math.toRadians(d)
      assert(math.abs(cell / exact - 1.0) < 1e-4, s"lat=$lat: $cell vs $exact")
    }
    // round trips to sub-nm degrees on sphere and ellipsoid; the pole
    // answers lon0 (the map's singular point)
    for (spec <- Seq(modis, ws);
         lat <- Seq(-89.5, -42.0, 0.0, 17.9, 71.3); lon <- Seq(-150.0, 33.0)) {
      val (px, py) = ProjString.fromLonLat(spec, lon, lat)
      val (lo, la) = ProjString.toLonLat(spec, px, py)
      assert(math.abs(lo - lon) < 1e-9 && math.abs(la - lat) < 1e-9, s"$lon $lat")
    }
    val (plo, pla) = ProjString.toLonLat(ws, ProjString.fromLonLat(ws, 60.0, 90.0)._1,
      ProjString.fromLonLat(ws, 60.0, 90.0)._2)
    assert(plo == 0.0 && math.abs(pla - 90.0) < 1e-9, s"pole -> $plo $pla")
    // no scale, origin latitude, or standard parallel exists for sinusoidal
    intercept[IllegalArgumentException](ProjString.parse("+proj=sinu +k_0=0.9"))
    intercept[IllegalArgumentException](ProjString.parse("+proj=sinu +lat_0=10"))
    intercept[IllegalArgumentException](ProjString.parse("+proj=sinu +lat_ts=10"))
  }

  test("+proj=webmerc bit-equals the EPSG:3857 code path (r5)") {
    import graft.geom.{Proj, ProjString}
    val wm = ProjString.parse("+proj=webmerc +ellps=WGS84 +units=m +no_defs")
    for (lat <- Seq(-70.0, 0.0, 41.9); lon <- Seq(-170.0, 2.35)) {
      val (sx, sy) = ProjString.fromLonLat(wm, lon, lat)
      val (ex, ey) = Proj.fromLonLat(3857, lon, lat)
      // x is the same product; y differs only by the isometric-latitude
      // spelling (atanh(sin φ) vs ln tan(π/4+φ/2)) — ulp-level
      assert(sx == ex && math.abs(sy - ey) < 1e-6, s"($sx,$sy) != ($ex,$ey)")
      val (lo, la) = ProjString.toLonLat(wm, sx, sy)
      assert(math.abs(lo - lon) < 1e-9 && math.abs(la - lat) < 1e-9)
    }
    // EPSG 1024 fixes lat_0 = 0 and has no scale factor
    intercept[IllegalArgumentException](ProjString.parse("+proj=webmerc +lat_0=10"))
    intercept[IllegalArgumentException](ProjString.parse("+proj=webmerc +k_0=0.9"))
    // the Spec's sphere would corrupt the Helmert hub's geodetic<->XYZ legs
    // (~21 km of latitude) — datum shifts on webmerc are refused
    intercept[IllegalArgumentException](ProjString.parse(
      "+proj=webmerc +ellps=bessel +towgs84=598.1,73.7,418.2"))
    intercept[IllegalArgumentException](
      ProjString.parse("+proj=webmerc +datum=potsdam"))
  }

  test("longitude wrapping (PROJ adjlon): linear-in-dlam kernels take the " +
    "short way around (r5)") {
    import graft.geom.ProjString
    // cylindrical: the Caspian Mercator (lon_0 = 51) at 170W — dlam = -221
    // wraps to +139, so x is a large POSITIVE easting, and lon+360 is the
    // same point bit-for-bit
    val cas = ProjString.parse("+proj=merc +lat_ts=42 +lon_0=51 +ellps=krass")
    val (xa, ya) = ProjString.fromLonLat(cas, -170.0, 10.0)
    val (xb, yb) = ProjString.fromLonLat(cas, 190.0, 10.0)
    assert(xa == xb && ya == yb, s"($xa,$ya) != ($xb,$yb)")
    assert(xa > 0, s"x=$xa should take the short way east")
    val (lo, la) = ProjString.toLonLat(cas, xa, ya)
    assert(math.abs(lo - -170.0) < 1e-9 && math.abs(la - 10.0) < 1e-9, s"$lo $la")
    // conic: the Jamaica cone (lon_0 = -77) at 150E — dlam = 227 wraps to
    // -133; the antipodal-side roundtrip still recovers the input
    val jam = ProjString.parse("+proj=lcc +lat_1=18 +lat_0=18 +lon_0=-77 " +
      "+x_0=250000 +y_0=150000 +ellps=clrk66")
    val (je, jn) = ProjString.fromLonLat(jam, 150.0, 20.0)
    val (je2, jn2) = ProjString.fromLonLat(jam, -210.0, 20.0)
    assert(je == je2 && jn == jn2)
    val (jlo, jla) = ProjString.toLonLat(jam, je, jn)
    assert(math.abs(jlo - 150.0) < 1e-9 && math.abs(jla - 20.0) < 1e-9, s"$jlo $jla")
    // degenerate standard parallels are refused, not folded into garbage
    intercept[IllegalArgumentException](ProjString.parse("+proj=merc +lat_ts=90"))
    intercept[IllegalArgumentException](ProjString.parse("+proj=cea +lat_ts=-90"))
    intercept[IllegalArgumentException](ProjString.parse("+proj=cea +k_0=0"))
  }

  test("Mollweide (Snyder §31): map-ellipse anchors, equal-area invariant, " +
    "roundtrips (r5)") {
    import graft.geom.ProjString
    val a = 6378137.0
    val moll = ProjString.parse("+proj=moll +ellps=WGS84 +units=m +no_defs")
    // the full map is the 2:1 ellipse with semi-axes 2√2·R (equator edge)
    // and √2·R (poles) — its area π·(2√2R)(√2R) = 4πR² is the sphere's
    val (xe, ye) = ProjString.fromLonLat(moll, 180.0, 0.0)
    assert(math.abs(xe - 2 * math.sqrt(2.0) * a) < 1e-6 && ye == 0.0, s"($xe,$ye)")
    val (xp, yp) = ProjString.fromLonLat(moll, 0.0, 90.0)
    assert(xp == 0.0 && math.abs(yp - math.sqrt(2.0) * a) < 1e-6, s"($xp,$yp)")
    // the 40.73°-ish parallel where θ = π/4: y = R, x(Δλ=90°) = √2·R·cos... —
    // instead pin the DEFINING identity: 2θ + sin 2θ = π·sin φ holds for the
    // θ the forward used, recovered from y
    for (lat <- Seq(-75.0, -20.0, 40.7366, 88.0)) {
      val (_, y) = ProjString.fromLonLat(moll, 0.0, lat)
      val th = math.asin(y / (math.sqrt(2.0) * a))
      val resid = 2 * th + math.sin(2 * th) - math.Pi * math.sin(math.toRadians(lat))
      assert(math.abs(resid) < 1e-12, s"lat=$lat residual $resid")
    }
    // equal-area on the sphere: projected cell area == R² cos φ dλ dφ
    val d = 1e-5
    for (lat <- Seq(-62.0, 0.0, 37.0, 81.0)) {
      val (xa2, ya2) = ProjString.fromLonLat(moll, 10.0, lat)
      val (xb, yb) = ProjString.fromLonLat(moll, 10.0 + d, lat)
      val (xc, yc) = ProjString.fromLonLat(moll, 10.0, lat + d)
      val cell = math.abs((xb - xa2) * (yc - ya2) - (xc - xa2) * (yb - ya2))
      val exact = a * a * math.cos(math.toRadians(lat)) *
        math.toRadians(d) * math.toRadians(d)
      assert(math.abs(cell / exact - 1.0) < 1e-4, s"lat=$lat: $cell vs $exact")
    }
    // roundtrips (incl. a wrapped lon and the pole answering lon0)
    for (lat <- Seq(-89.0, -41.5, 0.0, 23.4, 77.0); lon <- Seq(-170.0, 12.25)) {
      val (px, py) = ProjString.fromLonLat(moll, lon, lat)
      val (lo, la) = ProjString.toLonLat(moll, px, py)
      assert(math.abs(lo - lon) < 1e-9 && math.abs(la - lat) < 1e-9, s"$lon $lat")
    }
    val (pl, pb) = ProjString.toLonLat(moll,
      ProjString.fromLonLat(moll, 60.0, 90.0)._1,
      ProjString.fromLonLat(moll, 60.0, 90.0)._2)
    assert(pl == 0.0 && math.abs(pb - 90.0) < 1e-9, s"pole -> $pl $pb")
    // the polar cap: Newton from θ0 = φ would stall (f' -> 0); the
    // cube-root asymptotic seed keeps it convergent (pre-fix, x came back
    // ~5x too large here). Longitude conditioning at the pole is intrinsic:
    // recovering cos θ from y costs a relative ulp/δ² ≈ 1e-7, so the lon
    // roundtrip is bounded ~1e-5 deg there (any implementation's floor);
    // latitude stays ~1e-8.
    for (lat <- Seq(89.999, 89.99999, -89.99999)) {
      val (px, py) = ProjString.fromLonLat(moll, 90.0, lat)
      val th = math.asin(py / (math.sqrt(2.0) * a))
      val resid = 2 * th + math.sin(2 * th) - math.Pi * math.sin(math.toRadians(lat))
      assert(math.abs(resid) < 1e-10, s"lat=$lat residual $resid")
      val (lo, la) = ProjString.toLonLat(moll, px, py)
      assert(math.abs(lo - 90.0) < 1e-4 && math.abs(la - lat) < 1e-6, s"$lo $la")
    }
    // no scale / origin-latitude / standard-parallel parameters exist
    intercept[IllegalArgumentException](ProjString.parse("+proj=moll +k_0=0.9"))
    intercept[IllegalArgumentException](ProjString.parse("+proj=moll +lat_0=10"))
    intercept[IllegalArgumentException](ProjString.parse("+proj=moll +lat_ts=10"))
    // the well-known ESRI world codes resolve to their published definitions
    val esri = ProjString.parse("ESRI:54009")
    assert(ProjString.fromLonLat(esri, 12.25, -41.5) ==
      ProjString.fromLonLat(moll, 12.25, -41.5))
    val esriSinu = ProjString.parse("ESRI:54008")
    val ws = ProjString.parse("+proj=sinu +ellps=WGS84")
    assert(ProjString.fromLonLat(esriSinu, 12.25, -41.5) ==
      ProjString.fromLonLat(ws, 12.25, -41.5))
  }

  test("Hotine Oblique Mercator (EPSG 9815/9812): GN 7-2 RSO Borneo sample, " +
    "conformality, variants, roundtrips (r5)") {
    import graft.geom.ProjString
    // EPSG GN 7-2 worked example — Timbalai 1948 / RSO Borneo (m),
    // Everest 1830 (1967) a=6377298.556 1/f=300.8017, centre (4N, 115E),
    // alpha_c 53°18'56.9537", gamma_c 53°07'48.3685", kc 0.99984,
    // Ec/Nc 590476.87/442857.65; point phi 5°23'14.1129"N,
    // lam 115°48'19.8196"E -> E 679245.73, N 596562.78
    val alphaC = 53 + 18 / 60.0 + 56.9537 / 3600.0
    val gammaC = 53 + 7 / 60.0 + 48.3685 / 3600.0
    // Double.toString interpolation (locale-independent), not f"%f"
    val rso = ProjString.parse(s"+proj=omerc +lat_0=4 +lonc=115 " +
      s"+alpha=$alphaC +gamma=$gammaC +k_0=0.99984 " +
      "+x_0=590476.87 +y_0=442857.65 +a=6377298.556 +rf=300.8017 +units=m")
    val lat = 5 + 23 / 60.0 + 14.1129 / 3600.0
    val lon = 115 + 48 / 60.0 + 19.8196 / 3600.0
    val (re, rn) = ProjString.fromLonLat(rso, lon, lat)
    assert(math.abs(re - 679245.73) < 0.01, s"E=$re")
    assert(math.abs(rn - 596562.78) < 0.01, s"N=$rn")
    val (rlo, rla) = ProjString.toLonLat(rso, re, rn)
    assert(math.abs(rlo - lon) < 1e-9 && math.abs(rla - lat) < 1e-9, s"$rlo $rla")
    // conformality: local scale is isotropic (exact ellipsoidal radii)
    val a = 6377298.556; val f2 = 1.0 / 300.8017; val e2 = f2 * (2 - f2)
    val d = 1e-4
    val (ax, ay) = ProjString.fromLonLat(rso, 115.5, 5.0)
    val (bx, by) = ProjString.fromLonLat(rso, 115.5 + d, 5.0)
    val (cx, cy) = ProjString.fromLonLat(rso, 115.5, 5.0 + d)
    val s5 = math.sin(math.toRadians(5.0)); val den = 1 - e2 * s5 * s5
    val sEW = math.hypot(bx - ax, by - ay) /
      (math.toRadians(d) * a * math.cos(math.toRadians(5.0)) / math.sqrt(den))
    val sNS = math.hypot(cx - ax, cy - ay) /
      (math.toRadians(d) * a * (1 - e2) / (den * math.sqrt(den)))
    assert(math.abs(sEW / sNS - 1) < 1e-6, s"$sEW vs $sNS")
    // and the scale on the initial line's centre is kc itself
    val (ox, oy) = ProjString.fromLonLat(rso, 115.0, 4.0)
    val (px2, py2) = ProjString.fromLonLat(rso, 115.0 + d, 4.0)
    val s4 = math.sin(math.toRadians(4.0)); val den4 = 1 - e2 * s4 * s4
    val kAt = math.hypot(px2 - ox, py2 - oy) /
      (math.toRadians(d) * a * math.cos(math.toRadians(4.0)) / math.sqrt(den4))
    assert(math.abs(kAt - 0.99984) < 1e-7, s"k=$kAt")
    // variant A (+no_uoff, EPSG 9812) roundtrips and is a pure skew-grid
    // translation of variant B (same x_0/y_0): the offset is constant
    val voff = ProjString.parse(s"+proj=omerc +lat_0=4 +lonc=115 " +
      s"+alpha=$alphaC +gamma=$gammaC +k_0=0.99984 +no_uoff " +
      "+x_0=590476.87 +y_0=442857.65 +a=6377298.556 +rf=300.8017")
    val (ae1, an1) = ProjString.fromLonLat(voff, lon, lat)
    val (ae2, an2) = ProjString.fromLonLat(voff, 114.0, 3.0)
    val (be2, bn2) = ProjString.fromLonLat(rso, 114.0, 3.0)
    assert(math.abs((ae1 - re) - (ae2 - be2)) < 1e-6 &&
      math.abs((an1 - rn) - (an2 - bn2)) < 1e-6)
    val (alo, ala) = ProjString.toLonLat(voff, ae1, an1)
    assert(math.abs(alo - lon) < 1e-9 && math.abs(ala - lat) < 1e-9)
    // degenerate centres and misspelled parameters are refused
    intercept[IllegalArgumentException](
      ProjString.parse("+proj=omerc +lat_0=0 +lonc=115 +alpha=53"))
    intercept[IllegalArgumentException](
      ProjString.parse("+proj=omerc +lat_0=4 +lon_0=115 +alpha=53 +lonc=115"))
    intercept[IllegalArgumentException](
      ProjString.parse("+proj=omerc +lat_0=4 +lonc=115"))
    intercept[IllegalArgumentException](
      ProjString.parse("+proj=tmerc +lon_0=9 +alpha=53"))
    intercept[IllegalArgumentException](
      ProjString.parse("+proj=omerc +lat_0=4 +lonc=115 +alpha=53 +k_0=0"))
    // fp hazard at near-zero centre latitudes with alpha = 90: the clamped
    // asin keeps gamma0 finite instead of NaN
    val tiny = ProjString.parse("+proj=omerc +lat_0=1e-7 +lonc=10 +alpha=90")
    val (tx2, ty2) = ProjString.fromLonLat(tiny, 11.0, 1.0)
    assert(!tx2.isNaN && !ty2.isNaN, s"($tx2,$ty2)")
  }

  test("Krovak (EPSG 9819): GN 7-2 S-JTSK sample, EPSG:5514 axes, " +
    "roundtrips (r5)") {
    import graft.geom.{Proj, ProjString}
    // EPSG GN 7-2 worked example — S-JTSK (Ferro) / Krovak: phi
    // 50°12'32.4416"N, lam 16°50'59.1790"E Greenwich -> southing X
    // 1050538.63, westing Y 568991.00. PROJ's +czech tuple is
    // (x = westing, y = southing) — the sign-dropped default axes, NOT
    // GN 7-2's X-first print order.
    val cz = ProjString.parse("+proj=krovak +czech +ellps=bessel +units=m")
    val lat = 50 + 12 / 60.0 + 32.4416 / 3600.0
    val lon = 16 + 50 / 60.0 + 59.1790 / 3600.0
    val (kx, ky) = ProjString.fromLonLat(cz, lon, lat)
    // the guidance note's values are cm-rounded; this implementation
    // computes Y 568990.997, X 1050538.643 — pin at 2 cm
    assert(math.abs(kx - 568991.00) < 0.02, s"westing=$kx")
    assert(math.abs(ky - 1050538.63) < 0.02, s"southing=$ky")
    val (klo, kla) = ProjString.toLonLat(cz, kx, ky)
    assert(math.abs(klo - lon) < 1e-9 && math.abs(kla - lat) < 1e-9, s"$klo $kla")
    // EPSG:5514 (Krovak East North): PROJ's default — both axes negated;
    // the numeric code path bit-equals the default +proj=krovak string,
    // and bare +proj=krovak means BESSEL (PROJ's one projection-specific
    // ellipsoid default), not the general WGS84 fallback
    val en = ProjString.parse("+proj=krovak +ellps=bessel")
    val (ex, ey) = ProjString.fromLonLat(en, lon, lat)
    assert(ex == -kx && ey == -ky, s"($ex,$ey) vs ($kx,$ky)")
    val (cx2, cy2) = Proj.fromLonLat(5514, lon, lat)
    assert(cx2 == ex && cy2 == ey, s"($cx2,$cy2) != ($ex,$ey)")
    val bare = ProjString.parse("+proj=krovak")
    assert(ProjString.fromLonLat(bare, lon, lat) == ((ex, ey)),
      "bare +proj=krovak must default to Bessel like PROJ")
    // roundtrips across the Czech/Slovak window to sub-nm degrees
    for (la2 <- Seq(47.8, 49.0, 50.5, 51.0); lo2 <- Seq(12.2, 15.0, 18.5, 22.5)) {
      val (px, py) = Proj.fromLonLat(5514, lo2, la2)
      val (lo3, la3) = Proj.toLonLat(5514, px, py)
      assert(math.abs(lo3 - lo2) < 1e-9 && math.abs(la3 - la2) < 1e-9, s"$lo2 $la2")
    }
    // conformality: local scale is isotropic (exact ellipsoidal radii)
    val a = 6377397.155; val f2 = 1.0 / 299.1528128; val e2 = f2 * (2 - f2)
    val d = 1e-4
    val (ax, ay) = Proj.fromLonLat(5514, 15.5, 49.8)
    val (bx, by) = Proj.fromLonLat(5514, 15.5 + d, 49.8)
    val (cx3, cy3) = Proj.fromLonLat(5514, 15.5, 49.8 + d)
    val s1 = math.sin(math.toRadians(49.8)); val den = 1 - e2 * s1 * s1
    val sEW = math.hypot(bx - ax, by - ay) /
      (math.toRadians(d) * a * math.cos(math.toRadians(49.8)) / math.sqrt(den))
    val sNS = math.hypot(cx3 - ax, cy3 - ay) /
      (math.toRadians(d) * a * (1 - e2) / (den * math.sqrt(den)))
    assert(math.abs(sEW / sNS - 1) < 1e-6, s"$sEW vs $sNS")
    // misspelled / invalid parameters are refused
    intercept[IllegalArgumentException](ProjString.parse("+proj=tmerc +czech"))
    intercept[IllegalArgumentException](
      ProjString.parse("+proj=krovak +lat_ts=78.5"))
    intercept[IllegalArgumentException](
      ProjString.parse("+proj=krovak +k_0=0 +ellps=bessel"))
  }
}
