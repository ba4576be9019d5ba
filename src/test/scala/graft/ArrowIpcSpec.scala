package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.st
import graft.sources.{ArrowIpc, RefData}

/** The reference's four golden Arrow IPC datasets, read with the engine's
 *  distributed reader — row counts and shapes pinned to the reference's own
 *  test expectations. */
class ArrowIpcSpec extends SparkSpec {

  test("cities.arrow: 202 rows of (name, wkb point) — the affine bench input") {
    // reference benches/affine.rs:23-31 runs translate(10,10) over this file
    assumeRefFiles(RefData.CitiesArrow)
    val df = ArrowIpc.read(spark, RefData.CitiesArrow)
    assert(df.schema == StructType(Seq(
      StructField("name", StringType, nullable = true),
      StructField("geometry", BinaryType, nullable = true))))
    assert(df.count() == 202)
    val typed = df.select(st.st_geomType(col("geometry")).as("t")).distinct().collect()
    assert(typed.map(_.getInt(0)).toSeq == Seq(0)) // all Points (pygeos id 0)
  }

  test("naturalearth_cities (243 rows, the conftest.py:7 fixture) and " +
    "naturalearth_lowres (177 countries) parse with valid geometries") {
    assumeRefFiles(RefData.dataset("naturalearth_cities.arrow"),
      RefData.dataset("naturalearth_lowres.arrow"))
    val cities = ArrowIpc.read(spark, RefData.dataset("naturalearth_cities.arrow"))
    assert(cities.count() == 243) // test_geoseries.py:4-5 pins this
    val countries = ArrowIpc.read(spark, RefData.dataset("naturalearth_lowres.arrow"))
    assert(countries.count() == 177)
    // every geometry parses through the quarantine predicate
    assert(countries.filter(!st.st_is_valid_wkb(col("geometry"))).count() == 0)
    assert(cities.filter(!st.st_is_valid_wkb(col("geometry"))).count() == 0)
    // countries are polygonal; centroid must fall inside the bounds
    val bad = countries.select(
      st.st_bounds(col("geometry")).as("b"),
      st.st_x(st.st_centroid(col("geometry"))).as("cx"))
      .filter(col("cx") < col("b.minx") || col("cx") > col("b.maxx"))
    assert(bad.count() == 0)
    // measured covering resolution on REAL country polygons lands coarse
    // (the q_ref_sjoin gate's hand-picked 4 falls inside the sane band)
    val lvl = graft.join.SpatialJoin.autoCellLevel(countries)
    assert(lvl >= 1 && lvl <= 5, s"countries picked level $lvl")
  }

  test("geo schema metadata surfaces (CRS routing); timestamps/dates decode " +
    "to Spark microsecond/day semantics") {
    // a file with no geo metadata yields None
    assert(ArrowIpc.crsOf(getClass.getResource("/compressed_dict.arrow").getPath).isEmpty)

    // write a tiny IPC file with ts/date columns via the arrow-java API
    // (same jars the reader uses), read it back through the engine
    import org.apache.arrow.memory.RootAllocator
    import org.apache.arrow.vector._
    import org.apache.arrow.vector.types.pojo.{ArrowType, Field, FieldType, Schema}
    import org.apache.arrow.vector.types.{DateUnit, TimeUnit}
    import scala.jdk.CollectionConverters._
    val path = java.nio.file.Files.createTempFile("tsdate", ".arrow").toString
    val alloc = new RootAllocator()
    val schema = new Schema(Seq(
      new Field("ts", FieldType.nullable(new ArrowType.Timestamp(TimeUnit.MICROSECOND, null)), null),
      new Field("tsms", FieldType.nullable(new ArrowType.Timestamp(TimeUnit.MILLISECOND, "UTC")), null),
      new Field("d", FieldType.nullable(new ArrowType.Date(DateUnit.DAY)), null)).asJava)
    val root = VectorSchemaRoot.create(schema, alloc)
    val ts = root.getVector("ts").asInstanceOf[TimeStampMicroVector]
    val tsms = root.getVector("tsms").asInstanceOf[TimeStampMilliTZVector]
    val dv = root.getVector("d").asInstanceOf[DateDayVector]
    ts.allocateNew(2); tsms.allocateNew(2); dv.allocateNew(2)
    ts.set(0, 1700000000123456L); ts.setNull(1)
    tsms.set(0, 1700000000123L); tsms.set(1, 0L)
    dv.set(0, 19000); dv.setNull(1)
    root.setRowCount(2)
    val ch = new java.io.FileOutputStream(path).getChannel
    val w = new org.apache.arrow.vector.ipc.ArrowFileWriter(root, null, ch)
    w.start(); w.writeBatch(); w.end(); w.close(); ch.close()
    root.close(); alloc.close()

    val df = ArrowIpc.read(spark, path)
    // naive (tz=null) arrow timestamps are WALL-CLOCK -> TimestampNTZ; only
    // zone-tagged ones are instants (TimestampType)
    assert(df.schema("ts").dataType == TimestampNTZType &&
      df.schema("tsms").dataType == TimestampType &&
      df.schema("d").dataType == DateType)
    val rows = df.orderBy(col("d").desc_nulls_last).collect()
    assert(rows.length == 2)
    val r0 = rows(0)
    assert(r0.getAs[java.time.LocalDateTime]("ts") ==
      java.time.LocalDateTime.ofEpochSecond(1700000000L, 123456000, java.time.ZoneOffset.UTC))
    assert(r0.getAs[java.sql.Timestamp]("tsms").toInstant.toEpochMilli == 1700000000123L)
    assert(r0.getAs[java.sql.Date]("d").toLocalDate ==
      java.time.LocalDate.ofEpochDay(19000))
    assert(rows(1).isNullAt(rows(1).fieldIndex("ts")) &&
      rows(1).isNullAt(rows(1).fieldIndex("d")))
    java.nio.file.Files.delete(java.nio.file.Paths.get(path))

    assumeRefFiles(RefData.dataset("naturalearth_lowres.arrow"))
    // the reference golden files carry GeoParquet-style `geo` metadata
    val md = ArrowIpc.metadataOf(RefData.dataset("naturalearth_lowres.arrow"))
    assert(md.contains("geo") && md("geo").contains("\"geometry\""))
    assert(md("geo").contains("crs"))
    // the embedded PROJJSON CRS routes straight into the CRS machinery:
    // naturalearth is WGS84 geographic -> the longlat identity spec
    val crs = ArrowIpc.crsOf(RefData.dataset("naturalearth_lowres.arrow"))
    assert(crs.isDefined && crs.get.contains("GeographicCRS"))
    val spec = graft.geom.ProjString.parse(crs.get)
    assert(spec.proj == "longlat" && spec.ell == graft.geom.Proj.Wgs84)
  }

  test("pyarrow LZ4-compressed batches + dictionary-encoded column decode " +
    "(the feather default wire format)") {
    // committed fixture written by pyarrow: write_feather(compression='lz4',
    // chunksize=64) with a pandas category column -> int8-indexed dictionary
    val path = getClass.getResource("/compressed_dict.arrow").getPath
    // parallel grain: the footer indexes 4 record batches (chunksize 64) —
    // the scan fans out per batch, so one big file never becomes one task
    assert(ArrowIpc.blockCountOf(path) == 4)
    val df = ArrowIpc.read(spark, path)
    assert(df.schema("name").dataType == StringType) // value type, not index
    assert(df.count() == 240)
    assert(df.rdd.getNumPartitions >= 2 && df.rdd.getNumPartitions <= 4)
    val byName = df.groupBy("name").count().collect()
      .map(r => (if (r.isNullAt(0)) "NULL" else r.getString(0)) -> r.getLong(1)).toMap
    assert(byName == Map("alpha" -> 80L, "beta" -> 80L, "gamma" -> 40L, "NULL" -> 40L))
    // values line up with the dictionary per row (multi-batch: chunksize 64)
    val rows = df.orderBy("n").collect()
    assert(rows(0).getString(0) == "alpha" && rows(1).getString(0) == "beta")
    assert(rows(4).isNullAt(0) && rows(239).getString(0) == "beta")
    assert(rows.map(_.getDouble(1)).sum == (0 until 240).sum.toDouble)
  }

  test("write: executor-parallel IPC export round-trips, incl. the real " +
    "naturalearth bytes and metadata") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("ipc_out").toString
    // synthetic frame exercising every writable type + nulls
    val df = spark.range(0, 500, 1, 4).select(
      col("id"),
      when(col("id") % 7 =!= 0, concat(lit("s"), col("id"))).as("s"),
      (col("id") % 2 === 0).as("b"),
      col("id").cast("int").as("i"),
      col("id").cast("double").as("d"),
      when(col("id") % 5 =!= 0, to_timestamp(lit("2026-08-17 01:02:03.000123"))).as("ts"),
      to_date(lit("2026-08-17")).as("dt"),
      st.st_point(col("id").cast("double"), lit(1.0)).as("geometry"))
    ArrowIpc.write(df, dir, batchRows = 64, metadata = Map("graft" -> "r5"))
    val parts = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".arrow"))
    assert(parts.length == 4)
    val back = ArrowIpc.read(spark, parts.map(_.getPath).toIndexedSeq: _*)
    assert(back.count() == 500)
    assert(ArrowIpc.metadataOf(parts.head.getPath) == Map("graft" -> "r5"))
    val a = df.orderBy("id").collect()
    val b = back.orderBy("id").collect()
    a.zip(b).foreach { case (x, y) =>
      assert(x.getLong(0) == y.getLong(0))
      assert(x.isNullAt(1) == y.isNullAt(1) && (x.isNullAt(1) || x.getString(1) == y.getString(1)))
      assert(x.getBoolean(2) == y.getBoolean(2) && x.getInt(3) == y.getInt(3))
      assert(x.getDouble(4) == y.getDouble(4))
      assert(x.isNullAt(5) == y.isNullAt(5) &&
        (x.isNullAt(5) || x.getTimestamp(5) == y.getTimestamp(5)))
      assert(x.getDate(6).toString == y.getDate(6).toString)
      assert(java.util.Arrays.equals(x.getAs[Array[Byte]](7), y.getAs[Array[Byte]](7)))
    }
    // REAL data round trip: reference WKB bytes survive export byte-identical,
    // and the geo metadata (incl. the source's PROJJSON CRS) rides along so
    // geoarrow-aware consumers recognize the geometry column
    assumeRefFiles(RefData.dataset("naturalearth_cities.arrow"))
    val dir2 = java.nio.file.Files.createTempDirectory("ipc_ne").toString
    val ne = ArrowIpc.read(spark, RefData.dataset("naturalearth_cities.arrow"))
    val srcCrs = ArrowIpc.crsOf(RefData.dataset("naturalearth_cities.arrow"))
    ArrowIpc.write(ne.repartition(2), dir2,
      metadata = Map("geo" -> ArrowIpc.geoMetadata("geometry", srcCrs)))
    val ne2 = ArrowIpc.read(spark,
      new java.io.File(dir2).listFiles().filter(_.getName.endsWith(".arrow"))
        .map(_.getPath).toIndexedSeq: _*)
    val h1 = ne.select(sum(crc32(col("geometry"))).as("h"), count(lit(1)).as("n")).head()
    val h2 = ne2.select(sum(crc32(col("geometry"))).as("h"), count(lit(1)).as("n")).head()
    assert(h1 == h2 && h2.getLong(1) == 243)
    // the exported parts' CRS round-trips through crsOf identically
    val outPart = new java.io.File(dir2).listFiles()
      .filter(_.getName.endsWith(".arrow")).head.getPath
    assert(ArrowIpc.crsOf(outPart) == srcCrs && srcCrs.isDefined)
  }

  test("write: naive (NTZ) timestamps round-trip as wall-clock, no zone tag") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("ipc_ntz").toString
    val df = spark.range(0, 20, 1, 2).select(col("id"),
      when(col("id") % 4 =!= 0,
        to_timestamp_ntz(lit("2026-08-17 12:34:56.000789"))).as("naive"))
    ArrowIpc.write(df, dir)
    val parts = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".arrow"))
    val back = ArrowIpc.read(spark, parts.map(_.getPath).toIndexedSeq: _*)
    // schema keeps the NTZ type (a zone-tagged write would shift values by
    // the session-zone offset vs polars/pandas semantics)
    assert(back.schema("naive").dataType ==
      org.apache.spark.sql.types.TimestampNTZType)
    val got = back.orderBy("id").collect()
    df.orderBy("id").collect().zip(got).foreach { case (x, y) =>
      assert(x.isNullAt(1) == y.isNullAt(1))
      if (!x.isNullAt(1))
        assert(x.getAs[java.time.LocalDateTime](1) == y.getAs[java.time.LocalDateTime](1))
    }
  }

  test("nybb.arrow: uint8 widens losslessly; multiple files union by schema") {
    assumeRefFiles(RefData.dataset("nybb.arrow"), RefData.CitiesArrow,
      RefData.dataset("naturalearth_cities.arrow"))
    val nybb = ArrowIpc.read(spark, RefData.dataset("nybb.arrow"))
    assert(nybb.count() == 5)
    assert(nybb.schema("BoroCode").dataType == ShortType) // arrow uint8
    assert(nybb.select("BoroCode").collect().map(_.getShort(0)).sorted.toSeq ==
      Seq[Short](1, 2, 3, 4, 5))
    // two-file read: schema check enforced, rows concatenated
    val both = ArrowIpc.read(spark,
      RefData.CitiesArrow, RefData.dataset("naturalearth_cities.arrow"))
    assert(both.count() == 202 + 243)
  }
}
