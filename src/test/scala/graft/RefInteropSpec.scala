package graft

import org.apache.spark.sql.functions._

import graft.functions.st._
import graft.sources.{ArrowIpc, CellStore, RefData, Shapefile}

/**
 * The reference's REAL golden datasets through the round-5 interchange
 * codecs: Arrow IPC -> GeoJSONSeq -> back and Arrow IPC -> Shapefile ->
 * back must preserve every geometry bit-exactly (both codecs round-trip
 * IEEE doubles losslessly — GeoJSON via shortest-repr text, Shapefile via
 * raw doubles). This extends the q_ref_* "engine runs on reference bytes"
 * tie to the GeoJSON/Shapefile drivers.
 */
class RefInteropSpec extends SparkSpec {

  private def wkbSet(df: org.apache.spark.sql.DataFrame): Set[Seq[Byte]] =
    df.select(col("geometry")).collect()
      .map(_.getAs[Array[Byte]](0).toSeq).toSet

  test("naturalearth_cities (243 points) survives GeoJSONSeq bit-exactly") {
    assumeRefFiles(RefData.dataset("naturalearth_cities.arrow"))
    val src = ArrowIpc.read(spark, RefData.dataset("naturalearth_cities.arrow"))
    assert(src.count() == 243)
    val dir = java.nio.file.Files.createTempDirectory("ref-gj").toString
    CellStore.writeGeoJsonSeq(src, dir)
    val back = CellStore.readGeoJsonSeq(spark, dir)
    assert(back.count() == 243)
    assert(wkbSet(back) == wkbSet(src))
    // names survive in properties
    val names = back.select(get_json_object(col("properties"), "$.name").as("n"))
      .collect().map(_.getString(0)).toSet
    assert(names.contains("Vatican City"))
  }

  test("naturalearth_lowres (177 country polygons) survives GeoJSONSeq bit-exactly") {
    assumeRefFiles(RefData.dataset("naturalearth_lowres.arrow"))
    val src = ArrowIpc.read(spark, RefData.dataset("naturalearth_lowres.arrow"))
    assert(src.count() == 177)
    val dir = java.nio.file.Files.createTempDirectory("ref-gj-cty").toString
    CellStore.writeGeoJsonSeq(src, dir)
    val back = CellStore.readGeoJsonSeq(spark, dir)
    assert(back.count() == 177)
    assert(wkbSet(back) == wkbSet(src))
  }

  test("naturalearth_cities survives a Shapefile round-trip bit-exactly") {
    assumeRefFiles(RefData.dataset("naturalearth_cities.arrow"))
    val src = ArrowIpc.read(spark, RefData.dataset("naturalearth_cities.arrow"))
    val dir = java.nio.file.Files.createTempDirectory("ref-shp").toString
    Shapefile.write(src, dir)
    val back = Shapefile.read(spark, dir)
    assert(back.count() == 243)
    assert(wkbSet(back) == wkbSet(src))
    val names = back.select("name").collect().map(_.getString(0)).toSet
    assert(names.contains("Vatican City") && names.size > 200)
  }

  test("nybb boroughs (5 multipolygons) survive a Shapefile round-trip: equal areas") {
    assumeRefFiles(RefData.dataset("nybb.arrow"))
    val src = ArrowIpc.read(spark, RefData.dataset("nybb.arrow"))
    assert(src.count() == 5)
    val dir = java.nio.file.Files.createTempDirectory("ref-shp-nybb").toString
    Shapefile.write(src.select(col("BoroName"), col("geometry")), dir)
    val back = Shapefile.read(spark, dir)
    // shapefile polygon records do not pin ring order/start point, so
    // compare geometry VALUES (areas to the last ulp) rather than bytes
    val a = src.select(col("BoroName").as("b"), st_area(col("geometry")).as("ar"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val b = back.select(col("BoroName").as("b"), st_area(col("geometry")).as("ar"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(a.keySet == b.keySet && a.keySet.size == 5)
    a.foreach { case (k, v) => assert(b(k) == v, s"$k: ${b(k)} != $v") }
  }
}
