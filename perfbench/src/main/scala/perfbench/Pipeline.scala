package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.pages.Pages
import graft.pipeline.GeoPipeline

/**
 * `pipeline`: `GeoPipeline.build` (pages -> text -> geocode -> cells ->
 * broadcast spatial join with the 128-rectangle admin layer -> tiles) on
 * `nPages` seed-generated pages, forced with a noop sink.
 */
final class Pipeline(seed: Long, nPages: Long, cores: Int) extends Workload {
  val name = "pipeline"
  private val parts = cores * 4
  /** `GeoPipeline.build`'s join cell level, passed explicitly so the probes
   *  use the level the pipeline runs at. */
  private val joinLevel = 5

  def sizes: Seq[(String, String)] = Seq("pages_per_op" -> Json.num(nPages),
    "partitions" -> Json.num(parts.toLong),
    "admin_polygons" -> Json.num(128L), "join_cell_level" -> Json.num(joinLevel.toLong))

  private val pageSeed = Seeds.mix(seed, 0L) & Long.MaxValue

  private def frame(spark: SparkSession): DataFrame =
    GeoPipeline.build(spark, nPages, pageSeed, parts, joinCellLevel = joinLevel)

  def setup(spark: SparkSession): Unit = new Harness(new Tracer(false), None).force(frame(spark))

  def op(spark: SparkSession, i: Int): Op = Op("pages", i, nPages, () => frame(spark))

  private var geocodedPoints: Option[(DataFrame, Long)] = None

  def tracedRound(spark: SparkSession, round: Int, h: Harness): Round = {
    val o = op(spark, round)
    val plain = h.plain(o)
    val (traced, totals, planS, plan) = h.traced(o)
    val layers = mutable.HashMap.empty[String, Double]
    totals.foreach(t => layers ++= Harness.sparkLayers(t, planS))

    // column-pruned steps: each adds the next layer's columns to the last
    val pages = Pages.generate(spark, nPages, pageSeed, parts)
    val geocoded = Pages.geocode(pages, Pages.gazetteer(spark))
    val base = Seq("url", "warc_ts", "html")
    val steps = Seq(
      "pages.step.range" -> spark.range(0, nPages, 1, parts).toDF(),
      "pages.step.synth" -> pages.select(base.map(col): _*),
      "pages.step.text" -> pages.select((base ++ Seq("text", "lang")).map(col): _*),
      "pages.step.geocode" -> geocoded.select(
        (base ++ Seq("text", "lang", "entity", "lat", "lon", "geometry")).map(col): _*),
      "pages.step.cells" -> geocoded)
    val t = steps.map { case (n, df) => h.timed(n)(h.force(df))._2 }
    layers ++= Seq("pages.synth_s" -> (t(1) - t(0)), "text.extract_s" -> (t(2) - t(1)),
      "pages.geocode_s" -> (t(3) - t(2)), "index.cells_s" -> (t(4) - t(3)))

    val (pts, hits) = geocodedPoints.getOrElse {
      val df = geocoded.select("url", "geometry").persist()
      (df, df.count())
    }
    geocodedPoints = Some((pts, hits))
    h.tracer.count("pages.rows", nPages.toDouble)
    h.tracer.count("pages.geocoded_rows", hits.toDouble)
    layers ++= Seq("pages.rows" -> nPages.toDouble,
      "pages.geocode_hit_ratio" -> hits.toDouble / nPages)
    layers ++= JoinProbes.run(h, pts, GeoPipeline.adminLayer(spark), joinLevel,
      broadcastPolygons = Harness.broadcastJoin(plan), refineSample = 20000)
    // the pipeline passes its level and strategy; no estimate runs
    layers("join.estimate_s") = 0.0
    Round(Seq(plain, traced), layers.toMap)
  }

  /** The pipeline output and the geocoded pages it joins. */
  def checkInputs(spark: SparkSession): (DataFrame, DataFrame) =
    (frame(spark), Pages.geocode(Pages.generate(spark, nPages, pageSeed, parts),
      Pages.gazetteer(spark)))

  def check(spark: SparkSession, keys: Set[String], checkDir: String): Map[String, Check] =
    keys.toSeq.map { key =>
      val (joined, geocoded) = checkInputs(spark)
      val (bad, expected) = Checks.pipelineMismatches(joined, geocoded)
      key -> (if (bad == 0 && expected > 0) Check.Pass
        else Check.Fail(s"$bad (url, admin_id) rows differ from the grid assignment " +
          s"($expected expected rows)"))
    }.toMap
}
