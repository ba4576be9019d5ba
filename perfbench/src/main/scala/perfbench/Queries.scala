package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FileSourceScanExec

import graft.SparkEntry

/**
 * `queries`: the 20 headline queries of `graft.Bench` (entries of
 * `SparkEntry.queries`) over seed-generated tables in `dataDir`, each forced
 * with a noop sink, in a seed-shuffled order on every pass. The warm-up pass
 * of the first (cold) set-up round writes every query's output to
 * `checkDir/<query>`, where the output check reads it after the timed
 * section; the later rounds, whose median is `setup_s`, force with noop.
 */
final class Queries(seed: Long, dataDir: String, checkDir: String) extends Workload {
  val name = "queries"

  def sizes: Seq[(String, String)] =
    Seq("queries_per_pass" -> Json.num(Queries.Headline.size.toLong))

  private def query(n: String): (SparkSession, String) => DataFrame = SparkEntry.queries(n)

  private val orders = mutable.HashMap.empty[Int, IndexedSeq[String]]
  /** Query order of pass `p`: a seeded shuffle. */
  def order(p: Int): IndexedSeq[String] = orders.getOrElseUpdate(p,
    new scala.util.Random(Seeds.mix(seed, p.toLong)).shuffle(Queries.Headline.toIndexedSeq))

  private var setups = 0

  def setup(spark: SparkSession): Unit = {
    val h = new Harness(new Tracer(false), None)
    Queries.Headline.foreach { n =>
      val df = query(n)(spark, dataDir)
      if (setups == 0) df.write.mode("overwrite").parquet(s"$checkDir/$n") else h.force(df)
    }
    setups += 1
  }

  /** A pass is the loop's unit, so that every query is sampled equally often. */
  override def opsPerUnit: Int = Queries.Headline.size

  def op(spark: SparkSession, i: Int): Op = {
    val pass = i / Queries.Headline.size
    val n = order(pass)(i % Queries.Headline.size)
    Op(n, pass, 1L, () => query(n)(spark, dataDir))
  }

  /** Table path -> the columns the block's scans read, from the physical plans. */
  private var scans: Seq[(String, Seq[String])] = Nil

  private def readColumns(spark: SparkSession): Seq[(String, Seq[String])] = {
    val cols = mutable.LinkedHashMap.empty[String, mutable.LinkedHashSet[String]]
    Queries.Headline.foreach { n =>
      query(n)(spark, dataDir).queryExecution.sparkPlan.foreach {
        case s: FileSourceScanExec =>
          val path = s.relation.location.rootPaths.head.toString
          cols.getOrElseUpdate(path, mutable.LinkedHashSet.empty) ++= s.requiredSchema.fieldNames
        case _ =>
      }
    }
    cols.toSeq.map { case (p, c) => p -> c.toSeq }
  }

  def tracedRound(spark: SparkSession, round: Int, h: Harness): Round = {
    if (scans.isEmpty) scans = readColumns(spark)
    val n = Queries.Headline.size
    val plainPass = (0 until n).map(k => h.plain(op(spark, 2 * round * n + k)))
    val tracedPass = (0 until n).map { k =>
      val o = op(spark, (2 * round + 1) * n + k)
      h.traced(o, s"query.${o.key}")
    }
    val layers = mutable.HashMap.empty[String, Double]
    if (tracedPass.forall(_._2.isDefined)) {
      val totals = tracedPass.flatMap(_._2).reduce(_ + _)
      layers ++= Harness.sparkLayers(totals, tracedPass.map(_._3).sum)
    }
    val (_, decodeS) = h.timed("sources.decode") {
      scans.foreach { case (path, cols) =>
        h.force(spark.read.parquet(path).select(cols.map(org.apache.spark.sql.functions.col): _*))
      }
    }
    layers("sources.decode_s") = decodeS
    plainPass.foreach(s => layers(s"query.${s.key}_s") = s.seconds)
    Round(plainPass ++ tracedPass.map(_._1), layers.toMap)
  }

  /** Writes the oracle SQL to `checkDir/oracle_sql.json`, next to the outputs
   *  written in set-up; `run.py` compares them. */
  def check(spark: SparkSession, keys: Set[String], checkDir: String): Map[String, Check] = {
    val names = Queries.Headline.filter(keys.contains)
    val oracle = Json.obj(names.map(n => n -> Json.str(SparkEntry.oracleSql(n))): _*)
    Files.write(Paths.get(checkDir, "oracle_sql.json"), oracle.getBytes(StandardCharsets.UTF_8))
    names.map(n => n -> (Check.Deferred: Check)).toMap
  }
}

object Queries {
  /** The headline block of `graft.Bench`. */
  val Headline: Seq[String] = Seq(
    "q1_agg", "q3_revenue", "q_window_topn", "q_st_distance", "q_box_ops",
    "q_affine", "q_geodesic", "q_tile", "q_mercator", "q_spatial_join",
    "q_knn_points", "q_dedup_exact", "q_token_stats", "q_quality",
    "q_lsh_dup_pairs", "q_embed_norm", "q_knn_embed", "q_simplify",
    "q_hull_area", "q_s2_cells")
}
