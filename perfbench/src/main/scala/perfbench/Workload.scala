package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.st
import graft.geom.GeomKernel
import graft.join.SpatialJoin

/** One closed-loop operation: `frame` builds the DataFrame (any eager work
 *  the engine does while building counts as part of the operation), which is
 *  then forced with a noop sink. `key` names the input, which the output
 *  checks verify; `items` is what the throughput counts. */
final case class Op(key: String, pass: Int, items: Long, frame: () => DataFrame)

/** A timed operation as recorded in the result file. */
final case class OpSample(key: String, pass: Int, seconds: Double, items: Long,
                          traced: Boolean, error: Option[String])

/** Outcome of the output check for one input key. */
sealed trait Check
object Check {
  case object Pass extends Check
  final case class Fail(detail: String) extends Check
  /** Outputs were written to the check directory; `run.py` compares
   *  them with their DuckDB oracles. */
  case object Deferred extends Check
}

/** What a traced round hands back: its timed operations and the per-layer
 *  values it measured. */
final case class Round(samples: Seq[OpSample], layers: Map[String, Double])

trait Workload {
  def name: String
  /** Workload sizes, recorded with every result. */
  def sizes: Seq[(String, String)]
  /** Generate or cache inputs in `spark` and warm up. Runs once per set-up
   *  round, each time in a fresh session. */
  def setup(spark: SparkSession): Unit
  /** The i-th operation of the plain closed loop. */
  def op(spark: SparkSession, i: Int): Op
  /** Operations per unit of the loop: the deadline is checked only between
   *  units, so that every unit that starts is complete. */
  def opsPerUnit: Int = 1
  /** One traced round: timed end-to-end work plus the per-layer probes. */
  def tracedRound(spark: SparkSession, round: Int, h: Harness): Round
  /** Check the outputs for the given input keys, outside the timed section. */
  def check(spark: SparkSession, keys: Set[String], checkDir: String): Map[String, Check]
}

/** Timing services the workloads share: plain and traced operations. */
final class Harness(val tracer: Tracer, val stages: Option[StageMetrics]) {
  private var nextOp = 0L

  /** Run `body` as a new traced operation: its spans and counts carry a
   *  fresh operation id. */
  def op[T](body: => T): T = {
    val id = nextOp
    nextOp += 1
    tracer.op(id)(body)
  }

  def force(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Time one operation untraced. */
  def plain(o: Op): OpSample = {
    val t0 = System.nanoTime()
    val err = try { force(o.frame()); None } catch { case e: Exception => Some(e.toString) }
    OpSample(o.key, o.pass, (System.nanoTime() - t0) / 1e9, o.items, traced = false, err)
  }

  /** Time one operation with spans around building, planning and execution,
   *  and with the stage listener's window around it. Returns the sample, the
   *  stage totals (None when the listener bus did not settle, which fails
   *  the operation), the planning seconds and the executed plan's text. */
  def traced(o: Op, spanName: String = "op"): (OpSample, Option[StageTotals], Double, String) = {
    val ready = stages.forall(_.begin())
    var planS = 0.0
    var planText = ""
    val t0 = System.nanoTime()
    val err = try {
      op {
        tracer.span(spanName) {
          val df = tracer.span("op.build")(o.frame())
          val p0 = System.nanoTime()
          planText = tracer.span("spark.plan")(df.queryExecution.executedPlan.toString)
          planS = (System.nanoTime() - p0) / 1e9
          tracer.span("spark.execute")(force(df))
        }
      }
      None
    } catch { case e: Exception => Some(e.toString) }
    val secs = (System.nanoTime() - t0) / 1e9
    val totals = stages.flatMap(_.end())
    val settleErr =
      if (stages.isDefined && (!ready || totals.isEmpty)) Some("listener bus did not settle in time")
      else None
    (OpSample(o.key, o.pass, secs, o.items, traced = true, err.orElse(settleErr)),
      totals, planS, planText)
  }

  /** Seconds spent in `body`, recorded as span `name`. */
  def timed[T](name: String)(body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val v = tracer.span(name)(body)
    (v, (System.nanoTime() - t0) / 1e9)
  }
}

object Harness {
  /** `spark.*` per-layer values of one measured window. */
  def sparkLayers(t: StageTotals, planS: Double): Map[String, Double] = Map(
    "spark.plan_s" -> planS, "spark.jobs" -> t.jobs.toDouble, "spark.tasks" -> t.tasks.toDouble,
    "spark.executor_run_s" -> t.executorRunS, "spark.executor_cpu_s" -> t.executorCpuS,
    "spark.gc_s" -> t.gcS, "spark.shuffle_write_mb" -> t.shuffleWriteMb,
    "spark.shuffle_read_mb" -> t.shuffleReadMb, "spark.fetch_wait_s" -> t.fetchWaitS,
    "spark.spill_mb" -> t.spillMb, "spark.task_skew" -> t.taskSkew)

  /** Whether the planned points-in-polygons join broadcasts its polygon side:
   *  the cell equi-join (keys `__cell` = `__cell_r`) is a broadcast hash join. */
  def broadcastJoin(planText: String): Boolean =
    planText.linesIterator.exists(l => l.contains("BroadcastHashJoin") && l.contains("__cell"))
}

/**
 * Per-layer probes of a points-in-polygons join, built from the join layer's
 * public pieces (`SpatialJoin.pointCell`, `SpatialJoin.cellsFor`,
 * `st_joinRefine`) so that each step is timed alone: the polygon covering,
 * the cell equi-join that yields candidate pairs, the exact refine, a
 * single-threaded `GeomKernel.joinRefine` loop over candidate pairs in probe
 * order, and the census of points per cell.
 */
object JoinProbes {
  def run(h: Harness, points: DataFrame, polygons: DataFrame, level: Int,
          broadcastPolygons: Boolean, refineSample: Int): Map[String, Double] = {
    val l = points.select(col("geometry").as("lg"))
      .withColumn("__cell", SpatialJoin.pointCell(col("lg"), level))
    val r = polygons.select(col("geometry").as("rg"))
      .withColumn("__cell_r", explode(SpatialJoin.cellsFor(col("rg"), level)))
    val (coveringRows, coverS) = h.timed("join.cover")(r.count())
    val cand = l.join(if (broadcastPolygons) broadcast(r) else r,
      col("__cell") === col("__cell_r"))
    val (candidates, probeS) = h.timed("join.probe")(cand.count())
    val (matches, refineS) = h.timed("join.refine")(
      cand.filter(st.st_joinRefine(col("lg"), col("rg"), lit(GeomKernel.PRED_INTERSECTS))).count())
    val pairs = cand.select("lg", "rg").limit(refineSample).collect()
      .map(row => (row.getAs[Array[Byte]](0), row.getAs[Array[Byte]](1)))
    val (_, loopS) = h.timed("geom.refine_loop") {
      var hits = 0
      pairs.foreach { case (a, b) =>
        if (GeomKernel.joinRefine(a, b, GeomKernel.PRED_INTERSECTS)) hits += 1
      }
      hits
    }
    val census = h.timed("join.census")(
      l.groupBy("__cell").count().agg(max("count"), sum("count")).head())._1
    val hotShare = if (census.isNullAt(1)) 0.0 else census.getLong(0).toDouble / census.getLong(1)
    Seq("join.covering_rows" -> coveringRows, "join.candidates" -> candidates,
      "join.matches" -> matches, "geom.refine_calls" -> pairs.length.toLong)
      .foreach { case (n, v) => h.tracer.count(n, v.toDouble) }
    Map(
      "join.cover_s" -> coverS, "join.covering_rows" -> coveringRows.toDouble,
      "join.probe_s" -> probeS, "join.candidates" -> candidates.toDouble,
      "join.refine_s" -> (refineS - probeS), "join.matches" -> matches.toDouble,
      "join.refine_useful_ratio" ->
        (if (candidates == 0) 0.0 else matches.toDouble / candidates),
      "geom.refine_ns_per_call" -> (if (pairs.isEmpty) 0.0 else loopS * 1e9 / pairs.length),
      "join.hot_cell_share" -> hotShare, "join.cell_level" -> level.toDouble,
      "join.broadcast" -> (if (broadcastPolygons) 1.0 else 0.0))
  }
}

/** Seeded 64-bit mixing for deriving per-batch seeds from the run seed. */
object Seeds {
  def mix(a: Long, b: Long): Long = {
    var z = a * 0x9e3779b97f4a7c15L + b
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }
}
