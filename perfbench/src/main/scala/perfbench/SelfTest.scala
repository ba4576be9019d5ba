package perfbench

import org.apache.spark.sql.functions._

/**
 * The harness's own checks, run by `selftest.py`:
 *
 *   perfbench.SelfTest --work <dir> --data <tiny tables dir>
 *
 * Self-time arithmetic on a hand-built span tree, task-skew arithmetic, and
 * for `pipeline` and `polyjoin` (at tiny sizes) that the output check passes
 * on the engine's answer and catches an injected wrong one. For `queries` it
 * writes the tiny block's outputs to `<work>/check`, where `selftest.py`
 * runs the DuckDB comparison on them, untouched and with a value altered.
 * Prints one line per check and exits non-zero if any fails.
 */
object SelfTest {
  private var failures = 0

  private def expect(name: String, ok: Boolean, detail: => String = ""): Unit = {
    println(s"${if (ok) "ok  " else "FAIL"} $name${if (ok) "" else s": $detail"}")
    if (!ok) failures += 1
  }

  def main(args: Array[String]): Unit = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val code = try { run(m("work"), m("data")); if (failures == 0) 0 else 1 }
      catch { case e: Throwable => e.printStackTrace(); 1 }
    System.exit(code)
  }

  private def run(work: String, data: String): Unit = {
    // op 0: root [0,100) with children [10,30), [20,50) (overlapping) and
    // [60,70); the child [60,70) has its own child [62,64)
    val spans = Seq(Span(0, "root", 0, 100, -1, 0), Span(1, "a", 10, 30, 0, 0),
      Span(2, "b", 20, 50, 0, 0), Span(3, "c", 60, 70, 0, 0), Span(4, "d", 62, 64, 3, 0))
    val self = Tracer.selfTimes(spans)
    expect("self time counts overlapping children once", self(0) == 100 - 40 - 10, s"${self(0)}")
    expect("self time of a span with one child", self(3) == 8, s"${self(3)}")
    expect("self time of leaves", self(1) == 20 && self(2) == 30 && self(4) == 2, self.toString)
    val tr = new Tracer(true)
    tr.op(7)(tr.span("outer")(tr.span("inner")(())))
    expect("recorded spans nest and carry the operation",
      tr.spans.map(s => (s.name, s.op)).toSet == Set(("outer", 7L), ("inner", 7L)) &&
        tr.spans.find(_.name == "inner").get.parent == tr.spans.find(_.name == "outer").get.id)
    expect("task skew is max over median", StageMetrics.skew(Seq(Seq(1L, 2L, 4L), Seq(5L))) == 2.0)

    val cores = Runtime.getRuntime.availableProcessors()
    val spark = Main.session(cores, work)
    try {
      val pipeline = new Pipeline(5, 2000, cores)
      val (joined, geocoded) = pipeline.checkInputs(spark)
      val (bad, expected) = Checks.pipelineMismatches(joined, geocoded)
      expect("pipeline check passes the engine's output", bad == 0 && expected > 0,
        s"$bad mismatches of $expected")
      val shifted = joined.withColumn("admin_id_right", col("admin_id_right") + 1)
      expect("pipeline check catches a shifted admin_id",
        Checks.pipelineMismatches(shifted, geocoded)._1 > 0)
      val dropped = joined.limit(math.max(0, expected.toInt - 1))
      expect("pipeline check catches a missing row",
        Checks.pipelineMismatches(dropped, geocoded)._1 > 0)

      val polyjoin = new PolyJoin(5, 2000, 300, batches = 1, cores, checkSample = 100)
      polyjoin.setup(spark)
      val (pairs, sample) = polyjoin.checkInputs(spark, 0)
      val polys = polyjoin.jtsPolygons
      expect("polyjoin sample has matches", pairs.nonEmpty)
      expect("polyjoin check passes the engine's output",
        Checks.polyjoinMismatches(pairs, sample, polys) == 0)
      expect("polyjoin check catches a shifted poly_id",
        Checks.polyjoinMismatches(pairs.map { case (p, q) => (p, q + 1) }, sample, polys) > 0)
      expect("polyjoin check catches a duplicated pair",
        Checks.polyjoinMismatches(pairs :+ pairs.head, sample, polys) > 0)

      val queries = new Queries(5, data, s"$work/check")
      queries.setup(spark)
      val checks = queries.check(spark, Queries.Headline.toSet, s"$work/check")
      expect("queries outputs written for every headline query",
        checks.size == Queries.Headline.size && checks.values.forall(_ == Check.Deferred))
    } finally spark.stop()
  }
}
