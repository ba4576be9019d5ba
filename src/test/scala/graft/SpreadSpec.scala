package graft

/** Round-6 scan-parallelism optimization (SparkEntry.spread): the gated
 *  hash-repartition must change ONLY row placement, never row content or
 *  multiplicity. Each spread-modified gate query is run twice in the same
 *  session — once with the size gate closed (cap=0, spread is a no-op and
 *  the plan is the pre-r6 single-task-scan shape) and once with the default
 *  gate — and the two results must be row-for-row identical as multisets. */
class SpreadSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"
  private val touched = Seq(
    "q_st_distance", "q_box_ops", "q_geodesic", "q_simplify", "q_bounds_line",
    "q_intersects_bbox", "q_overlay", "q_buffer", "q_geodesic_ell",
    "q3_revenue", "q_window_topn", "q_utm",
    "q_proj_params", "q_laea", "q_albers", "q_lcc", "q_lcc1sp", "q_cyl", "q_omerc",
    "q_krovak", "q_sterea")

  private def rows(name: String): Map[String, Long] = {
    import org.apache.spark.sql.functions._
    val df = SparkEntry.queries(name)(spark, sf)
    // multiset compare: canonical string per row -> count. Columns join on
    // an unprintable separator and NULL maps to its own sentinel first —
    // concat_ws silently SKIPS nulls, which would let a spread-induced
    // nulling bug pass the equivalence check.
    df.select(concat_ws("",
        df.columns.map(c => coalesce(col(c).cast("string"), lit("NULL"))): _*)
        .as("r"))
      .groupBy("r").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
  }

  test("spread-gated queries return identical rows with and without spread") {
    try {
      touched.foreach { name =>
        spark.conf.set("spark.graft.spread.maxInputBytes", "0") // gate closed
        val off = rows(name)
        spark.conf.set("spark.graft.spread.maxInputBytes", (256L << 20).toString)
        val on = rows(name)
        assert(on == off, s"$name rows differ between spread on/off")
      }
    } finally spark.conf.unset("spark.graft.spread.maxInputBytes")
  }

  test("spread is a no-op above the size gate") {
    spark.conf.set("spark.graft.spread.maxInputBytes", "0")
    try {
      val plan = SparkEntry.queries("q_geodesic")(spark, sf)
        .queryExecution.optimizedPlan.toString
      assert(!plan.contains("RepartitionByExpression") && !plan.contains("Repartition"),
        s"gate closed but plan still repartitions:\n$plan")
    } finally spark.conf.unset("spark.graft.spread.maxInputBytes")
  }

  test("a malformed spread size gate fails naming the conf key and the value") {
    spark.conf.set("spark.graft.spread.maxInputBytes", "256MB")
    try {
      val e = intercept[IllegalArgumentException] {
        SparkEntry.queries("q_geodesic")(spark, sf)
      }
      assert(e.getMessage.contains("spark.graft.spread.maxInputBytes") &&
        e.getMessage.contains("'256MB'"), e.getMessage)
    } finally spark.conf.unset("spark.graft.spread.maxInputBytes")
  }
}
