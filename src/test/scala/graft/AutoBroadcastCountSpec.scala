package graft

import org.apache.spark.sql.functions._

import graft.SparkSpec.{actionsFor, jobsFor}
import graft.join.{SpatialJoin, SpatialPredicate}

/** The Spark actions `SpatialJoin.join`'s decisions start. A right side
 *  whose rows the plan holds is counted and sampled once (one sample query
 *  answers every level at a radius) and, for a point join, indexed once with
 *  no count at all; a file- or RDD-backed right side is counted and sampled
 *  again on every call, since its source may change; a streaming right side
 *  is never acted on. */
class AutoBroadcastCountSpec extends SparkSpec {

  // a COMPUTED, parquet-backed side. A file scan is never remembered (a
  // table may grow between calls), so every join against it re-counts
  private def boxes = customers(graft.functions.st.st_point(x, y))

  private def customers(geometry: org.apache.spark.sql.Column) =
    spark.read.parquet("/root/testdata/sf0.001/customer.parquet")
      .select(col("c_custkey").as("id"), geometry.as("geometry"))
  private def x = (col("c_custkey") % 80 - 40).cast("double")
  private def y = (col("c_custkey") % 60 - 30).cast("double")

  /** A unit box around each of [[boxes]]' points, as an in-memory
   *  `LocalRelation` layer: each point of [[boxes]] lies inside its own box. */
  private def localBoxes = {
    val b = unitBoxes
    spark.createDataFrame(java.util.Arrays.asList(b.collect(): _*), b.schema)
  }

  /** The same boxes over an RDD (a `LogicalRDD` leaf), whose source may be
   *  read afresh on every action. */
  private def rddBoxes = {
    val b = unitBoxes
    spark.createDataFrame(spark.sparkContext.parallelize(b.collect().toSeq, 2), b.schema)
  }

  private def unitBoxes =
    customers(graft.functions.st.st_makeBox(x - 0.5, y - 0.5, x + 0.5, y + 0.5))

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long)] =
    df.select(col("id_left").cast("long"), col("id_right").cast("long")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted

  private def autoJoin(left: org.apache.spark.sql.DataFrame,
                       right: org.apache.spark.sql.DataFrame) =
    SpatialJoin.joinAutoBroadcast(left, right, cellLevel = SpatialJoin.AutoLevel,
      leftPointsOnly = true)

  test("an in-memory right side is decided once: a second joinAutoBroadcast runs no " +
    "decision action and returns the same rows") {
    val right = localBoxes
    val left = boxes.limit(200)
    var first, second: org.apache.spark.sql.DataFrame = null
    val firstActions = actionsFor("acb-memo-1") { first = autoJoin(left, right) }
    val secondActions = actionsFor("acb-memo-2") { second = autoJoin(left, right) }
    // the level needs the sample; the probe's budget is the index's own
    // size, so no count
    assert(firstActions == 1, s"first call: expected the sample alone, got $firstActions")
    assert(secondActions == 0, s"second call re-decided: $secondActions actions")
    assert(rows(second) == rows(first) && rows(first).nonEmpty)
  }

  test("a parquet-backed, RDD-backed or nondeterministic right side re-decides on every call") {
    val sides = Seq("parquet" -> boxes, "createDataFrame(rdd, schema)" -> rddBoxes,
      "rand() filter" -> localBoxes.filter(rand(7) < 2.0))
    for ((name, right) <- sides) {
      val calls = (1 to 2).map(i => actionsFor(s"acb-fresh-$i") {
        SpatialJoin.joinAutoBroadcast(right.limit(10), right, cellLevel = 4,
          leftPointsOnly = true)
      })
      assert(calls == Seq(2, 2), s"$name: expected count + sample on each call, got $calls")
    }
  }

  test("a remembered right side is counted once and sampled once per radius: every " +
    "level reads the same sample") {
    val right = localBoxes
    var (est4, est7) = (0L, 0L)
    assert(actionsFor("acb-key-1") { est4 = SpatialJoin.estimateCoveringBytes(right, 4) } == 2)
    assert(actionsFor("acb-key-2") {
      est7 = SpatialJoin.estimateCoveringBytes(right, 7)
      SpatialJoin.autoCellLevel(right)
    } == 0, "another level must read the remembered count and sample")
    // finer cells: more of them per unit box
    assert(est7 > est4, s"est4=$est4 est7=$est7")
    // a distance join samples its own radius, once; its count stays remembered
    def within = SpatialJoin.join(right.limit(10), right, SpatialPredicate.DWithin(0.5),
      cellLevel = SpatialJoin.AutoLevel)
    assert(actionsFor("acb-key-3") { within } == 1)
    assert(actionsFor("acb-key-4") { within } == 0)
  }

  test("join on an in-memory layer with leftPointsOnly starts no action at a fixed level " +
    "and one, the sample, at AutoLevel, and plans the probe") {
    // built outside the counted blocks: reading the parquet side and
    // collecting the layer's rows are actions of their own
    val (left, layer4, layerAuto) = (boxes, localBoxes, localBoxes)
    var fixed, auto: org.apache.spark.sql.DataFrame = null
    assert(actionsFor("acb-join-fixed") {
      fixed = SpatialJoin.join(left, layer4, cellLevel = 4, leftPointsOnly = true)
    } == 0)
    assert(actionsFor("acb-join-auto") {
      auto = SpatialJoin.join(left, layerAuto, cellLevel = SpatialJoin.AutoLevel,
        leftPointsOnly = true)
    } == 1)
    assert(probes(fixed).length == 1 && probes(auto).length == 1)
    assert(rows(auto) == rows(fixed) && rows(fixed).nonEmpty)
  }

  test("a budget one byte below the built index's size shuffles the cell join with the " +
    "same rows; exactly its size probes") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    val right = localBoxes
    def join(budget: Long) = SpatialJoin.join(boxes, right, cellLevel = 4,
      leftPointsOnly = true, maxBroadcastBytes = budget)
    val bytes = probes(join(128L << 20)).map(_.stats.bytes) match {
      case Seq(b) => b
      case other => fail(s"expected one probe, got $other")
    }
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      // silence Spark's own size-based broadcast so the plan shows our choice
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val (at, below) = (join(bytes), join(bytes - 1))
      assert(probes(at).map(_.stats.bytes) == Seq(bytes))
      val plan = physical(below)
      assert(probes(below).isEmpty, plan)
      assert(plan.collect { case j: BroadcastHashJoinExec => j }.isEmpty, plan)
      assert(plan.collect { case e: ShuffleExchangeLike => e }.nonEmpty, plan)
      assert(rows(below) == rows(at) && rows(at).nonEmpty)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("join against a streaming right side starts no action and keeps the broadcast " +
    "cell join") {
    import org.apache.spark.sql.catalyst.plans.logical.{BROADCAST, ResolvedHint}
    val stream = spark.readStream.format("rate").load().select(col("value").as("id"),
      graft.functions.st.st_makeBox(lit(0.0), lit(0.0), lit(1.0), lit(1.0)).as("geometry"))
    val left = boxes
    var joined: org.apache.spark.sql.DataFrame = null
    assert(actionsFor("acb-stream") {
      joined = SpatialJoin.join(left, stream, cellLevel = 4, leftPointsOnly = true)
    } == 0)
    assert(joined.isStreaming)
    val hints = joined.queryExecution.analyzed.collect { case h: ResolvedHint => h.hints }
    assert(hints.exists(_.strategy.contains(BROADCAST)), hints)
  }

  /** `df`'s physical plan, before adaptive execution re-plans it. */
  private def physical(df: org.apache.spark.sql.DataFrame) =
    df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.initialPlan
      case p => p
    }

  private def probes(df: org.apache.spark.sql.DataFrame): Seq[graft.join.LayerProbe] =
    SparkSpec.layerProbes(df.queryExecution.executedPlan)

  private def force(df: org.apache.spark.sql.DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  test("an in-memory layer is indexed once: a second joinAutoBroadcast runs exactly one " +
    "Spark job (the probe) and reuses the same broadcast index") {
    val right = localBoxes
    val left = boxes
    val first = autoJoin(left, right)
    force(first)
    var second: org.apache.spark.sql.DataFrame = null
    val jobs = jobsFor("acb-index-2") { second = autoJoin(left, right); force(second) }
    assert(jobs == 1, s"expected the probe job alone, got $jobs")
    val (p1, p2) = (probes(first), probes(second))
    assert(p1.length == 1 && p2.map(_.index.id) == p1.map(_.index.id), s"$p1 vs $p2")
    assert(rows(second) == rows(first) && rows(first).nonEmpty)
  }

  test("another cell level builds another index; the same level reuses its own") {
    val right = localBoxes
    def indexId(level: Int): Long = probes(SpatialJoin.joinAutoBroadcast(boxes, right,
      cellLevel = level, leftPointsOnly = true)).map(_.index.id) match {
      case Seq(id) => id
      case other => fail(s"level $level: expected one probe, got $other")
    }
    val (at4, at5) = (indexId(4), indexId(5))
    assert(at4 != at5)
    assert(indexId(4) == at4 && indexId(5) == at5)
  }

  test("parquet-backed, RDD-backed and cached right sides keep the broadcast hash join") {
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    val cached = localBoxes.cache()
    try {
      for ((name, right) <- Seq("parquet" -> unitBoxes, "createDataFrame(rdd, schema)" -> rddBoxes,
        "cached" -> cached)) {
        val joined = SpatialJoin.joinAutoBroadcast(boxes, right, cellLevel = 4,
          leftPointsOnly = true)
        val plan = physical(joined)
        assert(plan.collect { case j: BroadcastHashJoinExec => j }.nonEmpty, s"$name:\n$plan")
        assert(probes(joined).isEmpty, s"$name:\n$plan")
        assert(rows(joined) == rows(autoJoin(boxes, localBoxes)), name)
      }
    } finally cached.unpersist()
  }

  test("an index remembered under a stopped SparkContext is never reused") {
    // needs its own JVM: it stops a SparkContext and starts another
    import scala.jdk.CollectionConverters._
    val javaBin = s"${System.getProperty("java.home")}/bin/java"
    val jvmArgs = java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
      .filter(a => a.startsWith("--add-opens") || a.startsWith("-Dspark."))
    val cmd = Seq(javaBin, "-Xmx1g", "-cp", System.getProperty("java.class.path")) ++ jvmArgs :+
      "graft.StoppedContextCheck"
    val out = new StringBuilder
    val exit = scala.sys.process.Process(cmd).!(scala.sys.process.ProcessLogger(
      l => out.append(l).append('\n'), l => out.append(l).append('\n')))
    assert(exit == 0, out.toString)
    assert(out.toString.contains("STOPPED_CONTEXT same_plan=true reused=false rows_equal=true"),
      out.toString)
  }
}
