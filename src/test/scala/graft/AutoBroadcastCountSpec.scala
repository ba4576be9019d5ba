package graft

import org.apache.spark.sql.functions._

import graft.SparkSpec.{actionsFor, jobsFor}
import graft.join.SpatialJoin

/** r6 (VERDICT r5 nit): `joinAutoBroadcast`'s size estimate ran a full
 *  `right.count()` on every call — a second complete pass when the right
 *  side is computed rather than a parquet scan. With a caller-supplied row
 *  count the estimate must (a) run one fewer Spark job (the bounded sample
 *  job only) and (b) produce the identical estimate. `joinAutoBroadcast`
 *  then takes both its level and its estimate from one sample query, and an
 *  immutable right side is counted and sampled once, on its first call. */
class AutoBroadcastCountSpec extends SparkSpec {

  // a COMPUTED, parquet-backed right side — the scenario the fix targets. A
  // file scan is never remembered (a table may grow between calls), so every
  // call without rightRows re-counts; a layer of local rows (createDataFrame
  // over a list) is counted (two jobs under AQE) only on its first call
  private def boxes = customers(graft.functions.st.st_point(x, y))

  private def customers(geometry: org.apache.spark.sql.Column) =
    spark.read.parquet("/root/testdata/sf0.001/customer.parquet")
      .select(col("c_custkey").as("id"), geometry.as("geometry"))
  private def x = (col("c_custkey") % 80 - 40).cast("double")
  private def y = (col("c_custkey") % 60 - 30).cast("double")

  test("caller-supplied rightRows skips the count job and matches the counted estimate") {
    val right = boxes
    val n = right.count()
    var estCounted = 0L
    var estSupplied = 0L
    val withCount = jobsFor("acb-counted") {
      estCounted = SpatialJoin.estimateCoveringBytes(right, cellLevel = 4)
    }
    val withRows = jobsFor("acb-supplied") {
      estSupplied = SpatialJoin.estimateCoveringBytes(right, cellLevel = 4,
        rightRows = Some(n))
    }
    assert(estSupplied == estCounted,
      s"estimates differ: supplied=$estSupplied counted=$estCounted")
    assert(withRows < withCount,
      s"expected fewer jobs with rightRows supplied " +
        s"(counted=$withCount, supplied=$withRows)")
  }

  test("joinAutoBroadcast with AutoLevel and rightRows runs exactly one decision action") {
    val right = boxes
    val n = right.count()
    val actions = actionsFor("acb-auto") {
      SpatialJoin.joinAutoBroadcast(right.limit(10), right, cellLevel = SpatialJoin.AutoLevel,
        leftPointsOnly = true, rightRows = Some(n))
    }
    assert(actions == 1, s"expected one sample action for level and estimate, got $actions")
  }

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
    assert(firstActions == 2, s"first call: expected count + sample, got $firstActions")
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

  test("a remembered right side samples again for another sampleRows, and a " +
    "supplied rightRows overrides its remembered count") {
    val right = localBoxes
    var est = 0L
    assert(actionsFor("acb-key-1") { est = SpatialJoin.estimateCoveringBytes(right, 4) } == 2)
    assert(actionsFor("acb-key-2") {
      SpatialJoin.estimateCoveringBytes(right, 4, sampleRows = 100)
    } == 1, "another sampleRows must sample again (the count stays remembered)")
    val n = right.count()
    var est10 = 0L
    assert(actionsFor("acb-key-3") {
      est10 = SpatialJoin.estimateCoveringBytes(right, 4, rightRows = Some(10 * n))
    } == 0)
    // est = floor(n × fanOut × bytes), so 10n gives 10·est up to the truncation
    assert(est10 >= 10 * est && est10 < 10 * est + 10, s"est=$est est10=$est10")
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
