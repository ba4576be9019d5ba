package graft

import org.apache.spark.graftbridge.SparkBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._

import graft.join.SpatialJoin

/** r6 (VERDICT r5 nit): `joinAutoBroadcast`'s size estimate ran a full
 *  `right.count()` on every call — a second complete pass when the right
 *  side is computed rather than a parquet scan. With a caller-supplied row
 *  count the estimate must (a) run one fewer Spark job (the bounded sample
 *  job only) and (b) produce the identical estimate. `joinAutoBroadcast`
 *  then takes both its level and its estimate from one sample query. */
class AutoBroadcastCountSpec extends SparkSpec {

  // a COMPUTED, storage-backed right side — the scenario the fix targets: a
  // local relation's count() is served driver-side without a job, so it
  // would not exercise the second-pass cost at all
  private def boxes = {
    val c = spark.read.parquet("/root/testdata/sf0.001/customer.parquet")
    c.select(col("c_custkey").as("id"),
      graft.functions.st.st_point(
        (col("c_custkey") % 80 - 40).cast("double"),
        (col("c_custkey") % 60 - 30).cast("double")).as("geometry"))
  }

  private def jobsFor(group: String)(body: => Unit): Int = {
    val sc = spark.sparkContext
    sc.setJobGroup(group, group, interruptOnCancel = false)
    try body finally sc.clearJobGroup()
    // the status store and every listener are fed from the async listener bus
    SparkBridge.drainListenerBus(sc)
    sc.statusTracker.getJobIdsForGroup(group).length
  }

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

  /** Distinct SQL executions (one per DataFrame action) among the jobs
   *  `body` starts. Under AQE one aggregate over a limit runs as two jobs
   *  (the limit's shuffle stage, then the result), so jobs over-count
   *  actions. */
  private def actionsFor(group: String)(body: => Unit): Int = {
    val executions = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty("spark.jobGroup.id") == group)
          executions.add(String.valueOf(e.properties.getProperty("spark.sql.execution.id")))
    }
    spark.sparkContext.addSparkListener(listener)
    try jobsFor(group)(body) finally spark.sparkContext.removeSparkListener(listener)
    executions.size
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
}
