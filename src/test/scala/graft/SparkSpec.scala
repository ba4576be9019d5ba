package graft

import org.apache.spark.graftbridge.SparkBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{GenerateExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local SparkSession for all suites (one JVM-wide session). */
object SparkSpec {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  /** The layer-index probes a physical plan runs (the initial plan of an
   *  adaptive one). */
  def layerProbes(plan: SparkPlan): Seq[graft.join.LayerProbe] = {
    val physical = plan match {
      case a: AdaptiveSparkPlanExec => a.initialPlan
      case p => p
    }
    physical.collect { case g: GenerateExec => g.generator }
      .collect { case p: graft.join.LayerProbe => p }
  }

  /** Spark jobs `body` starts, counted through a job group. */
  def jobsFor(group: String)(body: => Unit): Int = {
    val sc = spark.sparkContext
    sc.setJobGroup(group, group, interruptOnCancel = false)
    try body finally sc.clearJobGroup()
    // the status store and every listener are fed from the async listener bus
    SparkBridge.drainListenerBus(sc)
    sc.statusTracker.getJobIdsForGroup(group).length
  }

  /** Distinct SQL executions (one per DataFrame action) among the jobs
   *  `body` starts. Under AQE one aggregate over a limit runs as two jobs
   *  (the limit's shuffle stage, then the result), so jobs over-count
   *  actions. */
  def actionsFor(group: String)(body: => Unit): Int = {
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
}

abstract class SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.spark

  /** Cancels the test, naming the file, when a reference dataset is absent
   *  (a host without the reference checkout); a canceled test never
   *  counts as a pass. */
  protected def assumeRefFiles(paths: String*): Unit =
    paths.foreach { p =>
      assume(java.nio.file.Files.exists(java.nio.file.Paths.get(p)),
        s"reference file $p is missing")
    }
  override def beforeAll(): Unit = {
    spark.sparkContext.setLogLevel("WARN")
    super.beforeAll()
  }
}
