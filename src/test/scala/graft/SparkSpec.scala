package graft

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
}

abstract class SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.spark
  override def beforeAll(): Unit = {
    spark.sparkContext.setLogLevel("WARN")
    super.beforeAll()
  }
}
