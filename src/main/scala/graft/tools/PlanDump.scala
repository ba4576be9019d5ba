package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FormattedMode

/** Dump formatted physical plans for plan review (expected shapes in
 *  PLANS.md). With no query names it dumps the headline queries and the
 *  flagship pipeline.
 *
 *  Usage: runMain graft.tools.PlanDump [sfDir] [query...] */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    def dump(name: String, df: DataFrame): Unit = {
      println(s"\n===== $name =====")
      println(df.queryExecution.explainString(FormattedMode))
    }
    if (args.length > 1) {
      args.tail.foreach(n => dump(n, graft.SparkEntry.queries(n)(spark, sfDir)))
    } else {
      Seq("q_spatial_join", "q_knn_points", "q1_agg", "q_lsh_dup_pairs", "q_st_distance",
        "q_tile").foreach(n => dump(n, graft.SparkEntry.queries(n)(spark, sfDir)))
      dump("pipeline", graft.pipeline.GeoPipeline.build(spark, 1000, 42, 4))
    }
    spark.stop()
  }
}
