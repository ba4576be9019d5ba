package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graftbridge.Bridge

import graft.join.{LayerProbe, SpatialJoin}

/** Run by `AutoBroadcastCountSpec` in a JVM of its own: joins an in-memory
 *  layer, stops the SparkContext, starts another and joins the same
 *  analyzed layer plan again. Broadcast ids restart at 0 under the new
 *  context, so a reused index would read another broadcast's blocks. */
object StoppedContextCheck {
  private def session(): SparkSession = SparkSession.builder().master("local[1]")
    .config("spark.ui.enabled", "false").getOrCreate()

  private def joined(s: SparkSession, right: DataFrame): DataFrame = {
    val pts = s.range(200).select(col("id"),
      functions.st.st_point(col("id") % 20 - 5.5, col("id") % 10 - 0.5).as("geometry"))
    SpatialJoin.join(pts, right, cellLevel = 4, leftPointsOnly = true)
  }

  private def probe(df: DataFrame): LayerProbe =
    SparkSpec.layerProbes(df.queryExecution.executedPlan).head

  private def pairs(df: DataFrame): Seq[(Long, Long)] =
    df.select(col("id_left"), col("box_right")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted

  def main(args: Array[String]): Unit = {
    val s1 = session()
    s1.sparkContext.setLogLevel("ERROR")
    val layer = s1.createDataFrame(Seq(
      (1L, geom.GeomKernel.stMakeBox(0, 0, 10, 5)), (2L, geom.GeomKernel.stMakeBox(-6, -1, 1, 3))))
      .toDF("box", "geometry")
    val first = joined(s1, layer)
    val (p1, rows1) = (probe(first), pairs(first))
    s1.stop()
    val s2 = session()
    s2.sparkContext.setLogLevel("ERROR")
    val moved = Bridge.ofRows(s2, layer.queryExecution.analyzed)
    val second = joined(s2, moved)
    val (p2, rows2) = (probe(second), pairs(second))
    val samePlan = moved.queryExecution.analyzed eq layer.queryExecution.analyzed
    println(s"STOPPED_CONTEXT same_plan=$samePlan reused=${p2.index eq p1.index} " +
      s"rows_equal=${rows1 == rows2 && rows1.nonEmpty}")
    s2.stop()
  }
}
