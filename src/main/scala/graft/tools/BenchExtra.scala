package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.functions.st
import graft.join.SelfJoin
import graft.pages.Pages
import graft.pipeline.GeoPipeline

/**
 * Round-6 scale soak (VERDICT r5 "Next round" #2): the recorded bench stops
 * at sf0.1 (2.4M pages); this tool runs the same operator shapes one tier up
 * on the seeded tierless generator and reports pages/sec (or docs/sec) plus
 * total shuffle bytes per tier, so the 100x trend (memory headroom, shuffle
 * growth, plan stability) is recorded evidence rather than an argument.
 *
 *   runMain graft.tools.BenchExtra [mult]    (default 10 -> 24M pages)
 *
 * Workloads, each at 2.4M ("x1") and 2.4M*mult ("x10"):
 *   pipeline  — GeoPipeline.build full plan (generate -> extract -> geocode
 *               -> broadcast spatial join -> tiles), noop-forced
 *   dedup     — q_dedup_exact's shape on generated page text: groupBy of the
 *               128-bit content key, never the text
 *   lsh       — q_lsh_dup_pairs' shape on generated page text + a shifted
 *               duplicate copy: minhash bands -> SelfJoin.pairs ->
 *               key-equality refine -> distinct pair ids
 * Prints one line per (workload, tier): rows, seconds (best of 2), rows/sec,
 * shuffle bytes written during the measured pass, and for the pipeline the
 * executed-plan exchange count (must not change across tiers).
 */
object BenchExtra {
  def main(args: Array[String]): Unit = {
    val mult = if (args.nonEmpty) args(0).toInt else 10
    val base = 2400000L
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    // shuffle accounting: stage-completion listener sums executed shuffle
    // write bytes; snapshot around each measured pass
    @volatile var shuffleWritten = 0L
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit =
        shuffleWritten += sc.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten
    })
    def force(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()

    def docs(n: Long): org.apache.spark.sql.DataFrame =
      Pages.generate(spark, n, 42, 64)
        .select((xxhash64(col("url"))).as("doc_id"), col("text"))

    // listener events arrive asynchronously after the action returns; wait
    // until the counter stays unchanged for three consecutive 150 ms windows
    // (at most 100 windows) before reading it, so a pass's bytes are not
    // attributed to the next pass
    def settledShuffle(): Long = {
      var cur = shuffleWritten
      var quiet = 0
      var windows = 0
      while (quiet < 3 && windows < 100) {
        Thread.sleep(150)
        val next = shuffleWritten
        if (next == cur) quiet += 1 else { cur = next; quiet = 0 }
        windows += 1
      }
      if (quiet < 3)
        System.err.println(s"EXTRA warning: shuffle counter still moving after $windows windows")
      cur
    }
    def measure(tag: String, rows: Long)(df: => org.apache.spark.sql.DataFrame): Unit = {
      spark.sparkContext.setJobDescription(s"benchextra:$tag")
      force(df) // warm pass (codegen, JIT)
      val (secs, shuf) = (0 until 2).map { _ =>
        val s0 = settledShuffle()
        val t0 = System.nanoTime()
        force(df)
        ((System.nanoTime() - t0) / 1e9, settledShuffle() - s0)
      }.minBy(_._1)
      println(f"EXTRA $tag rows=$rows secs=$secs%.1f rows_per_sec=${rows / secs}%.1f " +
        f"shuffle_bytes=$shuf")
      spark.sparkContext.setJobDescription(null)
    }

    Seq(1, mult).foreach { m =>
      val n = base * m
      val pipe = GeoPipeline.build(spark, n, seed = 42, numPartitions = 64 * m)
      val nEx = pipe.queryExecution.executedPlan.toString
        .linesIterator.count(_.contains("Exchange"))
      println(s"EXTRA pipeline_x$m exchanges=$nEx")
      measure(s"pipeline_x$m", n)(pipe)
      measure(s"dedup_x$m", n)(
        docs(n).groupBy(st.fingerprint64(col("text")).as("fp"),
            xxhash64(col("text")).as("fp2"))
          .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n"))
          .select("keep_id", "n"))
    }
    // LSH pairs: bands explode 4x, so run the tiers one decade down
    // (0.24M / 0.24M*mult docs after the union doubles them) to keep the
    // soak inside the sandbox's wall-clock budget while still measuring a
    // 10x step on the SAME shape
    Seq(1, mult).foreach { m =>
      val n = base / 10 * m
      val d = docs(n)
      val u = d.unionByName(
        d.select((col("doc_id") + (1L << 40)).as("doc_id"), col("text")))
      val bands = u.select(col("doc_id"),
        st.fingerprint64(col("text")).as("fp"), xxhash64(col("text")).as("fp2"),
        posexplode(st.minhash_bands(col("text"), lit(3), lit(16), lit(4))))
        .withColumnRenamed("pos", "band").withColumnRenamed("col", "bucket")
        .persist()
      measure(s"lsh_x$m", n * 2)(
        SelfJoin.pairs(bands, Seq("band", "bucket"), "doc_id", nShards = 16,
          hotThreshold = 5000, censusSampleRate = Double.NaN)
          .filter(col("fp_a") === col("fp_b") && col("fp2_a") === col("fp2_b"))
          .select(col("doc_id_a").as("a_id"), col("doc_id_b").as("b_id")).distinct())
      bands.unpersist()
    }
    spark.stop()
  }
}
