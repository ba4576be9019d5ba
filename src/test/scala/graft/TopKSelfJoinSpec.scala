package graft

import org.apache.spark.sql.functions._

import graft.functions.st._
import graft.join.SelfJoin

/** The scale-path operators: bounded top-k aggregate and triangle-sharded
 *  candidate-pair self-join. */
class TopKSelfJoinSpec extends SparkSpec {

  test("topk_by(asc): matches a window row_number plan exactly, incl. ties") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    // deliberate score ties: scores drawn from a small set
    val df = (1L to 5000L).map(i => (i % 7, rnd.nextInt(40).toDouble, i))
      .toDF("g", "score", "id")
    val viaAgg = df.groupBy("g")
      .agg(topk_by(col("score"), col("id"), 5, asc = true).as("tk"))
      .select(col("g"), posexplode(col("tk")))
      .select(col("g"), (col("pos") + 1).as("rnk"), col("col.score").as("score"),
        col("col.payload").as("id"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("g").orderBy(col("score"), col("id"))
    val viaWindow = df.withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= 5).select("g", "rnk", "score", "id")
    assert(viaAgg.except(viaWindow).isEmpty && viaWindow.except(viaAgg).isEmpty)
  }

  test("topk_by(desc): top-3 by descending score, payload breaks ties") {
    import spark.implicits._
    val df = Seq((1L, 2.0, 10L), (1L, 2.0, 3L), (1L, 5.0, 9L), (1L, 1.0, 1L),
      (1L, 5.0, 2L)).toDF("g", "score", "id")
    val out = df.groupBy("g")
      .agg(topk_by(col("score"), col("id"), 3, asc = false).as("tk"))
      .select(posexplode(col("tk"))).select(col("col.score"), col("col.payload"))
      .as[(Double, Long)].collect().toSeq
    assert(out == Seq((5.0, 2L), (5.0, 9L), (2.0, 3L)))
  }

  test("topk_by: fewer rows than k, null scores skipped") {
    import spark.implicits._
    val df = Seq((1L, Some(3.0), 7L), (1L, None, 8L)).toDF("g", "score", "id")
    val out = df.groupBy("g")
      .agg(topk_by(col("score"), col("id"), 5, asc = true).as("tk"))
      .select(size(col("tk"))).as[Int].collect()
    assert(out.toSeq == Seq(1))
  }

  test("topk_by plan: partial aggregation before the exchange (no window sort)") {
    import spark.implicits._
    val df = (1L to 1000L).map(i => (i % 3, i.toDouble, i)).toDF("g", "score", "id")
    val plan = df.groupBy("g").agg(topk_by(col("score"), col("id"), 5, asc = true))
      .queryExecution.executedPlan.toString
    assert(plan.contains("ObjectHashAggregate") || plan.contains("SortAggregate"))
    assert(!plan.contains("Window"))
    // partial-then-final: two aggregate operators around the exchange
    assert(plan.split("Aggregate").length > 2)
  }

  test("selfjoin: sharded output == plain all-pairs join, every threshold") {
    import spark.implicits._
    val rnd = new scala.util.Random(3)
    // skewed buckets: bucket 0 holds ~half the rows
    val df = (1L to 400L).map { i =>
      val b = if (rnd.nextBoolean()) 0L else rnd.nextInt(20).toLong
      (b, i, s"payload-$i")
    }.toDF("bucket", "id", "txt")
    val plain = df.as("l").join(df.as("r"), Seq("bucket"))
      .filter($"l.id" < $"r.id")
      .select(col("bucket"), $"l.id".as("id_a"), $"r.id".as("id_b"),
        $"l.txt".as("txt_a"), $"r.txt".as("txt_b"))
    for (threshold <- Seq(1L, 10L, 1000L); shards <- Seq(1, 3, 8)) {
      val sharded = SelfJoin.pairs(df, Seq("bucket"), "id",
        nShards = shards, hotThreshold = threshold)
        .select("bucket", "id_a", "id_b", "txt_a", "txt_b").distinct()
      assert(sharded.except(plain).isEmpty && plain.except(sharded).isEmpty,
        s"mismatch at threshold=$threshold shards=$shards")
      // each unordered pair exactly once per bucket (no duplicate inflation)
      assert(sharded.count() == plain.count(), s"dup rows at t=$threshold s=$shards")
    }
  }

  test("selfjoin: canonical order id_a < id_b always") {
    import spark.implicits._
    val df = (1L to 100L).map(i => (i % 2, 101L - i, s"t$i")).toDF("bucket", "id", "txt")
    val out = SelfJoin.pairs(df, Seq("bucket"), "id", nShards = 4, hotThreshold = 5)
    assert(out.filter(col("id_a") >= col("id_b")).isEmpty)
  }

  test("selfjoin rejects a bad shard count or hot threshold by name and value, before any job") {
    import spark.implicits._
    val df = Seq((0L, 1L), (0L, 2L)).toDF("bucket", "id")
    def message(f: => Any): String = intercept[IllegalArgumentException](f).getMessage
    var messages = Seq.empty[(String, String)]
    val jobs = SparkSpec.jobsFor("selfjoin-bad-args") {
      messages = Seq(
        message(SelfJoin.pairs(df, Seq("bucket"), "id", nShards = 0)) ->
          "nShards must be >= 1, got 0",
        message(SelfJoin.pairs(df, Seq("bucket"), "id", nShards = -2)) ->
          "nShards must be >= 1, got -2",
        message(SelfJoin.pairs(df, Seq("bucket"), "id", hotThreshold = -1)) ->
          "hotThreshold must be >= 0, got -1")
    }
    for ((got, want) <- messages) assert(got.contains(want), s"'$got' lacks '$want'")
    assert(jobs == 0)
  }
}
