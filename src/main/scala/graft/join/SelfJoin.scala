package graft.join

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * All unordered pairs of distinct rows sharing bucket-key columns — the
 * candidate-pair step of LSH dedup / ANN — with an explicit degenerate-bucket
 * guard. A bucket holding b rows yields ~b^2/2 pairs; boilerplate-heavy crawl
 * text guarantees hot buckets, and a plain self-equi-join materializes each
 * hot bucket's pairs in ONE task. Here a census finds buckets above
 * `hotThreshold`, and their rows are triangle-sharded: each row picks a
 * deterministic shard s in [0, nShards); the left side replicates to shard
 * pairs (s, s..n-1), the right side to (0..s, s), so the b^2 pair work
 * spreads over n(n+1)/2 tasks while every unordered pair still meets exactly
 * once per bucket. Cold buckets pay nothing (a single (0,0) shard key on both
 * sides, no replication).
 *
 * Output: bucket columns + every other input column twice, suffixed
 * `_a`/`_b`, canonicalized so idCol_a < idCol_b. A pair sharing several
 * buckets appears once per bucket (same as the plain join) — callers dedupe
 * on (id_a, id_b) as they would anyway.
 */
object SelfJoin {

  def pairs(df: DataFrame, bucketCols: Seq[String], idCol: String,
            nShards: Int = 16, hotThreshold: Long = 5000L): DataFrame = {
    require(nShards >= 1, s"nShards must be >= 1, got $nShards")
    require(hotThreshold >= 0, s"hotThreshold must be >= 0, got $hotThreshold")
    val payload = df.columns.filterNot(bucketCols.contains).toSeq
    val bCols = bucketCols.map(col)

    // exact hot-bucket census: one row per distinct bucket reaches its
    // shuffle. Callers whose df is expensive (LSH signatures) should
    // persist/materialize df before calling, since the census and the join
    // both read it.
    val hot = df.groupBy(bCols: _*).count()
      .filter(col("count") > hotThreshold)
      .drop("count")
      .withColumn("__hot", lit(true))

    val base = df.join(broadcast(hot), bucketCols, "left")
      .withColumn("__shard",
        when(col("__hot") === true, pmod(xxhash64(col(idCol)), lit(nShards)).cast("int"))
          .otherwise(lit(0)))

    val keyCols = bucketCols ++ Seq("__sa", "__sb")
    val lSide = base
      .withColumn("__sa", col("__shard"))
      .withColumn("__sb", explode(
        when(col("__hot") === true, sequence(col("__shard"), lit(nShards - 1)))
          .otherwise(array(col("__shard")))))
      .select(bCols ++ Seq(col("__sa"), col("__sb")) ++
        payload.map(c => col(c).as(c + "_l")): _*)
    val rSide = base
      .withColumn("__sb", col("__shard"))
      .withColumn("__sa", explode(
        when(col("__hot") === true, sequence(lit(0), col("__shard")))
          .otherwise(array(col("__shard")))))
      .select(bCols ++ Seq(col("__sa"), col("__sb")) ++
        payload.map(c => col(c).as(c + "_r")): _*)

    val idL = col(idCol + "_l"); val idR = col(idCol + "_r")
    val j = lSide.join(rSide, keyCols)
      // a same-shard task sees both orientations of a pair: keep one by id
      // order. A cross-shard task sees exactly one orientation: keep it
      // whatever the id order (dropping id_l > id_r there would LOSE pairs).
      .filter(col("__sa") =!= col("__sb") || idL < idR)
      .filter(idL =!= idR)

    val keepLeftFirst = idL < idR
    j.select(bCols ++ payload.flatMap(c => Seq(
      when(keepLeftFirst, col(c + "_l")).otherwise(col(c + "_r")).as(c + "_a"),
      when(keepLeftFirst, col(c + "_r")).otherwise(col(c + "_l")).as(c + "_b"))): _*)
  }
}
