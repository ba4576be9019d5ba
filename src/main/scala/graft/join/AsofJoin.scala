package graft.join

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Backward as-of join — for each left row, the latest right row with
 * `right.ts <= left.ts` for the same key (DuckDB/kdb ASOF semantics: ties on
 * equal timestamps match). The reference is batch-relational and has no
 * time-series join; this is the companion the brief's custom-operator list
 * names alongside the range join.
 *
 * Scale shape of [[join]]: both sides union into one frame tagged by origin,
 * ONE shuffle partitioned by key, sort within partitions by (ts, origin), and
 * the right payload carries forward with `last(ignoreNulls)` over the growing
 * window. No per-key loops, no range-condition join explosion: at any corpus
 * size the cost is a single exchange + sort, the plan Spark gives a groupBy
 * of the same key.
 *
 * Row atomicity: all right value columns travel as ONE struct through a
 * single `last(ignoreNulls)`, so the matched row is always a single right
 * row even when some of its value columns are NULL — per-column carry could
 * stitch columns from different right rows.
 *
 * Skew bound of [[join]]: a window cannot be salted and AQE skew handling
 * does not apply to Window, so one hyper-hot key runs as ONE sorted task —
 * the per-task bound is the largest single key's row count. When one key can
 * dominate (the boilerplate-crawl analogue), use [[joinBucketed]]: it
 * partitions the window by (key, time-bucket) so a hot key spreads over its
 * buckets, and carries snapshots across bucket boundaries with a second pass
 * over a frame of one row per (key, bucket) — tiny by construction.
 *
 * Contract: `right` must have at most one row per (key, ts) — with
 * duplicates the carried row among equal timestamps is tie-order dependent.
 * `valueCols` must not collide with left column names.
 */
object AsofJoin {

  def join(left: DataFrame, right: DataFrame,
           keyCol: String, tsCol: String, valueCols: Seq[String]): DataFrame = {
    require(valueCols.nonEmpty, "asof join needs at least one right value column")
    val clash = valueCols.toSet.intersect(left.columns.toSet)
    require(clash.isEmpty, s"asof value columns collide with left columns: $clash")

    val l = left.withColumn("__r", lit(0))
    // all value columns ride in one struct -> one last() -> the output row's
    // values always come from the SAME right row (atomic even w/ NULL values)
    val r = right.select(col(keyCol), col(tsCol), lit(1).as("__r"),
      struct(valueCols.map(col): _*).as("__snap"))
    // union fills each side's missing columns with NULL
    val u = l.unionByName(r, allowMissingColumns = true)
    // right rows sort BEFORE left rows at equal ts (__r desc), so an exact
    // timestamp tie matches — the ASOF >= convention
    val w = Window.partitionBy(keyCol)
      .orderBy(col(tsCol).asc, col("__r").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val filled = u.withColumn("__snap", last(col("__snap"), ignoreNulls = true).over(w))
    unpack(filled.filter(col("__r") === 0), "__snap", valueCols).drop("__r")
  }

  /**
   * Skew-safe backward as-of join: same semantics and same contract as
   * [[join]], but the running window partitions by (key, time bucket) so a
   * single hot key spreads over `~timeSpan/bucketWidth` tasks instead of one.
   *
   * Opt-in, not the default: measured at 4M rows (BENCH.md, "As-of join
   * under hot-key skew") this wins 4.9x when 90% of rows share one key but
   * costs ~2x on unskewed data (the boundary pass is pure overhead when no
   * key dominates) — choose by whether one key CAN dominate, or gate on a
   * cheap key census.
   *
   * Two passes:
   *  1. within-bucket: the union+window carry-forward of [[join]], partitioned
   *     by (key, bucket). Any right row in the same bucket at-or-before the
   *     left ts is by construction later than every right row in earlier
   *     buckets, so a non-null within-bucket match IS the answer.
   *  2. boundary carry: for left rows with no within-bucket match, the answer
   *     is the last right row of any EARLIER bucket. That needs only one row
   *     per (key, bucket): the per-bucket last right snapshot (`max_by`, a
   *     map-side-combining aggregate), carried forward across the key's
   *     bucket sequence with the same union+window trick — on a frame whose
   *     size is distinct (key, bucket) pairs, thousands of rows where the
   *     input had billions. The final stitch joins on (key, bucket), a
   *     composite that distributes the hot key.
   *
   * `bucket(tsCol)` must be a monotone non-decreasing function of the
   * timestamp (e.g. `ts.cast("long") / 3600` for hourly buckets).
   */
  def joinBucketed(left: DataFrame, right: DataFrame,
                   keyCol: String, tsCol: String, valueCols: Seq[String],
                   bucket: Column => Column): DataFrame = {
    require(valueCols.nonEmpty, "asof join needs at least one right value column")
    val clash = valueCols.toSet.intersect(left.columns.toSet)
    require(clash.isEmpty, s"asof value columns collide with left columns: $clash")

    val l = left.withColumn("__r", lit(0)).withColumn("__b", bucket(col(tsCol)))
    val r0 = right.select(col(keyCol), col(tsCol), lit(1).as("__r"),
      struct(valueCols.map(col): _*).as("__snap"))
      .withColumn("__b", bucket(col(tsCol)))

    // pass 1 — within-bucket carry: identical to join()'s window but keyed by
    // (key, bucket), so the hot key's rows sort in parallel per bucket
    val u = l.unionByName(r0, allowMissingColumns = true)
    val wIn = Window.partitionBy(keyCol, "__b")
      .orderBy(col(tsCol).asc, col("__r").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val inBucket = u.withColumn("__snap", last(col("__snap"), ignoreNulls = true).over(wIn))
      .filter(col("__r") === 0).drop("__r")

    // pass 2 — boundary frame: per-(key, bucket) last right snapshot...
    val bucketLast = r0.groupBy(col(keyCol), col("__b"))
      .agg(max_by(col("__snap"), col(tsCol)).as("__snap"))
    // ...as-of-joined (strictly earlier bucket) to the DISTINCT left buckets.
    // Order (bucket asc, marker asc) with left marker 0 < right marker 1:
    // right rows of the SAME bucket sort after the left probe, so the carry
    // window sees exactly the right rows of buckets < b.
    val leftBuckets = l.select(col(keyCol), col("__b")).distinct()
      .withColumn("__m", lit(0))
    val wCarry = Window.partitionBy(keyCol)
      .orderBy(col("__b").asc, col("__m").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val carry = leftBuckets
      .unionByName(bucketLast.withColumn("__m", lit(1)), allowMissingColumns = true)
      .withColumn("__carry", last(col("__snap"), ignoreNulls = true).over(wCarry))
      .filter(col("__m") === 0)
      .select(col(keyCol), col("__b"), col("__carry"))

    // stitch: within-bucket match wins, else the boundary carry — coalesced
    // as whole structs, so atomicity survives the two-pass split too.
    // NULL-SAFE equality (<=>) on the key: the carry window above groups a
    // null key like any other partition value (matching join()'s window
    // semantics), so the stitch must deliver its boundary carry too — a
    // plain equi-join would drop it and the two variants would diverge on
    // null keys, breaking joinAuto's "both paths identical" contract.
    val carryR = carry.withColumnRenamed(keyCol, "__ck").withColumnRenamed("__b", "__cb")
    val stitched = inBucket
      .join(carryR, col(keyCol) <=> col("__ck") && col("__b") <=> col("__cb"), "left")
      .withColumn("__snap", coalesce(col("__snap"), col("__carry")))
    unpack(stitched, "__snap", valueCols).drop("__b", "__ck", "__cb", "__carry")
  }

  /**
   * Self-gating variant: measures the hottest left key on a seeded sample
   * (one cheap aggregate job over `sampleRate` of the rows — the same
   * sampled-census pattern as SpatialJoin.joinSalted) and picks [[join]] when
   * no key exceeds `maxKeyRows`, [[joinBucketed]] when one does. This
   * operationalizes the measured crossover (BENCH.md: bucketed is 4.9x
   * faster at 90% single-key skew, ~2x slower unskewed) so callers who
   * cannot know their skew in advance don't have to guess. A borderline
   * misclassification is harmless either way: both paths return identical
   * rows, only the constant factor differs.
   *
   * Both sides are censused: the window task sorts left AND right rows of a
   * key, so a hyper-hot right-side key (one boilerplate url snapshotted a
   * billion times) stalls the plain path exactly like a hot left key would —
   * a left-only census cannot see it.
   */
  def joinAuto(left: DataFrame, right: DataFrame,
               keyCol: String, tsCol: String, valueCols: Seq[String],
               bucket: Column => Column,
               maxKeyRows: Long = 10000000L,
               sampleRate: Double = 0.001): DataFrame = {
    require(sampleRate > 0 && sampleRate <= 1, "sampleRate in (0, 1]")
    // ONE census job over the union of both key columns — the window task
    // sorts a key's left AND right rows together, so their combined count is
    // exactly the per-task bound being guarded (and one job halves the
    // pre-join latency of two sequential censuses)
    val hottestSampled = left.select(col(keyCol))
      .unionByName(right.select(col(keyCol)))
      .sample(withReplacement = false, sampleRate, seed = 42)
      .groupBy(keyCol).count()
      .agg(max("count").as("m"))
      .head().getAs[Any]("m") match {
        case null => 0L
        case n: Long => n
      }
    if (hottestSampled > maxKeyRows * sampleRate)
      joinBucketed(left, right, keyCol, tsCol, valueCols, bucket)
    else join(left, right, keyCol, tsCol, valueCols)
  }

  private def unpack(df: DataFrame, snapCol: String, valueCols: Seq[String]): DataFrame =
    valueCols.foldLeft(df)((d, c) => d.withColumn(c, col(snapCol + "." + c)))
      .drop(snapCol)
}
