package graft.join

import org.apache.spark.SparkContext
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GeneratorOuter, Literal}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.catalyst.plans.logical.{Join, LocalRelation, LogicalPlan, Range}
import org.apache.spark.sql.catalyst.trees.TreeNodeTag
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StructType}

import graft.functions.st
import graft.geom.GeomKernel
import graft.index.S2

/** How a left and a right geometry must relate to join: the reference's
 *  `Predicate::{Intersects, Contains}` (geopolars/src/spatial_index.rs:13,28;
 *  default Intersects), or lie within a planar distance. */
sealed abstract class SpatialPredicate extends Serializable {
  /** How far apart a matching pair may lie: 0 but for `DWithin`. */
  def radius: Double = 0.0
}
object SpatialPredicate {
  /** A predicate of the reference's truth table, named to
   *  `GeomKernel.joinRefine` by `id`. */
  sealed abstract class Topological(val id: Int) extends SpatialPredicate
  case object Intersects extends Topological(GeomKernel.PRED_INTERSECTS)
  case object Contains extends Topological(GeomKernel.PRED_CONTAINS)
  /** ST_DWithin as a join predicate: a pair matches when
   *  `st_distance(left, right) <= radius`, in ST_Distance's planar units. A
   *  null or empty geometry on either side matches nothing. */
  final case class DWithin(override val radius: Double) extends SpatialPredicate {
    require(radius >= 0, s"DWithin radius must be >= 0, got $radius")
  }
}

/**
 * Distributed spatial join with the reference's row-level semantics
 * (geopolars/src/spatial_index.rs:37-204):
 *
 *   filter  — candidate generation. The reference scans an in-process R-tree
 *             for AABB overlaps (:73-76); at cluster scale we bucket both
 *             sides by S2 cell (point -> its containing cell, right geometry
 *             -> the cells covering its bbox, widened by the predicate's
 *             radius). A broadcast layer whose rows the plan holds (see
 *             [[join]]) becomes one compact cell index probed from the point
 *             side in a single pass; every other layer meets its candidates
 *             under an equi-join on cell that Catalyst plans natively
 *             (broadcast or shuffled hash join), built by [[CellJoin.plan]]
 *             — the plan `graft.sql.SpatialJoinRule` gives a naive spatial
 *             join as well. Neither is ever a nested loop.
 *   refine  — the exact predicate: the truth table (:89-137) reproduced
 *             verbatim in `GeomKernel.joinRefineWith`, or `st_distance <= r`
 *             for `DWithin`.
 *   finish  — row-index pair matching with `_left`/`_right` suffixing
 *             (:147-199), reproduced with per-side row ids.
 *
 * Scale notes: the left (point) side never explodes (exactly one cell per
 * point); only the right side replicates, by its covering-cell count, which
 * is bounded by choosing `cellLevel` near the geometry size ([[AutoLevel]]
 * measures it). Skewed cells are handled explicitly in `joinSalted`.
 *
 * Entry points: [[join]] (broadcast, shuffle and, with [[AutoLevel]], the
 * cell level decided from the data; [[joinAutoBroadcast]] is its former
 * name), [[joinSalted]] (skewed large×large) and [[prepare]] (build a
 * layer's index ahead of its joins). [[autoCellLevel]] and
 * [[estimateCoveringBytes]] expose the measurements `join` decides from.
 */
object SpatialJoin {

  /** Default bucketing resolution: S2 level 9 ≈ 15-20 km cells. */
  val DefaultCellLevel = 9

  /** Point rows per cell before a cell is treated as hot (salted). */
  val DefaultSkewThreshold = 200000L

  private def suffixed(df: DataFrame, suffix: String): DataFrame =
    df.toDF(df.columns.map(_ + suffix).toIndexedSeq: _*)

  /**
   * Generic spatial join, semantics-faithful to the reference. Both inputs
   * need a WKB `geometry` column (the reference resolves the literal column
   * name "geometry", spatial_index.rs:44-45). A `DWithin(r)` join covers each
   * right geometry's bbox widened by `r` and refines with `st_distance <= r`;
   * every path below takes it.
   *
   * Like the reference's, the join takes no strategy from its caller: the
   * broadcast-vs-partition choice (*To Partition, or Not to Partition*,
   * SIGMOD 2021) is made from the data, with a bounded sample standing in
   * for the whole right side (*Random Sampling Over Spatial Range Joins*,
   * ICDE 2025):
   *
   *   - with `leftPointsOnly`, a right side whose rows the plan itself holds
   *     (the condition in [[estimateCoveringBytes]]) that is neither cached
   *     nor streaming is indexed once per cell level and radius into a
   *     `LayerIndex` (its covering, bboxes and rows), remembered on its
   *     analyzed plan. When the index's exact size fits `maxBroadcastBytes`
   *     it is broadcast and the left side alone is probed through a
   *     `Generate` (`spatial_index_probe` in the plan, naming the predicate,
   *     the level and the index's size); otherwise the cell join shuffles.
   *     Building it collects the right side, which for a `LocalRelation`
   *     runs no Spark job, and takes no count. [[prepare]] builds it ahead
   *     of time for any static right side;
   *   - a streaming right side is broadcast, with no decision action;
   *   - any other right side is broadcast when the estimate of its
   *     replicated covering ([[estimateCoveringBytes]] at the predicate's
   *     radius: an exact count and a sample) fits `maxBroadcastBytes`, and
   *     the cell join shuffles otherwise.
   *
   * `cellLevel = AutoLevel` picks the level as [[autoCellLevel]] does, from
   * the fan-out at the predicate's radius. The count and the sample are
   * remembered on an immutable right side, so a later join against the same
   * DataFrame decides with no Spark job; `maxBroadcastBytes` is compared on
   * every call. Columns, their order and nullability, and the output rows
   * are the same on every path: the naive join on the exact predicate,
   * bucketed by cell in [[CellJoin.plan]] (one cell per point and no row ids
   * with `leftPointsOnly`; else both sides explode and the pairs dedupe).
   */
  def join(left: DataFrame, right: DataFrame,
           predicate: SpatialPredicate = SpatialPredicate.Intersects,
           joinType: String = "inner",
           lSuffix: String = "_left", rSuffix: String = "_right",
           cellLevel: Int = DefaultCellLevel,
           leftPointsOnly: Boolean = false,
           maxBroadcastBytes: Long = DefaultMaxBroadcastBytes): DataFrame = {
    requireLevel("cellLevel", cellLevel, autoOk = true)
    requireJoinType(joinType)
    require(maxBroadcastBytes >= 0, s"maxBroadcastBytes must be >= 0, got $maxBroadcastBytes")
    if (cellLevel == AutoLevel) requireStatic(right)
    val radius = predicate.radius
    val level = if (cellLevel == AutoLevel) pickLevel(sampleCover(right, radius)) else cellLevel
    val index = if (leftPointsOnly && indexable(right)) Some(layerIndex(right, level, radius))
      else None
    index match {
      case Some(ix) if ix.stats.bytes <= maxBroadcastBytes =>
        probeJoin(left, right, ix, predicate, joinType, lSuffix, rSuffix)
      case _ =>
        val broadcastSide = right.isStreaming ||
          (index.isEmpty && estimate(right, level, radius) <= maxBroadcastBytes)
        cellJoin(left, right, predicate, joinType, lSuffix, rSuffix, level, broadcastSide,
          leftPointsOnly)
    }
  }

  /** [[join]] under its earlier name, kept for existing callers: `join`
   *  itself now decides broadcast, shuffle and level from the data. */
  def joinAutoBroadcast(left: DataFrame, right: DataFrame,
                        predicate: SpatialPredicate = SpatialPredicate.Intersects,
                        joinType: String = "inner",
                        lSuffix: String = "_left", rSuffix: String = "_right",
                        cellLevel: Int = DefaultCellLevel,
                        leftPointsOnly: Boolean = false,
                        maxBroadcastBytes: Long = DefaultMaxBroadcastBytes): DataFrame =
    join(left, right, predicate, joinType, lSuffix, rSuffix, cellLevel, leftPointsOnly,
      maxBroadcastBytes)

  /** The naive join, analyzed (Catalyst resolves the refine and the
   *  broadcast hint), bucketed by cell in [[CellJoin.plan]]. */
  private def cellJoin(left: DataFrame, right: DataFrame, predicate: SpatialPredicate,
                       joinType: String, lSuffix: String, rSuffix: String, level: Int,
                       broadcastSide: Boolean, leftPointsOnly: Boolean): DataFrame = {
    val (lName, rName) = ("geometry" + lSuffix, "geometry" + rSuffix)
    val r = suffixed(right, rSuffix)
    val naive = suffixed(left, lSuffix).join(if (broadcastSide) broadcast(r) else r,
      refine(col(lName), col(rName), predicate), if (joinType == "left") "left_outer" else "inner")
    val j = naive.queryExecution.analyzed match { case j: Join => j }
    def geom(side: LogicalPlan, name: String) = side.resolve(Seq(name), SQLConf.get.resolver).get
    Bridge.ofRows(naive.sparkSession, CellJoin.plan(j, geom(j.left, lName), geom(j.right, rName),
      predicate.radius, level, leftPointsOnly))
  }

  /** The exact test of a candidate pair: every join path refines with it. */
  private def refine(lg: Column, rg: Column, predicate: SpatialPredicate): Column =
    predicate match {
      case SpatialPredicate.DWithin(r) => st.st_distance(lg, rg) <= r
      case t: SpatialPredicate.Topological => st.st_joinRefine(lg, rg, lit(t.id))
    }

  /** Sentinel for [[join]]'s cellLevel: measure it with [[autoCellLevel]]
   *  instead of trusting a caller guess. */
  val AutoLevel: Int = -1

  private val DefaultMaxBroadcastBytes = 128L << 20

  // the decisions' sample size, and autoCellLevel's fan-out budget and
  // finest level
  private val SampleRows = 2048
  private val AutoTargetFanOut = 4.0
  private val AutoMaxLevel = 12

  /**
   * Measured covering resolution: the finest S2 level up to 12 whose
   * average covering fan-out on a bounded sample (the first 2048 rows) stays
   * within 4. `cellLevel` is otherwise a caller guess with a real failure
   * mode at scale — level 9 (~15 km cells) on country-sized polygons
   * explodes each into thousands of covering rows, while level 4 on
   * city-block polygons makes every cell a hot bucket of false candidates.
   * Finer levels mean fewer false candidate pairs per cell, so the finest
   * affordable level wins.
   *
   * The budget of 4 admits "the bbox spans about two cells per axis":
   * coverRect is tight (a bbox inside one cell covers that cell alone), so a
   * geometry smaller than a cell covers 1 to 4 cells depending on where the
   * cell edges fall, and the finest level whose average stays within 4 is
   * about the one where a cell matches the typical bbox.
   *
   * One Spark query samples every level 0..30 at once (a column per level,
   * each counted by [[cellCountFor]] without building the covering), and
   * the sample is remembered on an immutable `right`, as in
   * [[estimateCoveringBytes]]: a second call on the same DataFrame, or an
   * estimate at any level, starts no Spark job.
   */
  def autoCellLevel(right: DataFrame): Int = {
    requireStatic(right)
    pickLevel(sampleCover(right, 0.0))
  }

  /** Estimated bytes of the exploded (one row per covering cell) right side:
   *  rowCount × avg(per-row bytes) × avg(cells per geometry), averages from
   *  the same bounded sample as [[autoCellLevel]]. Geometry bytes are
   *  measured; other columns use their schema default sizes.
   *
   *  The exact `count()` and the sample are remembered on `right`'s analyzed
   *  plan (a private tree-node tag, gone with the plan) when that plan
   *  cannot change between executions: it is deterministic and every leaf
   *  holds its rows in the plan itself (a `LocalRelation`, as from
   *  `createDataFrame` over local rows, or a `Range`), cached or not. File
   *  and catalog scans and RDD-backed leaves re-count and re-sample on every
   *  call, since a source that grows must never feed the estimate a stale
   *  count. */
  def estimateCoveringBytes(right: DataFrame, cellLevel: Int): Long = {
    requireLevel("cellLevel", cellLevel)
    requireStatic(right)
    estimate(right, cellLevel, 0.0)
  }

  /**
   * Build `right`'s layer index at `cellLevel` now, for every later point
   * join against it — the reference's precomputed `SpatialIndex` handed in
   * through `SpatialJoinArgs` (geopolars/src/spatial_index.rs:20-21; reuse
   * test :558-624). Returns the frame to join against: `right` itself when
   * [[join]] can index it (its rows live in the plan, and it is not
   * cached), else a `createDataFrame` copy of its collected rows, which
   * costs one Spark job and fixes the layer as it is now. A [[join]] with
   * `leftPointsOnly` at the same level on the returned frame probes the
   * index built here when it fits the broadcast budget; any other join on
   * it plans as on any in-memory layer. A streaming `right` is rejected.
   */
  def prepare(right: DataFrame, cellLevel: Int = DefaultCellLevel): DataFrame = {
    requireLevel("cellLevel", cellLevel)
    require(!right.isStreaming,
      "prepare: right is a streaming DataFrame; only a static layer can be indexed")
    val layer = if (indexable(right)) right
      else right.sparkSession.createDataFrame(right.collectAsList(), right.schema)
    layerIndex(layer, cellLevel, 0.0)
    layer
  }

  private def requireStatic(right: DataFrame): Unit =
    require(!right.isStreaming, "right is a streaming DataFrame, which cannot be counted or " +
      "sampled; join it at a fixed cell level")

  /** An S2 level argument: 0..30, or [[AutoLevel]] where `autoOk`. */
  private def requireLevel(name: String, level: Int, autoOk: Boolean = false): Unit =
    parseLevel(name, level.toString, autoOk)

  /** The level `value` spells, checked as [[requireLevel]] checks an
   *  argument: a non-integer is rejected the same way, by name and value. */
  private[graft] def parseLevel(name: String, value: String, autoOk: Boolean = false): Int = {
    val level = value.toIntOption
      .filter(l => (l >= 0 && l <= S2.MaxLevel) || (autoOk && l == AutoLevel))
    require(level.nonEmpty,
      s"$name must be in 0..${S2.MaxLevel}${if (autoOk) s" or AutoLevel ($AutoLevel)" else ""}" +
        s", got $value")
    level.get
  }

  /** Averages over a bounded prefix sample of `right`, from one Spark query:
   *  the WKB length and, per level, the covering fan-out. An empty sample
   *  leaves them undefined. */
  private final case class CoverSample(geomBytes: Option[Double], fanOut: Map[Int, Double])

  /** A [[LayerIndex]] built on the driver and broadcast under the
   *  SparkContext `sc` when a join first probes it, so an index over the
   *  budget is never shipped. */
  private final class SharedIndex(val sc: SparkContext, layer: LayerIndex) {
    def stats: LayerStats = layer.stats
    lazy val index: Broadcast[LayerIndex] = sc.broadcast(layer)
  }

  /** What the decisions measured on one immutable right side: its exact row
   *  count, its sample at each radius, and each index, keyed by (cell level,
   *  radius, right schema). */
  private final case class Decisions(
      rows: Option[Long] = None,
      samples: Map[Double, CoverSample] = Map.empty,
      indexes: Map[(Int, Double, StructType), SharedIndex] = Map.empty)

  private val DecisionsTag = TreeNodeTag[Decisions]("graft.join.decisions")

  /** `right`'s analyzed plan when it cannot change between executions (the
   *  condition in [[estimateCoveringBytes]]), else None. */
  private def immutablePlan(right: DataFrame): Option[LogicalPlan] = {
    val plan = right.queryExecution.analyzed
    val fixed = plan.deterministic && plan.collectLeaves().forall {
      case _: LocalRelation | _: Range => true
      case _ => false
    }
    if (fixed) Some(plan) else None
  }

  /** `measure` once per immutable right side, `get` reading and `put`
   *  storing its value in the remembered [[Decisions]]; on every call for
   *  any other right side. */
  private def remembered[T](right: DataFrame)(get: Decisions => Option[T])
                           (put: (Decisions, T) => Decisions)(measure: => T): T =
    immutablePlan(right) match {
      case None => measure
      case Some(plan) =>
        def current = plan.getTagValue(DecisionsTag).getOrElse(Decisions())
        plan.synchronized(get(current)).getOrElse {
          // measured outside the lock: two racing callers both run the same
          // deterministic query and store the same value
          val v = measure
          plan.synchronized(plan.setTagValue(DecisionsTag, put(current, v)))
          v
        }
    }

  /** Whether `right` may be indexed: immutable, not streaming and reading no
   *  cached data (a cached layer keeps the hash-join plan over its cache). */
  private def indexable(right: DataFrame): Boolean =
    !right.isStreaming && immutablePlan(right).nonEmpty && !Bridge.readsCache(right)

  /** The index of an [[indexable]] `right` at `level` and `radius`. Built
   *  once per level, radius and SparkContext; an index remembered under
   *  another or a stopped context is never reused. */
  private def layerIndex(right: DataFrame, level: Int, radius: Double): SharedIndex = {
    val sc = right.sparkSession.sparkContext
    val key = (level, radius, right.schema)
    remembered(right)(_.indexes.get(key).filter(s => (s.sc eq sc) && !sc.isStopped))(
      (d, s) => d.copy(indexes = d.indexes + (key -> s))) {
      new SharedIndex(sc, LayerIndex.build(right, level, radius))
    }
  }

  /** The point join as one probe of `ix` per left row (see [[join]]). */
  private def probeJoin(left: DataFrame, right: DataFrame, ix: SharedIndex,
                        predicate: SpatialPredicate, joinType: String,
                        lSuffix: String, rSuffix: String): DataFrame = {
    val probe = LayerProbe(Bridge.expression(col("geometry" + lSuffix)), ix.index, ix.stats,
      predicate, right.schema)
    val gen = if (joinType == "left") GeneratorOuter(probe) else probe
    suffixed(left, lSuffix)
      .select(col("*"), Bridge.column(gen).as(right.columns.map(_ + rSuffix).toSeq))
  }

  private def requireJoinType(joinType: String): Unit =
    require(joinType == "inner" || joinType == "left",
      s"join type '$joinType' not supported (reference supports Inner/Left only," +
        " spatial_index.rs:200-203)")

  // Deliberately the exact count, never plan stats.rowCount: with CBO or
  // catalog stats that can be an estimate or stale, and an under-count flips
  // the broadcast decision toward the driver OOM the estimate exists to
  // prevent.
  private def rowCount(right: DataFrame): Long =
    remembered(right)(_.rows)((d, n) => d.copy(rows = Some(n)))(right.count())

  /** The replicated covering's estimated bytes at `level` and `radius`; an
   *  empty right side needs no sample. */
  private def estimate(right: DataFrame, level: Int, radius: Double): Long = {
    val n = rowCount(right)
    if (n == 0) 0L else coveringBytes(right, n, sampleCover(right, radius), level)
  }

  /** [[CoverSample]] of `right`'s first [[SampleRows]] rows at `radius`, at
   *  every level 0..30 (each fan-out counted in closed form). */
  private def sampleCover(right: DataFrame, radius: Double): CoverSample =
    remembered(right)(_.samples.get(radius))((d, c) => d.copy(samples = d.samples + (radius -> c))) {
      val g = col("geometry")
      val levels = 0 to S2.MaxLevel
      val row = right.select(g).limit(SampleRows)
        .select(avg(length(g)).as("g") +:
          levels.map(l => avg(coverCall(JoinKernel.coverCountExpr, g, radius, l)).as(s"l$l")): _*)
        .head()
      def at(i: Int): Option[Double] = if (row.isNullAt(i)) None else Some(row.getDouble(i))
      CoverSample(at(0), levels.flatMap(l => at(l + 1).map(l -> _)).toMap)
    }

  /** The finest level in 0..12 whose sampled fan-out fits the budget of 4
   *  (0 when none does, or the sample is empty). */
  private def pickLevel(s: CoverSample): Int =
    (AutoMaxLevel to 0 by -1).find(l => s.fanOut.get(l).exists(_ <= AutoTargetFanOut)).getOrElse(0)

  private def coveringBytes(right: DataFrame, n: Long, s: CoverSample, level: Int): Long = {
    val otherBytes = right.schema.fields
      .filterNot(_.name == "geometry").map(_.dataType.defaultSize.toLong).sum + 16
    val gBytes = s.geomBytes.getOrElse(64.0)
    val fanOut = math.max(1.0, s.fanOut.getOrElse(level, 1.0))
    (n * fanOut * (gBytes + otherBytes)).toLong
  }

  /**
   * Large×large points-vs-polygons join with explicit skew salting
   * (BASELINE.json:6). Hot cells — more point rows than `skewThreshold` —
   * split into `nSalts` shards: point rows pick a deterministic shard by
   * geometry hash, polygon covering-cell rows replicate to all shards. Cold
   * cells keep salt 0 on both sides, so replication cost is paid only where
   * skew exists. AQE's skew-join stays on underneath as a backstop.
   */
  def joinSalted(points: DataFrame, polys: DataFrame,
                 predicate: SpatialPredicate = SpatialPredicate.Intersects,
                 cellLevel: Int = DefaultCellLevel,
                 nSalts: Int = 8,
                 skewThreshold: Long = DefaultSkewThreshold,
                 lSuffix: String = "_left", rSuffix: String = "_right"): DataFrame = {
    requireLevel("cellLevel", cellLevel)
    require(nSalts >= 1, s"nSalts must be >= 1, got $nSalts")
    require(skewThreshold >= 0, s"skewThreshold must be >= 0, got $skewThreshold")
    // no row ids / dedupe here: the left side is points by contract, so each
    // point carries exactly one (cell, salt) key and meets each polygon
    // replica set at most once — a dedupe would add a full-width shuffle
    val l = suffixed(points, lSuffix)
    val r = suffixed(polys, rSuffix)
    val lg = col("geometry" + lSuffix)
    val rg = col("geometry" + rSuffix)

    val lCells = l.withColumn("__cell", pointCell(lg, cellLevel))

    // hot-cell census over the point side only, a groupBy whose shuffle
    // carries one row per DISTINCT cell, run on a seeded SAMPLE: rate p maps
    // the threshold to >=20 expected sample hits, a 2x-threshold cell is
    // missed with prob < 1e-9, and a missed borderline cell merely skips
    // salting — the hot SET only shapes the shuffle layout, never the output
    // rows. This keeps the census from re-scanning the full point corpus a
    // second time (the join itself is the first scan).
    val p = math.min(1.0, 20.0 / math.max(1L, skewThreshold))
    val censusSrc = if (p >= 1.0) lCells else lCells.sample(withReplacement = false, p, seed = 42)
    val hot = censusSrc.groupBy("__cell").count()
      .filter(col("count") > (skewThreshold * p).toLong)
      .select(col("__cell").as("__hot_cell"))

    val lSalted = lCells
      .join(broadcast(hot), lCells("__cell") === hot("__hot_cell"), "left")
      .withColumn("__salt",
        when(col("__hot_cell").isNotNull,
          pmod(xxhash64(lg), lit(nSalts)).cast("int")).otherwise(lit(0)))
      .drop("__hot_cell")

    val rCells = r.withColumn("__cell", explode(cellsForExpanded(rg, predicate.radius, cellLevel)))
    val rSalted = rCells
      .join(broadcast(hot), rCells("__cell") === hot("__hot_cell"), "left")
      .withColumn("__salt",
        explode(when(col("__hot_cell").isNotNull, sequence(lit(0), lit(nSalts - 1)))
          .otherwise(array(lit(0)))))
      .drop("__hot_cell")

    lSalted
      .join(rSalted, Seq("__cell", "__salt"), "inner")
      .filter(refine(lg, rg, predicate))
      .drop("__cell", "__salt")
  }

  /** Cell of a point geometry (exactly one — the no-replication left side);
   *  null for a null or empty geometry, which then meets no right row. */
  def pointCell(geomWkb: Column, level: Int): Column =
    Bridge.column(JoinKernel.pointCellExpr(Bridge.expression(st.st_bounds(geomWkb)), level))

  /** Covering cells of an arbitrary geometry via its bbox (complete superset;
   *  refinement removes false positives). Points yield exactly one cell; a
   *  null or empty geometry none. */
  def cellsFor(geomWkb: Column, level: Int): Column =
    cellsForExpanded(geomWkb, 0.0, level)

  /** Number of cells [[cellsFor]] yields for the same geometry, counted
   *  without building the covering. */
  def cellCountFor(geomWkb: Column, level: Int): Column =
    coverCall(JoinKernel.coverCountExpr, geomWkb, 0.0, level)

  /** Covering cells of a geometry's bbox expanded by `radius` planar degrees
   *  on every side (clamped to the lat/lon domain) — the candidate set for
   *  distance joins: any point within planar distance `radius` of the
   *  geometry lies inside the expanded bbox, so its (single) cell is in
   *  this covering. */
  def cellsForExpanded(geomWkb: Column, radius: Double, level: Int): Column =
    coverCall(JoinKernel.coverExpr, geomWkb, radius, level)

  private def coverCall(kernel: (Expression, Double, Int) => Expression, geomWkb: Column,
                        radius: Double, level: Int): Column =
    Bridge.column(kernel(Bridge.expression(st.st_bounds(geomWkb)), radius, level))
}

/** StaticInvoke targets for the join module. Each takes a geometry's bbox as
 *  the `st_bounds` struct; a null or empty bbox (JTS gives an empty
 *  geometry min > max) or one with a NaN covers no cell. */
object JoinKernel {

  private val NoCells: ArrayData = new GenericArrayData(Array.empty[Any])

  private def hasBox(b: InternalRow): Boolean =
    b != null && b.getDouble(0) <= b.getDouble(2) && b.getDouble(1) <= b.getDouble(3)

  private def lat(v: Double): Double = math.min(math.max(v, -90.0), 90.0)
  private def lon(v: Double): Double = math.min(math.max(v, -180.0), 180.0)

  /** The S2 cells at `level` covering bbox `b` expanded by `radius` on every
   *  side and clamped to the lat/lon domain. */
  def cover(b: InternalRow, radius: Double, level: Int): ArrayData =
    if (!hasBox(b)) NoCells
    else {
      val s = lat(b.getDouble(1) - radius); val w = lon(b.getDouble(0) - radius)
      val n = lat(b.getDouble(3) + radius); val e = lon(b.getDouble(2) + radius)
      if (s == n && w == e) new GenericArrayData(Array[Any](S2.cellId(s, w, level)))
      else new GenericArrayData(S2.coverRect(s, w, n, e, level).map(x => x: Any))
    }

  /** Length of the array [[cover]] returns for the same arguments. */
  def coverCount(b: InternalRow, radius: Double, level: Int): Long =
    if (!hasBox(b)) 0L
    else {
      val s = lat(b.getDouble(1) - radius); val w = lon(b.getDouble(0) - radius)
      val n = lat(b.getDouble(3) + radius); val e = lon(b.getDouble(2) + radius)
      if (s == n && w == e) 1L else S2.coverCount(s, w, n, e, level)
    }

  /** The cell at `level` of bbox `b`'s (min lat, min lon) corner. */
  def pointCell(b: InternalRow, level: Int): java.lang.Long =
    if (!hasBox(b)) null else S2.cellId(b.getDouble(1), b.getDouble(0), level)

  private val CellsType = ArrayType(LongType, containsNull = false)

  /** [[cover]] of the `st_bounds` struct `bounds` as a Catalyst expression. */
  private[graft] def coverExpr(bounds: Expression, radius: Double, level: Int): Expression =
    call("cover", CellsType, returnNullable = false, bounds, Literal(radius), Literal(level))

  /** [[coverCount]] of `bounds` as a Catalyst expression. */
  private[graft] def coverCountExpr(bounds: Expression, radius: Double, level: Int): Expression =
    call("coverCount", LongType, returnNullable = false, bounds, Literal(radius), Literal(level))

  /** [[pointCell]] of `bounds` as a Catalyst expression. */
  private[graft] def pointCellExpr(bounds: Expression, level: Int): Expression =
    call("pointCell", LongType, returnNullable = true, bounds, Literal(level))

  // no null propagation: a null bbox reaches the kernel, which covers nothing
  private def call(method: String, dt: DataType, returnNullable: Boolean,
                   args: Expression*): Expression =
    StaticInvoke(JoinKernel.getClass, dt, method, args,
      st.boundsSchema +: args.tail.map(_.dataType), propagateNull = false,
      returnNullable = returnNullable)
}
