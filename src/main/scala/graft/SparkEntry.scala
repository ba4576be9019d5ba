package graft

import java.io.FileNotFoundException

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.functions.st._
import graft.geom.Wkb
import graft.join.{SelfJoin, SpatialJoin, SpatialPredicate}
import graft.pages.Pages
import graft.pipeline.GeoPipeline
import graft.snapshot.Snapshot
import graft.sources.{CellStore, RefData}
import org.locationtech.jts.geom.Coordinate

/**
 * Driver contract: one `queries` entry per implemented operator from
 * SURVEY.md §2, with ANSI-SQL oracles in `oracleSql` (DuckDB on the same
 * parquet tables). Geometry inputs are derived deterministically from table
 * columns so the oracle can compute the expected values in plain SQL.
 *
 * Float outputs are rounded at a granularity far above cross-engine libm ulp
 * differences (~1e-15 relative); integer-valued outputs are cast to BIGINT on
 * both sides so schemas hash identically.
 */
object SparkEntry {

  /** The gate table `$dir/$name.parquet`. Inferring a parquet schema starts
   *  a Spark job (about 0.1 s); a read with a supplied schema starts none.
   *  So the first read of a table file infers as `read.parquet` does and
   *  remembers the `StructType` Spark returned, field metadata included;
   *  every later read of the unchanged file passes it to `read.schema`
   *  (Spark makes a supplied schema nullable as it does an inferred one, so
   *  the relation is the same).
   *
   *  The memo is JVM-wide, keyed on the qualified file path, and an entry
   *  holds only while its stamp matches: the file's length and modification
   *  time (one `getFileStatus`) and the session's `spark.sql.parquet.*` and
   *  `spark.sql.legacy.parquet.*` settings. A rewritten or re-typed file, or
   *  a session that changes an inference setting, is inferred again.
   *  Directories are inferred on every read: their schema spans files the
   *  directory's own status does not stamp (`CellStore` dirs are rewritten
   *  in place). A missing path falls through to `read.parquet`, so Spark's
   *  path-not-found error is unchanged. */
  private[graft] def t(s: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    tableStamp(s, path) match {
      case None => s.read.parquet(path)
      case Some((key, stamp)) => Option(schemas.get(key)) match {
        case Some((`stamp`, schema)) => s.read.schema(schema).parquet(path)
        case _ =>
          val df = s.read.parquet(path)
          schemas.put(key, (stamp, df.schema))
          df
      }
    }
  }

  private final case class TableStamp(length: Long, mtime: Long, conf: Map[String, String])

  private val schemas =
    new java.util.concurrent.ConcurrentHashMap[String, (TableStamp, StructType)]()

  /** The qualified path and stamp of a regular file; None for a directory
   *  or a missing path. */
  private def tableStamp(s: SparkSession, path: String): Option[(String, TableStamp)] = {
    val p = new Path(path)
    val fs = p.getFileSystem(
      s.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sessionState.newHadoopConf())
    val status = try Some(fs.getFileStatus(p)) catch { case _: FileNotFoundException => None }
    status.filter(_.isFile).map { f =>
      val conf = s.conf.getAll.filter { case (k, _) =>
        k.startsWith("spark.sql.parquet.") || k.startsWith("spark.sql.legacy.parquet.") }
      fs.makeQualified(p).toString -> TableStamp(f.getLen, f.getModificationTime, conf)
    }
  }

  private final val SpreadCapConf = "spark.graft.spread.maxInputBytes"

  /** Scan-parallelism fix for kernel-heavy projections (optimization guide
   *  §2.4/§6.1): every gate table is a single-row-group parquet file, and a
   *  parquet row group is assigned to the ONE split holding its midpoint —
   *  so a bare scan runs as one task and all per-row geometry/text kernels
   *  serialize on a single core regardless of `local[N]`. spread() hash-
   *  repartitions the scanned rows across the session's default parallelism
   *  BEFORE the expensive per-row work. Guard rails that keep it scale-
   *  adaptive rather than a local-mode tune:
   *    - input-size gate: only fires when the scan's estimated bytes fit
   *      `spark.graft.spread.maxInputBytes` (default 256 MB). At production
   *      scale the input has many row groups and already yields >= cores
   *      splits, the gate is over the cap, and the frame passes through
   *      unchanged — no extra exchange.
   *    - keyed (hash) repartition on a stable high-cardinality column, not
   *      round-robin: deterministic under task retry and skips the
   *      sort-before-repartition pass a round-robin exchange pays.
   *  Row contents are untouched (only placement changes), so results are
   *  byte-identical — every consumer below is order-insensitive. */
  private def spread(df: DataFrame, keys: Column*): DataFrame = {
    val sess = df.sparkSession
    val n = sess.sparkContext.defaultParallelism
    val cap = sess.conf.getOption(SpreadCapConf).map { v =>
      try v.toLong catch { case _: NumberFormatException =>
        throw new IllegalArgumentException(
          s"$SpreadCapConf must be a whole number of bytes, got '$v'") }
    }.getOrElse(256L << 20)
    // cap <= 0 is the documented hard-off switch (a 0-byte empty relation
    // must not slip past a 0 cap via <=)
    if (n > 1 && cap > 0 && df.queryExecution.optimizedPlan.stats.sizeInBytes <= cap)
      df.repartition(n, keys: _*)
    else df
  }

  /** Flagship: the geo pipeline end-to-end at smoke scale. */
  def entry(spark: SparkSession): DataFrame =
    GeoPipeline.run(spark, nPages = 1000, seed = 42, numPartitions = 4).joined

  // customer-derived synthetic point field (lon/lat kept strictly off all
  // integer box boundaries by the +0.5 offsets)
  private def custPoints(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer").select(
      col("c_custkey").as("custkey"),
      ((col("c_custkey") * 37) % 340 - 170 + 0.5).cast("double").as("lon"),
      ((col("c_custkey") * 17) % 116 - 58 + 0.5).cast("double").as("lat"))

  private val custPointsSql =
    """SELECT c_custkey AS custkey,
      | CAST((c_custkey * 37) % 340 - 170 + 0.5 AS DOUBLE) AS lon,
      | CAST((c_custkey * 17) % 116 - 58 + 0.5 AS DOUBLE) AS lat FROM customer""".stripMargin

  // Streaming gate plumbing: the file-stream source wants a DIRECTORY, so
  // the single parquet file is staged behind a symlink in a temp dir. The
  // dir is keyed by (query, sf dir) and REUSED across invocations, so
  // repeated gate/bench runs in one JVM don't accumulate temp dirs (both
  // entries are also removed on JVM exit). The memory sink name is likewise
  // stable per query, with any previous registration dropped before the run.
  private def streamStageDir(name: String, dir: String, table: String): String = {
    val base = java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"),
      s"graft-stream-$name-${Integer.toHexString(dir.hashCode)}")
    val link = base.resolve(s"$table.parquet")
    if (!java.nio.file.Files.isSymbolicLink(link)) {
      java.nio.file.Files.createDirectories(base)
      java.nio.file.Files.createSymbolicLink(link,
        java.nio.file.Paths.get(s"$dir/$table.parquet"))
      base.toFile.deleteOnExit(); link.toFile.deleteOnExit()
    }
    base.toString
  }

  private def runToMemorySink(s: SparkSession, df: DataFrame, name: String,
                              mode: String): DataFrame = {
    s.catalog.dropTempView(name)
    val q = df.writeStream.format("memory").queryName(name).outputMode(mode)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    s.table(name)
  }

  // the spatial-join polygon layer: 6 literal lon/lat boxes
  private val joinBoxes = Seq(
    (1L, -170.0, -58.0, -100.0, -10.0), (2L, -100.0, -10.0, -30.0, 40.0),
    (3L, -30.0, -58.0, 40.0, 0.0), (4L, 40.0, 0.0, 110.0, 58.0),
    (5L, -170.0, 10.0, -100.0, 58.0), (6L, 110.0, -58.0, 170.0, 58.0))

  private def boxWkb(minx: Double, miny: Double, maxx: Double, maxy: Double): Array[Byte] =
    Wkb.write(Wkb.factory.createPolygon(Array(
      new Coordinate(minx, miny), new Coordinate(maxx, miny),
      new Coordinate(maxx, maxy), new Coordinate(minx, maxy), new Coordinate(minx, miny))))

  /** The first `n` join boxes as a (box_id, `geomCol`) layer. */
  private def boxLayer(s: SparkSession, geomCol: String, n: Int = joinBoxes.length): DataFrame =
    s.createDataFrame(joinBoxes.take(n).map { case (id, a, b, c, d) => (id, boxWkb(a, b, c, d)) })
      .toDF("box_id", geomCol)

  /** The spatial-join gates' left side: (custkey, point geometry) from a
   *  frame shaped like [[custPoints]]. */
  private def custGeoms(points: DataFrame): DataFrame =
    points.select(col("custkey"), st_point(col("lon"), col("lat")).as("geometry"))

  private val joinBoxesSqlValues = joinBoxes
    .map { case (id, a, b, c, d) => s"(CAST($id AS BIGINT), $a, $b, $c, $d)" }
    .mkString(", ")

  private val joinBoxes2SqlValues = joinBoxes.take(2)
    .map { case (id, a, b, c, d) => s"(CAST($id AS BIGINT), $a, $b, $c, $d)" }
    .mkString(", ")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ============ relational baseline (Catalyst built-ins) ============
    // money sums accumulate as exact integer cents: FP summation order differs
    // between engines, so round-after-float-sum is not reproducible. Per-row
    // rounding is floor(x+0.5), NOT round(): Spark's round re-rounds the
    // shortest decimal repr (BigDecimal HALF_UP) while DuckDB rounds the
    // binary double, and they disagree when x's shortest repr lands on .5;
    // floor/+/* are bit-identical IEEE ops in both engines.
    "q1_agg" -> ((s, dir) => t(s, dir, "lineitem")
      .groupBy("l_returnflag", "l_linestatus")
      .agg(sum(floor(col("l_quantity") * 100 + 0.5)).as("sum_qty_c"),
        sum(floor(col("l_extendedprice") * 100 + 0.5)).as("sum_base_c"),
        sum(floor(col("l_discount") * 10000 + 0.5)).as("sum_disc_c4"),
        count(lit(1)).as("cnt"))),

    "q3_revenue" -> ((s, dir) => {
      // dimension side reduced FIRST (1/5 of customers -> their order keys,
      // one narrow column), then joined against the narrow 3-column fact
      // scan — the original formulation made the planner broadcast the full
      // lineitem build (measured r5: 1.97s -> ~0.7-1.0s best-of at sf0.1).
      // Deliberately NO broadcast() hint: a hint ignores size thresholds,
      // so at a scale factor where the key set outgrows memory it would
      // force a broadcast OOM — left to stats/AQE the plan degrades
      // gracefully to a shuffle join instead (review r5 finding).
      val co = t(s, dir, "customer")
        .filter(col("c_mktsegment") === "BUILDING")
        .select(col("c_custkey"))
        .join(t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey")),
          col("c_custkey") === col("o_custkey"))
        .select(col("o_orderkey"))
      // r6: the planner was broadcasting LINEITEM (BuildLeft — its pruned
      // 3-column scan estimate sits under the 10 MB threshold while co's
      // join-output estimate is huge), building a 600k-entry hash relation
      // on the driver every run. SHUFFLE_HASH on co (guide §3.1) builds the
      // small filtered-orderkey side per partition instead — no driver
      // collect, no sort-merge sort — and the spread() hash-repartition on
      // l_orderkey doubles as the join exchange (ENSURE_REQUIREMENTS reuses
      // it), so the fact side is exchanged exactly once. Trade-off stated
      // honestly: an SHJ build side must fit per partition (it does not
      // spill like SMJ); co's rows are 8-byte keys and at production the
      // partition count scales with the input (AQE advisory sizing), which
      // bounds the per-task build — at a FIXED 32 partitions the build
      // grows with SF, so a deployment pinning tiny partition counts at
      // huge SF should drop the hint and take the sort-merge plan.
      spread(t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount")),
        col("l_orderkey"))
        .join(co.hint("shuffle_hash"), col("o_orderkey") === col("l_orderkey"))
        .groupBy("o_orderkey")
        .agg(sum(floor(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * 10000 + 0.5))
          .as("revenue_c4"))
    }),

    // r6: spread() by the window's own partition key — the window's required
    // ClusteredDistribution(o_custkey) is satisfied by the repartition, so
    // the exchange count stays at one while the pre-shuffle sort +
    // WindowGroupLimit run on all cores instead of the single scan task
    "q_window_topn" -> ((s, dir) => spread(t(s, dir, "orders"), col("o_custkey"))
      .withColumn("rnk", row_number().over(
        Window.partitionBy("o_custkey").orderBy(col("o_totalprice").desc, col("o_orderkey"))))
      .filter(col("rnk") <= 3)
      .select(col("o_custkey"), col("o_orderkey"), col("rnk").cast("int").as("rnk"),
        col("o_totalprice"))),

    // ============ geometry accessors (SURVEY §2.1) ============
    "q_st_xy" -> ((s, dir) => t(s, dir, "customer").select(
      col("c_custkey").as("id"),
      st_x(st_point(col("c_acctbal"), col("c_custkey").cast("double"))).as("x"),
      st_y(st_point(col("c_acctbal"), col("c_custkey").cast("double"))).as("y"))),

    // pruned before spread(), so its size gate sees the five columns' bytes
    "q_st_distance" -> ((s, dir) => spread(t(s, dir, "lineitem").select("l_orderkey",
        "l_linenumber", "l_quantity", "l_discount", "l_tax"), col("l_orderkey")).select(
      col("l_orderkey"), col("l_linenumber").cast("long").as("l_linenumber"),
      round(st_distance(st_point(col("l_quantity"), col("l_discount")),
        st_point(col("l_tax"), lit(1.0))), 6).as("dist"))),

    "q_box_ops" -> ((s, dir) => {
      val o = spread(t(s, dir, "orders"), col("o_orderkey"))
        .withColumn("minx", (col("o_orderkey") % 100).cast("double"))
        .withColumn("miny", (col("o_custkey") % 100).cast("double"))
        .withColumn("w", (lit(1) + col("o_orderkey") % 7).cast("double"))
        .withColumn("h", (lit(1) + col("o_custkey") % 5).cast("double"))
      val box = st_makeBox(col("minx"), col("miny"), col("minx") + col("w"),
        col("miny") + col("h"))
      o.select(col("o_orderkey"),
        st_area(box).as("area"),
        st_length(box).as("perim"),
        st_x(st_centroid(box)).as("cx"),
        st_y(st_centroid(box)).as("cy"),
        st_geomType(box).as("gtype"),
        st_geomType(st_exterior(box)).as("ext_type"),
        st_isRing(st_exterior(box)).as("ext_ring"),
        st_isEmpty(box).as("empty"))
    }),

    "q_affine" -> ((s, dir) => {
      val c = t(s, dir, "customer")
        .withColumn("x", ((col("c_custkey") % 200) + 0.5).cast("double"))
        .withColumn("y", ((col("c_custkey") % 100) + 0.25).cast("double"))
      val pt = st_point(col("x"), col("y"))
      c.select(col("c_custkey"),
        st_x(st_translate(pt, lit(10.5), lit(-2.25))).as("tx"),
        st_y(st_translate(pt, lit(10.5), lit(-2.25))).as("ty"),
        st_x(st_scale(pt, lit(2.0), lit(3.0), lit(2), lit(0.0), lit(0.0))).as("sx"),
        round(st_x(st_rotate(pt, lit(90.0), lit(2), lit(0.0), lit(0.0))), 6).as("rx"),
        round(st_y(st_rotate(pt, lit(90.0), lit(2), lit(0.0), lit(0.0))), 6).as("ry"),
        round(st_x(st_skew(pt, lit(45.0), lit(0.0), lit(2), lit(0.0), lit(0.0))), 6).as("kx"),
        round(st_x(st_affine(pt, lit(2.0), lit(0.5), lit(0.25), lit(3.0), lit(7.0), lit(-1.0))), 6).as("ax"))
    }),

    "q_geom_type" -> ((s, dir) => {
      val c = t(s, dir, "customer").withColumn("m", col("c_custkey") % 3)
      val geom = when(col("m") === 0, st_point(lit(1.0), lit(2.0)))
        .when(col("m") === 1, st_makeLine(lit(0.0), lit(0.0), lit(1.0), lit(1.0)))
        .otherwise(st_makeBox(lit(0.0), lit(0.0), lit(1.0), lit(1.0)))
      c.select(col("c_custkey"), st_geomType(geom).as("gtype"),
        // ingest quarantine predicate: real WKB validates; the same bytes
        // behind a corrupted byte-order marker (9 is neither BE nor LE) do
        // not — custkey-dependent input so nothing constant-folds away
        st_is_valid_wkb(geom).as("valid_ok"),
        st_is_valid_wkb(concat(lit(Array[Byte](9)), geom)).as("garbage_valid"))
    }),

    "q_contains" -> ((s, dir) => {
      val c = t(s, dir, "customer")
        .withColumn("x", ((col("c_custkey") * 7) % 100 + 0.5).cast("double"))
        .withColumn("y", ((col("c_custkey") * 13) % 100 + 0.5).cast("double"))
      c.select(col("c_custkey"),
        st_contains(st_makeBox(lit(10.0), lit(10.0), lit(60.0), lit(60.0)),
          st_point(col("x"), col("y"))).as("inside"),
        st_within(st_point(col("x"), col("y")),
          st_makeBox(lit(10.0), lit(10.0), lit(60.0), lit(60.0))).as("within"))
    }),

    "q_intersects_bbox" -> ((s, dir) => {
      val o = spread(t(s, dir, "orders"), col("o_orderkey"))
        .withColumn("minx", (col("o_orderkey") % 100).cast("double"))
        .withColumn("miny", (col("o_custkey") % 100).cast("double"))
      val box = st_makeBox(col("minx"), col("miny"), col("minx") + 10.0, col("miny") + 10.0)
      o.select(col("o_orderkey"),
        st_intersects(box,
          st_makeBox(lit(50.0), lit(50.0), lit(120.0), lit(120.0))).as("hits"))
    }),

    "q_bounds_line" -> ((s, dir) => {
      val l = spread(t(s, dir, "lineitem"), col("l_orderkey"))
      val line = st_makeLine(col("l_quantity"), col("l_discount"),
        col("l_tax") * 10.0, col("l_extendedprice") / 1000.0)
      val b = st_bounds(line)
      // st_envelope's own gate columns: the envelope of a diagonal 2-point
      // line is the bbox rectangle (area |dx*dy|), degenerating to a
      // LineString on axis-aligned lines and a Point when both ends coincide
      val env = st_envelope(line)
      l.select(col("l_orderkey"), col("l_linenumber").cast("long").as("l_linenumber"),
        b.getField("minx").as("minx"), b.getField("miny").as("miny"),
        b.getField("maxx").as("maxx"), b.getField("maxy").as("maxy"),
        round(st_length(line), 6).as("len"),
        round(st_area(env), 6).as("env_area"),
        st_geomType(env).as("env_type"))
    }),

    "q_hull_area" -> ((s, dir) => {
      val c = t(s, dir, "customer")
        .withColumn("a", lit(1) + col("c_custkey") % 50)
        .withColumn("b", col("c_custkey") % 30)
        .withColumn("cc", lit(1) + col("c_custkey") % 20)
      val line = st_makeLine3(lit(0.0), lit(0.0), col("a").cast("double"), lit(0.0),
        col("b").cast("double"), col("cc").cast("double"))
      c.select(col("c_custkey"),
        st_area(st_convexHull(line)).as("hull_area"),
        st_geomType(st_convexHull(line)).as("hull_type"))
    }),

    "q_geodesic" -> ((s, dir) => {
      val l = spread(t(s, dir, "lineitem"), col("l_orderkey"))
        .withColumn("lat1", ((col("l_orderkey") % 110) - 55 + 0.25).cast("double"))
        .withColumn("lon1", ((col("l_partkey") % 340) - 170 + 0.25).cast("double"))
        .withColumn("lat2", ((col("l_suppkey") % 110) - 55 + 0.25).cast("double"))
        .withColumn("lon2", ((col("l_partkey") * 7 % 340) - 170 + 0.25).cast("double"))
      l.select(col("l_orderkey"), col("l_linenumber").cast("long").as("l_linenumber"),
        round(st_geodesicLength(
          st_makeLine(col("lon1"), col("lat1"), col("lon2"), col("lat2")),
          "haversine")).cast("long").as("hav_m"))
    }),

    "q_tile" -> ((s, dir) => {
      val o = t(s, dir, "orders")
        .withColumn("lat", ((col("o_orderkey") % 110) - 55 + 0.25).cast("double"))
        .withColumn("lon", ((col("o_custkey") % 350) - 175 + 0.25).cast("double"))
      o.select(col("o_orderkey"),
        tile_x(col("lon"), lit(8)).as("tx8"), tile_y(col("lat"), lit(8)).as("ty8"),
        tile_x(col("lon"), lit(12)).as("tx12"), tile_y(col("lat"), lit(12)).as("ty12"),
        tile_x(col("lon"), lit(4)).as("tx4"), tile_y(col("lat"), lit(4)).as("ty4"))
    }),

    "q_mercator" -> ((s, dir) => custPoints(s, dir).select(
      col("custkey"),
      round(st_x(st_transform(st_point(col("lon"), col("lat")), lit(4326), lit(3857))), 3).as("mx"),
      round(st_y(st_transform(st_point(col("lon"), col("lat")), lit(4326), lit(3857))), 3).as("my"))),

    "q_simplify" -> ((s, dir) => {
      val l = spread(t(s, dir, "lineitem"), col("l_orderkey"))
        .withColumn("a", (lit(2) + col("l_orderkey") % 50).cast("double"))
        .withColumn("eps", (lit(0.001) * (lit(1) + col("l_linenumber") % 5)).cast("double"))
      val zig = st_makeLine3(lit(0.0), lit(0.0), col("a") / 2.0, col("eps"), col("a"), lit(0.0))
      l.select(col("l_orderkey"), col("l_linenumber").cast("long").as("l_linenumber"),
        round(st_length(st_simplify(zig, lit(1.0))), 6).as("slen"))
    }),

    // ============ overlay / buffer / dissolve (SURVEY §2.7) ============
    "q_overlay" -> ((s, dir) => {
      val o = spread(t(s, dir, "orders"), col("o_orderkey"))
        .withColumn("minx", (col("o_orderkey") % 100).cast("double"))
        .withColumn("miny", (col("o_custkey") % 100).cast("double"))
        .withColumn("w", (lit(1) + col("o_orderkey") % 7).cast("double"))
        .withColumn("h", (lit(1) + col("o_custkey") % 5).cast("double"))
      val a = st_makeBox(col("minx"), col("miny"), col("minx") + col("w"), col("miny") + col("h"))
      val b = st_makeBox(lit(50.0), lit(50.0), lit(120.0), lit(120.0))
      o.select(col("o_orderkey"),
        st_area(st_intersection(a, b)).as("inter_area"),
        st_area(st_union(a, b)).as("union_area"),
        st_area(st_difference(a, b)).as("diff_area"))
    }),

    "q_buffer" -> ((s, dir) => {
      val o = spread(t(s, dir, "orders"), col("o_orderkey"))
        .withColumn("w", (lit(1) + col("o_orderkey") % 7).cast("double"))
        .withColumn("h", (lit(1) + col("o_custkey") % 5).cast("double"))
        .withColumn("d", (lit(1) + col("o_orderkey") % 3).cast("double"))
      val box = st_makeBox(lit(0.0), lit(0.0), col("w"), col("h"))
      o.select(col("o_orderkey"),
        round(st_area(st_buffer(box, col("d"))), 6).as("buf_area"))
    }),

    "q_union_agg" -> ((s, dir) => {
      val o = t(s, dir, "orders")
        .filter(col("o_orderkey") % 10 === 0) // keep the dissolve gate-sized
        .withColumn("grp", col("o_custkey") % 10)
        .withColumn("minx", (col("o_orderkey") * 10).cast("double")) // disjoint boxes
        .withColumn("w", (lit(1) + col("o_orderkey") % 7).cast("double"))
        .withColumn("h", (lit(1) + col("o_custkey") % 5).cast("double"))
      val box = st_makeBox(col("minx"), lit(0.0), col("minx") + col("w"), col("h"))
      o.groupBy("grp")
        .agg(st_union_agg(box).as("dissolved"))
        .select(col("grp"),
          st_area(col("dissolved")).cast("long").as("union_area"),
          st_geomType(col("dissolved")).as("gtype"))
    }),

    "q_total_bounds" -> ((s, dir) => {
      val b = st_bounds(st_point(col("lon"), col("lat")))
      custPoints(s, dir).select(b.getField("minx").as("x"), b.getField("miny").as("y"))
        .agg(min("x").as("minx"), max("x").as("maxx"),
          min("y").as("miny"), max("y").as("maxy"))
    }),

    // ============ spatial join + kNN (SURVEY §2.4, BASELINE workload) ============
    "q_spatial_join" -> ((s, dir) => {
      val pts = custGeoms(custPoints(s, dir))
      val boxes = boxLayer(s, "geometry")
      SpatialJoin.join(pts, boxes, SpatialPredicate.Intersects, "inner", cellLevel = 4,
        leftPointsOnly = true)
        .select(col("custkey_left").as("custkey"), col("box_id_right").as("box_id"))
    }),

    "q_contains_rule" -> ((s, dir) => {
      // the NAIVE formulation a user writes — a raw join on st_contains,
      // plannable only as BNLJ — rescued by the SpatialJoinRule optimizer
      // rewrite into the cell-bucketed hash join. Same rows as
      // q_spatial_join; the builder asserts the plan is BNLJ-free.
      graft.sql.GraftSql.registerRules(s)
      s.conf.set(graft.sql.SpatialJoinRule.CellLevelConf, "4")
      val pts = custGeoms(custPoints(s, dir))
      val boxes = boxLayer(s, "bgeom")
      val out = pts.join(boxes, st_contains(col("bgeom"), col("geometry")))
        .select(col("custkey"), col("box_id"))
      val plan = out.queryExecution.executedPlan.toString
      require(!plan.contains("BroadcastNestedLoopJoin"),
        s"contains rule did not fire:\n$plan")
      out
    }),

    "q_contains_rule_left" -> ((s, dir) => {
      // LEFT OUTER naive spatial join through the rule's one-pass rewrite
      // (explode_outer + left-outer cell join + window): same rows as
      // q_spatial_join_left, BNLJ-free
      graft.sql.GraftSql.registerRules(s)
      s.conf.set(graft.sql.SpatialJoinRule.CellLevelConf, "4")
      val pts = custGeoms(custPoints(s, dir))
      val boxes = boxLayer(s, "bgeom", 2)
      val out = pts.join(boxes, st_contains(col("bgeom"), col("geometry")), "left")
        .select(col("custkey"), col("box_id"))
      val plan = out.queryExecution.executedPlan.toString
      require(!plan.contains("BroadcastNestedLoopJoin"),
        s"left contains rule did not fire:\n$plan")
      out
    }),

    "q_spatial_join_left" -> ((s, dir) => {
      // left-join + suffix semantics — the reference's strongest correctness
      // artifact (spatial_index.rs:479-480,535-552): unmatched left rows
      // survive with NULL right columns
      val pts = custGeoms(custPoints(s, dir))
      val boxes = boxLayer(s, "geometry", 2)
      SpatialJoin.join(pts, boxes, SpatialPredicate.Intersects, "left", cellLevel = 4,
        leftPointsOnly = true)
        .select(col("custkey_left").as("custkey"), col("box_id_right").as("box_id"))
    }),

    "q_spatial_join_salted" -> ((s, dir) => {
      // the explicit-skew-salting path must produce the same rows as the
      // broadcast path; tiny threshold forces salting on every cell
      val pts = custGeoms(custPoints(s, dir))
      val boxes = boxLayer(s, "geometry")
      SpatialJoin.joinSalted(pts, boxes, SpatialPredicate.Intersects,
        cellLevel = 4, nSalts = 4, skewThreshold = 50)
        .select(col("custkey_left").as("custkey"), col("box_id_right").as("box_id"))
    }),

    "q_spatial_join_prepared" -> ((s, dir) => {
      // prepared-index reuse (the reference's precomputed SpatialIndex via
      // SpatialJoinArgs, spatial_index.rs:20-21; reuse test :558-624): the
      // layer index is built ONCE by prepare(), the join probes it, and the
      // rows must equal the fresh-join output (identical oracle to
      // q_spatial_join). PreparedJoinSpec additionally asserts that a join
      // on a prepared layer builds no index of its own and that a SECOND
      // join against it is row-equal.
      val pts = custGeoms(custPoints(s, dir))
      val boxes = boxLayer(s, "geometry")
      val layer = SpatialJoin.prepare(boxes, cellLevel = 4)
      SpatialJoin.join(pts, layer, SpatialPredicate.Intersects, "inner", cellLevel = 4,
        leftPointsOnly = true)
        .select(col("custkey_left").as("custkey"), col("box_id_right").as("box_id"))
    }),

    "q_knn_points" -> ((s, dir) => {
      // scale-safe kNN: bounded topk_by aggregate (map-side combine) instead
      // of a global window — shuffle volume O(partitions*k), not O(corpus)
      val q = s.createDataFrame(Seq(
        (1L, 0.5, 10.5), (2L, -120.5, -30.5), (3L, 60.5, 40.5))).toDF("qid", "qx", "qy")
      val pts = custPoints(s, dir)
      pts.crossJoin(broadcast(q))
        .withColumn("dist", st_distance(st_point(col("lon"), col("lat")),
          st_point(col("qx"), col("qy"))))
        .groupBy("qid")
        .agg(topk_by(col("dist"), col("custkey"), 5, asc = true).as("tk"))
        .select(col("qid"), posexplode(col("tk")))
        .select(col("qid"), col("col.payload").as("custkey"),
          (col("pos") + 1).cast("int").as("rnk"),
          round(col("col.score"), 6).as("dist"))
    }),

    // ============ dedup / text analysis (training-data ops) ============
    // exact dedup groups on a 128-bit content key (two independent 64-bit
    // hashes), NOT the raw text: at 100 TB a full-text shuffle key writes the
    // whole corpus into the exchange. Collision odds across both hashes are
    // ~n^2/2^129 — treat hash-equality as text-equality (the oracle groups by
    // text itself and agrees unless a collision actually occurs).
    "q_dedup_exact" -> ((s, dir) => t(s, dir, "documents")
      .groupBy(fingerprint64(col("text")).as("fp"), xxhash64(col("text")).as("fp2"))
      .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n"))
      .select("keep_id", "n")),

    // token/quality counters come from the single-pass text_stats kernel —
    // one byte scan per document instead of a regexp_replace per class
    "q_token_stats" -> ((s, dir) => {
      val ts = text_stats(col("text"))
      t(s, dir, "documents").select(
        col("doc_id"),
        ts.getField("n_chars").as("n_chars"),
        (ts.getField("n_spaces") + 1).as("n_tokens"))
    }),

    "q_quality" -> ((s, dir) => {
      val ts = text_stats(col("text"))
      t(s, dir, "documents").select(
        col("doc_id"),
        ts.getField("punct").as("punct"),
        ts.getField("uppers").as("uppers"),
        ts.getField("digits").as("digits"),
        round(ts.getField("uppers").cast("double") /
          greatest(ts.getField("n_chars"), lit(1)), 6).as("upper_ratio"))
    }),

    "q_curation" -> ((s, dir) => {
      // The end-to-end curation job a training-data user actually runs,
      // composing the engine's ops in one plan: per-doc quality stats
      // (single-pass kernel) -> threshold filters -> exact dedup on the
      // 128-bit content key keeping the lowest doc_id (never shuffling the
      // text itself... except the oracle does, which is the point: DuckDB
      // recomputes the WHOLE chain from raw text) -> per-language census.
      // A duplicated shifted copy is unioned in so the dedup stage provably
      // removes rows at every tier.
      val ts = text_stats(col("text"))
      val docs = t(s, dir, "documents").select("doc_id", "lang", "text")
      val u = docs.unionByName(docs.withColumn("doc_id", col("doc_id") + 500000L))
      u.select(col("doc_id"), col("lang"), col("text"),
          ts.getField("n_chars").as("n_chars"),
          (ts.getField("n_spaces") + 1).as("n_tokens"),
          ts.getField("uppers").as("uppers"))
        .filter(col("n_chars") >= 50 &&
          col("uppers").cast("double") / greatest(col("n_chars"), lit(1)) <= 0.3)
        .groupBy(fingerprint64(col("text")).as("fp"), xxhash64(col("text")).as("fp2"))
        .agg(min("doc_id").as("doc_id"), min("lang").as("lang"),
          min("n_tokens").as("n_tokens"))
        .groupBy("lang")
        .agg(count(lit(1)).as("docs"), sum("n_tokens").as("tokens"))
    }),

    "q_lsh_dup_pairs" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val u = docs.unionByName(
        docs.select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
      // MinHash LSH: 16 hashes, 4 bands x 4 rows; identical text -> identical
      // signature -> collides in every band (complete for exact duplicates).
      // minhash_bands computes the signature once per row (not once per band).
      // The signature frame is persisted — census + both join sides read it
      // once instead of re-hashing every document (A/B at sf0.1: ~1.2x faster
      // here, ~3x on the 32-hash near-dup variant; a production LSH pipeline
      // materializes the signature table explicitly anyway). The blocks are
      // released by Spark's ContextCleaner once the frame goes unreachable
      // after the action, so a long many-query session doesn't accumulate
      // them. Pairing goes through SelfJoin.pairs (triangle-sharded hot
      // buckets) — the tiny threshold forces the sharded path so the gate
      // verifies it.
      // the persisted/shuffled frame carries the 128-bit content key
      // (fingerprint64 + xxhash64 — q_dedup_exact's key), NEVER the text:
      // the self-join exchange moves 16 bytes per row instead of the
      // document body (~18x smaller already at this corpus's ~300-byte
      // docs, unbounded at real multi-KB pages; interleaved A/B at sf0.1
      // sits inside the host noise band because rows here are tiny) and
      // the exact-dup refine compares the key
      val bands = u.select(col("doc_id"),
        fingerprint64(col("text")).as("fp"), xxhash64(col("text")).as("fp2"),
        posexplode(minhash_bands(col("text"), lit(3), lit(16), lit(4))))
        .withColumnRenamed("pos", "band").withColumnRenamed("col", "bucket")
        .persist()
      SelfJoin.pairs(bands, Seq("band", "bucket"), "doc_id", nShards = 4,
        hotThreshold = 50)
        .filter(col("fp_a") === col("fp_b") && col("fp2_a") === col("fp2_b"))
        .select(col("doc_id_a").as("a_id"), col("doc_id_b").as("b_id")).distinct()
    }),

    "q_ngram_neardup" -> ((s, dir) => {
      // near-duplicate detection: MinHash-LSH candidates refined by exact
      // 3-gram Jaccard >= 0.8 (rows-only: shingle hashes not SQL-expressible)
      val base = t(s, dir, "documents").select(col("doc_id"), col("text"))
      // seed guaranteed near-dups (id+2000000 copies) so the check always has rows
      val docs = base.unionByName(
        base.select((col("doc_id") + 2000000L).as("doc_id"), col("text")))
      val bands = docs.select(col("doc_id"), col("text"),
        posexplode(minhash_bands(col("text"), lit(3), lit(32), lit(4))))
        .withColumnRenamed("pos", "band").withColumnRenamed("col", "bucket")
        .persist()
      SelfJoin.pairs(bands, Seq("band", "bucket"), "doc_id", nShards = 4,
        hotThreshold = 50)
        .select(col("doc_id_a").as("a_id"), col("doc_id_b").as("b_id"),
          jaccard_shingles(col("text_a"), col("text_b"), lit(3)).as("jac"))
        .filter(col("jac") >= 0.8)
        .select(col("a_id"), col("b_id"), round(col("jac"), 6).as("jac"))
        .distinct()
    }),

    "q_ann_lsh" -> ((s, dir) => {
      // scale path for similarity search: LSH-bucketed candidate generation
      // (sign-random-projection) + exact cosine rerank inside buckets. The
      // oracle-checkable projection keeps the SEEDED pairs (i, i+100000):
      // identical vectors share every sign bit, so SRP bucket collision is
      // COMPLETE for them — the oracle (one pair per embedding, cos 1.0)
      // fails if LSH ever drops one. Near-dup (non-identical) recall is
      // measured by the oracle-gated q_ann_recall.
      val eb = t(s, dir, "embeddings")
      val e = eb.unionByName(eb.withColumn("vec_id", col("vec_id") + 100000L))
        .select(col("vec_id"), col("embedding"),
          cosine_lsh_bucket(col("embedding"), lit(8)).as("bucket"))
      SelfJoin.pairs(e, Seq("bucket"), "vec_id", nShards = 4,
        hotThreshold = 50)
        .withColumn("cos", cosine_sim(col("embedding_a"), col("embedding_b")))
        .filter(col("cos") >= 0.95)
        .select(col("vec_id_a").as("a_id"), col("vec_id_b").as("b_id"),
          round(col("cos"), 6).as("cos"))
        .distinct()
        .filter(col("b_id") === col("a_id") + 100000L && col("a_id") < 100000L)
    }),

    // ============ embeddings: similarity search ============
    "q_embed_norm" -> ((s, dir) => t(s, dir, "embeddings").select(
      col("vec_id"), round(l2_norm(col("embedding")), 6).as("nrm"))),

    "q_knn_embed" -> ((s, dir) => {
      // brute-force cosine top-k via the bounded aggregate (same shape scales
      // to 10^12 rows: per-partition heaps, O(k) rows per group shuffled)
      val e = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      val q = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qe"))
      e.crossJoin(broadcast(q)).filter(col("vec_id") =!= col("qid"))
        .withColumn("cos", cosine_sim(col("qe"), col("embedding")))
        .groupBy("qid")
        .agg(topk_by(col("cos"), col("vec_id"), 3, asc = false).as("tk"))
        .select(col("qid"), posexplode(col("tk")))
        .select(col("qid"), col("col.payload").as("cid"),
          (col("pos") + 1).cast("int").as("rnk"),
          round(col("col.score"), 6).as("cos"))
    }),

    // ============ events (relational over the stream table) ============
    "q_events_agg" -> ((s, dir) => t(s, dir, "events")
      .groupBy("event_type")
      .agg(count(lit(1)).as("cnt"),
        sum(floor(col("value") * 100 + 0.5)).as("total_c"),
        countDistinct("user_id").as("users"))),

    // ============ CRS: UTM + LAEA (general to_crs) ============
    "q_utm" -> ((s, dir) => {
      // per-point UTM zone, round trip through the zone CRS, and local scale
      // checked against the Karney geodesic (TM envelope within a zone)
      val p = spread(custPoints(s, dir), col("custkey"))
      val srid = utm_srid(col("lat"), col("lon"))
      val pt = st_point(col("lon"), col("lat"))
      val prj = st_transform(pt, lit(4326), srid)
      val back = st_transform(prj, srid, lit(4326))
      val prj2 = st_transform(st_point(col("lon") + 0.01, col("lat")), lit(4326), srid)
      val ratio = st_distance(prj, prj2) /
        st_geodesicLength(st_makeLine(col("lon"), col("lat"),
          col("lon") + 0.01, col("lat")), "geodesic")
      p.select(col("custkey"),
        (srid % 100).cast("int").as("zone"),
        (srid < 32700).as("north"),
        (abs(st_x(back) - col("lon")) < 1e-9 && abs(st_y(back) - col("lat")) < 1e-9)
          .as("rt_ok"),
        (ratio > 0.9995 && ratio < 1.0011).as("scale_ok"))
    }),

    "q_proj_params" -> ((s, dir) => {
      // PROJ parameter-string to_crs (ops/proj.rs's generality without PROJ):
      // ellipsoidal Mercator value-checked against the closed-form isometric
      // latitude spelled out in the oracle SQL; a +proj=tmerc string spelling
      // out UTM zone 32N must EXACTLY equal the EPSG:32632 code path; and a
      // custom tmerc with nonzero lat_0 on the GRS80 ellipsoid round-trips.
      val tmCustom = "+proj=tmerc +lat_0=12.5 +lon_0=33 +k=0.9999 " +
        "+x_0=250000 +y_0=100000 +ellps=GRS80 +units=m +no_defs"
      // the same UTM 32N conversion as PROJJSON (the reference Python
      // wrapper's CRS interchange format, geoseries.py:257-261) — must be
      // bit-equal to the EPSG:32632 numeric code path
      val projJson =
        """{"type":"ProjectedCRS","name":"WGS 84 / UTM zone 32N",
          |"base_crs":{"type":"GeographicCRS","name":"WGS 84",
          |"datum":{"type":"GeodeticReferenceFrame","name":"World Geodetic System 1984",
          |"ellipsoid":{"name":"WGS 84","semi_major_axis":6378137,"inverse_flattening":298.257223563}}},
          |"conversion":{"name":"UTM zone 32N",
          |"method":{"name":"Transverse Mercator","id":{"authority":"EPSG","code":9807}},
          |"parameters":[
          |{"name":"Latitude of natural origin","value":0,"unit":"degree"},
          |{"name":"Longitude of natural origin","value":9,"unit":"degree"},
          |{"name":"Scale factor at natural origin","value":0.9996,"unit":"unity"},
          |{"name":"False easting","value":500000,"unit":"metre"},
          |{"name":"False northing","value":0,"unit":"metre"}]},
          |"id":{"authority":"EPSG","code":32632}}""".stripMargin
      val p = spread(custPoints(s, dir), col("custkey"))
      val pt = st_point(col("lon"), col("lat"))
      val merc = st_transform(pt, "+proj=longlat +ellps=WGS84",
        "+proj=merc +ellps=WGS84 +units=m +no_defs")
      val utmP = st_transform(pt, "EPSG:4326",
        "+proj=tmerc +lat_0=0 +lon_0=9 +k=0.9996 +x_0=500000 +y_0=0 +ellps=WGS84")
      val utmC = st_transform(pt, lit(4326), lit(32632))
      val utmJ = st_transform(pt, "EPSG:4326", projJson)
      val back = st_transform(st_transform(pt, "EPSG:4326", tmCustom), tmCustom, "EPSG:4326")
      // +towgs84 datum shifts (r5 s3): a 3-parameter geocentric translation
      // (the classic ED50-style triple, EPSG method 9603) as longlat->longlat,
      // value-checked against the full geocentric + Bowring closed form
      // spelled out in the oracle SQL; and the OSGB36 official 7-parameter
      // position-vector shift (EPSG 9606) as a roundtrip property. 2D shifts
      // drop the ellipsoidal height both ways; far from the datum's validity
      // area h reaches ~800 m and the inter-ellipsoid normal tilt ~1e-4 rad,
      // so the global roundtrip is only ~1e-6 deg — the gate asserts 5e-6
      // (~0.5 m); the 1e-7 GB-window pin and the 9606 worked value are in
      // ProjSpec
      val ed50 = st_transform(pt, "EPSG:4326",
        "+proj=longlat +ellps=intl +towgs84=-87,-98,-121")
      val osgb = "+proj=tmerc +lat_0=49 +lon_0=-2 +k=0.9996012717 " +
        "+x_0=400000 +y_0=-100000 +ellps=airy " +
        "+towgs84=446.448,-125.157,542.06,0.15,0.247,0.842,-20.489"
      val oback = st_transform(st_transform(pt, "EPSG:4326", osgb), osgb, "EPSG:4326")
      p.select(col("custkey"),
        round(st_x(merc), 3).as("mx"),
        round(st_y(merc), 3).as("my"),
        (st_x(utmP) === st_x(utmC) && st_y(utmP) === st_y(utmC)).as("utm_eq"),
        (st_x(utmJ) === st_x(utmC) && st_y(utmJ) === st_y(utmC)).as("pj_eq"),
        // the Krüger series (like any TM) is only meaningful near its
        // central meridian; assert the exact round trip inside +-25 degrees
        (abs(col("lon") - 33.0) > 25.0 ||
          (abs(st_x(back) - col("lon")) < 1e-9 && abs(st_y(back) - col("lat")) < 1e-9))
          .as("rt_ok"),
        round(st_x(ed50), 7).as("twx"),
        round(st_y(ed50), 7).as("twy"),
        (abs(col("lon") + 2.0) > 25.0 ||
          (abs(st_x(oback) - col("lon")) < 5e-6 && abs(st_y(oback) - col("lat")) < 5e-6))
          .as("tw_rt"))
    }),

    "q_laea" -> ((s, dir) => {
      // EPSG:3035 easting/northing over the European window, value-checked
      // against the full Snyder formula spelled out in the oracle SQL — plus
      // the POLAR aspect (r5, Snyder eq. 24-23/24-24): the same points
      // through EPSG:3575's definition (+proj=laea +lat_0=90 +lon_0=10,
      // WGS84), its closed form also spelled out in the oracle. The
      // implementation itself is pinned to Snyder's Appendix-A published
      // polar sample in ProjSpec (International ellipsoid: x=1077459.7,
      // y=288704.5 reproduced to <0.1 m).
      val p = spread(custPoints(s, dir), col("custkey"))
        .filter(col("lat") > 34 && col("lat") < 70 && col("lon") > -10 && col("lon") < 40)
      val prj = st_transform(st_point(col("lon"), col("lat")), lit(4326), lit(3035))
      val pol = st_transform(st_point(col("lon"), col("lat")),
        "+proj=longlat +ellps=WGS84",
        "+proj=laea +lat_0=90 +lon_0=10 +x_0=0 +y_0=0 +ellps=WGS84 +units=m +no_defs")
      p.select(col("custkey"),
        round(st_x(prj), 3).as("ex"),
        round(st_y(prj), 3).as("ey"),
        round(st_x(pol), 3).as("px"),
        round(st_y(pol), 3).as("py"))
    }),

    "q_stere" -> ((s, dir) => {
      // EPSG:3413 (NSIDC Sea Ice Polar Stereographic North, variant B:
      // lat_ts=70, lon_0=-45, WGS84) over the northern points — the oracle
      // recomputes Snyder §21's closed form (t = tan(pi/4-phi/2)·[(1+e·s)/
      // (1-e·s)]^(e/2), rho = a·m_F·t/t_F, eq. 21-34) independently in
      // DuckDB SQL. The implementation itself is pinned to Snyder's
      // Appendix-A published south sample in ProjSpec (x=-1540033.6,
      // y=-560526.4 reproduced to <0.1 m). pj_eq proves the EPSG-code path
      // and the full proj-string path (lat_ts folded into the pole scale at
      // parse time) are BIT-equal.
      val p = custPoints(s, dir).filter(col("lat") > 34)
      val prj = st_transform(st_point(col("lon"), col("lat")), lit(4326), lit(3413))
      val ps = st_transform(st_point(col("lon"), col("lat")),
        "+proj=longlat +datum=WGS84",
        "+proj=stere +lat_0=90 +lat_ts=70 +lon_0=-45 +x_0=0 +y_0=0 " +
          "+datum=WGS84 +units=m +no_defs")
      p.select(col("custkey"),
        round(st_x(prj), 3).as("sx"),
        round(st_y(prj), 3).as("sy"),
        (st_x(prj) === st_x(ps) && st_y(prj) === st_y(ps)).as("pj_eq"))
    }),

    "q_albers" -> ((s, dir) => {
      // EPSG:5070 (NAD83 / Conus Albers — Albers Equal Area, EPSG method
      // 9822) over the CONUS-longitude points. The oracle recomputes the
      // Snyder §14 closed form in DuckDB with INDEPENDENTLY derived cone
      // constants; the implementation is pinned to Snyder's published
      // Appendix-A sample in ProjSpec (35N 75W on Clarke 1866 ->
      // x=1885472.7, y=1535925.0) and to the equal-area invariant.
      val p = spread(custPoints(s, dir), col("custkey"))
        .filter(col("lat") > 24 && col("lat") < 50 && col("lon") > -125 && col("lon") < -66)
      val prj = st_transform(st_point(col("lon"), col("lat")), lit(4326), lit(5070))
      p.select(col("custkey"),
        round(st_x(prj), 3).as("ax"),
        round(st_y(prj), 3).as("ay"))
    }),

    "q_lcc" -> ((s, dir) => {
      // EPSG:2154 (RGF93 / Lambert-93 — Lambert Conformal Conic 2SP, EPSG
      // method 9802) over the European window. The oracle recomputes the
      // Snyder §15 closed form in DuckDB with INDEPENDENTLY derived cone
      // constants (n, a·F, rho0 computed outside the Scala); the
      // implementation is pinned to Snyder's published Appendix-A sample in
      // ProjSpec (35N 75W on Clarke 1866 -> x=1894410.9, y=1564649.5).
      val p = spread(custPoints(s, dir), col("custkey"))
        .filter(col("lat") > 34 && col("lat") < 58 && col("lon") > -10 && col("lon") < 40)
      val prj = st_transform(st_point(col("lon"), col("lat")), lit(4326), lit(2154))
      p.select(col("custkey"),
        round(st_x(prj), 3).as("lx"),
        round(st_y(prj), 3).as("ly"))
    }),

    "q_lcc1sp" -> ((s, dir) => {
      // LCC 1SP (EPSG method 9801: the Jamaica 1969 / National Grid
      // parameterization as a proj-string, +k_0 honored) and Mercator
      // variant B (EPSG method 9805: +proj=merc +lat_ts folded into k0 via
      // the parallel's meridian scale) over the same deterministic points.
      // The oracle recomputes both closed forms in DuckDB with INDEPENDENTLY
      // derived constants (n, a·F·k0, rho0, a·k0 computed outside the
      // Scala); the implementations are pinned to the EPSG GN 7-2 worked
      // examples in ProjSpec (Jamaica + Caspian Sea samples, <1 cm).
      val p = spread(custPoints(s, dir), col("custkey"))
      val pt = st_point(col("lon"), col("lat"))
      val jam = st_transform(pt, "EPSG:4326", "+proj=lcc +lat_1=18 " +
        "+lat_0=18 +lon_0=-77 +k_0=1 +x_0=250000 +y_0=150000 +ellps=clrk66")
      val cas = st_transform(pt, "EPSG:4326",
        "+proj=merc +lat_ts=42 +lon_0=51 +ellps=krass")
      p.select(col("custkey"),
        round(st_x(jam), 3).as("jx"), round(st_y(jam), 3).as("jy"),
        round(st_x(cas), 3).as("cx"), round(st_y(cas), 3).as("cy"))
    }),

    "q_cyl" -> ((s, dir) => {
      // Cylindrical CRS pair: EPSG:6933 (NSIDC EASE-Grid 2.0 Global —
      // Lambert Cylindrical Equal Area, EPSG method 9835, the satellite
      // equal-area gridding CRS) and EPSG:4087 (World Equidistant
      // Cylindrical, method 1028). The oracle recomputes the authalic-q and
      // Snyder 3-21 meridional-arc closed forms in DuckDB with INDEPENDENTLY
      // derived constants; the implementations are pinned to NSIDC's
      // published map extent and the EPSG GN 7-2 worked example in ProjSpec.
      val p = spread(custPoints(s, dir), col("custkey"))
      val pt = st_point(col("lon"), col("lat"))
      val ease = st_transform(pt, lit(4326), lit(6933))
      val eqc = st_transform(pt, lit(4326), lit(4087))
      val modis = st_transform(pt, "EPSG:4326",
        "+proj=sinu +R=6371007.181 +units=m +no_defs")
      val moll = st_transform(pt, "EPSG:4326", "+proj=moll +ellps=WGS84")
      p.select(col("custkey"),
        round(st_x(ease), 3).as("ease_x"), round(st_y(ease), 3).as("ease_y"),
        round(st_x(eqc), 3).as("eqc_x"), round(st_y(eqc), 3).as("eqc_y"),
        round(st_x(modis), 3).as("modis_x"), round(st_y(modis), 3).as("modis_y"),
        round(st_x(moll), 3).as("moll_x"), round(st_y(moll), 3).as("moll_y"))
    }),

    "q_omerc" -> ((s, dir) => {
      // Hotine Oblique Mercator variant B (EPSG method 9815): the GN 7-2
      // Timbalai 1948 / RSO Borneo parameterization as a proj-string, over
      // the Borneo-window points. The oracle recomputes the full Hotine
      // aposphere closed form in DuckDB with INDEPENDENTLY derived
      // constants (B, A, H, γ0, λ0, uc — computed outside the Scala); the
      // implementation is pinned to the guidance note's published worked
      // example in ProjSpec (<1 cm).
      val alphaC = 53 + 18 / 60.0 + 56.9537 / 3600.0
      val gammaC = 53 + 7 / 60.0 + 48.3685 / 3600.0
      val p = spread(custPoints(s, dir), col("custkey"))
        .filter(col("lat") > -10 && col("lat") < 20 && col("lon") > 90 && col("lon") < 140)
      // Double.toString, NOT the locale-sensitive f"%f" interpolator — a
      // comma-decimal default locale would emit +alpha=53,31... and fail
      // the strict proj-string number parse
      val prj = st_transform(st_point(col("lon"), col("lat")), "EPSG:4326",
        s"+proj=omerc +lat_0=4 +lonc=115 +alpha=$alphaC " +
          s"+gamma=$gammaC +k_0=0.99984 +x_0=590476.87 +y_0=442857.65 " +
          "+a=6377298.556 +rf=300.8017 +units=m")
      p.select(col("custkey"),
        round(st_x(prj), 3).as("ox"),
        round(st_y(prj), 3).as("oy"))
    }),

    "q_krovak" -> ((s, dir) => {
      // Krovak (EPSG method 9819): the S-JTSK parameterization via the
      // EPSG:5514 numeric code (Krovak East North on Bessel) over a wide
      // central-European-plus window. The oracle recomputes the full GN 7-2
      // chain (Gauss sphere -> oblique rotation -> tangent conic at the
      // fixed 78.5° pseudo parallel) in DuckDB with INDEPENDENTLY derived
      // constants; the implementation is pinned to the guidance note's
      // published S-JTSK worked example in ProjSpec (<2 cm). lat < 55 keeps
      // the window clear of the oblique pole (~59.8N 24.8E) where the
      // kernel's clamped asin and the oracle's unclamped one could split.
      val p = spread(custPoints(s, dir), col("custkey"))
        .filter(col("lat") > 20 && col("lat") < 55 && col("lon") > -20 && col("lon") < 60)
      val prj = st_transform(st_point(col("lon"), col("lat")), lit(4326), lit(5514))
      p.select(col("custkey"),
        round(st_x(prj), 3).as("kx"),
        round(st_y(prj), 3).as("ky"))
    }),

    "q_sterea" -> ((s, dir) => {
      // EPSG:28992 (RD New — Oblique/double Stereographic, EPSG method
      // 9809) over the European window. The oracle recomputes the EPSG
      // GN7-2 Gauss-sphere closed form in DuckDB with INDEPENDENTLY derived
      // constants (R, n, c, chi0 computed outside the Scala); the
      // implementation is pinned to GN7-2's published Amersfoort sample in
      // ProjSpec (53N 6E -> E 196105.283, N 557057.739, <1 mm).
      val p = spread(custPoints(s, dir), col("custkey"))
        .filter(col("lat") > 34 && col("lat") < 58 && col("lon") > -10 && col("lon") < 40)
      val prj = st_transform(st_point(col("lon"), col("lat")), lit(4326), lit(28992))
      p.select(col("custkey"),
        round(st_x(prj), 3).as("rx"),
        round(st_y(prj), 3).as("ry"))
    }),

    // ============ structure / pipeline invariants with literal oracles ======
    "q_explode" -> ((s, dir) => {
      // st_dump over a MultiPolygon (union of two disjoint boxes) -> one row
      // per part; distinct areas so the oracle pins both parts
      val o = t(s, dir, "orders")
        .withColumn("w", (lit(1) + col("o_orderkey") % 7).cast("double"))
        .withColumn("h", (lit(1) + col("o_custkey") % 5).cast("double"))
      val a = st_makeBox(lit(0.0), lit(0.0), col("w"), col("h"))
      val b = st_makeBox(lit(100.0), lit(0.0), lit(100.0) + col("w") * 2, col("h"))
      o.select(col("o_orderkey"), explode(st_dump(st_union(a, b))).as("part"))
        .select(col("o_orderkey"), st_area(col("part")).as("part_area"),
          st_geomType(col("part")).as("part_type"))
    }),

    "q_wkt" -> ((s, dir) => {
      val c = t(s, dir, "customer")
        .withColumn("x", ((col("c_custkey") % 200) + 0.5).cast("double"))
        .withColumn("y", ((col("c_custkey") % 100) + 0.25).cast("double"))
      val pt = st_point(col("x"), col("y"))
      c.select(col("c_custkey"),
        st_asText(pt).as("wkt"),
        st_x(st_geomFromText(st_asText(pt))).as("rx"),
        st_y(st_geomFromText(st_asText(pt))).as("ry"))
    }),

    "q_s2_props" -> ((s, dir) => custPoints(s, dir).select(
      col("custkey"),
      (s2_parent(s2_cell(col("lat"), col("lon"), lit(12)), lit(5)) ===
        s2_cell(col("lat"), col("lon"), lit(5))).as("prefix5_ok"),
      (s2_parent(s2_cell(col("lat"), col("lon"), lit(12)), lit(9)) ===
        s2_cell(col("lat"), col("lon"), lit(9))).as("prefix9_ok"),
      (s2_parent(s2_parent(s2_cell(col("lat"), col("lon"), lit(12)), lit(9)), lit(5)) ===
        s2_cell(col("lat"), col("lon"), lit(5))).as("transitive_ok"))),

    "q_geodesic_ell" -> ((s, dir) => {
      // the two independent ellipsoid solvers (Vincenty iteration vs Karney
      // series) must agree to ~1e-8 relative; both must sit within the
      // sphere-vs-ellipsoid envelope (±1%) of haversine for non-degenerate
      // segments
      val l = spread(t(s, dir, "lineitem"), col("l_orderkey"))
        .withColumn("lat1", ((col("l_orderkey") % 110) - 55 + 0.25).cast("double"))
        .withColumn("lon1", ((col("l_partkey") % 340) - 170 + 0.25).cast("double"))
        .withColumn("lat2", ((col("l_suppkey") % 110) - 55 + 0.25).cast("double"))
        .withColumn("lon2", ((col("l_partkey") * 7 % 340) - 170 + 0.25).cast("double"))
      val line = st_makeLine(col("lon1"), col("lat1"), col("lon2"), col("lat2"))
      val v = st_geodesicLength(line, "vincenty")
      val k = st_geodesicLength(line, "geodesic")
      val hv = st_geodesicLength(line, "haversine")
      // greatest(hv,1) keeps ANSI division happy on zero-length segments;
      // the hv<1000 guard then accepts those degenerates outright
      val ratio = k / greatest(hv, lit(1.0))
      l.select(col("l_orderkey"), col("l_linenumber").cast("long").as("l_linenumber"),
        (abs(v - k) / greatest(k, lit(1.0)) < 1e-8).as("vk_ok"),
        (hv < 1000.0 || (ratio > 0.99 && ratio < 1.01)).as("ratio_ok"))
    }),

    "q_token_bpe" -> ((s, dir) => {
      // BPE-ish tokenizer on literal strings with hand-derived counts (the
      // documents corpus is plain space-separated words where the count
      // degenerates to whitespace tokens), plus the whole-corpus totals
      val lits = Seq(
        (1L, "hello world"), (2L, "hello  world"), (3L, "abc123 def"),
        (4L, "a.b,c"), (5L, "price: $5.99!"), (6L, " lead"), (7L, "trail "),
        (8L, "x   y"), (9L, "12 34"), (10L, "don't"), (11L, ""),
        (12L, "   "), (13L, "UPPER lower"), (14L, "one\ttwo\nthree"))
      s.createDataFrame(lits).toDF("sid", "txt")
        .select(col("sid"), token_count_bpe(col("txt")).as("n_bpe"))
    }),

    "q_lang_known" -> ((s, dir) => {
      // lang_id on sentences of KNOWN language (the documents table's lang
      // labels are uncorrelated with its synthetic text, so accuracy there is
      // bounded by the base rate — this pins real detector behaviour instead)
      val samples = Seq(
        (1L, "the cat sat on the mat and the dog is happy that it is warm"),
        (2L, "this is the house of the man that came to the city in the night"),
        (3L, "der hund ist nicht ein wolf und die katze ist nicht der hund"),
        (4L, "das auto ist schnell und der zug ist nicht langsam"),
        (5L, "el perro es grande y la casa de los vecinos es una maravilla"),
        (6L, "la vida es bella y el mar que vemos es una fuente de calma"),
        (7L, "le chien et le chat sont des animaux et la maison est une ruine"),
        (8L, "les enfants sont dans le jardin et la mer est une merveille"),
        (9L, "il cane e il gatto sono una famiglia che vive per la strada"),
        (10L, "la pizza e la pasta sono il cibo che amiamo per la cena"),
        (11L, "xyzzy qwerty plugh"))
      s.createDataFrame(samples).toDF("sid", "sentence")
        .select(col("sid"), lang_id(col("sentence")).as("lang_guess"))
    }),

    "q_ann_recall" -> ((s, dir) => {
      // ANN recall on seeded NEAR-DUPLICATE queries (the retrieval task LSH
      // exists for, and stable across data tiers — raw top-1 on near-random
      // vectors is a coin flip): each query is a corpus vector rotated ~3
      // degrees (0.05 on one coordinate of a ~unit vector). Brute force via
      // the bounded topk_by must return the source vector itself, and its
      // single-probe 8-bit SRP bucket must match >= 50% of the time
      // (measured 0.80-0.93; pure chance would be 1/256).
      val bits = 8
      val e = t(s, dir, "embeddings")
      val pert = transform(col("embedding"),
        (x, i) => when(i === 0, x + lit(0.05f)).otherwise(x))
      val q = e.filter(col("vec_id") < 30)
        .select(col("vec_id").as("qid"), pert.as("qe"),
          cosine_lsh_bucket(pert, lit(bits)).as("qb"))
      val top1 = e.crossJoin(broadcast(q))
        .withColumn("cos", cosine_sim(col("qe"), col("embedding")))
        .groupBy("qid", "qb")
        .agg(topk_by(col("cos"), col("vec_id"), 1, asc = false).as("tk"))
        .select(col("qid"), col("qb"), element_at(col("tk"), 1).getField("payload").as("nn"))
      top1.join(e.select(col("vec_id").as("nn"),
          cosine_lsh_bucket(col("embedding"), lit(bits)).as("nb")), "nn")
        .agg(count(lit(1)).as("n_queries"),
          (count(when(col("qid") =!= col("nn"), 1)) === 0).as("top1_is_source"),
          (avg(when(col("qb") === col("nb"), 1.0).otherwise(0.0)) >= 0.5)
            .as("neardup_recall_ge_half"))
    }),

    "q_ivf_recall" -> ((s, dir) => {
      // IVF coarse quantization (the second ANN scale path next to SRP-LSH):
      // probing ALL k cells must reproduce brute-force top-1 exactly, and a
      // 1-cell probe must beat the scanned-fraction baseline (1/k) by >2.5x
      val e = t(s, dir, "embeddings")
      val cs = graft.text.Ivf.fit(e, "embedding", k = 16, iters = 5, sampleN = 400)
      val q = e.filter(col("vec_id") < 30)
      val brute = e.crossJoin(broadcast(
        q.select(col("vec_id").as("qid"), col("embedding").as("qe"))))
        .filter(col("vec_id") =!= col("qid"))
        .withColumn("cos", cosine_sim(col("qe"), col("embedding")))
        .groupBy("qid")
        .agg(topk_by(col("cos"), col("vec_id"), 1, asc = false).as("tk"))
        .select(col("qid"), element_at(col("tk"), 1).getField("payload").as("nn"))
      val exhaustive = graft.text.Ivf.search(e, q, "vec_id", "embedding", cs,
        nprobe = 16, kNn = 1).filter(col("rnk") === 1).select(col("qid"), col("nn"))
      val probe1 = graft.text.Ivf.search(e, q, "vec_id", "embedding", cs,
        nprobe = 1, kNn = 1).filter(col("rnk") === 1)
        .select(col("qid"), col("nn").as("inn"))
      val exact = exhaustive.except(brute).isEmpty && brute.except(exhaustive).isEmpty
      val recall = brute.join(probe1, "qid")
        .agg(avg(when(col("nn") === col("inn"), 1.0).otherwise(0.0)))
        .collect()(0).getDouble(0)
      s.createDataFrame(Seq((q.count(), exact, recall > 2.5 / 16)))
        .toDF("n_queries", "exhaustive_exact", "probe1_recall_gt_2_5x")
    }),

    "q_text_stable" -> ((s, dir) => {
      // byte-identical extracted text per url across parallelism levels
      // (north rule invariant): same generator, 2 vs 16 partitions
      val h1 = Pages.generate(s, 3000, 7, 2)
        .select(col("url"), xxhash64(extract_text(col("html"))).as("h1"))
      val h2 = Pages.generate(s, 3000, 7, 16)
        .select(col("url"), xxhash64(extract_text(col("html"))).as("h2"))
      h1.join(h2, "url")
        .agg(count(lit(1)).as("n_urls"),
          count(when(col("h1") =!= col("h2"), 1)).as("mismatches"))
    }),

    "q_snapshot_resume" -> ((s, dir) => {
      // checkpoint-or-resume contract: a rerun with the same fingerprint must
      // NOT recompute (the thunk is never evaluated) and must not advance
      // CURRENT; rollback flips CURRENT back; history walks the chain
      val root = java.nio.file.Files.createTempDirectory("graft-snap-gate").toString
      val docs = t(s, dir, "documents").select("doc_id", "text")
      Snapshot.runStage(s, root, "docs", "fp1")(docs)
      val id1 = Snapshot.currentId(root).get
      var recomputed = false
      val resumed = Snapshot.runStage(s, root, "docs", "fp1") { recomputed = true; docs }
      val id2 = Snapshot.currentId(root).get
      val nRows = resumed.count()
      Snapshot.write(docs.limit(10), root, "docs2", "fp2")
      Snapshot.rollback(root, id1)
      val rolledBack = Snapshot.currentId(root).get == id1
      val histOk = Snapshot.history(root).map(_.snapshotId) == Seq(id1)
      s.createDataFrame(Seq((nRows, !recomputed && id1 == id2, rolledBack, histOk)))
        .toDF("n_rows", "resume_ok", "rollback_ok", "history_ok")
    }),

    "q_cellstore_prune" -> ((s, dir) => {
      // cell-partitioned layout: a bbox read must touch strictly fewer files
      // than the relation holds, and return exactly the bbox rows. Stable
      // per-sfdir path (overwrite each run) so repeated gate runs don't
      // accumulate temp trees.
      val root = java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"),
        s"graft-cellstore-gate-${Integer.toHexString(dir.hashCode)}").toString
      val pts = custPoints(s, dir)
        .withColumn("s2_cell", s2_cell(col("lat"), col("lon"), lit(12)))
      CellStore.write(pts, root, partLevel = 4)
      def filesRead(df: DataFrame): Long = {
        // collect() so the metric comes from THIS Dataset's QueryExecution
        // (a write action plans a fresh one and leaves these metrics at zero)
        df.collect()
        import org.apache.spark.sql.execution.FileSourceScanExec
        df.queryExecution.executedPlan.collectLeaves().collectFirst {
          case f: FileSourceScanExec => f.metrics("numFiles").value
        }.getOrElse(-1L)
      }
      val all = filesRead(s.read.parquet(root))
      val bboxRead = CellStore.readBbox(s, root, 10.0, 10.0, 40.0, 60.0, partLevel = 4)
      val prunedFiles = filesRead(bboxRead)
      // read_file-parity path: columns + where + bbox in one call must give
      // the exact same rows (the where clause supplies the exact geometric
      // bounds the covering-superset bbox cannot), with pruned ReadSchema
      val rf = CellStore.readFile(s, root,
        columns = Seq("custkey", "lat", "lon"),
        where = Some("lat > 10 AND lat < 40 AND lon > 10 AND lon < 60"),
        bbox = Some((10.0, 10.0, 40.0, 60.0)))
      val rfColsOk = rf.columns.sameElements(Array("custkey", "lat", "lon"))
      // r5: the three remaining read_file params (io/file.py:27-30,104-107).
      // fids -> IN-list on the engine's explicit fid column (custkey here):
      // exactly those rows, their custkey sum pinning identity not just count
      val fidList = Seq(1L, 7L, 19L, 23L)
      val rfFids = CellStore.readFile(s, root, fids = Some(fidList), fidCol = "custkey",
        returnFids = true)
      // sql -> full Spark SQL over the registered view
      val rfSql = CellStore.readFile(s, root,
        sql = Some("SELECT count(*) AS n, sum(custkey) AS ck FROM read_file WHERE lat > 0"))
      // force_2d (io/file.py:57-59): a table with ISO-Z (type 1001) point
      // geometries reads back as canonical 21-byte XY WKB, coordinates intact
      val f2dRoot = root + "-f2d"
      val zRows = (0 until 25).map { i =>
        val buf = java.nio.ByteBuffer.allocate(33).order(java.nio.ByteOrder.LITTLE_ENDIAN)
        buf.put(1.toByte).putInt(1001)
          .putDouble(i.toDouble).putDouble(2.0 * i).putDouble(99.0)
        (i.toLong, buf.array())
      }
      s.createDataFrame(zRows).toDF("fid", "geometry")
        .write.mode("overwrite").parquet(f2dRoot)
      val rfF2d = CellStore.readFile(s, f2dRoot, force2d = true)
        .agg(count(lit(1)).as("rf_f2d_n"),
          min((length(col("geometry")) === 21 &&
            st_x(col("geometry")) === col("fid").cast("double") &&
            st_y(col("geometry")) === col("fid").cast("double") * 2.0)
            .cast("int")).cast("boolean").as("rf_f2d_ok"))
      bboxRead
        .filter(col("lat") > 10 && col("lat") < 40 && col("lon") > 10 && col("lon") < 60)
        .agg(count(lit(1)).as("n_rows"))
        .withColumn("pruned", lit(prunedFiles > 0 && prunedFiles < all))
        .crossJoin(rf.agg(count(lit(1)).as("rf_rows"))
          .withColumn("rf_cols_ok", lit(rfColsOk)))
        .crossJoin(rfFids.agg(count(lit(1)).as("rf_fids_n"),
          sum(col("fid")).as("rf_fids_sum")))
        .crossJoin(rfSql.select(col("n").as("rf_sql_n"), col("ck").as("rf_sql_ck")))
        .crossJoin(rfF2d)
    }),

    "q_geojson" -> ((s, dir) => {
      // GeoJSON interchange (reference read_file's OGR GeoJSON/GeoJSONSeq
      // drivers, io/file.py:15-119): the point field writes out as
      // newline-delimited features (executor-parallel text sink), reads back
      // distributed, and every coordinate must survive BIT-EXACTLY (the
      // emitter uses shortest-round-trip doubles). Identity rides in the
      // properties object through Spark's native to_json; polygons prove the
      // ring path via an emit->parse round-trip inside codegen.
      val root = java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"),
        s"graft-geojson-gate-${Integer.toHexString(dir.hashCode)}").toString
      val src = custGeoms(custPoints(s, dir))
      CellStore.writeGeoJsonSeq(src, root)
      val back = CellStore.readGeoJsonSeq(s, root).select(
        get_json_object(col("properties"), "$.custkey").cast("long").as("ck"),
        st_x(col("geometry")).as("x"), st_y(col("geometry")).as("y"))
      val polyRt = custPoints(s, dir)
        .select(st_makeBox(col("lon"), col("lat"),
          col("lon") + 2.5, col("lat") + 1.25).as("g"))
        .select((col("g") === st_geomFromGeoJson(st_asGeoJson(col("g"))))
          .cast("int").as("ok"))
        .agg(min(col("ok")).cast("boolean").as("poly_rt_ok"))
      back.agg(count(lit(1)).as("n_rows"),
          sum(col("ck")).as("ck_sum"),
          sum((col("x") === ((col("ck") * 37) % 340 - 170 + 0.5).cast("double") &&
            col("y") === ((col("ck") * 17) % 116 - 58 + 0.5).cast("double"))
            .cast("long")).as("xy_exact"))
        .crossJoin(polyRt)
    }),

    "q_shapefile" -> ((s, dir) => {
      // ESRI Shapefile sink + source (reference read_file's canonical OGR
      // format, io/file.py:83-87): the point field writes as part-shapefile
      // triples (executor-parallel), reads back at record-range grain via
      // the .shx index. Geometry coordinates are IEEE doubles in .shp
      // (bit-exact by construction); dbf attributes go through fixed-width
      // decimal text and must still survive bit-exactly (17 sig digits).
      // fid_ok pins the 0-based globally-sequential FID contract.
      val root = java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"),
        s"graft-shp-gate-${Integer.toHexString(dir.hashCode)}").toString
      val src = custPoints(s, dir).select(col("custkey"), col("lat"), col("lon"),
        st_point(col("lon"), col("lat")).as("geometry"))
      graft.sources.Shapefile.write(src, root)
      val back = graft.sources.Shapefile.read(s, root)
      back.agg(count(lit(1)).as("n_rows"),
          sum(col("custkey")).as("ck_sum"),
          sum((st_x(col("geometry")) === col("lon") &&
            st_y(col("geometry")) === col("lat") &&
            col("lat") === ((col("custkey") * 17) % 116 - 58 + 0.5).cast("double"))
            .cast("long")).as("xy_exact"),
          (countDistinct(col("fid")) === count(lit(1)) &&
            min(col("fid")) === 0 && max(col("fid")) === count(lit(1)) - 1)
            .as("fid_ok"))
    }),

    "q_image_decode" -> ((s, dir) => {
      // REAL image decode (javax.imageio): encode a solid-colour PNG per row,
      // decode it back, resize it — dimensions and channel means are exact
      val c = t(s, dir, "customer").select(col("c_custkey").as("custkey"),
        (lit(8) + col("c_custkey") % 16).cast("int").as("w"),
        (lit(8) + col("c_custkey") % 8).cast("int").as("h"),
        (col("c_custkey") * 37 % 256).cast("int").as("r"),
        (col("c_custkey") * 59 % 256).cast("int").as("g"),
        (col("c_custkey") * 83 % 256).cast("int").as("b"))
      val png = png_const(col("w"), col("h"), col("r"), col("g"), col("b"))
      val s1 = img_stats(png)
      val s2 = img_stats(img_resize(png, lit(4), lit(4)))
      c.select(col("custkey"),
        s1.getField("width").as("width"), s1.getField("height").as("height"),
        s1.getField("mean_r").as("mean_r"), s1.getField("mean_g").as("mean_g"),
        s1.getField("mean_b").as("mean_b"),
        s2.getField("width").as("rw"), s2.getField("height").as("rh"),
        s2.getField("mean_r").as("rmean_r"))
    }),

    "q_audio_decode" -> ((s, dir) => {
      // REAL audio decode (javax.sound.sampled): encode a square-wave WAV per
      // row through the JDK's WAV writer, decode it back — sample rate, frame
      // count, mean (exactly 0 for an even-length period-2 square), RMS and
      // peak (exactly the amplitude) are all exact.
      val c = t(s, dir, "customer").select(col("c_custkey").as("custkey"),
        (lit(8000) + (col("c_custkey") % 3) * 4000).cast("int").as("sr"),
        (lit(400) + (col("c_custkey") % 128) * 2).cast("int").as("n"),
        (col("c_custkey") * 7 % 2000).cast("int").as("amp"))
      val st = audio_stats(wav_square(col("sr"), col("n"), col("amp")))
      c.select(col("custkey"),
        st.getField("sample_rate").as("sample_rate"),
        st.getField("channels").as("channels"),
        st.getField("n_frames").as("n_frames"),
        st.getField("mean").as("mean"),
        st.getField("rms").as("rms"),
        st.getField("peak").as("peak"))
    }),

    "q_video_decode" -> ((s, dir) => {
      // REAL video decode (pure-JDK AVI/DIB RIFF codec, VideoKernel):
      // encode a solid-colour-gradient clip per row, decode it back —
      // dims/frame-count/fps exact; whole-clip channel mean has the closed
      // form r0 + step*(n-1)/2 (exact halves, so round(6) is identity on
      // both engines); frame-sampling checked directly (last frame) AND
      // composed through the lossless PNG re-encode + javax.imageio path.
      val c = t(s, dir, "customer").select(col("c_custkey").as("custkey"),
        (lit(8) + col("c_custkey") % 24).cast("int").as("w"),
        (lit(8) + col("c_custkey") % 16).cast("int").as("h"),
        (lit(1) + col("c_custkey") % 5).cast("int").as("n"),
        (lit(5) + col("c_custkey") % 6).cast("int").as("fps"),
        (col("c_custkey") * 37 % 200).cast("int").as("r0"),
        (col("c_custkey") * 59 % 200).cast("int").as("g0"),
        (col("c_custkey") * 83 % 200).cast("int").as("b0"),
        (col("c_custkey") % 12).cast("int").as("stp"))
      val avi = avi_gradient(col("w"), col("h"), col("n"), col("fps"),
        col("r0"), col("g0"), col("b0"), col("stp"))
      val vs = video_stats(avi)
      val lastF = video_frame_stats(avi, col("n") - 1)
      val pf = img_stats(video_frame_png(avi, lit(0)))
      // MJPEG stream (r5): same clip parameters through the Motion-JPEG
      // writer + ImageIO JPEG reader. Structure (codec id, frames, fps)
      // stays exact; pixel means are lossy, so the gate carries a
      // DC-quantization tolerance BOOLEAN (|mean - closed_form| < 3 levels),
      // which the oracle re-asserts as a constant
      val mavi = avi_mjpeg(col("w"), col("h"), col("n"), col("fps"),
        col("r0"), col("g0"), col("b0"), col("stp"))
      val mvs = video_stats(mavi)
      val closed = col("r0") + col("stp") * (col("n") - 1) / lit(2.0)
      c.select(col("custkey"),
        vs.getField("width").as("width"),
        vs.getField("height").as("height"),
        vs.getField("n_frames").as("n_frames"),
        vs.getField("fps").as("fps"),
        round(vs.getField("mean_r"), 6).as("mean_r"),
        lastF.getField("mean_g").as("fr_g"),
        pf.getField("mean_r").as("pf_r"),
        video_codec(mavi).as("mj_codec"),
        mvs.getField("n_frames").as("mj_frames"),
        (abs(mvs.getField("mean_r") - closed) < 3.0).as("mj_mean_ok"))
    }),

    "q_pipeline_consistency" -> ((s, dir) => {
      // two independent join strategies over the same geocoded pages —
      // broadcast fast path vs explicitly salted shuffle — must emit the
      // same (url, admin_id) rows
      val g = Pages.geocode(Pages.generate(s, 2000, 42, 8), Pages.gazetteer(s))
      val pts = g.select(col("url"), col("geometry"))
      val admin = GeoPipeline.adminLayer(s)
      val bj = SpatialJoin.join(pts, admin, SpatialPredicate.Intersects, "inner",
        cellLevel = 5, leftPointsOnly = true)
        .select(col("url_left").as("url"), col("admin_id_right").as("admin_id"))
      val sj = SpatialJoin.joinSalted(pts, admin, SpatialPredicate.Intersects,
        cellLevel = 5, nSalts = 4, skewThreshold = 10)
        .select(col("url_left").as("url"), col("admin_id_right").as("admin_id"))
      val nB = bj.count(); val nS = sj.count()
      val rowsEq = bj.except(sj).isEmpty && sj.except(bj).isEmpty
      s.createDataFrame(Seq((nB > 0, nB == nS, rowsEq)))
        .toDF("nonempty", "counts_eq", "rows_eq")
    }),

    "q_tile_vector" -> ((s, dir) => {
      // raster->vector: tile id back to lon/lat bounds and a box polygon the
      // generating point sits inside (closed-open boundary semantics)
      val o = t(s, dir, "orders")
        .withColumn("lat", ((col("o_orderkey") % 110) - 55 + 0.25).cast("double"))
        .withColumn("lon", ((col("o_custkey") % 350) - 175 + 0.25).cast("double"))
      val tid = tile_id(col("lat"), col("lon"), lit(8))
      val b = tile_bounds(tid)
      o.select(col("o_orderkey"),
        round(b.getField("west"), 6).as("west"),
        round(b.getField("south"), 6).as("south"),
        round(b.getField("east"), 6).as("east"),
        round(b.getField("north"), 6).as("north"),
        (col("lon") >= b.getField("west") && col("lon") < b.getField("east") &&
          col("lat") > b.getField("south") && col("lat") <= b.getField("north"))
          .as("inside"),
        (st_area(tile_polygon(tid)) > 0).as("poly_ok"))
    }),

    "q_geoarrow" -> ((s, dir) => {
      // GeoArrow-style native nested encodings: WKB -> struct/array columns
      // (coordinate access without WKB decode) and back, value-checked
      val o = t(s, dir, "orders")
        .withColumn("minx", (col("o_orderkey") % 100).cast("double"))
        .withColumn("miny", (col("o_custkey") % 100).cast("double"))
        .withColumn("w", (lit(1) + col("o_orderkey") % 7).cast("double"))
        .withColumn("h", (lit(1) + col("o_custkey") % 5).cast("double"))
      val box = st_makeBox(col("minx"), col("miny"),
        col("minx") + col("w"), col("miny") + col("h"))
      val nat = st_polygon_native(box)
      val pnat = st_point_native(st_point(col("minx"), col("miny")))
      val lnat = st_line_native(st_makeLine(col("minx"), col("miny"),
        col("minx") + col("w"), col("miny") + col("h")))
      // Multi* round trips (reference read-path parity, geoseries.py:170-214):
      // the triple-nested MultiPolygon native is CONSTRUCTED column-side (two
      // disjoint boxes), written to WKB, and read back — both directions
      // value-checked without depending on overlay component ordering
      def xyN(x: Column, y: Column) = struct(x.as("x"), y.as("y"))
      def ringN(ax: Column, ay: Column, bx: Column, by: Column) = array(
        xyN(ax, ay), xyN(bx, ay), xyN(bx, by), xyN(ax, by), xyN(ax, ay))
      val box2x = col("minx") + col("w") + 1.0
      val mpNat = array(
        array(ringN(col("minx"), col("miny"),
          col("minx") + col("w"), col("miny") + col("h"))),
        array(ringN(box2x, col("miny"), box2x + 2.0, col("miny") + 1.0)))
      val mpWkb = st_from_multipolygon_native(mpNat)
      val mpRt = st_multipolygon_native(mpWkb)
      val mptWkb = st_from_multipoint_native(array(
        xyN(col("minx"), col("miny")),
        xyN(col("minx") + col("w"), col("miny") + col("h"))))
      val mlWkb = st_from_multiline_native(array(
        array(xyN(col("minx"), col("miny")), xyN(col("minx") + col("w"), col("miny"))),
        array(xyN(col("minx"), col("miny") + col("h")),
          xyN(col("minx") + col("w"), col("miny") + col("h")))))
      o.select(col("o_orderkey"),
        size(nat).as("n_rings"),
        size(element_at(nat, 1)).as("shell_pts"),
        element_at(element_at(nat, 1), 1).getField("x").as("v1x"),
        element_at(element_at(nat, 1), 3).getField("y").as("v3y"),
        pnat.getField("x").as("px"),
        element_at(lnat, 2).getField("y").as("l2y"),
        st_area(st_from_polygon_native(nat)).as("rt_area"),
        st_x(st_from_point_native(pnat)).as("rt_px"),
        round(st_length(st_from_line_native(lnat)), 6).as("rt_len"),
        size(mpRt).as("mp_n"),
        st_area(mpWkb).as("mp_area"),
        st_geomType(mpWkb).as("mp_type"),
        element_at(element_at(element_at(mpRt, 2), 1), 1).getField("x").as("mp_v2x"),
        element_at(st_multipoint_native(mptWkb), 2).getField("x").as("mpt2x"),
        st_geomType(mptWkb).as("mpt_type"),
        element_at(element_at(st_multiline_native(mlWkb), 2), 1)
          .getField("y").as("ml2y"),
        round(st_length(mlWkb), 6).as("ml_len"))
    }),

    "q_stream_window" -> ((s, dir) => {
      // Structured Streaming end-to-end: the events table read as a file
      // STREAM (AvailableNow), watermarked tumbling-window aggregation,
      // memory sink — must equal the batch SQL over the same rows
      // the file stream source wants a directory: stage the single parquet
      // file behind a symlink in a temp dir
      val schema = t(s, dir, "events").schema
      val stream = s.readStream.schema(schema)
        .parquet(streamStageDir("window", dir, "events"))
        // the parquet file carries TIMESTAMP_NTZ; watermarks need TIMESTAMP
        .withColumn("ts", col("ts").cast("timestamp"))
      val agg = stream.withWatermark("ts", "10 minutes")
        .groupBy(window(col("ts"), "5 minutes"), col("event_type"))
        .agg(count(lit(1)).as("cnt"),
          sum(floor(col("value") * 100 + 0.5)).as("total_c"))
        .select(col("window.start").cast("long").as("win_start"),
          col("event_type"), col("cnt"), col("total_c"))
      runToMemorySink(s, agg, "q_stream_window_sink", "complete")
    }),

    "q_stream_sessions" -> ((s, dir) => {
      // Sessionization end-to-end: flatMapGroupsWithState with event-time
      // timeouts over the events FILE STREAM (AvailableNow). Closed sessions
      // (gap islands > 2h, final island closed by the watermark) must equal
      // DuckDB's batch lag/cumulative-sum island sessionization. Values
      // travel as integer cents (already-rounded doubles) so the session
      // total is an exact integer regardless of FP sum order; timestamps
      // compare at the millisecond (getTime) granularity on both sides. The
      // gap is deliberately NOT a whole second so `last + gap` can never tie
      // exactly with another event's timestamp.
      import s.implicits._
      val gapMs = 7199500L
      val schema = t(s, dir, "events").schema
      val stream = s.readStream.schema(schema)
        .parquet(streamStageDir("sess", dir, "events"))
        .select(col("event_id"), col("ts").cast("timestamp").as("ts"), col("user_id"),
          col("event_type"), floor(col("value") * 100 + 0.5).cast("double").as("value"))
        .as[graft.streaming.Streams.Event]
      val sess = graft.streaming.Streams.sessionize(stream, gapMs)
      runToMemorySink(s, sess.toDF(), "q_stream_sessions_sink", "append")
        .select(col("user_id"), col("events"),
        col("total").cast("long").as("total_c"),
        unix_millis(col("firstTs")).as("first_ms"),
        unix_millis(col("lastTs")).as("last_ms"))
    }),

    "q_heavy_hitters" -> ((s, dir) => {
      // Misra-Gries heavy-hitters sketch in its exact regime (k exceeds the
      // distinct-user cardinality, so no decrement ever fires): the sketch
      // must reproduce the exact per-user counts through map-side partials
      // and the mergeable-summaries merge. The approximate regime's
      // n/(k+1) bound is pinned in FreqAggSpec. This is the bounded census
      // primitive: at 10^12 rows it ships <= k counters per partition where
      // an exact census shuffles every distinct key.
      t(s, dir, "events")
        .agg(graft.expr.FreqAgg.freq_items(col("user_id"), 4096).as("f"))
        .select(explode(col("f")).as("e"))
        .select(col("e.item").as("user_id"), col("e.count").as("cnt"))
    }),

    "q_asof_join" -> ((s, dir) => {
      // backward as-of join: every event picks up the user's latest purchase
      // at-or-before its timestamp (DuckDB ASOF LEFT JOIN is the oracle).
      // One key-partitioned sort, carried forward with last(ignoreNulls) —
      // no range-join explosion. Values travel as integer cents.
      val ev = t(s, dir, "events").withColumn("ts", col("ts").cast("timestamp"))
      val snaps = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"),
          floor(col("value") * 100 + 0.5).as("snap_c"),
          unix_millis(col("ts")).as("snap_ms"))
      graft.join.AsofJoin.join(ev.select("event_id", "user_id", "ts"), snaps,
        "user_id", "ts", Seq("snap_c", "snap_ms"))
        .select(col("event_id"), col("snap_c"), col("snap_ms"))
    }),

    "q_asof_bucketed" -> ((s, dir) => {
      // skew-safe two-pass as-of (window keyed by (user, 6h bucket) +
      // boundary carry) must reproduce the plain as-of rows exactly — same
      // DuckDB native ASOF oracle as q_asof_join. AsofJoinSpec additionally
      // runs it on a deliberately hyper-hot key.
      val ev = t(s, dir, "events").withColumn("ts", col("ts").cast("timestamp"))
      val snaps = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"),
          floor(col("value") * 100 + 0.5).as("snap_c"),
          unix_millis(col("ts")).as("snap_ms"))
      graft.join.AsofJoin.joinBucketed(ev.select("event_id", "user_id", "ts"), snaps,
        "user_id", "ts", Seq("snap_c", "snap_ms"),
        ts => floor(ts.cast("long") / 21600L).cast("long"))
        .select(col("event_id"), col("snap_c"), col("snap_ms"))
    }),

    "q_dwithin_join" -> ((s, dir) => {
      // distance (range) join: points within 2.3 planar units of the box
      // layer. Candidates come from the radius-expanded bbox covering, so the
      // point side keeps exactly one cell and probes the layer's index (no
      // exchange); the radius is off the quarter-degree lattice of the data
      // so the boundary can never tie in FP between engines.
      val pts = custGeoms(custPoints(s, dir))
      val boxes = boxLayer(s, "geometry", 2)
      SpatialJoin.join(pts, boxes, SpatialPredicate.DWithin(2.3), "inner", cellLevel = 4,
        leftPointsOnly = true)
        .select(col("custkey_left").as("custkey"), col("box_id_right").as("box_id"))
    }),

    "q_dwithin_rule" -> ((s, dir) => {
      // The NAIVE distance-join formulation — join on st_dwithin, which
      // Spark alone can only plan as a BroadcastNestedLoopJoin — rewritten
      // automatically by the injected Catalyst optimizer rule
      // (graft.sql.SpatialJoinRule) into the cell-bucketed hash equi-join
      // that CellJoin.plan builds for SpatialJoin.join as well. Same oracle
      // as q_dwithin_join; SpatialJoinRuleSpec asserts the rewritten plan
      // shape (no BNLJ, Generate + HashJoin) and the rule's boundaries:
      // right and full outer joins and non-literal radii stay untouched,
      // while a left join is rewritten too (q_contains_rule_left).
      s.conf.set(graft.sql.SpatialJoinRule.CellLevelConf, "4")
      graft.sql.GraftSql.registerRules(s)
      val pts = custGeoms(custPoints(s, dir))
      val boxes = boxLayer(s, "bgeom", 2)
      pts.join(boxes, st_dwithin(col("geometry"), col("bgeom"), lit(2.3)))
        .select(col("custkey"), col("box_id"))
    }),

    "q_embed_dedup" -> ((s, dir) => {
      // Embedding-space dedup, the cosine-LSH analogue of q_lsh_dup_pairs:
      // SRP buckets generate candidates (identical vectors share every sign
      // bit, so bucket collision is COMPLETE for exact duplicates — the same
      // guarantee MinHash gives identical text), SelfJoin triangle-shards hot
      // buckets, exact array equality refines. Seeded +1000000 copies make
      // the expected pair set exact; near-dup recall (non-identical vectors)
      // is measured separately by q_ann_recall.
      val base = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      val u = base.unionByName(
        base.select((col("vec_id") + 1000000L).as("vec_id"), col("embedding")))
      val bucketed = u.select(col("vec_id"), col("embedding"),
        cosine_lsh_bucket(col("embedding"), lit(12)).as("bucket"))
      SelfJoin.pairs(bucketed, Seq("bucket"), "vec_id", nShards = 4,
        hotThreshold = 50)
        .filter(col("embedding_a") === col("embedding_b"))
        .select(col("vec_id_a").as("a_id"), col("vec_id_b").as("b_id")).distinct()
    }),

    "q_stream_dedup" -> ((s, dir) => {
      // Streaming exact dedup — the training-pipeline op run as a stream:
      // documents file-stream, dropDuplicates on the 128-bit content key
      // (same key discipline as q_dedup_exact: the text itself never becomes
      // shuffle/state payload). AvailableNow + unbounded dedup state is fine
      // for a bounded gate corpus; an unbounded production stream uses the
      // watermarked variant gated in q_stream_dedup_wm.
      val schema = t(s, dir, "documents").schema
      val dedup = s.readStream.schema(schema)
        .parquet(streamStageDir("dedup", dir, "documents"))
        .select(fingerprint64(col("text")).as("fp"), xxhash64(col("text")).as("fp2"))
        .dropDuplicates("fp", "fp2")
      runToMemorySink(s, dedup, "q_stream_dedup_sink", "append")
        .agg(count(lit(1)).as("uniq"))
    }),

    "q_stream_dedup_wm" -> ((s, dir) => {
      // Watermark-bounded streaming dedup (dropDuplicatesWithinWatermark):
      // the events stream unioned with itself — every event arrives exactly
      // twice inside the watermark window — must come out exactly once.
      // This is the state-bounded shape an unbounded 100-TB ingest needs:
      // state for an event is dropped once the watermark passes its ts.
      val schema = t(s, dir, "events").schema
      val staged = streamStageDir("dedup-wm", dir, "events")
      def src = s.readStream.schema(schema).parquet(staged)
        .select(col("event_id"), col("ts").cast("timestamp").as("ts"))
      val dedup = src.unionByName(src)
        .withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark("event_id")
      runToMemorySink(s, dedup, "q_stream_dedup_wm_sink", "append")
        .agg(count(lit(1)).as("uniq"),
          countDistinct(col("event_id")).as("uniq_ids"))
    }),

    "q_stream_spatial_join" -> ((s, dir) => {
      // stream-static spatial join: the customer table read as a FILE
      // STREAM, geocoded to points on the fly, broadcast-joined against the
      // box layer through the SAME SpatialJoin point fast path the batch
      // query uses (stream-static inner join: stateless, append mode, no
      // watermark needed) — rows must equal the batch q_spatial_join oracle.
      val schema = t(s, dir, "customer").schema
      val stream = custGeoms(s.readStream.schema(schema)
        .parquet(streamStageDir("spatial", dir, "customer"))
        .select(col("c_custkey").as("custkey"),
          ((col("c_custkey") * 37) % 340 - 170 + 0.5).cast("double").as("lon"),
          ((col("c_custkey") * 17) % 116 - 58 + 0.5).cast("double").as("lat")))
      val boxes = boxLayer(s, "geometry")
      val joined = SpatialJoin.join(stream, boxes, SpatialPredicate.Intersects,
        "inner", cellLevel = 4, leftPointsOnly = true)
        .select(col("custkey_left").as("custkey"), col("box_id_right").as("box_id"))
      runToMemorySink(s, joined, "q_stream_spatial_sink", "append")
    }),

    "q_stream_geojson" -> ((s, dir) => {
      // streaming GeoJSONSeq ingest: the crawl-pipeline shape where feature
      // lines arrive as text files. The point field staged as GeoJSONSeq,
      // read back as a FILE STREAM (line-grain), parsed by the same
      // geojson_feature kernel as batch (StaticInvoke — streaming-compatible
      // because it is stateless and id-free), identity recovered from the
      // properties JSON, then broadcast-joined through the point fast path.
      // Rows must equal the batch q_spatial_join oracle.
      val root = java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"),
        s"graft-stream-geojson-${Integer.toHexString(dir.hashCode)}").toString
      val src = custGeoms(custPoints(s, dir))
      CellStore.writeGeoJsonSeq(src, root)
      val stream = s.readStream.text(root)
        .filter(length(trim(col("value"))) > 0)
        .select(geojson_feature(col("value")).as("f"))
        .select(get_json_object(col("f.properties"), "$.custkey")
          .cast("long").as("custkey"),
          col("f.geometry").as("geometry"))
      val boxes = boxLayer(s, "geometry")
      val joined = SpatialJoin.join(stream, boxes, SpatialPredicate.Intersects,
        "inner", cellLevel = 4, leftPointsOnly = true)
        .select(col("custkey_left").as("custkey"), col("box_id_right").as("box_id"))
      runToMemorySink(s, joined, "q_stream_geojson_sink", "append")
    }),

    "q_h3_props" -> ((s, dir) => {
      // Driver-visible twin of q_s2_props: the H3 id's structural contract as
      // per-row booleans the DuckDB oracle re-asserts as TRUE literals. The
      // packed layout is digits at bits 0..44 (coarsest digit at 42..44, 3
      // bits each), base cell 45..52, face 53..57, res 58..61, mode bit 62.
      val c12 = h3_cell(col("lat"), col("lon"), lit(12))
      val p5 = h3_parent(c12, lit(5))
      val p9 = h3_parent(c12, lit(9))
      // digits 0..4 occupy bits 3*(15-5)=30 .. 44
      val digitMask5 = lit(((1L << 15) - 1) << 30)
      val padMask5 = lit((1L << 30) - 1)
      custPoints(s, dir).select(
        col("custkey"),
        (shiftrightunsigned(c12, 58).bitwiseAND(lit(15L)) === 12L).as("res12_ok"),
        (shiftrightunsigned(p5, 58).bitwiseAND(lit(15L)) === 5L).as("res5_ok"),
        // parent keeps the base-cell + face fields (bits 45..57) verbatim
        (shiftrightunsigned(p5, 45).bitwiseAND(lit(0x1fffL)) ===
          shiftrightunsigned(c12, 45).bitwiseAND(lit(0x1fffL))).as("base_ok"),
        // parent is a digit-prefix of the child: digits 0..4 identical ...
        (p5.bitwiseXOR(c12).bitwiseAND(digitMask5) === 0L).as("prefix_ok"),
        // ... and every digit below res 5 reads the pad value 7
        (p5.bitwiseAND(padMask5) === ((1L << 30) - 1)).as("pad_ok"),
        // truncation is transitive: via res 9 equals direct to res 5
        (h3_parent(p9, lit(5)) === p5).as("transitive_ok"))
    }),

    // ============ recorded-literal cell-id pins ============
    // Raw cell ids on the first 64 lattice points (custkey 1..64 exists at
    // every sf tier) with recorded-literal VALUES oracles — the q_simhash
    // pattern: pins cross-round byte stability of the self-defined H3/S2
    // packings. The FULL lattice's structural contracts stay oracle-gated by
    // q_s2_props / q_h3_props over every row.
    "q_h3_cells" -> ((s, dir) => custPoints(s, dir)
      .filter(col("custkey") <= 64).select(
      col("custkey"),
      h3_cell(col("lat"), col("lon"), lit(6)).as("cell6"),
      h3_cell(col("lat"), col("lon"), lit(9)).as("cell9"),
      // hierarchy consistency: the res-3 ancestor derived from the res-9 cell
      // matches the one derived from the res-12 cell. Hex hierarchies are not
      // perfectly nested, so this can differ for points within ~a res-12 cell
      // of a res-3 boundary (~0.03% of uniform points); verified to hold for
      // every point of this lattice at sf0.01 and sf0.1.
      (h3_parent(h3_cell(col("lat"), col("lon"), lit(9)), lit(3)) ===
        h3_parent(h3_cell(col("lat"), col("lon"), lit(12)), lit(3))).as("parent_ok"))),

    "q_h3_disk" -> ((s, dir) => {
      // grid disk (k-ring) structural contract over every lattice point:
      // exact hex-ball cardinality 1+3k(k+1), contains its own center cell,
      // all ids distinct, every id at the requested resolution
      val k = 2
      val d = h3_disk(col("lat"), col("lon"), lit(7), lit(k))
      custPoints(s, dir).select(col("custkey"),
        (size(d) === 1 + 3 * k * (k + 1)).as("size_ok"),
        array_contains(d, h3_cell(col("lat"), col("lon"), lit(7))).as("self_ok"),
        (size(array_distinct(d)) === size(d)).as("distinct_ok"),
        forall(d, c => shiftrightunsigned(c, 58).bitwiseAND(lit(15L)) === 7L)
          .as("res_ok"))
    }),

    "q_s2_cells" -> ((s, dir) => custPoints(s, dir)
      .filter(col("custkey") <= 64).select(
      col("custkey"),
      s2_cell(col("lat"), col("lon"), lit(5)).as("cell5"),
      s2_cell(col("lat"), col("lon"), lit(9)).as("cell9"),
      s2_cell(col("lat"), col("lon"), lit(12)).as("cell12"),
      (s2_parent(s2_cell(col("lat"), col("lon"), lit(12)), lit(5)) ===
        s2_cell(col("lat"), col("lon"), lit(5))).as("prefix_ok"))),

    "q_lang_id" -> ((s, dir) => {
      // lang_id over every document, as oracle-checkable structural booleans
      // (the table's lang labels are uncorrelated with its synthetic text —
      // see q_lang_known for the recorded-literal accuracy pin): the guess
      // is always non-null and always lands in the detector's closed
      // vocabulary {de,en,es,fr,it,und}.
      val g = lang_id(col("text"))
      t(s, dir, "documents").select(
        col("doc_id"), col("lang"),
        coalesce(g.isin("de", "en", "es", "fr", "it", "und"), lit(false))
          .as("guess_known"),
        g.isNotNull.as("guess_nonnull"))
    }),

    "q_simhash" -> ((s, dir) => {
      // Fixed-string fingerprints with a recorded-literal oracle: pins the
      // exact 64-bit simhash/FNV values across rounds (the determinism and
      // byte-stability contract). sid 4 repeats sid 1's text, so the oracle
      // itself asserts duplicate text -> identical hashes; the one-word edit
      // (sid 2) must land within a small Hamming ball of sid 1 while the
      // unrelated sid 3 lands far away — checked in SimhashGateSpec.
      val a = "the quick brown fox jumps over the lazy dog near the river bank"
      val a2 = "the quick brown fox jumps over the lazy cat near the river bank"
      val b = "entirely unrelated maritime insurance boilerplate concerning claims"
      s.createDataFrame(Seq((1L, a), (2L, a2), (3L, b), (4L, a))).toDF("sid", "stext")
        .select(col("sid"), simhash64(col("stext"), lit(3)).as("simhash"),
          fingerprint64(col("stext")).as("fp"))
    }),

    "q_winnow" -> ((s, dir) => {
      // Winnowing rolling-hash fingerprints (the MOSS scheme): the copied
      // passage planted in B must share fingerprints with A (guaranteed for
      // any shared substring >= w+k-1 = 13 bytes) and with C; the
      // fingerprint counts and xor-checksums are recorded literals pinning
      // the gram hash + selection byte-stability cross-round.
      val a = "the quick brown fox jumps over the lazy dog near the river " +
        "bank while the miller sleeps"
      val b = "COPIED PASSAGE >>> the quick brown fox jumps over the lazy dog " +
        "<<< pasted into unrelated maritime insurance boilerplate concerning " +
        "claims and adjusters"
      val c = "entirely unrelated maritime insurance boilerplate concerning " +
        "claims and adjusters everywhere"
      def fp(t: String) = winnow_fingerprints(lit(t), lit(8), lit(6))
      val xor = (f: Column) => aggregate(f, lit(0L), (acc, x) => acc.bitwiseXOR(x))
      s.range(1).select(fp(a).as("fa"), fp(b).as("fb"), fp(c).as("fc"))
        .select(
          size(col("fa")).as("n_a"), size(col("fb")).as("n_b"),
          size(col("fc")).as("n_c"),
          xor(col("fa")).as("xor_a"), xor(col("fb")).as("xor_b"),
          xor(col("fc")).as("xor_c"),
          (size(array_intersect(col("fa"), col("fb"))) >= 1).as("shared_ab"),
          (size(array_intersect(col("fb"), col("fc"))) >= 1).as("shared_bc"),
          size(array_intersect(col("fa"), col("fc"))).as("shared_ac"))
    }),

    "q_simhash_dedup" -> ((s, dir) => {
      // SimHash near-dup dedup, band-bucketed: split the 64-bit simhash into
      // 8 one-byte bands; by pigeonhole ANY pair within Hamming distance 7
      // collides in at least one band (7 differing bits touch at most 7 of
      // the 8 bands) — candidate generation is COMPLETE for the <= 7 ball,
      // no all-pairs scan. Exact hamming64 refines. The oracle-checkable
      // projection keeps the seeded identical pairs (hamming 0, guaranteed
      // found); band completeness for the full <=7 ball is property-tested
      // in SimhashGateSpec over random signatures.
      val base = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val u = base.unionByName(
        base.select((col("doc_id") + 800000L).as("doc_id"), col("text")))
      val sigs = u.select(col("doc_id"), simhash64(col("text"), lit(3)).as("sig"))
      val bands = sigs.select(col("doc_id"), col("sig"),
        posexplode(array((0 until 8).map(b =>
          shiftrightunsigned(col("sig"), b * 8).bitwiseAND(lit(0xffL))): _*)))
        .withColumnRenamed("pos", "band").withColumnRenamed("col", "bucket")
      SelfJoin.pairs(bands, Seq("band", "bucket"), "doc_id", nShards = 4,
        hotThreshold = 50)
        .select(col("doc_id_a").as("a_id"), col("doc_id_b").as("b_id"),
          hamming64(col("sig_a"), col("sig_b")).as("hd"))
        .filter(col("hd") <= 7)
        .distinct()
        .filter(col("b_id") === col("a_id") + 800000L && col("a_id") < 800000L)
        .select(col("a_id"), col("b_id"), col("hd"))
    }),

    "q_cosine_lsh" -> ((s, dir) => {
      // SRP-LSH structural contract per embedding, as oracle-checkable
      // booleans: bucket in [0, 2^12); negating the vector flips every sign
      // bit (bucket XOR 0xfff); the multi-probe set contains the vector's
      // own bucket and has exactly 1 + 12 entries at Hamming radius 1.
      val eb = t(s, dir, "embeddings")
      val bkt = cosine_lsh_bucket(col("embedding"), lit(12))
      val neg = transform(col("embedding"), x => -x)
      val probes = cosine_lsh_probes(col("embedding"), lit(12), lit(1))
      eb.select(col("vec_id"),
        (bkt >= 0L && bkt < 4096L).as("in_range"),
        (cosine_lsh_bucket(neg, lit(12)) === bkt.bitwiseXOR(lit(4095L))).as("neg_flips"),
        array_contains(probes, bkt).as("self_in_probes"),
        (size(probes) === 13).as("probe_count_ok"))
    }),

    "q_pages_pipeline" -> ((s, dir) => {
      // End-to-end pipeline gate: per-admin census at FIXED 2000 pages (the
      // pipeline is purely synthetic, so the output is sf-independent) with
      // recorded-literal census values — pins geocode -> spatial join ->
      // tile assignment across rounds — plus a structural in-box boolean
      // (every page point inside its admin rectangle) the oracle re-asserts.
      val j = GeoPipeline.run(s, 2000L, seed = 42, numPartitions = 16).joined
      val x = st_x(col("geometry_left")); val y = st_y(col("geometry_left"))
      val ai = floor(col("admin_id_right") / 8).cast("double")
      val aj = (col("admin_id_right") % 8).cast("double")
      val minLon = lit(-180.0) + ai * 22.5
      val minLat = lit(-60.0) + aj * 15.0
      val inBox = x >= minLon && x <= minLon + 22.5 &&
        y >= minLat && y <= minLat + 15.0
      j.groupBy(col("admin_id_right").as("admin_id"))
        .agg(count(lit(1)).as("pages"),
          sum(pmod(col("s2_cell_left"), lit(1000003L))).as("cell_census"),
          sum(pmod(col("tile_z8_left"), lit(1000003L))).as("tile_census"),
          min(inBox).as("in_box_ok"))
    }),

    // ======= reference golden datasets (REAL reference bytes, r5) =======
    // The only gates whose input is not synthetic: the reference's own Arrow
    // IPC files, read distributed via ArrowIpc. Oracles are recorded-literal
    // VALUES pinned from this engine's output and INDEPENDENTLY cross-checked
    // (pure-Python WKB shoelace/centroid/ray-casting, tolerance 1e-9 rel) by
    // scripts/check_refdata.py — plus, for nybb, agreement booleans against
    // the ESRI-computed Shape_Area/Shape_Leng columns carried IN the file.
    // All float outputs leave as integer micro-units (floor(x*1e6+0.5),
    // summed as BIGINT) so the pin has no cross-engine float-repr hazard.

    "q_ref_cities" -> ((s, _) => {
      // the affine bench workload (benches/affine.rs:23-31): translate(10,10)
      // over cities.arrow — plus the conftest.py naturalearth_cities fixture
      Seq("cities" -> RefData.CitiesArrow, "naturalearth_cities" -> RefNeCitiesArrow)
        .map { case (nm, path) =>
          graft.sources.ArrowIpc.read(s, path).select(
            lit(nm).as("dataset"),
            st_x(col("geometry")).as("x"), st_y(col("geometry")).as("y"),
            st_x(st_translate(col("geometry"), lit(10.0), lit(10.0))).as("tx"),
            st_y(st_translate(col("geometry"), lit(10.0), lit(10.0))).as("ty"))
        }.reduce(_ unionByName _)
        .groupBy("dataset")
        .agg(count(lit(1)).as("n"),
          sum(micro(col("x"))).as("sum_x_micro"), sum(micro(col("y"))).as("sum_y_micro"),
          sum(micro(col("tx"))).as("sum_tx_micro"), sum(micro(col("ty"))).as("sum_ty_micro"))
    }),

    "q_ref_nybb" -> ((s, _) => {
      // NY boroughs (EPSG:2263 feet): area/centroid/hull/explode on real
      // MultiPolygons + agreement with the file's OWN ESRI golden columns
      // (thresholds 5e-6 / 1e-4 sit 3x above the measured 1.4e-6 / 3.3e-5
      // packaging drift, far below any computational-error scale)
      val nybb = graft.sources.ArrowIpc.read(s, RefData.dataset("nybb.arrow"))
      nybb.select(
        col("BoroCode").cast("int").as("boro_code"), col("BoroName").as("boro_name"),
        floor(st_area(col("geometry")) * 1e3 + 0.5).cast("long").as("area_milli"),
        micro(st_x(st_centroid(col("geometry")))).as("cx_micro"),
        micro(st_y(st_centroid(col("geometry")))).as("cy_micro"),
        floor(st_area(st_convexHull(col("geometry"))) * 1e3 + 0.5).cast("long").as("hull_milli"),
        size(st_dump(col("geometry"))).cast("long").as("n_parts"),
        (abs(st_area(col("geometry")) / col("Shape_Area") - 1) < 5e-6).as("esri_area_ok"),
        (abs(aggregate(transform(st_dump(col("geometry")), g => st_length(g)),
          lit(0.0), (a, x) => a + x) / col("Shape_Leng") - 1) < 1e-4).as("esri_len_ok"),
        // real to_crs on real data: the file's native CRS is EPSG:2263
        // (NAD83 / New York Long Island, US survey feet) — reproject the
        // borough centroid to lon/lat; check_refdata.py recomputes this
        // with its own pure-Python LCC-2SP inverse
        micro(st_x(st_transform(st_centroid(col("geometry")), lit(2263), lit(4326))))
          .as("clon_micro"),
        micro(st_y(st_transform(st_centroid(col("geometry")), lit(2263), lit(4326))))
          .as("clat_micro"))
    }),

    "q_ref_countries" -> ((s, _) => {
      // per-continent census over naturalearth_lowres: count, planar area,
      // envelope extremes, population — centroid/area/bounds on the real
      // country MultiPolygons
      val c = graft.sources.ArrowIpc.read(s, RefNeLowresArrow)
      c.groupBy(col("continent"))
        .agg(count(lit(1)).as("n"),
          sum(micro(st_area(col("geometry")))).as("sum_area_micro"),
          micro(min(st_bounds(col("geometry")).getField("minx"))).as("minx_micro"),
          micro(max(st_bounds(col("geometry")).getField("maxy"))).as("maxy_micro"),
          sum(floor(col("pop_est")).cast("long")).as("pop"),
          countDistinct(col("iso_a3")).as("n_iso"))
    }),

    "q_ref_sjoin" -> ((s, _) => {
      // REAL spatial join on real data: 243 naturalearth cities inside 177
      // country MultiPolygons (Contains = polygon strictly contains point),
      // through the engine's cell-bucketed join (point fast path; cellLevel 4
      // for country-sized polygons). Border/offshore cities legitimately
      // match no country and drop out (inner).
      val cities = graft.sources.ArrowIpc.read(s, RefNeCitiesArrow)
        .select(col("name").as("city"), col("geometry"))
      val countries = graft.sources.ArrowIpc.read(s, RefNeLowresArrow)
        .select(col("name").as("country"), col("continent"), col("geometry"))
      SpatialJoin.join(cities, countries, SpatialPredicate.Contains,
          cellLevel = 4, leftPointsOnly = true)
        .groupBy(col("country_right").as("country"))
        .agg(count(lit(1)).as("n_cities"),
          min(col("city_left")).as("first_city"), max(col("city_left")).as("last_city"))
    }))

  /** floor(x*1e6+0.5) as BIGINT — order-independent integer micro-units. */
  private def micro(c: Column): Column = floor(c * 1e6 + 0.5).cast("long")

  private val RefNeCitiesArrow = RefData.dataset("naturalearth_cities.arrow")
  private val RefNeLowresArrow = RefData.dataset("naturalearth_lowres.arrow")

  def oracleSql: Map[String, String] = Map(
    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
        | CAST(sum(CAST(floor(l_quantity*100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_qty_c,
        | CAST(sum(CAST(floor(l_extendedprice*100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_base_c,
        | CAST(sum(CAST(floor(l_discount*10000 + 0.5) AS BIGINT)) AS BIGINT) AS sum_disc_c4,
        | count(*) AS cnt FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin,

    "q3_revenue" ->
      """SELECT o_orderkey,
        | CAST(sum(CAST(floor(l_extendedprice*(1.0-l_discount)*10000 + 0.5) AS BIGINT)) AS BIGINT) AS revenue_c4
        |FROM customer JOIN orders ON c_custkey=o_custkey
        |JOIN lineitem ON o_orderkey=l_orderkey
        |WHERE c_mktsegment='BUILDING' GROUP BY o_orderkey""".stripMargin,

    "q_window_topn" ->
      """SELECT o_custkey, o_orderkey, CAST(rnk AS INTEGER) AS rnk, o_totalprice FROM (
        | SELECT o_custkey, o_orderkey, o_totalprice,
        |  row_number() OVER (PARTITION BY o_custkey
        |    ORDER BY o_totalprice DESC, o_orderkey) AS rnk FROM orders) WHERE rnk<=3""".stripMargin,

    "q_st_xy" ->
      "SELECT c_custkey AS id, c_acctbal AS x, CAST(c_custkey AS DOUBLE) AS y FROM customer",

    "q_st_distance" ->
      """SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
        | round(sqrt((l_quantity-l_tax)*(l_quantity-l_tax)
        |   + (l_discount-1.0)*(l_discount-1.0)),6) AS dist FROM lineitem""".stripMargin,

    "q_box_ops" ->
      """SELECT o_orderkey, w*h AS area, 2*(w+h) AS perim,
        | minx + w/2 AS cx, miny + h/2 AS cy,
        | 3 AS gtype, 1 AS ext_type, TRUE AS ext_ring, FALSE AS empty
        |FROM (SELECT o_orderkey,
        |  CAST(o_orderkey % 100 AS DOUBLE) AS minx, CAST(o_custkey % 100 AS DOUBLE) AS miny,
        |  CAST(1 + o_orderkey % 7 AS DOUBLE) AS w, CAST(1 + o_custkey % 5 AS DOUBLE) AS h
        | FROM orders)""".stripMargin,

    "q_affine" ->
      """SELECT c_custkey, x+10.5 AS tx, y-2.25 AS ty, x*2.0 AS sx,
        | round(x*cos(radians(90.0)) - y*sin(radians(90.0)),6) AS rx,
        | round(x*sin(radians(90.0)) + y*cos(radians(90.0)),6) AS ry,
        | round(x + tan(radians(45.0))*y,6) AS kx,
        | round(2.0*x + 0.5*y + 7.0,6) AS ax
        |FROM (SELECT c_custkey, CAST((c_custkey % 200) + 0.5 AS DOUBLE) AS x,
        |  CAST((c_custkey % 100) + 0.25 AS DOUBLE) AS y FROM customer)""".stripMargin,

    "q_geom_type" ->
      """SELECT c_custkey, CASE WHEN c_custkey % 3 = 0 THEN 0
        | WHEN c_custkey % 3 = 1 THEN 1 ELSE 3 END AS gtype,
        | TRUE AS valid_ok, FALSE AS garbage_valid FROM customer""".stripMargin,

    "q_contains" ->
      """SELECT c_custkey, (x>10 AND x<60 AND y>10 AND y<60) AS inside,
        | (x>10 AND x<60 AND y>10 AND y<60) AS within
        |FROM (SELECT c_custkey, CAST((c_custkey*7) % 100 + 0.5 AS DOUBLE) AS x,
        |  CAST((c_custkey*13) % 100 + 0.5 AS DOUBLE) AS y FROM customer)""".stripMargin,

    "q_intersects_bbox" ->
      """SELECT o_orderkey,
        | (minx <= 120 AND minx+10 >= 50 AND miny <= 120 AND miny+10 >= 50) AS hits
        |FROM (SELECT o_orderkey, CAST(o_orderkey % 100 AS DOUBLE) AS minx,
        |  CAST(o_custkey % 100 AS DOUBLE) AS miny FROM orders)""".stripMargin,

    "q_bounds_line" ->
      """SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
        | least(x1,x2) AS minx, least(y1,y2) AS miny,
        | greatest(x1,x2) AS maxx, greatest(y1,y2) AS maxy,
        | round(sqrt((x1-x2)*(x1-x2)+(y1-y2)*(y1-y2)),6) AS len,
        | round(abs((x1-x2)*(y1-y2)),6) AS env_area,
        | CASE WHEN x1=x2 AND y1=y2 THEN 0 WHEN x1=x2 OR y1=y2 THEN 1 ELSE 3 END AS env_type
        |FROM (SELECT l_orderkey, l_linenumber, l_quantity AS x1, l_discount AS y1,
        |  l_tax*10.0 AS x2, l_extendedprice/1000.0 AS y2 FROM lineitem)""".stripMargin,

    "q_hull_area" ->
      """SELECT c_custkey, CAST(a AS DOUBLE)*CAST(cc AS DOUBLE)/2.0 AS hull_area, 3 AS hull_type
        |FROM (SELECT c_custkey, 1 + c_custkey % 50 AS a, 1 + c_custkey % 20 AS cc
        | FROM customer)""".stripMargin,

    "q_geodesic" ->
      """SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
        | CAST(round(2*6371008.8*asin(least(1.0, sqrt(
        |   sin(radians(lat2-lat1)/2)*sin(radians(lat2-lat1)/2)
        |   + cos(radians(lat1))*cos(radians(lat2))
        |     *sin(radians(lon2-lon1)/2)*sin(radians(lon2-lon1)/2))))) AS BIGINT) AS hav_m
        |FROM (SELECT l_orderkey, l_linenumber,
        |  CAST((l_orderkey % 110) - 55 + 0.25 AS DOUBLE) AS lat1,
        |  CAST((l_partkey % 340) - 170 + 0.25 AS DOUBLE) AS lon1,
        |  CAST((l_suppkey % 110) - 55 + 0.25 AS DOUBLE) AS lat2,
        |  CAST((l_partkey*7 % 340) - 170 + 0.25 AS DOUBLE) AS lon2 FROM lineitem)""".stripMargin,

    "q_tile" ->
      """SELECT o_orderkey,
        | CAST(floor((lon+180.0)/360.0*256) AS BIGINT) AS tx8,
        | CAST(floor((1.0 - ln(tan(radians(lat)) + 1.0/cos(radians(lat)))/pi())/2.0*256) AS BIGINT) AS ty8,
        | CAST(floor((lon+180.0)/360.0*4096) AS BIGINT) AS tx12,
        | CAST(floor((1.0 - ln(tan(radians(lat)) + 1.0/cos(radians(lat)))/pi())/2.0*4096) AS BIGINT) AS ty12,
        | CAST(floor((lon+180.0)/360.0*16) AS BIGINT) AS tx4,
        | CAST(floor((1.0 - ln(tan(radians(lat)) + 1.0/cos(radians(lat)))/pi())/2.0*16) AS BIGINT) AS ty4
        |FROM (SELECT o_orderkey, CAST((o_orderkey % 110) - 55 + 0.25 AS DOUBLE) AS lat,
        |  CAST((o_custkey % 350) - 175 + 0.25 AS DOUBLE) AS lon FROM orders)""".stripMargin,

    "q_mercator" ->
      s"""SELECT custkey, round(radians(lon)*6378137.0,3) AS mx,
         | round(ln(tan(pi()/4 + radians(lat)/2))*6378137.0,3) AS my
         |FROM ($custPointsSql)""".stripMargin,

    "q_simplify" ->
      """SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
        | CAST(a AS DOUBLE) AS slen
        |FROM (SELECT l_orderkey, l_linenumber, 2 + l_orderkey % 50 AS a FROM lineitem)""".stripMargin,

    "q_overlay" ->
      """SELECT o_orderkey,
        | iw*ih AS inter_area,
        | w*h + 4900.0 - iw*ih AS union_area,
        | w*h - iw*ih AS diff_area
        |FROM (SELECT o_orderkey, w, h,
        |  greatest(0.0, least(minx+w, 120.0) - greatest(minx, 50.0)) AS iw,
        |  greatest(0.0, least(miny+h, 120.0) - greatest(miny, 50.0)) AS ih
        | FROM (SELECT o_orderkey,
        |   CAST(o_orderkey % 100 AS DOUBLE) AS minx, CAST(o_custkey % 100 AS DOUBLE) AS miny,
        |   CAST(1 + o_orderkey % 7 AS DOUBLE) AS w, CAST(1 + o_custkey % 5 AS DOUBLE) AS h
        |  FROM orders))""".stripMargin,

    "q_buffer" ->
      """SELECT o_orderkey,
        | round(w*h + 2*(w+h)*d + 2*8*d*d*sin(pi()/16), 6) AS buf_area
        |FROM (SELECT o_orderkey, CAST(1 + o_orderkey % 7 AS DOUBLE) AS w,
        |  CAST(1 + o_custkey % 5 AS DOUBLE) AS h,
        |  CAST(1 + o_orderkey % 3 AS DOUBLE) AS d FROM orders)""".stripMargin,

    "q_union_agg" ->
      """SELECT o_custkey % 10 AS grp,
        | CAST(sum((1 + o_orderkey % 7) * (1 + o_custkey % 5)) AS BIGINT) AS union_area,
        | 6 AS gtype
        |FROM orders WHERE o_orderkey % 10 = 0 GROUP BY o_custkey % 10""".stripMargin,

    "q_total_bounds" ->
      s"""SELECT min(lon) AS minx, max(lon) AS maxx, min(lat) AS miny, max(lat) AS maxy
         |FROM ($custPointsSql)""".stripMargin,

    "q_spatial_join" ->
      s"""WITH b(box_id, minx, miny, maxx, maxy) AS (VALUES $joinBoxesSqlValues),
         | p AS ($custPointsSql)
         |SELECT p.custkey, b.box_id FROM p, b
         |WHERE p.lon > b.minx AND p.lon < b.maxx AND p.lat > b.miny AND p.lat < b.maxy""".stripMargin,

    "q_spatial_join_salted" ->
      s"""WITH b(box_id, minx, miny, maxx, maxy) AS (VALUES $joinBoxesSqlValues),
         | p AS ($custPointsSql)
         |SELECT p.custkey, b.box_id FROM p, b
         |WHERE p.lon > b.minx AND p.lon < b.maxx AND p.lat > b.miny AND p.lat < b.maxy""".stripMargin,

    "q_stream_geojson" ->
      s"""WITH b(box_id, minx, miny, maxx, maxy) AS (VALUES $joinBoxesSqlValues),
         | p AS ($custPointsSql)
         |SELECT p.custkey, b.box_id FROM p, b
         |WHERE p.lon > b.minx AND p.lon < b.maxx AND p.lat > b.miny AND p.lat < b.maxy""".stripMargin,

    "q_spatial_join_prepared" ->
      s"""WITH b(box_id, minx, miny, maxx, maxy) AS (VALUES $joinBoxesSqlValues),
         | p AS ($custPointsSql)
         |SELECT p.custkey, b.box_id FROM p, b
         |WHERE p.lon > b.minx AND p.lon < b.maxx AND p.lat > b.miny AND p.lat < b.maxy""".stripMargin,

    "q_utm" ->
      s"""SELECT custkey,
         | CAST(floor(((CASE WHEN (lon % 360.0) >= 180.0 THEN (lon % 360.0) - 360.0
         |   WHEN (lon % 360.0) < -180.0 THEN (lon % 360.0) + 360.0
         |   ELSE (lon % 360.0) END) + 180.0) / 6.0) + 1 AS INTEGER) AS zone,
         | lat >= 0 AS north, TRUE AS rt_ok, TRUE AS scale_ok
         |FROM ($custPointsSql)""".stripMargin,

    "q_proj_params" ->
      // twx/twy recompute the 3-parameter datum shift from first principles:
      // WGS84 geodetic -> geocentric XYZ, inverse translation (+87,+98,+121),
      // then geodetic on International 1924 via Bowring's closed form plus
      // three unrolled fixed-point refinements (the Scala side iterates the
      // same map to convergence; three steps are already below 1 ulp)
      s"""WITH p AS (SELECT custkey, lon, lat, sin(radians(lat)) AS s FROM ($custPointsSql)),
         | c AS (SELECT *, 1.0/298.257223563 AS fw, 1.0/297.0 AS fi FROM p),
         | d AS (SELECT *, fw*(2.0-fw) AS e2w, fi*(2.0-fi) AS e2i,
         |        6378388.0*(1.0-fi) AS bi,
         |        fi*(2.0-fi)/(1.0-fi*(2.0-fi)) AS ep2 FROM c),
         | g AS (SELECT *, 6378137.0/sqrt(1.0-e2w*s*s) AS nw FROM d),
         | x AS (SELECT *, nw*cos(radians(lat))*cos(radians(lon)) + 87.0 AS gx,
         |        nw*cos(radians(lat))*sin(radians(lon)) + 98.0 AS gy,
         |        nw*(1.0-e2w)*s + 121.0 AS gz FROM g),
         | t AS (SELECT *, sqrt(gx*gx+gy*gy) AS pp FROM x),
         | h AS (SELECT *, atan2(gz*6378388.0, pp*bi) AS th FROM t),
         | b0 AS (SELECT *, atan2(gz + ep2*bi*sin(th)*sin(th)*sin(th),
         |         pp - e2i*6378388.0*cos(th)*cos(th)*cos(th)) AS f0 FROM h),
         | b1 AS (SELECT *, atan2(gz + e2i*(6378388.0/sqrt(1.0-e2i*sin(f0)*sin(f0)))*sin(f0), pp) AS f1 FROM b0),
         | b2 AS (SELECT *, atan2(gz + e2i*(6378388.0/sqrt(1.0-e2i*sin(f1)*sin(f1)))*sin(f1), pp) AS f2 FROM b1),
         | b3 AS (SELECT *, atan2(gz + e2i*(6378388.0/sqrt(1.0-e2i*sin(f2)*sin(f2)))*sin(f2), pp) AS f3 FROM b2)
         |SELECT custkey,
         | round(6378137.0 * 1.0 * radians(lon), 3) AS mx,
         | round(6378137.0 * 1.0 * (0.5*ln((1.0+s)/(1.0-s))
         |   - 0.08181919084262149*(0.5*ln((1.0+0.08181919084262149*s)/(1.0-0.08181919084262149*s)))), 3) AS my,
         | TRUE AS utm_eq, TRUE AS pj_eq, TRUE AS rt_ok,
         | round(degrees(atan2(gy, gx)), 7) AS twx,
         | round(degrees(f3), 7) AS twy,
         | TRUE AS tw_rt
         |FROM b3""".stripMargin,

    "q_laea" ->
      s"""WITH p AS (SELECT custkey, lat, lon FROM ($custPointsSql)
         |  WHERE lat > 34 AND lat < 70 AND lon > -10 AND lon < 40),
         | c AS (SELECT custkey, radians(lon - 10.0) AS lam,
         |   0.006694380022900787 AS e2, 0.08181919104281579 AS e,
         |   1.9955310874809387 AS qp, 6371007.1808835175 AS rq,
         |   0.7866706332158556 AS sinb0, 0.6173729139148921 AS cosb0,
         |   1.0004253945280137 AS dd,
         |   sin(radians(lat)) AS s FROM p),
         | q AS (SELECT *, (1.0-e2) * (s/(1.0-e2*s*s) - (1.0/(2.0*e))*ln((1.0-e*s)/(1.0+e*s))) AS qq FROM c),
         | b AS (SELECT *, asin(qq/qp) AS beta FROM q),
         | g AS (SELECT *, rq * sqrt(2.0/(1.0 + sinb0*sin(beta) + cosb0*cos(beta)*cos(lam))) AS bb FROM b),
         | -- polar aspect on WGS84 (Snyder 24-23/24-24): rho = a*sqrt(qp - q)
         | w AS (SELECT custkey, radians(lon - 10.0) AS wlam,
         |   0.0066943799901413165 AS we2, 0.08181919084262149 AS we,
         |   sin(radians(lat)) AS ws FROM p),
         | wq AS (SELECT *,
         |   (1.0-we2) * (ws/(1.0-we2*ws*ws) - (1.0/(2.0*we))*ln((1.0-we*ws)/(1.0+we*ws))) AS wqq,
         |   (1.0-we2) * (1.0/(1.0-we2) - (1.0/(2.0*we))*ln((1.0-we)/(1.0+we))) AS wqp FROM w),
         | wg AS (SELECT *, 6378137.0 * sqrt(greatest(0.0, wqp - wqq)) AS rho FROM wq)
         |SELECT g.custkey,
         | round(4321000.0 + bb*dd*cos(beta)*sin(lam), 3) AS ex,
         | round(3210000.0 + (bb/dd)*(cosb0*sin(beta) - sinb0*cos(beta)*cos(lam)), 3) AS ey,
         | round(rho * sin(wlam), 3) AS px,
         | round(-rho * cos(wlam), 3) AS py
         |FROM g JOIN wg ON g.custkey = wg.custkey""".stripMargin,

    "q_albers" ->
      s"""WITH p AS (SELECT custkey, lat, lon FROM ($custPointsSql)
         |   WHERE lat > 24 AND lat < 50 AND lon > -125 AND lon < -66),
         | c AS (SELECT custkey,
         |   0.6029027690657601 AS nn, 1.3491820315609704 AS bigc,
         |   9928937.004248781 AS rho0,
         |   0.08181919104281579 AS e, 0.006694380022900787 AS e2,
         |   sin(radians(lat)) AS s, radians(lon + 96.0) AS dlam FROM p),
         | q AS (SELECT *, (1.0-e2) * (s/(1.0-e2*s*s)
         |   - (1.0/(2.0*e))*ln((1.0-e*s)/(1.0+e*s))) AS qq FROM c),
         | g AS (SELECT *, 6378137.0 * sqrt(bigc - nn*qq) / nn AS rho,
         |   nn * dlam AS th FROM q)
         |SELECT custkey,
         | round(rho * sin(th), 3) AS ax,
         | round(rho0 - rho * cos(th), 3) AS ay
         |FROM g""".stripMargin,

    "q_lcc" ->
      s"""WITH p AS (SELECT custkey, lat, lon FROM ($custPointsSql)
         |   WHERE lat > 34 AND lat < 58 AND lon > -10 AND lon < 40),
         | c AS (SELECT custkey,
         |   0.7256077650532695 AS nn, 11754255.426096004 AS af,
         |   6055612.049875985 AS rho0, 0.08181919104281579 AS e,
         |   radians(lat) AS phi, radians(lon - 3.0) AS dlam FROM p),
         | t AS (SELECT *, tan(pi()/4.0 - phi/2.0)
         |   * power((1.0 + e*sin(phi))/(1.0 - e*sin(phi)), e/2.0) AS tt FROM c),
         | g AS (SELECT *, af * power(tt, nn) AS rho, nn * dlam AS th FROM t)
         |SELECT custkey,
         | round(700000.0 + rho * sin(th), 3) AS lx,
         | round(6600000.0 + rho0 - rho * cos(th), 3) AS ly
         |FROM g""".stripMargin,

    "q_lcc1sp" ->
      // constants derived independently of the Scala: nn = sin(18°),
      // af = a·F·k0 and rho0 on Clarke 1866 (GN 7-2 method 9801 Jamaica
      // string), ak = a·m(42°) on Krassowsky (method 9805 Caspian string)
      // dj/dc wrap the longitude difference into [-180, 180] exactly as the
      // Scala kernels do (PROJ's adjlon) — the Jamaica cone at lon 100E and
      // the Caspian cylinder at 170W must take the short way around
      s"""WITH p AS (SELECT custkey, lat, lon FROM ($custPointsSql)),
         | c AS (SELECT custkey, lat, lon,
         |   0.08227185422300431 AS e, 0.3090169943749474 AS nn,
         |   21659820.76682105 AS af, 19636447.862153515 AS rho0,
         |   0.08181333401693115 AS ek, 4747078.326944951 AS ak,
         |   CASE WHEN (lon + 77.0) > 180.0 THEN (lon + 77.0) - 360.0
         |        WHEN (lon + 77.0) < -180.0 THEN (lon + 77.0) + 360.0
         |        ELSE lon + 77.0 END AS dj,
         |   CASE WHEN (lon - 51.0) > 180.0 THEN (lon - 51.0) - 360.0
         |        WHEN (lon - 51.0) < -180.0 THEN (lon - 51.0) + 360.0
         |        ELSE lon - 51.0 END AS dc,
         |   radians(lat) AS phi, sin(radians(lat)) AS s FROM p),
         | t AS (SELECT *, tan(pi()/4.0 - phi/2.0)
         |   * power((1.0 + e*sin(phi))/(1.0 - e*sin(phi)), e/2.0) AS tt FROM c),
         | g AS (SELECT *, af * power(tt, nn) AS rho,
         |   nn * radians(dj) AS th FROM t)
         |SELECT custkey,
         | round(250000.0 + rho * sin(th), 3) AS jx,
         | round(150000.0 + rho0 - rho * cos(th), 3) AS jy,
         | round(ak * radians(dc), 3) AS cx,
         | round(ak * (0.5*ln((1.0+s)/(1.0-s))
         |   - ek*(0.5*ln((1.0+ek*s)/(1.0-ek*s)))), 3) AS cy
         |FROM g""".stripMargin,

    "q_cyl" ->
      // constants derived independently of the Scala: ak = a·m(30°) on
      // WGS84 (EASE-Grid 2.0's x-scale), 2k0 its doubled meridian scale,
      // c0..c6 the Snyder 3-21 meridional-arc coefficients
      s"""WITH p AS (SELECT custkey, lat, lon FROM ($custPointsSql)),
         | c AS (SELECT custkey, lat, lon,
         |   0.08181919084262149 AS e, 0.0066943799901413165 AS e2,
         |   5528256.639292836 AS ak, 1.7335020051443975 AS twok0,
         |   0.9983242984527954 AS c0, 0.002514607060518705 AS c2,
         |   2.6390465943376213e-06 AS c4, 3.4180460865957878e-09 AS c6,
         |   radians(lat) AS phi, sin(radians(lat)) AS s FROM p),
         | q AS (SELECT *, (1.0-e2)*(s/(1.0-e2*s*s)
         |   - (1.0/(2.0*e))*ln((1.0-e*s)/(1.0+e*s))) AS qv FROM c),
         | m0 AS (SELECT *, phi AS t0 FROM q),
         | m1 AS (SELECT *, t0 - (2.0*t0 + sin(2.0*t0) - pi()*s)/(2.0 + 2.0*cos(2.0*t0)) AS t1 FROM m0),
         | m2 AS (SELECT *, t1 - (2.0*t1 + sin(2.0*t1) - pi()*s)/(2.0 + 2.0*cos(2.0*t1)) AS t2 FROM m1),
         | m3 AS (SELECT *, t2 - (2.0*t2 + sin(2.0*t2) - pi()*s)/(2.0 + 2.0*cos(2.0*t2)) AS t3 FROM m2),
         | m4 AS (SELECT *, t3 - (2.0*t3 + sin(2.0*t3) - pi()*s)/(2.0 + 2.0*cos(2.0*t3)) AS t4 FROM m3),
         | m5 AS (SELECT *, t4 - (2.0*t4 + sin(2.0*t4) - pi()*s)/(2.0 + 2.0*cos(2.0*t4)) AS t5 FROM m4),
         | m6 AS (SELECT *, t5 - (2.0*t5 + sin(2.0*t5) - pi()*s)/(2.0 + 2.0*cos(2.0*t5)) AS t6 FROM m5)
         |SELECT custkey,
         | round(ak * radians(lon), 3) AS ease_x,
         | round(6378137.0 * qv / twok0, 3) AS ease_y,
         | round(6378137.0 * radians(lon), 3) AS eqc_x,
         | round(6378137.0 * (c0*phi - c2*sin(2.0*phi)
         |   + c4*sin(4.0*phi) - c6*sin(6.0*phi)), 3) AS eqc_y,
         | round(6371007.181 * cos(phi) * radians(lon), 3) AS modis_x,
         | round(6371007.181 * phi, 3) AS modis_y,
         | round(2.0*sqrt(2.0)/pi() * 6378137.0 * radians(lon) * cos(t6), 3) AS moll_x,
         | round(sqrt(2.0) * 6378137.0 * sin(t6), 3) AS moll_y
         |FROM m6""".stripMargin,

    "q_omerc" ->
      // constants derived independently of the Scala: the Hotine aposphere
      // B, A, H, sin/cos γ0 (the 0.8/0.6 RSO design ratio), λ0, uc and the
      // rectifying rotation sin/cos γc for the Timbalai 1948 string
      s"""WITH p AS (SELECT custkey, lat, lon FROM ($custPointsSql)
         |   WHERE lat > -10 AND lat < 20 AND lon > 90 AND lon < 140),
         | c AS (SELECT custkey,
         |   0.0814729809826527 AS e, 1.0033032091796408 AS bb,
         |   6376278.686011902 AS aa, 1.0000029913334152 AS hh,
         |   0.7999999999286045 AS s0, 0.600000000095194 AS c0,
         |   738096.0941164013 AS uc,
         |   0.800000000072834 AS sg, 0.599999999902888 AS cg,
         |   radians(lat) AS phi,
         |   radians(lon - 109.68552020297578) AS dlr FROM p),
         | t AS (SELECT *, tan(pi()/4.0 - phi/2.0)
         |   * power((1.0 + e*sin(phi))/(1.0 - e*sin(phi)), e/2.0) AS tt FROM c),
         | g AS (SELECT *, hh / power(tt, bb) AS q, sin(bb*dlr) AS v0,
         |   cos(bb*dlr) AS w0 FROM t),
         | h AS (SELECT *, (q - 1.0/q)/2.0 AS s1, (q + 1.0/q)/2.0 AS t1 FROM g),
         | i AS (SELECT *, (-v0*c0 + s1*s0)/t1 AS u0 FROM h),
         | j AS (SELECT *, aa * ln((1.0-u0)/(1.0+u0)) / (2.0*bb) AS v,
         |   aa * atan2(s1*c0 + v0*s0, w0) / bb - uc AS u FROM i)
         |SELECT custkey,
         | round(v*cg + u*sg + 590476.87, 3) AS ox,
         | round(u*cg - v*sg + 442857.65, 3) AS oy
         |FROM j""".stripMargin,

    "q_krovak" ->
      // constants derived independently of the Scala: the Gauss-sphere B
      // and t0, the conic n = sin(78.5°), r0, tan^n(pi/4+phiP/2), the
      // centre-line azimuth sin/cos and lam0 = 24°50' E Greenwich
      s"""WITH p AS (SELECT custkey, lat, lon FROM ($custPointsSql)
         |   WHERE lat > 20 AND lat < 55 AND lon > -20 AND lon < 60),
         | c AS (SELECT custkey,
         |   0.08169683122252751 AS e, 1.0005974983716484 AS bb,
         |   1.0034191639671806 AS t0, 0.9799247046208296 AS nn,
         |   1298039.0046228222 AS r0, 9.483713574072528 AS tpn,
         |   0.5043488897717796 AS sa, 0.8634999695344369 AS ca,
         |   radians(lat) AS phi,
         |   bb * radians(24.833333333333332 - lon) AS vv FROM p),
         | u AS (SELECT *, 2.0*(atan(t0 * power(tan(phi/2.0 + pi()/4.0), bb)
         |   / power((1.0 + e*sin(phi))/(1.0 - e*sin(phi)), e*bb/2.0)) - pi()/4.0) AS uu FROM c),
         | t AS (SELECT *, asin(ca*sin(uu) + sa*cos(uu)*cos(vv)) AS tt FROM u),
         | g AS (SELECT *, nn * asin(cos(uu)*sin(vv)/cos(tt)) AS th,
         |   r0 * tpn / power(tan(tt/2.0 + pi()/4.0), nn) AS r FROM t)
         |SELECT custkey,
         | round(-(r * sin(th)), 3) AS kx,
         | round(-(r * cos(th)), 3) AS ky
         |FROM g""".stripMargin,

    "q_sterea" ->
      s"""WITH p AS (SELECT custkey, lat, lon FROM ($custPointsSql)
         |   WHERE lat > 34 AND lat < 58 AND lon > -10 AND lon < 40),
         | c AS (SELECT custkey,
         |   6382644.571035366 AS r, 1.0004758566842447 AS nn,
         |   1.0075764649228895 AS cc,
         |   0.7893102212553775 AS sc0, 0.6139946047171645 AS cc0,
         |   0.09403203751960007 AS lam0, 0.08169683122252751 AS e,
         |   radians(lat) AS phi, radians(lon) AS lam FROM p),
         | w AS (SELECT *, cc * power(((1.0+sin(phi))/(1.0-sin(phi)))
         |   * power((1.0-e*sin(phi))/(1.0+e*sin(phi)), e), nn) AS ww FROM c),
         | x AS (SELECT *, asin((ww-1.0)/(ww+1.0)) AS chi,
         |   nn*(lam - lam0) AS dl FROM w),
         | b AS (SELECT *, 1.0 + sin(chi)*sc0 + cos(chi)*cc0*cos(dl) AS bb FROM x)
         |SELECT custkey,
         | round(155000.0 + 2.0*r*CAST(0.9999079 AS DOUBLE)*cos(chi)*sin(dl)/bb, 3) AS rx,
         | round(463000.0 + 2.0*r*CAST(0.9999079 AS DOUBLE)*(sin(chi)*cc0 - cos(chi)*sc0*cos(dl))/bb, 3) AS ry
         |FROM b""".stripMargin,

    "q_stere" ->
      s"""WITH p AS (SELECT custkey, lat, lon FROM ($custPointsSql) WHERE lat > 34),
         | c AS (SELECT custkey, radians(lon + 45.0) AS lam,
         |   0.0066943799901413165 AS e2, 0.08181919084262149 AS e,
         |   radians(lat) AS phi, radians(70.0) AS phif FROM p),
         | k AS (SELECT *,
         |   cos(phif)/sqrt(1.0 - e2*sin(phif)*sin(phif)) AS mf,
         |   tan(pi()/4.0 - phif/2.0)
         |     * power((1.0 + e*sin(phif))/(1.0 - e*sin(phif)), e/2.0) AS tf,
         |   tan(pi()/4.0 - phi/2.0)
         |     * power((1.0 + e*sin(phi))/(1.0 - e*sin(phi)), e/2.0) AS tt FROM c),
         | g AS (SELECT *, 6378137.0 * mf * tt / tf AS rho FROM k)
         |SELECT custkey,
         | round(rho * sin(lam), 3) AS sx,
         | round(-rho * cos(lam), 3) AS sy,
         | TRUE AS pj_eq
         |FROM g""".stripMargin,

    "q_spatial_join_left" ->
      s"""WITH b(box_id, minx, miny, maxx, maxy) AS (VALUES $joinBoxes2SqlValues),
         | p AS ($custPointsSql)
         |SELECT p.custkey, b.box_id FROM p LEFT JOIN b
         |ON p.lon > b.minx AND p.lon < b.maxx AND p.lat > b.miny AND p.lat < b.maxy""".stripMargin,

    "q_contains_rule" ->
      s"""WITH b(box_id, minx, miny, maxx, maxy) AS (VALUES $joinBoxesSqlValues),
         | p AS ($custPointsSql)
         |SELECT p.custkey, b.box_id FROM p, b
         |WHERE p.lon > b.minx AND p.lon < b.maxx AND p.lat > b.miny AND p.lat < b.maxy""".stripMargin,

    "q_contains_rule_left" ->
      s"""WITH b(box_id, minx, miny, maxx, maxy) AS (VALUES $joinBoxes2SqlValues),
         | p AS ($custPointsSql)
         |SELECT p.custkey, b.box_id FROM p LEFT JOIN b
         |ON p.lon > b.minx AND p.lon < b.maxx AND p.lat > b.miny AND p.lat < b.maxy""".stripMargin,

    "q_explode" ->
      """SELECT o_orderkey, CAST(w*h AS DOUBLE) AS part_area, 3 AS part_type
        |FROM (SELECT o_orderkey, 1 + o_orderkey % 7 AS w, 1 + o_custkey % 5 AS h FROM orders)
        |UNION ALL
        |SELECT o_orderkey, CAST(2*w*h AS DOUBLE) AS part_area, 3 AS part_type
        |FROM (SELECT o_orderkey, 1 + o_orderkey % 7 AS w, 1 + o_custkey % 5 AS h FROM orders)""".stripMargin,

    "q_wkt" ->
      """SELECT c_custkey,
        | 'POINT (' || CAST(x AS VARCHAR) || ' ' || CAST(y AS VARCHAR) || ')' AS wkt,
        | x AS rx, y AS ry
        |FROM (SELECT c_custkey, CAST((c_custkey % 200) + 0.5 AS DOUBLE) AS x,
        |  CAST((c_custkey % 100) + 0.25 AS DOUBLE) AS y FROM customer)""".stripMargin,

    "q_s2_props" ->
      s"""SELECT custkey, TRUE AS prefix5_ok, TRUE AS prefix9_ok, TRUE AS transitive_ok
         |FROM ($custPointsSql)""".stripMargin,

    "q_h3_disk" ->
      s"""SELECT custkey, TRUE AS size_ok, TRUE AS self_ok, TRUE AS distinct_ok,
         | TRUE AS res_ok FROM ($custPointsSql)""".stripMargin,

    "q_stream_spatial_join" ->
      s"""WITH b(box_id, minx, miny, maxx, maxy) AS (VALUES $joinBoxesSqlValues),
         | p AS ($custPointsSql)
         |SELECT p.custkey, b.box_id FROM p, b
         |WHERE p.lon > b.minx AND p.lon < b.maxx AND p.lat > b.miny AND p.lat < b.maxy""".stripMargin,

    "q_s2_cells" -> RecordedOracles.s2CellsSql,
    "q_h3_cells" -> RecordedOracles.h3CellsSql,
    "q_pages_pipeline" -> RecordedOracles.pagesPipelineSql,
    // reference golden-dataset pins (REAL reference bytes; RefDataGen +
    // scripts/check_refdata.py independent cross-check)
    "q_ref_cities" -> RecordedOracles.refCitiesSql,
    "q_ref_nybb" -> RecordedOracles.refNybbSql,
    "q_ref_countries" -> RecordedOracles.refCountriesSql,
    "q_ref_sjoin" -> RecordedOracles.refSjoinSql,

    "q_lang_id" ->
      "SELECT doc_id, lang, TRUE AS guess_known, TRUE AS guess_nonnull FROM documents",

    "q_ann_lsh" ->
      """SELECT vec_id AS a_id, vec_id + 100000 AS b_id, CAST(1.0 AS DOUBLE) AS cos
        |FROM embeddings""".stripMargin,

    "q_simhash_dedup" ->
      """SELECT doc_id AS a_id, doc_id + 800000 AS b_id, CAST(0 AS INTEGER) AS hd
        |FROM documents""".stripMargin,

    "q_h3_props" ->
      s"""SELECT custkey, TRUE AS res12_ok, TRUE AS res5_ok, TRUE AS base_ok,
         | TRUE AS prefix_ok, TRUE AS pad_ok, TRUE AS transitive_ok
         |FROM ($custPointsSql)""".stripMargin,

    "q_heavy_hitters" ->
      "SELECT user_id, count(*) AS cnt FROM events GROUP BY user_id",

    "q_asof_join" ->
      """WITH snaps AS (SELECT user_id, ts, CAST(floor(value*100+0.5) AS BIGINT) AS snap_c,
        |   epoch_ms(ts) AS snap_ms FROM events WHERE event_type='purchase')
        |SELECT e.event_id, s.snap_c, s.snap_ms
        |FROM events e ASOF LEFT JOIN snaps s
        |ON e.user_id = s.user_id AND e.ts >= s.ts""".stripMargin,

    "q_asof_bucketed" ->
      """WITH snaps AS (SELECT user_id, ts, CAST(floor(value*100+0.5) AS BIGINT) AS snap_c,
        |   epoch_ms(ts) AS snap_ms FROM events WHERE event_type='purchase')
        |SELECT e.event_id, s.snap_c, s.snap_ms
        |FROM events e ASOF LEFT JOIN snaps s
        |ON e.user_id = s.user_id AND e.ts >= s.ts""".stripMargin,

    // point-to-rectangle planar distance in closed form: the outside gap per
    // axis is max(min-x, x-max, 0); inside the box both gaps are 0
    "q_dwithin_join" ->
      s"""WITH b(box_id, minx, miny, maxx, maxy) AS (VALUES $joinBoxes2SqlValues),
         | p AS ($custPointsSql)
         |SELECT p.custkey, b.box_id FROM p, b
         |WHERE sqrt(
         |   greatest(b.minx - p.lon, p.lon - b.maxx, 0.0) * greatest(b.minx - p.lon, p.lon - b.maxx, 0.0)
         | + greatest(b.miny - p.lat, p.lat - b.maxy, 0.0) * greatest(b.miny - p.lat, p.lat - b.maxy, 0.0)
         |) <= 2.3""".stripMargin,

    "q_dwithin_rule" ->
      s"""WITH b(box_id, minx, miny, maxx, maxy) AS (VALUES $joinBoxes2SqlValues),
         | p AS ($custPointsSql)
         |SELECT p.custkey, b.box_id FROM p, b
         |WHERE sqrt(
         |   greatest(b.minx - p.lon, p.lon - b.maxx, 0.0) * greatest(b.minx - p.lon, p.lon - b.maxx, 0.0)
         | + greatest(b.miny - p.lat, p.lat - b.maxy, 0.0) * greatest(b.miny - p.lat, p.lat - b.maxy, 0.0)
         |) <= 2.3""".stripMargin,

    "q_embed_dedup" ->
      """WITH u AS (SELECT vec_id, embedding FROM embeddings
        | UNION ALL SELECT vec_id + 1000000, embedding FROM embeddings)
        |SELECT a.vec_id AS a_id, b.vec_id AS b_id
        |FROM u a JOIN u b ON a.embedding = b.embedding AND a.vec_id < b.vec_id""".stripMargin,

    // exact word-3-gram Jaccard recomputed from scratch in SQL (distinct
    // trigram sets, set-intersection self-join). Matches because (a) the
    // kernel's hashed shingles are collision-free at 64 bits, and (b) at this
    // corpus no true pair sits in the LSH miss band: the closest non-dup
    // pairs sit at exactly jac=0.9, where 8 bands x 4 rows miss with
    // probability (1-0.9^4)^8 ~ 2e-4 — verified row-identical at all tiers.
    "q_ngram_neardup" ->
      """WITH u AS (SELECT doc_id, text FROM documents
        |  UNION ALL SELECT doc_id + 2000000, text FROM documents),
        | toks AS (SELECT doc_id, list_filter(
        |   regexp_split_to_array(lower(text), '[^\p{L}\p{N}]+'), x -> x <> '') AS t FROM u),
        | tris AS (SELECT doc_id,
        |   [t[i] || ' ' || t[i+1] || ' ' || t[i+2] FOR i IN generate_series(1, len(t)-2)] AS shl
        |  FROM toks),
        | dsh AS (SELECT DISTINCT doc_id, UNNEST(shl) AS sh FROM tris),
        | sizes AS (SELECT doc_id, count(*) n FROM dsh GROUP BY 1),
        | inter AS (SELECT x.doc_id a_id, y.doc_id b_id, count(*) i
        |   FROM dsh x JOIN dsh y ON x.sh=y.sh AND x.doc_id<y.doc_id GROUP BY 1,2),
        | jac AS (SELECT a_id, b_id, CAST(i AS DOUBLE) / (sa.n + sb.n - i) AS j
        |   FROM inter JOIN sizes sa ON sa.doc_id=inter.a_id
        |   JOIN sizes sb ON sb.doc_id=inter.b_id)
        |SELECT a_id, b_id, round(j, 6) AS jac FROM jac WHERE j >= 0.8""".stripMargin,

    "q_stream_dedup" ->
      "SELECT CAST(count(DISTINCT text) AS BIGINT) AS uniq FROM documents",

    "q_stream_dedup_wm" ->
      """SELECT CAST(count(DISTINCT event_id) AS BIGINT) AS uniq,
        | CAST(count(DISTINCT event_id) AS BIGINT) AS uniq_ids FROM events""".stripMargin,

    "q_geodesic_ell" ->
      """SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
        | TRUE AS vk_ok, TRUE AS ratio_ok FROM lineitem""".stripMargin,

    "q_token_bpe" ->
      """SELECT * FROM (VALUES
        | (CAST(1 AS BIGINT), CAST(2 AS BIGINT)), (CAST(2 AS BIGINT), CAST(3 AS BIGINT)),
        | (CAST(3 AS BIGINT), CAST(3 AS BIGINT)), (CAST(4 AS BIGINT), CAST(5 AS BIGINT)),
        | (CAST(5 AS BIGINT), CAST(7 AS BIGINT)), (CAST(6 AS BIGINT), CAST(1 AS BIGINT)),
        | (CAST(7 AS BIGINT), CAST(2 AS BIGINT)), (CAST(8 AS BIGINT), CAST(3 AS BIGINT)),
        | (CAST(9 AS BIGINT), CAST(2 AS BIGINT)), (CAST(10 AS BIGINT), CAST(3 AS BIGINT)),
        | (CAST(11 AS BIGINT), CAST(0 AS BIGINT)), (CAST(12 AS BIGINT), CAST(1 AS BIGINT)),
        | (CAST(13 AS BIGINT), CAST(2 AS BIGINT)), (CAST(14 AS BIGINT), CAST(3 AS BIGINT))
        |) AS t(sid, n_bpe)""".stripMargin,

    "q_simhash" ->
      """SELECT * FROM (VALUES
        | (CAST(1 AS BIGINT), CAST(1136889540549203160 AS BIGINT), CAST(-5683231688907763541 AS BIGINT)),
        | (CAST(2 AS BIGINT), CAST(7423985058879021294 AS BIGINT), CAST(-901156390463725495 AS BIGINT)),
        | (CAST(3 AS BIGINT), CAST(3446088770863765956 AS BIGINT), CAST(4429764121531777123 AS BIGINT)),
        | (CAST(4 AS BIGINT), CAST(1136889540549203160 AS BIGINT), CAST(-5683231688907763541 AS BIGINT))
        |) AS t(sid, simhash, fp)""".stripMargin,

    "q_cosine_lsh" ->
      """SELECT vec_id, TRUE AS in_range, TRUE AS neg_flips,
        | TRUE AS self_in_probes, TRUE AS probe_count_ok FROM embeddings""".stripMargin,

    "q_lang_known" ->
      """SELECT * FROM (VALUES
        | (CAST(1 AS BIGINT),'en'), (CAST(2 AS BIGINT),'en'),
        | (CAST(3 AS BIGINT),'de'), (CAST(4 AS BIGINT),'de'),
        | (CAST(5 AS BIGINT),'es'), (CAST(6 AS BIGINT),'es'),
        | (CAST(7 AS BIGINT),'fr'), (CAST(8 AS BIGINT),'fr'),
        | (CAST(9 AS BIGINT),'it'), (CAST(10 AS BIGINT),'it'),
        | (CAST(11 AS BIGINT),'und')) AS t(sid, lang_guess)""".stripMargin,

    "q_ann_recall" ->
      """SELECT count(*) AS n_queries, TRUE AS top1_is_source,
        | TRUE AS neardup_recall_ge_half FROM embeddings WHERE vec_id < 30""".stripMargin,

    "q_text_stable" ->
      "SELECT CAST(3000 AS BIGINT) AS n_urls, CAST(0 AS BIGINT) AS mismatches",

    "q_ivf_recall" ->
      """SELECT count(*) AS n_queries, TRUE AS exhaustive_exact,
        | TRUE AS probe1_recall_gt_2_5x FROM embeddings WHERE vec_id < 30""".stripMargin,

    "q_snapshot_resume" ->
      """SELECT count(*) AS n_rows, TRUE AS resume_ok, TRUE AS rollback_ok,
        | TRUE AS history_ok FROM documents""".stripMargin,

    "q_cellstore_prune" ->
      s"""SELECT (SELECT count(*) FROM ($custPointsSql)
         |   WHERE lat > 10 AND lat < 40 AND lon > 10 AND lon < 60) AS n_rows,
         | TRUE AS pruned,
         | (SELECT count(*) FROM ($custPointsSql)
         |   WHERE lat > 10 AND lat < 40 AND lon > 10 AND lon < 60) AS rf_rows,
         | TRUE AS rf_cols_ok,
         | (SELECT count(*) FROM ($custPointsSql)
         |   WHERE custkey IN (1, 7, 19, 23)) AS rf_fids_n,
         | (SELECT CAST(sum(custkey) AS BIGINT) FROM ($custPointsSql)
         |   WHERE custkey IN (1, 7, 19, 23)) AS rf_fids_sum,
         | (SELECT count(*) FROM ($custPointsSql) WHERE lat > 0) AS rf_sql_n,
         | (SELECT CAST(sum(custkey) AS BIGINT) FROM ($custPointsSql)
         |   WHERE lat > 0) AS rf_sql_ck,
         | CAST(25 AS BIGINT) AS rf_f2d_n, TRUE AS rf_f2d_ok""".stripMargin,

    "q_geojson" ->
      s"""SELECT count(*) AS n_rows,
         | CAST(sum(custkey) AS BIGINT) AS ck_sum,
         | count(*) AS xy_exact,
         | TRUE AS poly_rt_ok
         |FROM ($custPointsSql)""".stripMargin,

    "q_shapefile" ->
      s"""SELECT count(*) AS n_rows,
         | CAST(sum(custkey) AS BIGINT) AS ck_sum,
         | count(*) AS xy_exact,
         | TRUE AS fid_ok
         |FROM ($custPointsSql)""".stripMargin,

    "q_image_decode" ->
      """SELECT c_custkey AS custkey,
        | CAST(8 + c_custkey % 16 AS INTEGER) AS width,
        | CAST(8 + c_custkey % 8 AS INTEGER) AS height,
        | CAST(c_custkey * 37 % 256 AS DOUBLE) AS mean_r,
        | CAST(c_custkey * 59 % 256 AS DOUBLE) AS mean_g,
        | CAST(c_custkey * 83 % 256 AS DOUBLE) AS mean_b,
        | CAST(4 AS INTEGER) AS rw, CAST(4 AS INTEGER) AS rh,
        | CAST(c_custkey * 37 % 256 AS DOUBLE) AS rmean_r
        |FROM customer""".stripMargin,

    "q_audio_decode" ->
      """SELECT c_custkey AS custkey,
        | CAST(8000 + (c_custkey % 3) * 4000 AS INTEGER) AS sample_rate,
        | CAST(1 AS INTEGER) AS channels,
        | CAST(400 + (c_custkey % 128) * 2 AS BIGINT) AS n_frames,
        | CAST(0.0 AS DOUBLE) AS mean,
        | CAST(c_custkey * 7 % 2000 AS DOUBLE) AS rms,
        | CAST(c_custkey * 7 % 2000 AS INTEGER) AS peak
        |FROM customer""".stripMargin,

    "q_video_decode" ->
      """SELECT custkey,
        | CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height,
        | CAST(n AS INTEGER) AS n_frames, CAST(fps AS INTEGER) AS fps,
        | round((n*r0 + s*(n*(n-1)/2)) / CAST(n AS DOUBLE), 6) AS mean_r,
        | CAST(g0 + s*(n-1) AS DOUBLE) AS fr_g,
        | CAST(r0 AS DOUBLE) AS pf_r,
        | CAST(1 AS INTEGER) AS mj_codec, CAST(n AS INTEGER) AS mj_frames,
        | TRUE AS mj_mean_ok
        |FROM (SELECT c_custkey AS custkey,
        |  8 + c_custkey % 24 AS w, 8 + c_custkey % 16 AS h,
        |  1 + c_custkey % 5 AS n, 5 + c_custkey % 6 AS fps,
        |  c_custkey * 37 % 200 AS r0, c_custkey * 59 % 200 AS g0,
        |  c_custkey % 12 AS s FROM customer)""".stripMargin,

    "q_pipeline_consistency" ->
      "SELECT TRUE AS nonempty, TRUE AS counts_eq, TRUE AS rows_eq",

    // counts/xors are recorded literals (the q_simhash stability-pin
    // pattern); shared_* booleans are the winnowing containment guarantee
    "q_winnow" ->
      """SELECT CAST(20 AS INTEGER) AS n_a, CAST(38 AS INTEGER) AS n_b,
        | CAST(25 AS INTEGER) AS n_c,
        | CAST(4378592163536987619 AS BIGINT) AS xor_a,
        | CAST(-4383572506458543111 AS BIGINT) AS xor_b,
        | CAST(-5898889557468453598 AS BIGINT) AS xor_c,
        | TRUE AS shared_ab, TRUE AS shared_bc, CAST(0 AS INTEGER) AS shared_ac""".stripMargin,

    "q_knn_points" ->
      s"""WITH q(qid, qx, qy) AS (VALUES (CAST(1 AS BIGINT), 0.5, 10.5),
         |  (CAST(2 AS BIGINT), -120.5, -30.5), (CAST(3 AS BIGINT), 60.5, 40.5)),
         | p AS ($custPointsSql)
         |SELECT qid, custkey, CAST(rnk AS INTEGER) AS rnk, round(dist,6) AS dist FROM (
         | SELECT q.qid, p.custkey,
         |  sqrt((p.lon-q.qx)*(p.lon-q.qx)+(p.lat-q.qy)*(p.lat-q.qy)) AS dist,
         |  row_number() OVER (PARTITION BY q.qid ORDER BY
         |    sqrt((p.lon-q.qx)*(p.lon-q.qx)+(p.lat-q.qy)*(p.lat-q.qy)), p.custkey) AS rnk
         | FROM p, q) WHERE rnk <= 5""".stripMargin,

    "q_dedup_exact" ->
      "SELECT min(doc_id) AS keep_id, count(*) AS n FROM documents GROUP BY text",

    "q_token_stats" ->
      """SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars,
        | CAST(length(text) - length(replace(text,' ','')) + 1 AS BIGINT) AS n_tokens
        |FROM documents""".stripMargin,

    "q_quality" ->
      """SELECT doc_id,
        | CAST(length(regexp_replace(text,'[^.!?]','','g')) AS BIGINT) AS punct,
        | CAST(length(regexp_replace(text,'[^A-Z]','','g')) AS BIGINT) AS uppers,
        | CAST(length(regexp_replace(text,'[^0-9]','','g')) AS BIGINT) AS digits,
        | round(CAST(length(regexp_replace(text,'[^A-Z]','','g')) AS DOUBLE)
        |   / greatest(length(text),1),6) AS upper_ratio
        |FROM documents""".stripMargin,

    "q_curation" ->
      """WITH u AS (SELECT doc_id, lang, text FROM documents
        |  UNION ALL SELECT doc_id + 500000, lang, text FROM documents),
        | q AS (SELECT doc_id, lang, text, length(text) AS n_chars,
        |   length(text) - length(replace(text,' ','')) + 1 AS n_tokens,
        |   length(regexp_replace(text,'[^A-Z]','','g')) AS uppers FROM u),
        | f AS (SELECT * FROM q WHERE n_chars >= 50
        |   AND CAST(uppers AS DOUBLE) / greatest(n_chars, 1) <= 0.3),
        | d AS (SELECT text, min(doc_id) AS doc_id, min(lang) AS lang,
        |   min(n_tokens) AS n_tokens FROM f GROUP BY text)
        |SELECT lang, count(*) AS docs, CAST(sum(n_tokens) AS BIGINT) AS tokens
        |FROM d GROUP BY lang""".stripMargin,

    "q_lsh_dup_pairs" ->
      """WITH u AS (SELECT doc_id, text FROM documents
        | UNION ALL SELECT doc_id + 1000000, text FROM documents)
        |SELECT a.doc_id AS a_id, b.doc_id AS b_id
        |FROM u a JOIN u b ON a.text = b.text AND a.doc_id < b.doc_id""".stripMargin,

    "q_embed_norm" ->
      """SELECT vec_id, round(sqrt(list_sum(list_transform(embedding,
        | x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))),6) AS nrm FROM embeddings""".stripMargin,

    "q_knn_embed" ->
      """WITH q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < 5),
        | p AS (SELECT q.qid, e.vec_id AS cid,
        |   list_sum(list_transform(list_zip(q.qe, e.embedding),
        |     x -> CAST(x[1] AS DOUBLE)*CAST(x[2] AS DOUBLE)))
        |   / (sqrt(list_sum(list_transform(q.qe, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))
        |      * sqrt(list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))) AS cos
        |  FROM embeddings e, q WHERE e.vec_id <> q.qid)
        |SELECT qid, cid, CAST(rnk AS INTEGER) AS rnk, round(cos,6) AS cos FROM (
        | SELECT qid, cid, cos, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rnk
        | FROM p) WHERE rnk <= 3""".stripMargin,

    "q_events_agg" ->
      """SELECT event_type, count(*) AS cnt,
        | CAST(sum(CAST(floor(value*100 + 0.5) AS BIGINT)) AS BIGINT) AS total_c,
        | count(DISTINCT user_id) AS users FROM events GROUP BY event_type""".stripMargin,

    "q_tile_vector" ->
      """SELECT o_orderkey,
        | round(tx/256.0*360.0 - 180.0, 6) AS west,
        | round(degrees(atan((exp(pi()*(1.0-2.0*(ty+1)/256.0)) - exp(-pi()*(1.0-2.0*(ty+1)/256.0)))/2.0)), 6) AS south,
        | round((tx+1)/256.0*360.0 - 180.0, 6) AS east,
        | round(degrees(atan((exp(pi()*(1.0-2.0*ty/256.0)) - exp(-pi()*(1.0-2.0*ty/256.0)))/2.0)), 6) AS north,
        | TRUE AS inside, TRUE AS poly_ok
        |FROM (SELECT o_orderkey,
        |  floor((lon+180.0)/360.0*256) AS tx,
        |  floor((1.0 - ln(tan(radians(lat)) + 1.0/cos(radians(lat)))/pi())/2.0*256) AS ty
        | FROM (SELECT o_orderkey, CAST((o_orderkey % 110) - 55 + 0.25 AS DOUBLE) AS lat,
        |   CAST((o_custkey % 350) - 175 + 0.25 AS DOUBLE) AS lon FROM orders))""".stripMargin,

    "q_geoarrow" ->
      """SELECT o_orderkey, 1 AS n_rings, 5 AS shell_pts,
        | minx AS v1x, miny + h AS v3y, minx AS px, miny + h AS l2y,
        | w * h AS rt_area, minx AS rt_px, round(sqrt(w*w + h*h), 6) AS rt_len,
        | 2 AS mp_n, w * h + 2.0 AS mp_area, 6 AS mp_type, minx + w + 1.0 AS mp_v2x,
        | minx + w AS mpt2x, 4 AS mpt_type, miny + h AS ml2y, round(2*w, 6) AS ml_len
        |FROM (SELECT o_orderkey,
        |  CAST(o_orderkey % 100 AS DOUBLE) AS minx, CAST(o_custkey % 100 AS DOUBLE) AS miny,
        |  CAST(1 + o_orderkey % 7 AS DOUBLE) AS w, CAST(1 + o_custkey % 5 AS DOUBLE) AS h
        | FROM orders)""".stripMargin,

    "q_stream_window" ->
      """SELECT CAST(floor(epoch(ts)/300)*300 AS BIGINT) AS win_start, event_type,
        | count(*) AS cnt, CAST(sum(CAST(floor(value*100 + 0.5) AS BIGINT)) AS BIGINT) AS total_c
        |FROM events GROUP BY 1, 2""".stripMargin,

    "q_stream_sessions" ->
      """WITH e AS (SELECT user_id, epoch_ms(ts) AS t,
        |   CAST(floor(value*100 + 0.5) AS BIGINT) AS cents FROM events),
        | o AS (SELECT user_id, t, cents,
        |   lag(t) OVER (PARTITION BY user_id ORDER BY t) AS prev FROM e),
        | s AS (SELECT user_id, t, cents,
        |   sum(CASE WHEN prev IS NULL OR t - prev > 7199500 THEN 1 ELSE 0 END)
        |     OVER (PARTITION BY user_id ORDER BY t
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid FROM o),
        | g AS (SELECT user_id, sid, count(*) AS events,
        |   CAST(sum(cents) AS BIGINT) AS total_c,
        |   min(t) AS first_ms, max(t) AS last_ms FROM s GROUP BY user_id, sid)
        |SELECT user_id, events, total_c, first_ms, last_ms
        |FROM g WHERE (SELECT max(t) FROM e) > last_ms + 7199500""".stripMargin)
}
