package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{Generate, Join}
import org.apache.spark.sql.functions._
import org.locationtech.jts.geom.Coordinate

import graft.functions.st._
import graft.geom.Wkb
import graft.sql.{GraftSql, SpatialJoinRule}

/** Optimizer rule: a naive st_dwithin / st_distance<=r join condition (which
 *  Spark can only plan as BroadcastNestedLoopJoin) is rewritten into the
 *  cell-bucketed hash equi-join, row-identically. */
class SpatialJoinRuleSpec extends SparkSpec {

  private def boxWkb(minx: Double, miny: Double, maxx: Double, maxy: Double) =
    Wkb.write(Wkb.factory.createPolygon(Array(
      new Coordinate(minx, miny), new Coordinate(maxx, miny),
      new Coordinate(maxx, maxy), new Coordinate(minx, maxy),
      new Coordinate(minx, miny))))

  private def fixtures() = {
    import spark.implicits._
    val pts = (0 until 400).map { i =>
      (i.toLong, (i * 37 % 340 - 170) + 0.5, (i * 17 % 116 - 58) + 0.5)
    }.toDF("id", "lon", "lat")
      .select(col("id"), st_point(col("lon"), col("lat")).as("geometry"))
    val boxes = Seq(
      (1L, boxWkb(-170, -58, -100, -10)), (2L, boxWkb(-100, -10, -30, 40)))
      .toDF("box_id", "bgeom")
    (pts, boxes)
  }

  private def rows(df: DataFrame) = df.select("id", "box_id").collect()
    .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq

  override def beforeAll(): Unit = {
    super.beforeAll()
    spark.conf.set(SpatialJoinRule.CellLevelConf, "4")
    GraftSql.registerRules(spark)
  }

  test("st_dwithin join: BNLJ rewritten to hash join, rows identical") {
    val (pts, boxes) = fixtures()
    val naive = pts.join(boxes, st_dwithin(col("geometry"), col("bgeom"), lit(2.3)))
    val plan = naive.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"), s"rule did not fire:\n$plan")
    assert(plan.contains("HashJoin"), s"expected a hash join:\n$plan")
    assert(plan.contains("Generate"), s"expected cell explode:\n$plan")
    // ground truth WITHOUT the rule: strip it, force the BNLJ plan
    spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations.filterNot(_ == SpatialJoinRule)
    try {
      val bnlj = pts.join(boxes, st_dwithin(col("geometry"), col("bgeom"), lit(2.3)))
      assert(bnlj.queryExecution.executedPlan.toString.contains("BroadcastNestedLoopJoin"))
      assert(rows(naive) == rows(bnlj))
      assert(rows(naive).nonEmpty)
    } finally GraftSql.registerRules(spark)
  }

  test("st_distance <= r form and extra conjuncts also rewrite, rows identical") {
    val (pts, boxes) = fixtures()
    val naive = pts.join(boxes,
      st_distance(col("geometry"), col("bgeom")) <= 2.3 && col("id") % 2 === 0)
    val plan = naive.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"), s"rule did not fire:\n$plan")
    spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations.filterNot(_ == SpatialJoinRule)
    try {
      val bnlj = pts.join(boxes,
        st_distance(col("geometry"), col("bgeom")) <= 2.3 && col("id") % 2 === 0)
      assert(rows(naive) == rows(bnlj) && rows(naive).nonEmpty)
    } finally GraftSql.registerRules(spark)
  }

  test("reversed argument order (right geom first) still rewrites correctly") {
    val (pts, boxes) = fixtures()
    val naive = pts.join(boxes, st_dwithin(col("bgeom"), col("geometry"), lit(2.3)))
    assert(!naive.queryExecution.executedPlan.toString.contains("BroadcastNestedLoopJoin"))
    val direct = pts.join(boxes, st_dwithin(col("geometry"), col("bgeom"), lit(2.3)))
    assert(rows(naive) == rows(direct))
  }

  test("rule leaves non-distance joins and non-literal radii alone") {
    import spark.implicits._
    val (pts, boxes) = fixtures()
    // equi-join: untouched (stays a plain hash join, no Generate)
    val eq = pts.join(boxes, col("id") === col("box_id"))
    assert(!eq.queryExecution.executedPlan.toString.contains("Generate"))
    // non-literal radius: not rewritable, stays BNLJ
    val dynR = pts.join(boxes,
      st_distance(col("geometry"), col("bgeom")) <= col("box_id").cast("double"))
    assert(dynR.queryExecution.executedPlan.toString.contains("BroadcastNestedLoopJoin"))
    // right/full outer: out of scope for the rewrite, must not be touched
    val rj = pts.join(boxes, st_dwithin(col("geometry"), col("bgeom"), lit(2.3)), "right")
    assert(rj.queryExecution.executedPlan.toString.contains("BroadcastNestedLoopJoin"))
    assert(rj.count() >= boxes.count())
  }

  test("guard: a bucketed DWithin join (cross-side equality) is untouched") {
    val (pts, boxes) = fixtures()
    // a budget of one byte: the join plans its cell equi-join, not the probe
    val jw = graft.join.SpatialJoin.join(pts, boxes.withColumnRenamed("bgeom", "geometry"),
      graft.join.SpatialPredicate.DWithin(2.3), "inner", cellLevel = 4,
      leftPointsOnly = true, maxBroadcastBytes = 1L)
    // the rule must not re-bucket it: its cell equality already hash-joins,
    // so the plan keeps its one join and the right side's one explode, and
    // gains no row ids
    val plan = jw.queryExecution.optimizedPlan
    assert(plan.collect { case g: Generate => g }.size == 1, plan)
    assert(plan.collect { case j: Join => j }.size == 1, plan)
    assert(!plan.toString.contains("__ridx"), plan)
    assert(jw.count() > 0)
  }

  test("a bad cell level setting fails the rewrite, naming the key and the value") {
    val (pts, boxes) = fixtures()
    for (bad <- Seq("abc", "40")) {
      spark.conf.set(SpatialJoinRule.CellLevelConf, bad)
      try {
        val e = intercept[IllegalArgumentException](
          pts.join(boxes, st_dwithin(col("geometry"), col("bgeom"), lit(2.3)))
            .queryExecution.optimizedPlan)
        assert(e.getMessage.contains(s"${SpatialJoinRule.CellLevelConf} must be in 0..30, got $bad"),
          e.getMessage)
      } finally spark.conf.set(SpatialJoinRule.CellLevelConf, "4")
    }
  }

  test("st_dwithin: a null or empty right geometry matches nothing, as under " +
    "SpatialJoin's DWithin") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val (pts, _) = fixtures()
    // the empty polygon's bbox (JTS: min 0, max -1) widened by 3.7 would
    // cover [-3.7, 2.7]^2, where st_distance to it reads 0
    val near = pts.union(spark.range(1000L, 1010L).select(col("id"),
      st_point((col("id") - 1005) * 0.5, (col("id") - 1005) * 0.25).as("geometry")))
    val layer = spark.createDataFrame(java.util.Arrays.asList(
      Row(1L, boxWkb(-170, -58, -100, -10)), Row(2L, Wkb.write(Wkb.factory.createPolygon())),
      Row(3L, null)), StructType(Seq(StructField("box_id", LongType), StructField("bgeom", BinaryType))))
    // with the rule and without it (a nested loop over st_distance, which
    // reads NaN against an empty geometry and null against a null one)
    val (ruled, bnlj) = withAndWithoutRule(
      near.join(layer, st_dwithin(col("geometry"), col("bgeom"), lit(3.7))))
    assert(!ruled.queryExecution.executedPlan.toString.contains("BroadcastNestedLoopJoin"))
    val api = graft.join.SpatialJoin.join(near, layer.withColumnRenamed("bgeom", "geometry"),
      graft.join.SpatialPredicate.DWithin(3.7), cellLevel = 4, leftPointsOnly = true)
      .select(col("id_left").as("id"), col("box_id_right").as("box_id"))
    assert(rows(ruled) == rows(api) && rows(bnlj) == rows(api) && rows(api).nonEmpty)
    assert(rows(api).forall(_._2 == 1L))
  }

  test("duplicate pair meetings collapse: polygon-polygon (multi-cell) sides") {
    import spark.implicits._
    // both sides are boxes whose coverings share MANY cells — without the
    // pair-id aggregate each pair would surface once per shared cell
    val la = Seq((1L, boxWkb(0, 0, 30, 30)), (2L, boxWkb(100, 10, 140, 50)))
      .toDF("id", "geometry")
    val rb = Seq((10L, boxWkb(5, 5, 25, 25)), (20L, boxWkb(-60, -20, -40, 0)))
      .toDF("box_id", "bgeom")
    val out = la.join(rb, st_dwithin(col("geometry"), col("bgeom"), lit(1.0)))
    assert(!out.queryExecution.executedPlan.toString.contains("BroadcastNestedLoopJoin"))
    val got = out.select("id", "box_id").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.length == got.distinct.length, s"duplicate pairs: ${got.mkString(",")}")
    assert(got.toSet == Set((1L, 10L))) // only the overlapping pair is within 1.0
  }

  /** rows with/without the rule — ground truth is the BNLJ plan. */
  private def withAndWithoutRule(build: => DataFrame): (DataFrame, DataFrame) = {
    val ruled = build
    spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations.filterNot(_ == SpatialJoinRule)
    try {
      val naive = build
      assert(naive.queryExecution.executedPlan.toString.contains("BroadcastNestedLoopJoin"),
        "ground-truth run unexpectedly avoided BNLJ")
      // its rows, collected while the rule is off: a projection of `naive`
      // planned later would be rewritten like any other join
      (ruled, spark.createDataFrame(naive.collectAsList(), naive.schema))
    } finally GraftSql.registerRules(spark)
  }

  test("st_contains / st_intersects inner joins rewrite too (radius-0 covering)") {
    val (pts, boxes) = fixtures()
    for (pred <- Seq(
      () => st_contains(col("bgeom"), col("geometry")), // box contains point
      () => st_intersects(col("geometry"), col("bgeom")),
      () => st_within(col("geometry"), col("bgeom")))) {
      val (ruled, naive) = withAndWithoutRule(pts.join(boxes, pred()))
      val plan = ruled.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastNestedLoopJoin"), s"rule did not fire:\n$plan")
      assert(plan.contains("HashJoin"), s"expected hash join:\n$plan")
      assert(rows(ruled) == rows(naive) && rows(ruled).nonEmpty)
    }
  }

  test("property: rule LEFT rewrite == API left join == BNLJ truth on random " +
    "boxes/points (the two one-pass implementations agree)") {
    import spark.implicits._
    val rnd = new scala.util.Random(97)
    for (trial <- 0 until 5) {
      val pts = (0 until 120).map { i =>
        (i.toLong, rnd.nextDouble() * 160 - 80, rnd.nextDouble() * 100 - 50)
      }.toDF("id", "x", "y")
        .select(col("id"), st_point(col("x"), col("y")).as("geometry"))
      val boxes = (0 until 6).map { b =>
        val x0 = rnd.nextDouble() * 120 - 70; val y0 = rnd.nextDouble() * 70 - 45
        (b.toLong, boxWkb(x0, y0, x0 + rnd.nextDouble() * 40, y0 + rnd.nextDouble() * 30))
      }.toDF("box_id", "bgeom")
      def rows(df: DataFrame) = df.select("id", "box_id").collect()
        .map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1))).sorted.toSeq
      // the truth, independent of both: every (point, box) pair of the
      // collected rows through JTS contains, a point no box contains kept
      // once with box -1
      def geoms(df: DataFrame) =
        df.collect().map(r => (r.getLong(0), Wkb.read(r.getAs[Array[Byte]](1))))
      val boxGeoms = geoms(boxes)
      val truth = geoms(pts).toSeq.flatMap { case (id, p) =>
        val hits = boxGeoms.collect { case (b, g) if g.contains(p) => (id, b) }
        if (hits.isEmpty) Seq((id, -1L)) else hits.toSeq
      }.sorted
      // rule path (naive formulation through the optimizer rewrite)
      val ruled = pts.join(boxes, st_contains(col("bgeom"), col("geometry")), "left")
      assert(!ruled.queryExecution.executedPlan.toString.contains("BroadcastNestedLoopJoin"))
      // API path (generic one-pass left join, leftPointsOnly=false so the
      // window machinery — not the point fast path — is exercised)
      val api = graft.join.SpatialJoin.join(
          pts, boxes.withColumnRenamed("bgeom", "geometry"),
          graft.join.SpatialPredicate.Contains, "left", cellLevel = 4,
          leftPointsOnly = false)
        .select(col("id_left").as("id"), col("box_id_right").as("box_id"))
      assert(rows(ruled) == truth, s"trial $trial: rule diverged")
      assert(rows(api) == truth, s"trial $trial: API diverged")
      assert(truth.exists(_._2 == -1L) && truth.exists(_._2 >= 0L))
    }
  }

  test("an API generic-path result self-joins and unions like any DataFrame") {
    import spark.implicits._
    import graft.join.{SpatialJoin, SpatialPredicate}
    val la = Seq((1L, boxWkb(0, 0, 30, 30)), (2L, boxWkb(100, 10, 140, 50)),
      (3L, boxWkb(-10, -10, 2, 2))).toDF("id", "geometry")
    val rb = Seq((10L, boxWkb(5, 5, 25, 25)), (20L, boxWkb(1, 1, 6, 6)))
      .toDF("box_id", "geometry")
    // Spark's own plan checks after every analyzer and optimizer rule: they
    // reject an alias that reuses an exprId already in the plan
    spark.conf.set("spark.sql.planChangeValidation", "true")
    try for (joinType <- Seq("inner", "left")) {
      val g = SpatialJoin.join(la, rb, SpatialPredicate.Intersects, joinType, cellLevel = 4)
      def ids(df: DataFrame) = df.collect()
        .map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1))).sorted.toSeq
      val expect = if (joinType == "inner") Seq((1L, 10L), (1L, 20L), (3L, 20L))
        else Seq((1L, 10L), (1L, 20L), (2L, -1L), (3L, 20L))
      val pairs = g.select("id_left", "box_id_right")
      assert(ids(pairs) == expect)
      assert(ids(pairs.union(pairs)) == (expect ++ expect).sorted)
      val self = g.as("a").join(g.as("b"), col("a.id_left") === col("b.id_left") &&
        col("a.box_id_right") <=> col("b.box_id_right"))
      assert(ids(self.select(col("a.id_left"), col("b.box_id_right"))) == expect)
      // and with the left input it came from
      assert(ids(g.join(la, g("id_left") === la("id")).select("id", "box_id_right")) == expect)
      // the rule's rewrite of the same join, under the same checks
      val naive = la.join(rb.withColumnRenamed("geometry", "bgeom"),
        st_intersects(col("geometry"), col("bgeom")), joinType)
      assert(ids(naive.select("id", "box_id")) == expect)
    } finally spark.conf.unset("spark.sql.planChangeValidation")
  }

  test("constant-folded literal geometry still rewrites (refs-empty side)") {
    // st_makeBox(lit...) constant-folds to a literal WKB before our batch
    // runs, leaving the conjunct with references on only ONE side — the
    // covering of the constant side folds to a literal array, so the
    // rescue still applies (this is the Drive regression case)
    val (pts, _) = fixtures()
    import spark.implicits._
    val tagged = Seq(1L, 2L).toDF("tag_id")
      .withColumn("bgeom", st_makeBox(lit(-170.0), lit(-58.0), lit(-100.0), lit(-10.0)))
    def build = pts.join(tagged, st_contains(col("bgeom"), col("geometry")), "left")
    val (ruled, naive) = withAndWithoutRule(build)
    assert(!ruled.queryExecution.executedPlan.toString.contains("BroadcastNestedLoopJoin"))
    def rowsL(df: DataFrame) = df.select("id", "tag_id").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1))).sorted.toSeq
    assert(rowsL(ruled) == rowsL(naive))
  }

  test("LEFT OUTER spatial join rewrites one-pass: BNLJ-free, null-extension " +
    "and row multiset identical") {
    val (pts, boxes) = fixtures()
    def build = pts.join(boxes, st_contains(col("bgeom"), col("geometry")), "left")
    val (ruled, naive) = withAndWithoutRule(build)
    val plan = ruled.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"), s"left rule did not fire:\n$plan")
    assert(plan.contains("Window"), s"expected match-count window:\n$plan")
    def leftRows(df: DataFrame) = df.select("id", "box_id").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1))).sorted.toSeq
    val (gr, gn) = (leftRows(ruled), leftRows(naive))
    assert(gr == gn)
    assert(gr.length == 400 || gr.length > 400) // every left point survives
    assert(gr.exists(_._2 == -1L) && gr.exists(_._2 > 0L))
    // dwithin left joins take the same path
    def buildD = pts.join(boxes, st_dwithin(col("geometry"), col("bgeom"), lit(2.0)), "left")
    val (ruledD, naiveD) = withAndWithoutRule(buildD)
    assert(!ruledD.queryExecution.executedPlan.toString.contains("BroadcastNestedLoopJoin"))
    assert(leftRows(ruledD) == leftRows(naiveD))
  }
}
