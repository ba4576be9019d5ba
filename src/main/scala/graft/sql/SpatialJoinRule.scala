package graft.sql

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.First
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.catalyst.plans.{Inner, LeftOuter}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.LongType

import graft.geom.GeomKernel

/**
 * Catalyst optimizer rule: rewrites a naive distance-join — the formulation
 * users actually write,
 *
 *   pts.join(polys, st_dwithin(pts("geometry"), polys("geometry"), lit(r)))
 *   SELECT ... FROM a JOIN b ON st_distance(a.geom, b.geom) <= r
 *
 * which Spark can only plan as a BroadcastNestedLoopJoin (O(n*m) compares;
 * a non-equi condition gives the planner nothing to hash on) — into the
 * engine's cell-bucketed equi-join: explode both sides to S2 covering
 * cells (the right side's bbox expanded by r, so any pair within distance
 * r shares at least one cell — if dist(pa in A, pb in B) <= r then pa lies
 * in B's r-expanded bbox, and A's covering contains pa's cell), hash-join
 * on the cell, refine with the ORIGINAL predicate, and collapse duplicate
 * pair meetings with a first-value aggregate keyed on per-side row ids
 * (the ReplaceDeduplicateWithAggregate pattern, exprIds preserved so the
 * parent plan is untouched).
 *
 * This is the optimizer-level counterpart of `SpatialJoin.join` with a
 * `DWithin` (or truth-table) predicate, which stays the preferred API: its
 * point-side contract needs no row ids and no dedupe aggregate, so it is
 * exchange-free where this general rewrite pays one pair-id exchange. Both
 * cover through the same `JoinKernel.cover`, so a null or empty geometry
 * meets nothing on either. Register per session via
 * `GraftSql.registerRules(spark)` or cluster-wide through
 * `spark.sql.extensions=graft.sql.GraftSparkExtensions`. Covering
 * resolution comes from `spark.graft.spatialJoin.cellLevel` (default 9 —
 * ~15-20 km cells; lower it for continent-sized geometries).
 */
object SpatialJoinRule extends Rule[LogicalPlan] {

  val CellLevelConf = "spark.graft.spatialJoin.cellLevel"

  private def conjuncts(e: Expression): Seq[Expression] = e match {
    case And(l, r) => conjuncts(l) ++ conjuncts(r)
    case x => Seq(x)
  }

  private def litDouble(e: Expression): Option[Double] = e match {
    case Cast(c, _, _, _) => litDouble(c)
    case l: Literal if l.foldable =>
      l.value match {
        case d: java.lang.Double => Some(d)
        case f: java.lang.Float => Some(f.toDouble)
        case n: java.lang.Number => Some(n.doubleValue())
        case d: org.apache.spark.sql.types.Decimal => Some(d.toDouble)
        case _ => None
      }
    case _ => None
  }

  private def isKernel(si: StaticInvoke, name: String): Boolean =
    si.staticObject == GeomKernel.getClass && si.functionName == name

  /** Pure topological predicates that imply bbox overlap — contains /
   *  within / intersects joins rescue with the SAME covering rewrite at
   *  radius 0: if the predicate holds, the two bboxes overlap, so the
   *  overlap region's cell at the covering level is in BOTH sides'
   *  coverings and the pair meets under the cell equi-join. */
  private val TopoPredicates = Set("stContains", "stIntersects", "stWithin")

  /** (geomA, geomB, radius) from a rewritable spatial conjunct:
   *  `st_dwithin(a,b,r)` / `st_distance(a,b) <= r` / `r >= st_distance(a,b)`
   *  (radius r), or `st_contains/st_within/st_intersects(a,b)` (radius 0). */
  private def asSpatialPred(e: Expression): Option[(Expression, Expression, Double)] =
    e match {
      case si: StaticInvoke if si.staticObject == GeomKernel.getClass &&
        TopoPredicates.contains(si.functionName) =>
        si.arguments match {
          case Seq(a, b) => Some((a, b, 0.0))
          case _ => None
        }
      case _ => asDwithin(e)
    }

  /** (geomA, geomB, radius) from `st_dwithin(a,b,r)` / `st_distance(a,b) <= r`
   *  / `r >= st_distance(a,b)`. */
  private def asDwithin(e: Expression): Option[(Expression, Expression, Double)] = e match {
    case si: StaticInvoke if isKernel(si, "stDwithin") =>
      si.arguments match {
        case Seq(a, b, r) => litDouble(r).map(d => (a, b, d))
        case _ => None
      }
    case LessThanOrEqual(si: StaticInvoke, r) if isKernel(si, "stDistance") =>
      (si.arguments, litDouble(r)) match {
        case (Seq(a, b), Some(d)) => Some((a, b, d))
        case _ => None
      }
    case GreaterThanOrEqual(r, si: StaticInvoke) if isKernel(si, "stDistance") =>
      (si.arguments, litDouble(r)) match {
        case (Seq(a, b), Some(d)) => Some((a, b, d))
        case _ => None
      }
    case _ => None
  }

  /** True when some conjunct is a cross-side equality the planner can hash
   *  on — EqualTo OR EqualNullSafe (ExtractEquiJoinKeys accepts both), e.g.
   *  `SpatialJoin.join`'s cell-bucketed form or a business-key equi-join with a
   *  distance refinement. Such joins plan as hash joins by themselves and
   *  the rewrite must leave them alone. */
  private def hasHashableConjunct(cond: Expression, l: LogicalPlan, r: LogicalPlan): Boolean =
    conjuncts(cond).exists { c =>
      val ab = c match {
        case EqualTo(a, b) => Some((a, b))
        case EqualNullSafe(a, b) => Some((a, b))
        case _ => None
      }
      ab.exists { case (a, b) =>
        a.references.nonEmpty && b.references.nonEmpty &&
          ((a.references.subsetOf(l.outputSet) && b.references.subsetOf(r.outputSet)) ||
            (b.references.subsetOf(l.outputSet) && a.references.subsetOf(r.outputSet)))
      }
    }

  /** Which join side an expression reads: 'l'/'r', 'c' for a constant (a
   *  literal geometry after constant folding — still rewritable, its
   *  covering folds to a literal array), 'x' for cross-side. */
  private def sideOf(e: Expression, l: LogicalPlan, r: LogicalPlan): Char =
    if (e.references.isEmpty) if (e.foldable) 'c' else 'x'
    else if (e.references.subsetOf(l.outputSet)) 'l'
    else if (e.references.subsetOf(r.outputSet)) 'r'
    else 'x'

  /** Spatial conjunct normalized to (left-side geom, right-side geom, radius)
   *  — bbox covering is orientation-symmetric, so which side each geometry
   *  comes from is all that matters; the exact predicate rides along whole.
   *  A constant geometry pairs with whichever side the other one reads
   *  (both-constant means the predicate is not a join problem — skip). */
  private def spatialHit(cond: Expression, l: LogicalPlan,
                         r: LogicalPlan): Option[(Expression, Expression, Double)] =
    conjuncts(cond).iterator.map(asSpatialPred).collectFirst(Function.unlift {
      case Some((a, b, d)) if d >= 0 =>
        (sideOf(a, l, r), sideOf(b, l, r)) match {
          case ('l', 'r') | ('l', 'c') | ('c', 'r') => Some((a, b, d))
          case ('r', 'l') | ('r', 'c') | ('c', 'l') => Some((b, a, d))
          case _ => None
        }
      case _ => None
    })

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    // the rewrite only rescues joins the planner has NOTHING to hash on: a
    // condition already carrying a cross-side equality conjunct (e.g.
    // SpatialJoin.join's cell-bucketed form, or a business-key equi-join with a
    // distance refinement) plans as a hash join by itself and is left alone
    case j @ Join(l, r, Inner, Some(cond), _) if !hasHashableConjunct(cond, l, r) =>
      spatialHit(cond, l, r).fold(j: LogicalPlan) { case (lg, rg, radius) =>
        rewrite(j, l, r, cond, lg, rg, radius)
      }
    case j @ Join(l, r, LeftOuter, Some(cond), _) if !hasHashableConjunct(cond, l, r) =>
      spatialHit(cond, l, r).fold(j: LogicalPlan) { case (lg, rg, radius) =>
        rewriteLeft(j, l, r, cond, lg, rg, radius)
      }
  }

  /** Covering-cell array for a geometry's bbox expanded by `radius` — the
   *  same `JoinKernel.cover` as `SpatialJoin.cellsForExpanded`, but built
   *  from RESOLVED Catalyst nodes directly: an optimizer rule must not emit
   *  analyzer work (the Column DSL produces Unresolved* nodes, which fail
   *  plan validation post-analysis). */
  private def cellsOf(geom: Expression, radius: Double, level: Int): Expression = {
    import org.apache.spark.sql.types.BinaryType
    val bounds = StaticInvoke(GeomKernel.getClass, graft.functions.st.boundsSchema,
      "stBounds", Seq(Cast(geom, BinaryType)), Seq(BinaryType),
      propagateNull = true, returnNullable = false)
    graft.join.JoinKernel.coverExpr(bounds, radius, level)
  }

  private def rewrite(j: Join, l: LogicalPlan, r: LogicalPlan, cond: Expression,
                      lg: Expression, rg: Expression, radius: Double): LogicalPlan = {
    val level = conf.getConfString(CellLevelConf, "9").toInt

    def sideWithCells(side: LogicalPlan, geom: Expression, expand: Double,
                      tag: String): (LogicalPlan, Attribute, Attribute) = {
      val idAlias = Alias(MonotonicallyIncreasingID(), s"__${tag}idx")()
      val withId = Project(side.output :+ idAlias, side)
      val cellAttr = AttributeReference(s"__${tag}cell", LongType, nullable = false)()
      val gen = Generate(Explode(cellsOf(geom, expand, level)),
        unrequiredChildIndex = Nil, outer = false, qualifier = None,
        generatorOutput = Seq(cellAttr), child = withId)
      (gen, idAlias.toAttribute, cellAttr)
    }

    val (lGen, lIdx, lCell) = sideWithCells(l, lg, 0.0, "l")
    val (rGen, rIdx, rCell) = sideWithCells(r, rg, radius, "r")

    // carry the user's join hint (e.g. broadcast on one side) — the sides
    // are the same relations, only wrapped in Project+Generate, so the hint
    // still means what the user meant
    val bucketed = Join(lGen, rGen, Inner, Some(EqualTo(lCell, rCell)), j.hint)
    val refined = Filter(cond, bucketed) // the FULL original predicate refines
    // two geometries can share several covering cells -> a pair meets once
    // per shared cell; collapse to one row per (l-row, r-row). Spark's own
    // ReplaceDeduplicateWithAggregate shape: group on the pair ids, carry
    // every original output through First, REUSING the original exprIds so
    // the surrounding plan's references stay valid.
    val aggExprs = j.output.map(a =>
      Alias(First(a, ignoreNulls = false).toAggregateExpression(), a.name)(
        exprId = a.exprId, qualifier = a.qualifier))
    Aggregate(Seq(lIdx, rIdx), aggExprs, refined)
  }

  /**
   * LeftOuter rescue — the one-pass shape of `SpatialJoin.joinImpl`'s left
   * path, built from resolved Catalyst nodes: the left side is referenced
   * exactly ONCE (a matched ∪ anti-join construction would evaluate
   * MonotonicallyIncreasingID twice with no guarantee of identical ids), via
   * outer cell explode → LEFT OUTER cell equi-join with the FULL original
   * condition folded in (null-extension is native) → pair-dedupe aggregate →
   * a count-over-left-id window keeping matched pairs plus exactly one
   * null-extended row for match-less left rows.
   */
  private def rewriteLeft(j: Join, l: LogicalPlan, r: LogicalPlan, cond: Expression,
                          lg: Expression, rg: Expression, radius: Double): LogicalPlan = {
    import org.apache.spark.sql.catalyst.expressions.aggregate.Count
    val level = conf.getConfString(CellLevelConf, "9").toInt

    val lIdAlias = Alias(MonotonicallyIncreasingID(), "__lidx")()
    val lWithId = Project(l.output :+ lIdAlias, l)
    // outer=true emits a NULL cell for rows with no covering cells — the
    // attribute MUST declare nullable (Spark's own ResolveGenerate widens
    // generator output nullability for outer generates; a hand-built plan
    // that lies here lets codegen skip the null check on the join key and
    // probe with the zeroed word instead of skipping the row)
    val lCell = AttributeReference("__lcell", LongType, nullable = true)()
    val lGen = Generate(Explode(cellsOf(lg, 0.0, level)), unrequiredChildIndex = Nil,
      outer = true, qualifier = None, generatorOutput = Seq(lCell), child = lWithId)
    val lIdx = lIdAlias.toAttribute

    val rIdAlias = Alias(MonotonicallyIncreasingID(), "__ridx")()
    val rWithId = Project(r.output :+ rIdAlias, r)
    val rCell = AttributeReference("__rcell", LongType, nullable = false)()
    val rGen = Generate(Explode(cellsOf(rg, radius, level)), unrequiredChildIndex = Nil,
      outer = false, qualifier = None, generatorOutput = Seq(rCell), child = rWithId)
    // the right id is nullable downstream of the outer join
    val rIdx = rIdAlias.toAttribute.withNullability(true)

    val joined = Join(lGen, rGen, LeftOuter,
      Some(And(EqualTo(lCell, rCell), cond)), j.hint)

    // pair dedupe, reusing the original output exprIds (First carries whole
    // rows; null-extended duplicates of one left row collapse with ridx null)
    val aggExprs = (j.output.map(a =>
      Alias(First(a, ignoreNulls = false).toAggregateExpression(), a.name)(
        exprId = a.exprId, qualifier = a.qualifier)): Seq[NamedExpression]) ++
      Seq(lIdx, rIdx)
    val dedup = Aggregate(Seq(lIdx, rIdx), aggExprs, joined)

    // __m = count(__ridx) over (partition by __lidx): >0 iff the row's left
    // id matched anything anywhere
    val frame = SpecifiedWindowFrame(RowFrame, UnboundedPreceding, UnboundedFollowing)
    val mAlias = Alias(WindowExpression(Count(rIdx).toAggregateExpression(),
      WindowSpecDefinition(Seq(lIdx), Nil, frame)), "__m")()
    val win = Window(Seq(mAlias), Seq(lIdx), Nil, dedup)
    val kept = Filter(Or(IsNotNull(rIdx), EqualTo(mAlias.toAttribute, Literal(0L))), win)
    Project(j.output, kept)
  }
}
