package graft.sql

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.catalyst.plans.{Inner, LeftOuter}
import org.apache.spark.sql.catalyst.plans.logical.{Join, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule

import graft.geom.GeomKernel
import graft.join.{CellJoin, SpatialJoin}

/**
 * Catalyst optimizer rule: rewrites a naive distance-join — the formulation
 * users actually write,
 *
 *   pts.join(polys, st_dwithin(pts("geometry"), polys("geometry"), lit(r)))
 *   SELECT ... FROM a JOIN b ON st_distance(a.geom, b.geom) <= r
 *
 * which Spark can only plan as a BroadcastNestedLoopJoin (O(n*m) compares;
 * a non-equi condition gives the planner nothing to hash on) — into the
 * engine's cell-bucketed equi-join, the plan `graft.join.CellJoin.plan`
 * builds for `SpatialJoin.join`'s hash paths too: explode both sides to S2
 * covering cells (the right side's bbox expanded by r, so any pair within
 * distance r shares at least one cell — if dist(pa in A, pb in B) <= r then
 * pa lies in B's r-expanded bbox, and A's covering contains pa's cell),
 * hash-join on the cell, refine with the ORIGINAL predicate, and collapse
 * duplicate pair meetings with a first-value aggregate keyed on per-side
 * row ids (the ReplaceDeduplicateWithAggregate pattern: the plan above
 * reads its output under fresh exprIds). A LEFT OUTER join takes the
 * builder's one-pass left shape: outer explode, the condition folded into
 * the cell join, pair dedupe and a match-count window over the left row id.
 *
 * The rule knows nothing of the left side's geometry type, so it always
 * emits the generic shape; `SpatialJoin.join` with `leftPointsOnly` stays
 * the preferred API for points: no row ids and no dedupe aggregate, and an
 * in-memory layer is probed through its index. Every path covers through
 * the same `JoinKernel.cover`, so a null or empty geometry meets nothing.
 * Register per session via `GraftSql.registerRules(spark)` or cluster-wide
 * through `spark.sql.extensions=graft.sql.GraftSparkExtensions`. Covering
 * resolution comes from `spark.graft.spatialJoin.cellLevel` (default 9 —
 * ~15-20 km cells; lower it for continent-sized geometries), an integer in
 * 0..30: any other value fails the first rewrite, naming the key.
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
   *  `st_distance(a,b) <= r` (which `st_dwithin(a,b,r)` builds) /
   *  `r >= st_distance(a,b)` (radius r), or
   *  `st_contains/st_within/st_intersects(a,b)` (radius 0). */
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

  /** (geomA, geomB, radius) from `st_distance(a,b) <= r` /
   *  `r >= st_distance(a,b)`. */
  private def asDwithin(e: Expression): Option[(Expression, Expression, Double)] = e match {
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

  override def apply(plan: LogicalPlan): LogicalPlan = {
    lazy val level = SpatialJoin.parseLevel(CellLevelConf, conf.getConfString(CellLevelConf, "9"))
    // the rewrite's output has fresh exprIds; the plan above is rewritten
    // to read them
    plan.transformUpWithNewOutput {
      // the rewrite only rescues joins the planner has NOTHING to hash on: a
      // condition already carrying a cross-side equality conjunct (e.g.
      // SpatialJoin.join's cell-bucketed form, or a business-key equi-join
      // with a distance refinement) plans as a hash join by itself and is
      // left alone
      case j @ Join(l, r, Inner | LeftOuter, Some(cond), _) if !hasHashableConjunct(cond, l, r) =>
        spatialHit(cond, l, r) match {
          case Some((lg, rg, radius)) =>
            val cells = CellJoin.plan(j, lg, rg, radius, level, leftPoints = false)
            (cells, j.output.zip(cells.output))
          case None => (j, Nil)
        }
    }
  }
}
