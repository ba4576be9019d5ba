package graft.join

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.{Count, First}
import org.apache.spark.sql.catalyst.plans.{Inner, LeftOuter}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.LongType

import graft.functions.st

/**
 * The cell-bucketed equi-join — the reference's filter → refine → pair
 * dedupe (geopolars/src/spatial_index.rs:37-204) as a Catalyst plan — built
 * in one place for both callers: [[SpatialJoin.join]]'s hash paths and the
 * `graft.sql.SpatialJoinRule` rewrite of a naive spatial join. The plan is
 * made of resolved nodes, so an optimizer rule may emit it as well.
 */
private[graft] object CellJoin {

  /**
   * `join`, an analyzed Inner or LeftOuter join whose condition is the full
   * exact predicate, as a join on S2 cell equality at `level`: each side
   * meets its candidates in the cells covering its geometry (`lg` over
   * `join.left`, `rg` over `join.right`, the right bbox widened by
   * `radius`), the condition refines them, and the plan's output has
   * `join.output`'s names, order and nullability; the dedupe shapes give it
   * fresh exprIds, as Spark's ReplaceDeduplicateWithAggregate does. The
   * join hint is kept: the sides are the same relations, only wrapped.
   *
   *   leftPoints  every left geometry is a point: it has one cell, so a
   *               pair meets at most once — no explode on the left, no row
   *               ids, no dedupe, and the refine folds into the join
   *               condition (a left outer join null-extends natively).
   *               Row ids would also bar the plan from Structured Streaming,
   *               and stream-static spatial joins take this shape.
   *   otherwise   both sides explode to covering cells, so a pair meets once
   *               per shared cell and collapses on per-side row ids (the
   *               reference's lhs_index/rhs_index, :147-162). The left side
   *               is read once, so its `monotonically_increasing_id` is
   *               evaluated once. Inner: cell join, refine filter, pair
   *               dedupe. Left: outer explode (a geometry without cells
   *               survives null-celled), left outer cell join with the
   *               refine folded in, pair dedupe, then a match count over
   *               the left id keeps matched pairs and exactly one
   *               null-extended row for a left row that matched nothing.
   */
  def plan(join: Join, lg: Expression, rg: Expression, radius: Double, level: Int,
           leftPoints: Boolean): LogicalPlan = {
    val cond = join.condition.get
    if (leftPoints) {
      val cell = Alias(JoinKernel.pointCellExpr(bounds(lg), level), "__cell")()
      val (r, rCell) = cells(join.right, rg, radius, level, "__cell_r", outer = false)
      Project(join.output, Join(Project(join.left.output :+ cell, join.left), r, join.joinType,
        Some(And(EqualTo(cell.toAttribute, rCell), cond)), join.hint))
    } else {
      val (l, lIdx) = withId(join.left, "__lidx")
      val (r, rIdx) = withId(join.right, "__ridx")
      val (rGen, rCell) = cells(r, rg, radius, level, "__cell_r", outer = false)
      val out = firsts(join.output)
      if (join.joinType == Inner) {
        val (lGen, lCell) = cells(l, lg, 0.0, level, "__cell", outer = false)
        Aggregate(Seq(lIdx, rIdx), out,
          Filter(cond, Join(lGen, rGen, Inner, Some(EqualTo(lCell, rCell)), join.hint)))
      } else {
        val (lGen, lCell) = cells(l, lg, 0.0, level, "__cell", outer = true)
        val rIdxN = rIdx.withNullability(true)
        // matched pairs dedupe as in inner; a left row's null-extended rows
        // (cells that matched nothing) collapse to one (__lidx, null)
        val dedup = Aggregate(Seq(lIdx, rIdxN), out ++ Seq(lIdx, rIdxN),
          Join(lGen, rGen, LeftOuter, Some(And(EqualTo(lCell, rCell), cond)), join.hint))
        // __m = count(__ridx) over (partition by __lidx): > 0 iff the left
        // row matched anything in any cell
        val m = Alias(WindowExpression(Count(rIdxN).toAggregateExpression(),
          WindowSpecDefinition(Seq(lIdx), Nil,
            SpecifiedWindowFrame(RowFrame, UnboundedPreceding, UnboundedFollowing))), "__m")()
        Project(out.map(_.toAttribute),
          Filter(Or(IsNotNull(rIdxN), EqualTo(m.toAttribute, Literal(0L))),
            Window(Seq(m), Seq(lIdx), Nil, dedup)))
      }
    }
  }

  private def bounds(geom: Expression): Expression =
    Bridge.toCatalyst(st.st_bounds(Bridge.column(geom)))

  private def withId(side: LogicalPlan, name: String): (LogicalPlan, Attribute) = {
    val id = Alias(MonotonicallyIncreasingID(), name)()
    (Project(side.output :+ id, side), id.toAttribute)
  }

  /** `side` with one row per cell covering `geom` widened by `radius`. An
   *  outer explode keeps a row without cells under a null cell, so the cell
   *  must be declared nullable there: codegen would otherwise skip the null
   *  check on the join key and probe with a zeroed word. */
  private def cells(side: LogicalPlan, geom: Expression, radius: Double, level: Int,
                    name: String, outer: Boolean): (LogicalPlan, Attribute) = {
    val cell = AttributeReference(name, LongType, nullable = outer)()
    (Generate(Explode(JoinKernel.coverExpr(bounds(geom), radius, level)),
      unrequiredChildIndex = Nil, outer = outer, qualifier = None,
      generatorOutput = Seq(cell), child = side), cell)
  }

  /** The pair dedupe's output: each column's value on the group's first
   *  row, Spark's ReplaceDeduplicateWithAggregate shape. A group is never
   *  empty, so a non-nullable column stays non-nullable. */
  private def firsts(output: Seq[Attribute]): Seq[NamedExpression] = output.map { a =>
    val first = First(a, ignoreNulls = false).toAggregateExpression()
    Alias(if (a.nullable) first else KnownNotNull(first), a.name)(
      qualifier = a.qualifier, explicitMetadata = Some(a.metadata))
  }
}
