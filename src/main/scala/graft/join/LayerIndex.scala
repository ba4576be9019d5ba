package graft.join

import java.util.concurrent.atomic.AtomicReferenceArray

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpectsInputTypes, Generator,
  UnaryExpression, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{BinaryType, DataType, StructType}
import org.locationtech.jts.geom.Envelope

import graft.functions.st
import graft.geom.GeomKernel
import graft.index.S2

/** What one [[LayerIndex]] holds, for plan strings: its cell level, the
 *  right rows it stores (those with a non-empty covering), its distinct
 *  covering cells, its (cell, row) covering entries and its size. */
private[graft] final case class LayerStats(level: Int, polygons: Int, cells: Int,
                                           entries: Int, bytes: Long) {
  override def toString: String =
    s"level=$level, polygons=$polygons, cells=$cells, entries=$entries, bytes=$bytes"
}

/**
 * An immutable right-side layer as one compact probe index, built once on
 * the driver and broadcast to every executor — the Spark shape of the
 * reference's prebuilt `SpatialIndex` (geopolars/src/spatial_index.rs:20-21).
 *
 *   cells   sorted distinct covering cell ids (the `cellsForExpanded`
 *           covering at `level` and the radius it was built for);
 *   starts  CSR offsets: the row ordinals covering `cells(k)` are
 *           `ords(starts(k) until starts(k + 1))`, ascending;
 *   bounds  each row's geometry bbox (minx, miny, maxx, maxy), as `st_bounds`,
 *           widened by the radius;
 *   rows    each right row, stored once (ordinal-indexed, unsafe format).
 *
 * Each executor parses a row's geometry on its first candidate and shares
 * the parsed geometry and its locator between its task threads.
 */
private[graft] final class LayerIndex(val level: Int, cells: Array[Long], starts: Array[Int],
                                      ords: Array[Int], bounds: Array[Double],
                                      rows: Array[UnsafeRow], geomOrdinal: Int)
  extends Serializable {

  lazy val stats: LayerStats = LayerStats(level, rows.length, cells.length, ords.length,
    8L * cells.length + 4L * (starts.length + ords.length) + 8L * bounds.length +
      rows.map(_.getSizeInBytes.toLong).sum)

  @transient private lazy val geoms = new AtomicReferenceArray[GeomKernel.JoinGeom](rows.length)

  private def geom(o: Int): GeomKernel.JoinGeom = {
    val g = geoms.get(o)
    if (g != null) g
    else {
      geoms.compareAndSet(o, null, GeomKernel.joinGeom(rows(o).getBinary(geomOrdinal)))
      geoms.get(o)
    }
  }

  /** The stored rows that `predicate` matches with the left geometry `wkb`,
   *  in ordinal order: `GeomKernel.joinRefineWith` for a truth-table
   *  predicate, `GeomKernel.distanceWith` within the radius for `DWithin`
   *  (built at that radius). Candidates are the rows covering the cell
   *  `SpatialJoin.pointCell` gives `wkb`; a candidate whose closed (widened)
   *  bbox misses `wkb`'s is dropped unrefined, which never drops a match:
   *  every true arm of the truth table implies intersecting bboxes, and a
   *  point within r of a geometry lies in its bbox widened by r. */
  def probe(wkb: Array[Byte], predicate: SpatialPredicate): List[InternalRow] = {
    val e = GeomKernel.joinEnvelope(wkb)
    // an empty geometry (null envelope) or a NaN coordinate meets no bbox
    if (!(e.getMinX <= e.getMaxX && e.getMinY <= e.getMaxY)) return Nil
    val k = java.util.Arrays.binarySearch(cells, S2.cellId(e.getMinY, e.getMinX, level))
    if (k < 0) return Nil
    var out: List[InternalRow] = Nil
    var p = starts(k + 1) - 1
    // one loop per refine, so the truth-table loop does no per-candidate
    // work for the distance predicate
    predicate match {
      case t: SpatialPredicate.Topological =>
        val id = t.id
        while (p >= starts(k)) {
          val o = ords(p)
          if (meets(o, e) && GeomKernel.joinRefineWith(wkb, geom(o), id)) out = rows(o) :: out
          p -= 1
        }
      case SpatialPredicate.DWithin(r) =>
        while (p >= starts(k)) {
          val o = ords(p)
          if (meets(o, e) && GeomKernel.distanceWith(wkb, geom(o)) <= r) out = rows(o) :: out
          p -= 1
        }
    }
    out
  }

  /** Whether row `o`'s stored closed bbox meets `e`. */
  private def meets(o: Int, e: Envelope): Boolean = {
    val b = 4 * o
    bounds(b) <= e.getMaxX && bounds(b + 2) >= e.getMinX &&
      bounds(b + 1) <= e.getMaxY && bounds(b + 3) >= e.getMinY
  }
}

private[graft] object LayerIndex {

  /** Index `right` (a layer whose rows the plan holds) at cell `level` for
   *  pairs up to `radius` apart, from one query over it: each row with its
   *  covering and its bbox, both widened by `radius`. */
  def build(right: DataFrame, level: Int, radius: Double): LayerIndex = {
    val n = right.columns.length
    val g = col("geometry")
    val covered = Bridge.collectInternal(
      right.select(col("*"), SpatialJoin.cellsForExpanded(g, radius, level), st.st_bounds(g)))
      .filter(_.getArray(n).numElements() > 0)
    val toRight = UnsafeProjection.create(right.schema)
    val rows = covered.map(r => toRight(r).copy())
    val bounds = covered.flatMap { r =>
      val b = r.getStruct(n + 1, 4)
      Array(b.getDouble(0) - radius, b.getDouble(1) - radius,
        b.getDouble(2) + radius, b.getDouble(3) + radius)
    }
    // (cell, ordinal) entries, sorted by cell; the sort is stable, so each
    // cell's ordinals stay ascending
    val covers = covered.map(_.getArray(n).toLongArray())
    val entryCell = covers.flatten
    val entryOrd = covers.indices.toArray.flatMap(o => Array.fill(covers(o).length)(o))
    val order = entryCell.indices.toArray.sortBy(entryCell(_))
    val ords = order.map(entryOrd)
    val sorted = order.map(entryCell)
    val cellStarts = sorted.indices.filter(i => i == 0 || sorted(i) != sorted(i - 1)).toArray
    new LayerIndex(level, cellStarts.map(sorted), cellStarts :+ sorted.length, ords, bounds, rows,
      right.schema.fieldIndex("geometry"))
  }
}

/**
 * The probe side of an indexed spatial join: for each left row, the stored
 * right rows of `index` that its geometry `child` matches under `predicate`
 * (see [[LayerIndex.probe]]). Planned as a `Generate` over the left side
 * alone, inside `GeneratorOuter` for a left join; `predicate` and `stats`
 * name the probe in plan strings.
 */
private[graft] case class LayerProbe(child: Expression, index: Broadcast[LayerIndex],
                                     stats: LayerStats, predicate: SpatialPredicate,
                                     elementSchema: StructType)
  extends UnaryExpression with Generator with ExpectsInputTypes with CodegenFallback {

  override def inputTypes: Seq[DataType] = Seq(BinaryType)

  @transient private lazy val layer = index.value

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val wkb = child.eval(input).asInstanceOf[Array[Byte]]
    if (wkb == null) Nil else layer.probe(wkb, predicate)
  }

  override def prettyName: String = "spatial_index_probe"
  override def toString: String = s"$prettyName($child, $predicate, $stats)"

  override protected def withNewChildInternal(newChild: Expression): LayerProbe =
    copy(child = newChild)
}
