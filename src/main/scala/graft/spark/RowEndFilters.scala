package graft.spark

import org.apache.spark.sql.sources.{Filter, IsNotNull, IsNull}

/** The pushed filters a schema plate decides at finishRow over the row's
  * FINAL top-level cells, with every column index resolved once at
  * construction: the single-column value filters per column, and the
  * `IsNull`/`IsNotNull` demands. Never per binding — duplicate keys rebind
  * last-wins, and pushdown must never change what an unpushed read
  * returns (round 14). A reference that names no top-level column is left
  * to the plate (nested anchors) or to Spark's residual filter.
  */
private[spark] final class RowEndFilters(names: Array[String], filters: Array[Filter]) {
  // value filters grouped by column: the columns, and each one's filters
  private[this] val (valueCols, valueFilters): (Array[Int], Array[Array[Filter]]) = {
    val byCol = FilterEval.normalize(filters.filter(_.references.length == 1))
      .groupBy(f => names.indexOf(f.references.head))
      .removed(-1).toArray.sortBy(_._1)
    (byCol.map(_._1), byCol.map(_._2))
  }
  // null demands: the column, and whether it must read null (IsNull)
  private[this] val (nullCols, nullWanted): (Array[Int], Array[Boolean]) = {
    val demands = filters.collect {
      case IsNotNull(c) if names.contains(c) => (names.indexOf(c), false)
      case IsNull(c) if names.contains(c)    => (names.indexOf(c), true)
    }
    (demands.map(_._1), demands.map(_._2))
  }

  /** Does the row pass? Unwritten and null cells evaluate as null, which
    * fails every comparison (`FilterEval.definitelyFails`).
    */
  def passes(cells: RowEndFilters.Cells): Boolean = {
    var k = 0
    while (k < valueCols.length) {
      val v = cells.value(valueCols(k))
      if (valueFilters(k).exists(FilterEval.definitelyFails(_, v))) return false
      k += 1
    }
    k = 0
    while (k < nullCols.length) {
      if (cells.isNull(nullCols(k)) != nullWanted(k)) return false
      k += 1
    }
    true
  }
}

private[spark] object RowEndFilters {
  /** How a plate reads the row being finished, by top-level column index. */
  trait Cells {
    /** The cell's value as [[FilterEval]] compares it; null when unset. */
    def value(i: Int): Any
    /** Does the cell read null? (no boxing: null-demand checks only) */
    def isNull(i: Int): Boolean
  }
}
