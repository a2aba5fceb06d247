package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Cumulative sums, lag and lead over (group, value) grids.
  *
  * The value-grid operators (spearman, kruskalWallis, chatterjee,
  * jonckheere, the two-sample rank-test family, weighted median, decision
  * stump, ...) all need "total weight at strictly smaller values within my
  * group". Each kernel is ONE Spark cumulative window partitioned by the
  * (usually ≤k-valued, often empty) group key, with the whole-group totals
  * computed in the same WindowExec pass.
  *
  * A bucketed parallel prefix-sum form (per-group range buckets,
  * within-bucket windows, a cross-bucket prefix and a broadcast join) was
  * tried and deleted: forced against this plain form on a 4-core box it
  * was 1.2–2.2× slower at sf0.1, sf1 and sf10 (OPTIMIZATION_r16.md,
  * "sf10 wide-path evidence"). Spark's window sort stays the one code
  * path until a measured crossover says otherwise.
  */
object Prefix {

  /** Adds, for every weight column `w` in `weightCols`:
    *
    *   - `__cb_w`:  exclusive running sum of `w` over rows of the same
    *     group with strictly smaller `ordCol` (by the window's order —
    *     descending when `desc`); inclusive = `__cb_w` + own `w`.
    *   - `__tot_w`: the per-group total of `w`, when `withTotals`.
    *
    * Contract: `grid` has at most one row per (group, ordCol) — the
    * distinct-value-grid shape every caller builds first. Null order
    * values sort first for asc, last for desc. */
  def cumBefore(grid: DataFrame, grpCols: Seq[String], ordCol: String,
                weightCols: Seq[String], desc: Boolean = false,
                withTotals: Boolean = false): DataFrame = {
    require(weightCols.nonEmpty, "at least one weight column")
    val gc = grpCols.map(col)
    val wCum = Window.partitionBy(gc: _*)
      .orderBy(if (desc) col(ordCol).desc else col(ordCol).asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val wAll = Window.partitionBy(gc: _*)
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    weightCols.foldLeft(grid) { (d, w) =>
      val c = d.withColumn(s"__cb_$w",
        coalesce(sum(col(w)).over(wCum), lit(0L)))
      if (withTotals) c.withColumn(s"__tot_$w", sum(col(w)).over(wAll))
      else c
    }
  }

  /** Adds `__lag_<valCol>`: the previous row's `valCol` in (group,
    * ordCol asc) order, null at each group's first row. Same grid
    * contract as [[cumBefore]]. */
  def lagAcross(grid: DataFrame, grpCols: Seq[String], ordCol: String,
                valCol: String): DataFrame = {
    val w = Window.partitionBy(grpCols.map(col): _*)
      .orderBy(col(ordCol).asc)
    grid.withColumn(s"__lag_$valCol", lag(col(valCol), 1).over(w))
  }

  /** Adds `__lead_<valCol>`: the NEXT row's `valCol` in (group, ordCol
    * asc) order, null at each group's last row. Same grid contract as
    * [[cumBefore]]. */
  def leadAcross(grid: DataFrame, grpCols: Seq[String], ordCol: String,
                 valCol: String): DataFrame = {
    val w = Window.partitionBy(grpCols.map(col): _*)
      .orderBy(col(ordCol).asc)
    grid.withColumn(s"__lead_$valCol", lead(col(valCol), 1).over(w))
  }
}
