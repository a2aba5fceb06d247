package graft.operators

import org.apache.spark.sql.DataFrame

/** The one input-size estimator behind the scale-adaptive branches
  * ([[FanOut.widen]], [[Graph.edgeWidth]]).
  *
  * Sums the `sizeInBytes` of the optimized plan's LEAVES: zero-cost (no
  * action; parquet scans report file bytes) and, unlike full-plan stats,
  * never multiplied through joins, so it can only under-estimate a
  * computed blow-up. Stat-less leaves (localCheckpoints, RDD scans)
  * report a saturated default size, so a sum at or above 2⁴⁷ bytes is
  * treated as unknown. */
object Sizing {

  private val UnknownBytes = BigInt(1) << 47

  /** Known leaf input bytes of `df`, or None when the sum is saturated. */
  def leafBytes(df: DataFrame): Option[Long] = {
    val bytes = df.queryExecution.optimizedPlan.collectLeaves()
      .map(_.stats.sizeInBytes).sum
    if (bytes >= UnknownBytes) None else Some(bytes.toLong)
  }
}
