package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Pure range join (no equi key): pairs (l, r) with |l.ts − r.ts| ≤ W.
 * Spark plans a bare theta-join as BroadcastNestedLoop or cartesian —
 * O(N·M) at any scale. The standard fix is TEMPORAL BINNING, applied
 * here: bucket both sides by `ts div W`; a pair within W is always in
 * the same or adjacent buckets, so replicating one side into its 3
 * neighboring buckets and equi-joining on the bucket id turns the join
 * into a shuffle on bucket with only near-diagonal candidates, then the
 * exact band predicate filters residually. Cost scales with Σ(bucket
 * pair sizes) — data-proportional for time-spread events — instead of
 * N·M. A skewed bucket (everything in one window) degrades like any hot
 * key; salt upstream if one dominates.
 */
object RangeJoin {

  /** Exact integral floor division for bucket ids. `floor(col / w)` is
    * double-precision division — for |ts| > 2^53 (nanosecond-epoch
    * timestamps) the quotient loses ulps and rows land in the wrong
    * bucket, silently dropping within-window pairs. `pmod` is always in
    * [0, w), so subtracting it yields the exact floor multiple and the
    * integral `div` is then exact over the full long range (callers need
    * one window of headroom above Long.MinValue). */
  private def floorBucket(ts: Column, window: Long): Column =
    call_function("div", ts - pmod(ts, lit(window)), lit(window))

  /**
   * Candidate-complete pairs within `window` of each other, every pair
   * exactly once. Columns of both inputs must be disjoint.
   */
  def withinWindow(left: DataFrame, right: DataFrame,
      leftTs: String, rightTs: String, window: Long): DataFrame = {
    require(window > 0, "window must be positive")
    val lB = left.withColumn("__lb", floorBucket(col(leftTs), window))
    // each right row visits its own and both adjacent buckets, so every
    // within-window pair co-locates exactly once on (__lb == one visit)
    val rb = floorBucket(col(rightTs), window)
    val rB = right.withColumn("__rb", explode(array(rb - 1, rb, rb + 1)))
    lB.join(rB, col("__lb") === col("__rb"), "inner")
      .where(abs(col(leftTs) - col(rightTs)) <= window)
      .drop("__lb", "__rb")
  }
}
