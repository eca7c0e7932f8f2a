package graft.ops

import org.apache.spark.sql.SparkSession

/**
 * Scale-adaptive shuffle-partition sizing for lineage-cut subtrees.
 *
 * Cut subtrees are planned with AQE OFF (see [[graft.recon.Checkpoints]]
 * — a lazy cut must not execute at construction), so they never benefit
 * from AQE partition coalescing: every exchange inside them bakes in the
 * session's `spark.sql.shuffle.partitions` at construction time. For the
 * iterative graph/dedup operators the per-round frames are label- or
 * community-sized, and pushing a handful of rows through dozens of
 * session-width stages is pure scheduling tax (guide §2.2 "fewer, larger
 * partitions"; the round-15 8-core-beats-32-core inversion on the
 * louvain/components families was exactly this, and an in-session paired
 * A/B of `spark.sql.shuffle.partitions 32 → 8` measured 0.35–0.59× on
 * them).
 *
 * [[parts]] derives a partition count from a MEASURED row count and
 * never exceeds the session setting — a cluster run with a properly
 * sized `spark.sql.shuffle.partitions` is unaffected until a frame is
 * genuinely small, which is when coalescing is correct at any scale
 * (AQE would do the same where it is allowed to run).
 */
object Adaptive {

  /** Target rows per shuffle partition inside cut subtrees. The frames
    * this governs are a few long/int columns wide (edge lists, label
    * vectors, candidate pairs) — 250k such rows is roughly a 15–30 MB
    * in-memory block, small enough to keep per-task state trivial and
    * large enough that per-task overhead stays amortized. */
  final val DefaultRowsPerPartition = 250000L

  /** Partition count for a frame of `rows` rows:
    * `ceil(rows / DefaultRowsPerPartition)`, clamped to [1, session
    * shuffle partitions]. */
  def parts(spark: SparkSession, rows: Long): Int = {
    val session = spark.sessionState.conf.numShufflePartitions
    val wanted = (rows + DefaultRowsPerPartition - 1) / DefaultRowsPerPartition
    math.max(1L, math.min(session.toLong, wanted)).toInt
  }

  /** Run `body` (plan CONSTRUCTION — the wrapped region may also span
    * loop-control actions, which is harmless) with
    * `spark.sql.shuffle.partitions = n`, restoring the previous setting
    * after. Same session-conf set/restore discipline — and the same
    * one-query-planned-at-a-time assumption — as [[graft.recon.Checkpoints]]'
    * AQE toggle. */
  def withShufflePartitions[T](spark: SparkSession, n: Int)(body: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    val prev = Option.when(spark.sessionState.conf.contains(key))(spark.conf.get(key))
    spark.conf.set(key, n.toString)
    try body
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }
}
