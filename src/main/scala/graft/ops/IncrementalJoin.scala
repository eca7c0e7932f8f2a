package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Incremental equi-join maintenance — the differential-dataflow /
 * streaming-warehouse identity that keeps a materialized join current
 * without ever re-running it:
 *
 *   Δ(A ⋈ B) = ΔA ⋈ B  ∪  A ⋈ ΔB  ∪  ΔA ⋈ ΔB
 *
 * where A, B are the PRE-batch snapshots and ΔA, ΔB the inserted
 * batches (insert-only deltas — the append-only ingest case;
 * updates/deletes need retraction rows, out of
 * scope here). Appending the delta to the stored A ⋈ B equals a full
 * recompute over (A ∪ ΔA) ⋈ (B ∪ ΔB), multiset-exactly — pinned by
 * spec.
 *
 * Why it matters at 100 TB: the naive refresh re-joins two full
 * tables every batch — a shuffle of everything for a result that is
 * almost entirely unchanged. The delta form touches each big side
 * once with a BATCH-sized probe: ΔA ⋈ B and A ⋈ ΔB broadcast the
 * delta when it fits (the normal case — a batch is minutes of
 * ingest), so the big sides are scanned but never shuffled; ΔA ⋈ ΔB
 * is batch × batch. Column contract: `a`/`deltaA` and `b`/`deltaB`
 * share their respective schemas, and the two sides share ONLY the
 * join keys (same rule as any natural join).
 */
object IncrementalJoin {

  /** The join delta for insert-only batches: exactly the rows a full
    * recompute would add. Delta sides are broadcast-hinted — drop the
    * hint upstream by pre-marking if a batch can exceed the broadcast
    * budget. */
  def joinDelta(a: DataFrame, deltaA: DataFrame, b: DataFrame,
      deltaB: DataFrame, keys: Seq[String]): DataFrame = {
    require(keys.nonEmpty, "no join keys")
    broadcast(deltaA).join(b, keys)
      .unionByName(a.join(broadcast(deltaB), keys))
      .unionByName(deltaA.join(broadcast(deltaB), keys))
  }
}
