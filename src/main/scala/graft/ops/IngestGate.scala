package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Near-duplicate INGEST GATE — the admission step of a rolling 100 TB
 * corpus: each arriving batch of documents is screened against (a) the
 * persisted MinHash index of everything admitted so far and (b) itself.
 * Composes [[IndexStore]]'s persisted signatures (what the corpus
 * already contains) and [[Dedup.minHashIncrementalOf]]'s banded probe
 * (candidates only from shared LSH buckets, hub buckets capped — never
 * an all-pairs scan).
 *
 * Admission contract (deterministic, order-free within a batch):
 * a document is admitted iff it matches NO indexed document at
 * `minAgreement` signature agreement AND no SMALLER-ID member of its own
 * batch ("first occurrence survives" — pairwise, not transitive: if B
 * duplicates A and C duplicates only B, C is still admitted; the
 * post-hoc clustering passes [[Dedup.connectedComponents]] handle
 * transitive families, the gate's job is cheap triage at ingest).
 *
 * Decisions are DETERMINISTIC given the batch and the pre-batch index,
 * and a replay is bit-identical even when the index already holds the
 * batch's admitted documents: the probe excludes the batch's own ids
 * from the seen side.
 */
object IngestGate {

  /**
   * Gate ONE batch against the persisted index at `indexDir`:
   * `(idCol, n_index_matches, n_batch_matches, admitted)` — one row per
   * batch document. Signature params come from the index meta, so a
   * probe can never pair the wrong k/bands with the index.
   */
  def gateBatch(batch: DataFrame, textCol: String, idCol: String, indexDir: String,
      minAgreement: Double = 0.5d, maxBucket: Int = 100): DataFrame = {
    val spark = batch.sparkSession
    val meta = IndexStore.loadMinHashMeta(spark, indexDir)
    // ONE signature pass feeds the index probe and both sides of the
    // in-batch probe
    val sigN = graft.recon.Checkpoints.cut(
      Dedup.minHashSignatures(batch, textCol, idCol, meta.shingleN, meta.k, meta.hash))
    // exclude the batch's own ids from the seen side: when the index
    // already holds this batch's admitted docs (a replay after they were
    // merged), the gate must not report them as prior-corpus matches
    // (decisions must replay bit-identically)
    val sigS = IndexStore.loadMinHashSignatures(spark, indexDir)
      .join(sigN.select(col("doc")), Seq("doc"), "left_anti")
    val crossN = Dedup.minHashIncrementalOf(sigN, sigS, meta.k, meta.bands,
        minAgreement, maxBucket, meta.hash)
      .groupBy(col("new_doc").as("__id_x"))
      .agg(count(lit(1)).as("n_index_matches"))
    // in-batch: same banded probe of the batch against itself; the
    // smaller id survives, so only (seen < new) pairs count against a doc
    val batchN = Dedup.minHashIncrementalOf(sigN, sigN, meta.k, meta.bands,
        minAgreement, maxBucket, meta.hash)
      .where(col("seen_doc") < col("new_doc"))
      .groupBy(col("new_doc").as("__id_b"))
      .agg(count(lit(1)).as("n_batch_matches"))
    batch.select(col(idCol))
      .join(crossN, col(idCol) === col("__id_x"), "left").drop("__id_x")
      .join(batchN, col(idCol) === col("__id_b"), "left").drop("__id_b")
      .select(col(idCol),
        coalesce(col("n_index_matches"), lit(0L)).as("n_index_matches"),
        coalesce(col("n_batch_matches"), lit(0L)).as("n_batch_matches"))
      .withColumn("admitted",
        (col("n_index_matches") === 0L && col("n_batch_matches") === 0L).cast("long"))
  }
}
