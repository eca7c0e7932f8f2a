package graft.recon

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._

/**
 * Result persistence — Spark-first analog of the reference's write paths
 * (reference: src/reconciliatior.py:61-64 CSV; second_conciliate.py:399-503
 * Mongo temp-collection + interval-partitioned parallel `$merge`).
 *
 * The reference hand-rolls write parallelism with a ThreadPoolExecutor over
 * time intervals (second_conciliate.py:409-447); Spark writes are already
 * task-parallel per partition, so the interval fan-out becomes
 * `repartitionByRange` on the timestamp — same physical layout, no threads.
 */
object Sinks {

  /** CSV result sink (S6, reference: df.write_csv at
    * src/reconciliatior.py:61-64). Single file to mirror the reference's
    * one-file-per-result-set layout. */
  def writeCsv(df: DataFrame, path: String): Unit =
    df.coalesce(1).write.mode(SaveMode.Overwrite).option("header", "true").csv(path)

  /** JSON-Lines sink — the interchange format LLM data pipelines speak
    * (one JSON object per line, so the files stay splittable and a scan
    * parallelizes per line-block, unlike a single JSON array). Part of
    * the extension surface, not reference parity. */
  def writeJsonl(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).json(path)

  /** ORC sink — the second columnar at-rest format large warehouses keep
    * beside parquet (Hive-lineage lakes are ORC end to end). Spark's ORC
    * writer carries the same column statistics (per-stripe min/max) that
    * make scan-side predicate pushdown work, so a table written here prunes
    * stripes exactly like a parquet table prunes row groups. Part of the
    * extension surface, not reference parity. */
  def writeOrc(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).orc(path)

  /** Range-partitioned parquet write (S8's layout, reference interval split
    * at second_conciliate.py:409-417): N range partitions on the timestamp
    * column reproduce the reference's per-interval parallel upsert fan-out. */
  def writeRangePartitioned(df: DataFrame, path: String, tsCol: String, numRanges: Int): Unit =
    df.repartitionByRange(numRanges, col(tsCol))
      .write.mode(SaveMode.Overwrite).parquet(path)

  /**
   * Upsert / `$merge` emulation without a keyed store (S8/S10 semantics,
   * reference: second_conciliate.py:420-440 whenMatched:merge and
   * first_populate_table.py:48-55 whenMatched:keepExisting).
   *
   * - `overwrite = true`  ≡ whenMatched: replace — incoming row wins.
   * - `overwrite = false` ≡ whenMatched: keepExisting — existing row wins.
   * Both are an anti-join + union: one shuffle on the key. In production
   * this maps to Delta `MERGE INTO` / connector upsert.
   */
  def upsert(existing: DataFrame, incoming: DataFrame, idField: String, overwrite: Boolean): DataFrame =
    if (overwrite)
      existing.join(incoming.select(idField), Seq(idField), "left_anti")
        .unionByName(incoming, allowMissingColumns = true)
    else
      incoming.join(existing.select(idField), Seq(idField), "left_anti")
        .unionByName(existing, allowMissingColumns = true)

  /**
   * One-row run summary (A1/S9, reference: second_conciliate.py:450-483):
   * sums + counts of the matched and unmatched sets, as a single appendable
   * row. Aggregation is map-side partial + single reduce — no full shuffle.
   */
  def summary(matched: DataFrame, internalRem: DataFrame, externalRem: DataFrame,
      amountCol: String, extAmountCol: String, idField: String, extIdField: String): DataFrame = {
    // money sums go through decimal so the aggregate is exact and
    // order-independent — a raw double sum varies with partition/merge order
    def moneySum(c: String) =
      coalesce(sum(col(c).cast("decimal(18,2)")), lit(0).cast("decimal(18,2)")).cast("double")
    val m = matched.agg(
      moneySum(amountCol).as("conciliated_amount"),
      count(col(idField)).as("conciliated_count"))
    val i = internalRem.agg(
      moneySum(amountCol).as("internal_remanent_amount"),
      count(col(idField)).as("internal_remanent_count"))
    val e = externalRem.agg(
      moneySum(extAmountCol).as("external_remanent_amount"),
      count(col(extIdField)).as("external_remanent_count"))
    m.crossJoin(i).crossJoin(e)
  }
}
