package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Dictionary encoding at scale: replace a repeated string column with
 * dense integer codes plus a (code, value) dictionary — the
 * storage/shuffle layout win every columnar system plays (a 40-byte
 * hostname shuffles as 4 bytes; group-bys and joins on the code hash
 * integers, not strings). Codes are assigned in VALUE ORDER, so they
 * are deterministic, order-preserving (range predicates on the code ≡
 * range predicates on the value), and stable under re-runs on the same
 * distinct set.
 *
 * The code assignment is the ranged two-phase row index
 * ([[graft.recon.Sources.withRowIndexRanged]]): range-partition the
 * DISTINCT values, per-partition local ranks, partition offsets folded
 * via a partition-count-sized window — a global `row_number()` window
 * would stamp every distinct value through ONE task. The dictionary is
 * distinct-value-sized; the encode join broadcasts it when small and
 * hash-joins otherwise (AQE's call).
 */
object Encode {

  /** The dictionary `(code, <valueCol>)`, codes 0..n−1 in value order
    * (nulls are NOT encoded — they stay null in [[dictionaryEncode]]). */
  def dictionary(df: DataFrame, valueCol: String): DataFrame =
    graft.recon.Sources.withRowIndexRanged(
      df.select(col(valueCol)).where(col(valueCol).isNotNull).distinct(),
      "code", Seq(col(valueCol)), offset = 0L)
      .select(col("code"), col(valueCol))

  /** `df` with `<valueCol>_code` added (null where the value is null).
    * Pass a precomputed [[dictionary]] to encode many tables against
    * the same dictionary — codes must come from ONE assignment to be
    * join-compatible across tables. */
  def dictionaryEncode(df: DataFrame, valueCol: String,
      dict: DataFrame): DataFrame =
    df.join(dict.select(col(valueCol), col("code").as(s"${valueCol}_code")),
      Seq(valueCol), "left")
}
