package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Field-level survivorship — the "golden record" step of entity
 * resolution: after matching (exact keys, or [[Fuzzy]] blocking)
 * clusters an entity's records from many feeds, merge their
 * CONFLICTING field values into one canonical row. The classic MDM
 * rule set: per field, independently, take the value from the best
 * non-null contributor under a caller-supplied ranking (source
 * priority, then recency, then a unique tiebreak).
 *
 * One hash aggregation, one shuffle on the entity key, map-side
 * partial combine — `max_by(field, rank IF field non-null)` per field.
 * No window, no self-join, no per-field passes: a 100-feed 10-field
 * merge over 10^10 records is the same single groupBy as a 2-feed one.
 * `max_by` ignores rows whose ordering expression is null (pinned by
 * SurvivorshipSpec), which is what makes "best NON-NULL per field"
 * one expression instead of a filtered join per field.
 *
 * `rank` must totally order each entity's records (fold a unique
 * record id into the low bits) — on ties the survivor would be
 * partition-order-dependent, which at cluster scale means
 * run-to-run nondeterminism. [[rankKey]] builds the canonical
 * (priority, recency, id) encoding.
 */
object Survivorship {

  /** Lexicographic (priority, recency, id) rank folded into one BIGINT:
    * `priority·2^40 + recency·2^20 + id`, each component range-checked —
    * a silent overflow would reorder survivors. Engine-portable (the
    * same arithmetic is plain SQL), unlike struct-compare orderings. */
  def rankKey(priority: Column, recency: Column, id: Column): Column = {
    val chk = (c: Column, bits: Int, name: String) =>
      when(c.isNull || c < 0 || c >= (1L << bits),
        raise_error(concat(lit(s"survivorship $name out of range [0, 2^$bits): "),
          c.cast("string")))).otherwise(c.cast("long"))
    chk(priority, 23, "priority") * lit(1L << 40) +
      chk(recency, 20, "recency") * lit(1L << 20) + chk(id, 20, "id")
  }

  /** One golden row per `keyCol`: for each of `valueCols` the value of
    * the highest-`rank` record where that field is non-null (null only
    * if ALL contributors are null), plus `n_records` merged, plus
    * per-field provenance: for each value column an extra `<c>_src`
    * column carrying `sourceCol` of the record that supplied the
    * surviving value — the audit trail a data steward asks for first
    * ("where did this phone number come from?"). */
  def goldenWithProvenance(records: DataFrame, keyCol: String, rank: Column,
      valueCols: Seq[String], sourceCol: String): DataFrame = {
    require(valueCols.nonEmpty, "no value columns")
    val aggs = valueCols.flatMap { c =>
      val live = when(col(c).isNotNull, rank)
      Seq(max_by(col(c), live).as(c), max_by(col(sourceCol), live).as(s"${c}_src"))
    } :+ count(lit(1)).as("n_records")
    records.groupBy(col(keyCol)).agg(aggs.head, aggs.tail: _*)
  }
}
