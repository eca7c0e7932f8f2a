package graft.recon

/**
 * Config-driven reconciliation spec.
 *
 * Mirrors the reference's RC_KEYS JSON key-mapping spec and typed-field lists
 * (reference: src/config.py:10-36, parsed at src/expression_builder.py:10-21) as
 * plain case classes: the engine's behavior is entirely data-driven — no key
 * name is hard-coded in the operators.
 */

/** One reconciliation key: external column name ↔ internal column name.
  * (reference: src/config.py:14-19 — e.g. codigo_ksh ↔ transaction_code). */
final case class KeyPair(external: String, internal: String)

/**
 * Field typing: every field defaults to string; these two lists override to
 * long / double (reference: src/config.py:35-36 INTEGER_FIELDS / DOUBLE_FIELDS,
 * applied at src/expression_builder.py:35-43).
 */
final case class FieldTypes(
    longFields: Set[String] = Set.empty,
    doubleFields: Set[String] = Set.empty) {
  def sparkTypeOf(field: String): org.apache.spark.sql.types.DataType = {
    import org.apache.spark.sql.types._
    if (longFields.contains(field)) LongType
    else if (doubleFields.contains(field)) DoubleType
    else StringType
  }
}

/**
 * Tolerance rule: drop `pair` from the equi-keys and accept
 * |a.pair.internal − b.pair.external| <= tolerance instead
 * (reference: src/reconciliatior.py:93-151, rule built at line 96).
 */
final case class ToleranceRule(pair: KeyPair, tolerance: Double)

/**
 * Zero-effect cancellation rule: rows of `saleKind` and `voidKind` (values of
 * `kindField`) cancel each other when saleCols(i) == voidCols(i) for all i
 * (reference: src/reconciliatior.py:162-199; rule spec at lines 163-173 —
 * b1_cols=[ticket_code, amount] vs b2_cols=[sale_ticket_code, amount]).
 */
final case class ZeroEffectRule(
    kindField: String,
    saleKind: String,
    voidKind: String,
    saleCols: Seq[String],
    voidCols: Seq[String],
    idField: String = "_id")

/**
 * Audit literals stamped onto every result row
 * (reference: second_conciliate.py:286-297 — conciliation_status,
 * execution ids/dates, key-code CSV string, source name).
 * All values are caller-supplied so results stay deterministic.
 */
final case class AuditSpec(
    executionId: String,
    executionDate: String,
    executionTimestamp: Long,
    externalSourceName: String)

/**
 * The full reconciliation spec.
 *
 * @param keys        equi-join key pairs (reference RC_KEYS)
 * @param types       long/double overrides (everything else is string)
 * @param idField     internal row-id column (reference `_id`)
 * @param externalId  external row-id column
 * @param orderField  explicit deterministic order column for keep-first/last
 *                    dedup — Spark has no implicit row order, so the Polars
 *                    `maintain_order=True` contract (src/reconciliatior.py:24-26)
 *                    must name its order key explicitly (SURVEY §2.4 A3)
 */
final case class ReconConfig(
    keys: Seq[KeyPair],
    types: FieldTypes = FieldTypes(),
    idField: String = "_id",
    externalId: String = "ext_id",
    orderField: String = "file_row_number",
    tolerance: Option[ToleranceRule] = None,
    zeroEffect: Option[ZeroEffectRule] = None) {

  require(keys.nonEmpty, "reconciliation needs at least one key pair")

  def internalKeys: Seq[String] = keys.map(_.internal)

  /** Key pairs minus the tolerance field — the equi-key set of the tolerance
    * pass (reference: src/reconciliatior.py:105-114). */
  def keysWithoutTolerance: Seq[KeyPair] =
    tolerance match {
      case Some(t) => keys.filterNot(_ == t.pair)
      case None    => keys
    }

  /** Audit CSV string of the key codes (reference: second_conciliate.py:294). */
  def keyCodeCsv: String = internalKeys.mkString(",")
}
