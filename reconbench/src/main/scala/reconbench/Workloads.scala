package reconbench

import graft.recon._

/** Where a batch's results go: the reference's sinks. */
sealed trait Persist
/** One single-file CSV per result set (reference: df.write_csv). */
case object CsvFiles extends Persist
/** Parquet range-partitioned on the timestamp into 5 ranges (reference:
  * the 5-interval parallel `$merge` fan-out). */
case object RangeParquet extends Persist
/** Statuses upserted into the published table; the next batch re-reads
  * its internal remanents (reference: remanent `$lookup` + `$merge`). */
case object CarriedStatuses extends Persist

/**
 * One benchmark workload. A batch is one reconciliation run over one
 * input partition (`batch=k`); the timed loop cycles through the
 * `batches` partitions in order.
 *
 * @param txnsPerBatch generated transactions per batch (≈ rows per side)
 * @param lateShare    share of transactions whose settlement line
 *                     arrives 1–2 batches after the internal row
 * @param windowMs     time span of one batch's timestamps
 */
final case class Workload(
    name: String,
    batches: Int,
    txnsPerBatch: Int,
    lateShare: Double,
    windowMs: Long,
    persist: Persist)

object Workloads {
  private val HalfHour = 30L * 60 * 1000
  private val Day = 24L * 60 * 60 * 1000

  val all: Seq[Workload] = Seq(
    // consecutive 30-minute windows of the reference's own size
    Workload("recon_intraday", batches = 8, txnsPerBatch = 1500, lateShare = 0.0,
      windowMs = HalfHour, persist = CsvFiles),
    Workload("recon_daily", batches = 1, txnsPerBatch = 40000, lateShare = 0.0,
      windowMs = Day, persist = RangeParquet),
    Workload("recon_carryover", batches = 7, txnsPerBatch = 40000, lateShare = 0.10,
      windowMs = Day, persist = CarriedStatuses))

  def byName(name: String): Workload =
    all.find(_.name == name).getOrElse(throw new IllegalArgumentException(
      s"unknown workload '$name' (known: ${all.map(_.name).mkString(", ")})"))
}

/** The reference's schemas (FIXTURES.md §1–3) and reconciliation rules. */
object Schema {
  val internalFields: Seq[String] = Seq(
    "_id", "reference_transaction_code", "approval_code", "processor_type",
    "merchant_name", "processor_name", "transaction_code", "transaction_status_type",
    "transaction_type", "ticket_code", "sale_ticket_code", "bin_code", "card_type",
    "last_four_digit_code", "create_timestamp", "approved_transaction_amount")

  val externalColumns: Seq[String] = Seq(
    "_id", "referencia", "importe", "tipo_de_transaccion", "codigo_aprobacion",
    "estado_transaccion", "fecha", "digitos_bin", "kind_card", "ultimos4",
    "codigo_ksh", "processor_name", "country_name", "processor_type", "ticket_code")

  val types: FieldTypes = FieldTypes(
    longFields = Set("create_timestamp"),
    doubleFields = Set("approved_transaction_amount"))

  val Amount = "approved_transaction_amount"
  val ExtAmount = "ext_importe"
  val ExtId = "ext__id"
  val Tolerance = 0.1d

  private val amountPair = KeyPair("ext_importe", Amount)

  val conf: ReconConfig = ReconConfig(
    keys = Seq(
      KeyPair("ext_codigo_ksh", "transaction_code"),
      amountPair,
      KeyPair("ext_fecha", "create_timestamp"),
      KeyPair("ext_digitos_bin", "bin_code"),
      KeyPair("ext_kind_card", "card_type"),
      KeyPair("ext_ultimos4", "last_four_digit_code")),
    types = types,
    idField = "_id",
    externalId = ExtId,
    orderField = "file_row_number",
    tolerance = Some(ToleranceRule(amountPair, Tolerance)),
    zeroEffect = Some(ZeroEffectRule(
      kindField = "transaction_type", saleKind = "SALE", voidKind = "VOID",
      saleCols = Seq("ticket_code", Amount),
      voidCols = Seq("sale_ticket_code", Amount))))

  /** Pass 1 is exact match + duplicate displacement; pass 2 re-runs the
    * remanents with the tolerance second chance (reference new_rc_step). */
  val passes: Seq[ReconConfig] = Seq(conf.copy(tolerance = None), conf)
}
