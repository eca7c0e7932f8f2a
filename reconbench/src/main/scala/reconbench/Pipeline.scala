package reconbench

import java.nio.file.Paths

import scala.util.{Failure, Success, Try}

import org.apache.spark.reconbench.SparkInternals
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.recon._

/** The three result sets of a batch, its zero-effect pairs and the
  * collected summary row. */
final case class BatchResult(
    result: ReconResult,
    zeroEffectPairs: DataFrame,
    summary: Row)

/** Counts read back from a batch's results. `passOneMatched` are the rows
  * matched by the exact pass, `passTwoMatched` those of the tolerance pass. */
final case class Counts(
    zeroEffectPairs: Long,
    matchedExact: Long,
    matchedTolerance: Long,
    displaced: Long,
    internalRemanent: Long,
    externalRemanent: Long,
    passOneMatched: Long,
    passTwoMatched: Long) {
  /** Rows matched per internal row offered, over both passes. */
  def passYield: Double = {
    val passOneInput = passOneMatched + passTwoMatched + internalRemanent
    val passTwoInput = passOneInput - passOneMatched
    (passOneMatched + passTwoMatched).toDouble / math.max(1L, passOneInput + passTwoInput)
  }
}

/** What the check of one batch measured, and where it disagreed. */
final case class Checked(counts: Option[Counts], outputRows: Long, mismatches: Seq[String])

/** A batch as the harness saw it. `error` is set when the batch threw or
  * its results disagree with the generator's expected values. */
final case class BatchOutcome(
    batch: Int,
    input: Int,
    wallNs: Long,
    rows: Long,
    counts: Option[Counts],
    error: Option[String],
    cuts: Int,
    cutBytes: Long,
    cutDiskBytes: Long,
    outputBytes: Long,
    outputFiles: Long,
    outputRows: Long,
    versionsOnDisk: Int,
    traced: Boolean,
    checkNs: Long) {
  def ok: Boolean = error.isEmpty
}

object BatchOutcome {
  /** Batches that threw or disagreed with the expected values, per
    * batch attempted. */
  def failedRatio(outcomes: Seq[BatchOutcome]): Double =
    outcomes.count(!_.ok).toDouble / math.max(1, outcomes.size)
}

/**
 * Runs one batch of a workload through the `graft.recon` layers, one
 * traced span per layer call, then checks the results against the
 * generator's expected values outside the timed interval.
 */
final class Runner(spark: SparkSession, w: Workload, inputs: Inputs, resultsRoot: String,
    tracer: Tracer) {
  import Gen._
  import Schema._

  private val recon = new Reconciler(conf)
  private val sc = spark.sparkContext
  private def t[T](name: String)(body: => T): T = tracer.span(name)(body)

  private def batchDir(k: Int) = s"$resultsRoot/batch=$k"
  private def statusRoot = s"$resultsRoot/statuses"
  private def summaryRoot = s"$resultsRoot/summary"

  /** The pipeline of input batch `k`: read → zero-effect → iterate →
    * summary → persist. Returns the lazy results and the summary row. */
  def pipeline(k: Int): BatchResult = {
    val today = t("Sources.typedScan")(Sources.typedScan(
      spark, inputs.internalRoot, internalFields, types, Some(col("batch") === k)))
    val internal =
      if (w.persist == CarriedStatuses && k > 0) {
        val published = t("Publish.readCurrent")(Publish.readCurrent(spark, statusRoot))
        val remanentIds = published.where(col("side") === "internal" &&
          col("conciliation_status") === "REMANENT")
        val history = t("Sources.typedScan")(Sources.typedScan(
          spark, inputs.internalRoot, internalFields, types, Some(col("batch") < k)))
        val carried = t("Sources.remanentLookup")(Sources.remanentLookup(remanentIds, history, "_id"))
        t("Sources.concatPreferFirst")(Sources.concatPreferFirst(today, carried, "_id"))
      } else today
    val raw = t("Sources.csvAllString")(Sources.csvAllString(spark, inputs.externalPath(k)))
    val external = t("Sources.prepareExternal")(Sources.prepareExternal(raw, conf))

    val (reduced, pairs) = t("Reconciler.applyZeroEffect")(
      recon.applyZeroEffect(internal, conf.zeroEffect.get, col("_id")))
    val r = t("Reconciler.iterate")(recon.iterate(reduced, external,
      col(conf.orderField), passes, truncateLineage = true))

    val summary = t("Sinks.summary")(Sinks.summary(r.matched, r.internalRemanent,
      r.externalRemanent, Amount, ExtAmount, "_id", ExtId).collect().head)

    w.persist match {
      case CsvFiles =>
        t("Sinks.writeCsv")(Sinks.writeCsv(r.matched, s"${batchDir(k)}/matched"))
        t("Sinks.writeCsv")(Sinks.writeCsv(r.internalRemanent, s"${batchDir(k)}/internal_remanent"))
        t("Sinks.writeCsv")(Sinks.writeCsv(r.externalRemanent, s"${batchDir(k)}/external_remanent"))
      case RangeParquet =>
        t("Sinks.writeRangePartitioned")(Sinks.writeRangePartitioned(
          r.matched, s"${batchDir(k)}/matched", "create_timestamp", 5))
        t("Sinks.writeRangePartitioned")(Sinks.writeRangePartitioned(
          r.internalRemanent, s"${batchDir(k)}/internal_remanent", "create_timestamp", 5))
        t("Sinks.writeRangePartitioned")(Sinks.writeRangePartitioned(
          r.externalRemanent, s"${batchDir(k)}/external_remanent", "ext_fecha", 5))
      case CarriedStatuses =>
        val incoming = statuses(r, k)
        val merged =
          if (k == 0) incoming
          else {
            val existing = t("Publish.readCurrent")(Publish.readCurrent(spark, statusRoot))
            t("Sinks.upsert")(Sinks.upsert(existing, incoming, "_id", overwrite = true))
          }
        t("Publish.publish")(Publish.publish(merged, statusRoot))
        t("Publish.prune")(Publish.prune(spark, statusRoot))
    }
    // the run summary is persisted too (reference: the summary document)
    val summaryDf = spark.createDataFrame(
      java.util.List.of(Row.fromSeq(summary.toSeq :+ k)),
      summary.schema.add("batch", IntegerType))
    t("Publish.publish")(Publish.publish(summaryDf, summaryRoot))
    t("Publish.prune")(Publish.prune(spark, summaryRoot))
    BatchResult(r, pairs, summary)
  }

  /** One status row per internal row and per external remanent, with the
    * reference's audit columns. */
  private def statuses(r: ReconResult, k: Int): DataFrame = {
    val audit = AuditSpec(s"batch-$k", s"day-$k", k.toLong, "settlement_csv")
    def stamp(df: DataFrame, status: String) = ExprBuilder.withAudit(df, conf, audit, status)
    val nullStr = lit(null).cast(StringType)
    val nullDbl = lit(null).cast(DoubleType)
    val matched = r.matched.select(col("_id"), lit("internal").as("side"),
      col(ExtId).as("match_id"), col(Amount).as("amount"), col("tolerance_diff"),
      col("create_timestamp"))
    val internal = r.internalRemanent.select(col("_id"), lit("internal").as("side"),
      nullStr.as("match_id"), col(Amount).as("amount"), nullDbl.as("tolerance_diff"),
      col("create_timestamp"))
    val external = r.externalRemanent.select(col(ExtId).as("_id"), lit("external").as("side"),
      nullStr.as("match_id"), col(ExtAmount).as("amount"), nullDbl.as("tolerance_diff"),
      col("ext_fecha").as("create_timestamp"))
    stamp(matched, "CONCILIATED")
      .unionByName(stamp(internal, "REMANENT"))
      .unionByName(stamp(external, "REMANENT"))
  }

  /** Run batch `b` over input batch `k`, time it, and check it. */
  def run(b: Int, k: Int, traced: Boolean): BatchOutcome = {
    val exp = inputs.expected(k)
    if (w.persist == CarriedStatuses && k == 0) Fs.deleteTree(Paths.get(resultsRoot))
    // the cut RDDs are the ones whose blocks are stored during the batch
    val blocks = new BlockListener
    sc.addSparkListener(blocks)
    tracer.enabled = traced
    tracer.batch = b
    val t0 = System.nanoTime()
    val attempt = Try(tracer.span("Harness.batch")(pipeline(k)))
    val wall = System.nanoTime() - t0
    tracer.enabled = false
    SparkInternals.drain(sc)
    sc.removeSparkListener(blocks)
    val cuts = blocks.rdds
    val c0 = System.nanoTime()
    val checked = attempt.flatMap(res => Try(check(res, k, exp)))
    val checkNs = System.nanoTime() - c0
    cuts.keys.foreach(SparkInternals.unpersist(sc, _))

    val outFiles = Fs.dataFiles(Paths.get(outputDir(k)))
    val error = checked match {
      case Success(c) if c.mismatches.isEmpty => None
      case Success(c) => Some(c.mismatches.mkString("; "))
      case Failure(e) => Some(s"${e.getClass.getName}: ${e.getMessage}")
    }
    BatchOutcome(b, k, wall, exp.internalRows + exp.externalRows,
      checked.toOption.flatMap(_.counts), error,
      cuts = cuts.size,
      cutBytes = cuts.values.map { case (mem, disk) => mem + disk }.sum,
      cutDiskBytes = cuts.values.map(_._2).sum,
      outputBytes = outFiles.map(java.nio.file.Files.size).sum,
      outputFiles = outFiles.size.toLong,
      outputRows = checked.map(_.outputRows).getOrElse(0L),
      versionsOnDisk = Seq(statusRoot, summaryRoot).map(versionDirs).sum,
      traced = traced,
      checkNs = checkNs)
  }

  /** Published versions under `root`, orphans included. */
  private def versionDirs(root: String): Int =
    Option(new java.io.File(root).list()).fold(0)(_.count(_.startsWith("v=")))

  /** Where batch `k`'s results were persisted. */
  private def outputDir(k: Int): String = w.persist match {
    case CarriedStatuses =>
      Publish.currentVersion(spark, statusRoot).fold(statusRoot)(v => s"$statusRoot/v=$v")
    case _ => batchDir(k)
  }

  /** Batch `k`'s results measured against `exp`; `mismatches` lists every
    * disagreement. */
  def check(res: BatchResult, k: Int, exp: Expected): Checked = {
    val s = res.summary
    def money(cents: Long) = java.math.BigDecimal.valueOf(cents, 2).doubleValue
    val summaryChecks = Seq(
      ("conciliated_count", s.getAs[Long]("conciliated_count"), exp.conciliated),
      ("internal_remanent_count", s.getAs[Long]("internal_remanent_count"), exp.internalRemanent),
      ("external_remanent_count", s.getAs[Long]("external_remanent_count"), exp.externalRemanent),
      ("conciliated_amount", s.getAs[Double]("conciliated_amount"), money(exp.conciliatedCents)),
      ("internal_remanent_amount", s.getAs[Double]("internal_remanent_amount"),
        money(exp.internalRemanentCents)),
      ("external_remanent_amount", s.getAs[Double]("external_remanent_amount"),
        money(exp.externalRemanentCents)))

    // one query for every count, over the result sets as a consumer sees
    // them: read back from where the sink wrote them, or the lazy frames
    // when the sink published statuses. The tolerance_diff of a matched row
    // tells its pass (null: exact pass; 0: exact in the tolerance pass;
    // > 0: tolerance), the id suffix of an external remanent tells a
    // displaced duplicate.
    val r = res.result
    def resultSet(name: String, frame: DataFrame): DataFrame = w.persist match {
      case CsvFiles => spark.read.option("header", "true").csv(s"${batchDir(k)}/$name")
      case RangeParquet => spark.read.parquet(s"${batchDir(k)}/$name")
      case CarriedStatuses => frame
    }
    val diff = col("tolerance_diff").cast(DoubleType)
    val n = resultSet("matched", r.matched).agg(
        count(when(diff.isNull, 1)), count(when(diff === 0.0, 1)), count(when(diff > 0.0, 1)))
      .crossJoin(resultSet("external_remanent", r.externalRemanent).agg(
        count(lit(1)), count(when(col(ExtId).endsWith(DupLast.toString), 1))))
      .crossJoin(resultSet("internal_remanent", r.internalRemanent).agg(count(lit(1))))
      .crossJoin(res.zeroEffectPairs.agg(count(lit(1))))
      .head()
    val c = Counts(
      zeroEffectPairs = n.getLong(6),
      matchedExact = n.getLong(0) + n.getLong(1),
      matchedTolerance = n.getLong(2),
      displaced = n.getLong(4),
      internalRemanent = n.getLong(5),
      externalRemanent = n.getLong(3),
      passOneMatched = n.getLong(0),
      passTwoMatched = n.getLong(1) + n.getLong(2))
    val countChecks = Seq(
      ("zero_effect_pairs", c.zeroEffectPairs, exp.zeroEffectPairs),
      ("matched_exact", c.matchedExact, exp.matchedExact),
      ("matched_tolerance", c.matchedTolerance, exp.matchedTolerance),
      ("displaced", c.displaced, exp.displaced),
      ("internal_remanent", c.internalRemanent, exp.internalRemanent),
      ("external_remanent", c.externalRemanent, exp.externalRemanent))

    // the published status table, read back the same way
    val (outputRows, published) = w.persist match {
      case CarriedStatuses =>
        val rows = Publish.readCurrent(spark, statusRoot).count()
        (rows, Seq(("published statuses", rows, exp.statusRows)))
      case _ => (c.matchedExact + c.matchedTolerance + c.internalRemanent + c.externalRemanent, Nil)
    }
    Checked(Some(c), outputRows, (summaryChecks ++ countChecks ++ published).collect {
      case (name, got, want) if got != want => s"$name: got $got, expected $want"
    })
  }
}
