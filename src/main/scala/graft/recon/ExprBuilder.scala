package graft.recon

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/**
 * Pure column/schema builders derived from a [[ReconConfig]].
 *
 * Spark-first analog of the reference's ExpressionBuilder
 * (reference: src/expression_builder.py:22-74): where the reference emits Mongo
 * `$project` JSON + a pyarrow schema + Polars cast expressions, we emit
 * `Column`s and a `StructType` and let Catalyst push projection/casts into the
 * scan.
 */
object ExprBuilder {

  /**
   * Stringify-cast projection: every field cast to its configured type —
   * string by default, long/double for the override lists
   * (reference: `$toString` per field at src/expression_builder.py:31-43).
   * Catalyst pushes the resulting column pruning into the source scan.
   */
  def typedProjection(fields: Seq[String], types: FieldTypes): Seq[Column] =
    fields.map(f => col(f).cast(types.sparkTypeOf(f)).as(f))

  /**
   * Casts applied to the all-string external CSV so join-key columns match
   * internal types (reference: src/expression_builder.py:49-64, applied at
   * src/data_extractor.py:97).
   * The external column carrying a typed internal counterpart takes that type.
   */
  def externalKeyCasts(conf: ReconConfig): Seq[(String, Column)] =
    conf.keys.flatMap { kp =>
      val t = conf.types.sparkTypeOf(kp.internal)
      if (t == StringType) None
      else Some(kp.external -> col(kp.external).cast(t))
    }

  def applyExternalKeyCasts(df: DataFrame, conf: ReconConfig): DataFrame =
    externalKeyCasts(conf).foldLeft(df) { case (d, (name, c)) =>
      d.withColumn(name, c)
    }

  /** Prefix-selector projection (reference: `cs.starts_with("ext_")`,
    * src/reconciliatior.py:49-51). */
  def selectByPrefix(df: DataFrame, prefixes: String*): DataFrame = {
    val cols = df.columns.filter(c => prefixes.exists(c.startsWith)).map(col)
    df.select(cols.toIndexedSeq: _*)
  }

  /**
   * Audit literal columns stamped on result rows
   * (reference: second_conciliate.py:286-297). Deterministic — all values come
   * from the caller's [[AuditSpec]], never from wall-clock.
   */
  def auditColumns(conf: ReconConfig, audit: AuditSpec, status: String): Map[String, Column] =
    Map(
      "conciliation_status"    -> lit(status),
      "conciliation_key_code"  -> lit(conf.keyCodeCsv),
      "execution_id"           -> lit(audit.executionId),
      "execution_date"         -> lit(audit.executionDate),
      "execution_timestamp"    -> lit(audit.executionTimestamp),
      "external_source_name"   -> lit(audit.externalSourceName)
    )

  def withAudit(df: DataFrame, conf: ReconConfig, audit: AuditSpec, status: String): DataFrame =
    df.withColumns(auditColumns(conf, audit, status))
}
