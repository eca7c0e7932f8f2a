package graft.recon

import org.apache.spark.sql.{Column, DataFrame, SparkSession, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/**
 * Source builders — Spark-first analog of the reference's DataExtractor
 * (reference: src/data_extractor.py; lazy variants second_conciliate.py:120-279).
 * Where the reference hand-ships `$match`/`$project` JSON to mongod for
 * pushdown, here the filter/projection are plain Catalyst operators and the
 * DataSource framework pushes them into the scan (check `.explain`:
 * PushedFilters / ReadSchema).
 */
object Sources {

  /**
   * Document-store scan with pushdown predicate + stringify projection
   * (S1, reference: src/data_extractor.py:26-50). In production this is the
   * mongo connector with an `aggregation.pipeline` option; offline it is any
   * file source — the declared filter and typed projection reach the scan
   * either way.
   */
  def typedScan(
      spark: SparkSession,
      path: String,
      fields: Seq[String],
      types: FieldTypes,
      predicate: Option[Column] = None): DataFrame = {
    val raw = spark.read.parquet(path)
    val filtered = predicate.fold(raw)(raw.where)
    filtered.select(ExprBuilder.typedProjection(fields, types): _*)
  }

  /**
   * CSV scan, no inference, header row, all columns string (S3,
   * reference: pl.read_csv(infer_schema_length=0) at
   * src/data_extractor.py:95-116).
   */
  def csvAllString(spark: SparkSession, path: String): DataFrame =
    spark.read
      .option("header", "true")
      .option("inferSchema", "false")
      .csv(path)

  /** JSON-Lines scan with an EXPLICIT schema — same no-inference
    * discipline as [[csvAllString]]: schema inference is a full extra
    * pass over the data before the real scan, which at the 100 TB tier
    * doubles the I/O bill. Callers own the schema (usually the writing
    * table's `df.schema`). */
  def readJsonl(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema).json(path)

  /** ORC scan ([[graft.recon.Sinks.writeOrc]]'s read side). ORC files
    * carry their schema, so unlike CSV/JSONL no explicit schema is needed
    * — and filters/projections push into the stripe reader the same way
    * parquet pushes into row groups (`PushedFilters` in `.explain`). */
  def readOrc(spark: SparkSession, path: String): DataFrame =
    spark.read.orc(path)

  /**
   * External-side prep (reference: src/data_extractor.py:95-116):
   * row-provenance index, join-key casts, `ext_` prefix, `exd_` shadow keys.
   * `conf.keys.external` names refer to the *unprefixed* csv columns here;
   * the produced frame has every column `ext_`-prefixed plus shadows.
   */
  def prepareExternal(raw: DataFrame, conf: ReconConfig, rowIdxName: String = "file_row_number"): DataFrame = {
    val unprefixedConf = conf.copy(keys = conf.keys.map(kp =>
      kp.copy(external = kp.external.stripPrefix("ext_"))))
    val indexed = withRowIndex(raw, rowIdxName)
    val cast = ExprBuilder.applyExternalKeyCasts(indexed, unprefixedConf)
    val prefixed = cast.toDF(cast.columns.map {
      case `rowIdxName` => rowIdxName
      case c            => s"ext_$c"
    }.toIndexedSeq: _*)
    // exd_ shadow copies of the join keys (src/expression_builder.py:66-69)
    val shadows = unprefixedConf.keys.map(kp =>
      col(s"ext_${kp.external}").as(s"exd_${kp.external}"))
    prefixed.select(col("*") +: shadows: _*)
  }

  /**
   * Row-provenance index (P9, reference: with_row_index(offset=1) at
   * src/data_extractor.py:98-99): `offset` on the first row of the
   * *current* partition order, then +1 per row — the running count of
   * [[withPartitionPrefix]], fully lazy (no plan-construction action).
   * Exact, distributed, deterministic as long as the source's
   * partition/row order is (true for file sources with a fixed listing).
   */
  def withRowIndex(df: DataFrame, name: String, offset: Long = 1L): DataFrame =
    withPartitionPrefix(df, name, lit(1L), offset - 1L)

  /**
   * Distributed deterministic row index by explicit sort keys — ≡
   * `row_number() OVER (ORDER BY keys)` (shifted by `offset − 1`) but
   * with no single-partition stamping task: [[withRowIndex]] over the
   * [[ranged]] layout. Keys should totally order the rows — ties that
   * straddle a range boundary get an arbitrary (but still unique,
   * strictly increasing) relative order, same as `row_number` itself.
   */
  def withRowIndexRanged(df: DataFrame, name: String, order: Seq[Column], offset: Long = 1L): DataFrame =
    withRowIndex(ranged(df, order), name, offset)

  /**
   * Distributed running sum of `value` (integral; a null adds 0) in
   * `order` — ≡ `SUM(value) OVER (ORDER BY keys ROWS UNBOUNDED
   * PRECEDING)` but with no single-partition stamping task:
   * [[withPartitionPrefix]] over the [[ranged]] layout. Keys should
   * totally order the rows: a tie straddling a range boundary gets an
   * arbitrary relative order, so its prefix value (not the total) would
   * differ between engines.
   */
  def withRunningSumRanged(df: DataFrame, name: String, value: Column, order: Seq[Column]): DataFrame =
    withPartitionPrefix(ranged(df, order), name, value, 0L)

  /** `df` range-partitioned on `order` (partitions are ordered ranges)
    * and sorted within each partition: partition order then row order
    * IS the global order. */
  private def ranged(df: DataFrame, order: Seq[Column]): DataFrame = df.repartitionByRange(
    df.sparkSession.sparkContext.defaultParallelism, order: _*).sortWithinPartitions(order: _*)

  /**
   * The two-pass partition-offset scheme behind every row index and
   * running sum: `name` = `shift` + the inclusive prefix sum of `value`
   * over `df`'s partition order, then row order.
   *   - row side: a per-partition running sum
   *     ([[graft.functions.PartitionRunningSum]], one codegen'd
   *     projection — no shuffle, no sort) plus the partition id;
   *   - totals: one `groupBy(partition id)` aggregate, at most one row
   *     per partition, whose exclusive cumulative sum (a window over
   *     the partition count, not the row count) is broadcast back and
   *     joined on the partition id.
   * Both branches MUST observe the same partitioning: a re-executed
   * exchange re-samples its range boundaries (RangePartitioner seeds
   * from the RDD id), so two independent executions of a
   * repartitionByRange input would total one layout and stamp another
   * (caught by the oracle: interleaved indexes). The lazy lineage cut
   * pins ONE materialization both branches read; being lazy, it costs
   * nothing at plan construction.
   */
  private def withPartitionPrefix(df: DataFrame, name: String, value: Column, shift: Long): DataFrame = {
    val pinned = Checkpoints.cut(df)
    val offsets = pinned.withColumn("__pp_pid", spark_partition_id())
      .groupBy(col("__pp_pid")).agg(sum(value).as("__pp_t"))
      .select(col("__pp_pid"), (coalesce(sum(col("__pp_t")).over(Window.orderBy(col("__pp_pid"))
        .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)) + shift).as("__pp_off"))
    pinned.select(col("*"), spark_partition_id().as("__pp_pid"),
        graft.functions.PartitionFunctions.partition_running_sum(value).as("__pp_sum"))
      .join(broadcast(offsets), Seq("__pp_pid"))
      .select((df.columns.map(col) :+ (col("__pp_off") + col("__pp_sum")).as(name)).toIndexedSeq: _*)
  }

  /**
   * Remanent re-read (S2, reference: `$lookup`+`$unwind` at
   * src/data_extractor.py:52-83): prior-run REMANENT rows joined back to the
   * full transaction table on the id. The 1:1 `$lookup`+`$unwind` collapses
   * to an inner join; only the id column of the remanent side is needed, so
   * it is pruned before the join (and broadcast when small).
   */
  def remanentLookup(remanents: DataFrame, transactions: DataFrame, idField: String): DataFrame =
    transactions.join(remanents.select(idField).distinct(), Seq(idField), "left_semi")

  /** Vertical concat of current + remanent inputs, deduped by id keeping the
    * *current* row on conflict (U1+A3, reference: src/data_extractor.py:85-93):
    * [[Reconciler.keepFirstBy]] per id over a preference tag, lower wins
    * (0 = current batch, 1 = remanent). */
  def concatPreferFirst(current: DataFrame, remanent: DataFrame, idField: String): DataFrame = {
    val tagged = current.withColumn("__pref", lit(0))
      .unionByName(remanent.withColumn("__pref", lit(1)))
    Reconciler.keepFirstBy(tagged, Seq(idField), Seq(col("__pref")))
      .select(current.columns.map(col).toIndexedSeq: _*)
  }
}
