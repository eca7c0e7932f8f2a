package graft.recon

import org.apache.spark.sql.{Column, DataFrame, SparkSession, Row}
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
   * src/data_extractor.py:98-99). Spark has no implicit row order, so this
   * is the two-pass partition-offset scheme over the *current* partition
   * order — but expressed IN-PLAN, fully lazily (an earlier rdd.zipWithIndex
   * form ran its partition-size count job at plan-construction time, a
   * BUILD-phase action every caller paid even if the frame was never used):
   *   - `monotonically_increasing_id()` = pid·2³³ + position-in-partition,
   *     so the local position falls out by subtracting the pid mask;
   *   - per-partition row counts come from a tiny groupBy(partition id)
   *     aggregate, cumulative offsets from a window over that aggregate
   *     (single partition, but bounded by the PARTITION count — ~10⁶ rows
   *     of 16 bytes even at 100 TB, not a whole-input funnel);
   *   - offsets broadcast-join back on pid, index = offset + local.
   * Exact, distributed, deterministic as long as the source's
   * partition/row order is (true for file sources with a fixed listing).
   */
  def withRowIndex(df: DataFrame, name: String, offset: Long = 1L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // the counts branch and the stamping branch MUST observe the same
    // partitioning: a re-executed exchange re-samples its range
    // boundaries (RangePartitioner seeds from the RDD id), so two
    // independent executions of a repartitionByRange input would count
    // one layout and stamp another (caught by the oracle: interleaved
    // indexes). The lazy lineage cut pins ONE materialization both
    // branches read; being lazy, it costs nothing at plan construction.
    val pinned = Checkpoints.cut(df)
    val base = pinned
      .withColumn("__rid_pid", spark_partition_id().cast(LongType))
      .withColumn("__rid_mid", monotonically_increasing_id())
    val counts = base.groupBy(col("__rid_pid")).agg(count(lit(1)).as("__rid_n"))
    val w = Window.orderBy(col("__rid_pid"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = counts
      .withColumn("__rid_off", coalesce(sum(col("__rid_n")).over(w), lit(0L)))
      .select(col("__rid_pid"), col("__rid_off"))
    base.join(broadcast(offsets), Seq("__rid_pid"))
      .withColumn(name,
        (col("__rid_off") + (col("__rid_mid") - shiftleft(col("__rid_pid"), 33))
          + lit(offset)).cast(LongType))
      .select((df.columns.map(col) :+ col(name)).toIndexedSeq: _*)
  }

  /**
   * Distributed deterministic row index by explicit sort keys — ≡
   * `row_number() OVER (ORDER BY keys)` but with no single-partition
   * stamping task: range-repartition on the keys (partitions are ordered
   * ranges), sort within each partition, then assign indexes via the
   * two-pass partition-offset scheme of [[withRowIndex]]. Every stage is
   * distributed; the only extra cost over a global window is the
   * partition-size count job. Keys should totally order the rows — ties
   * that straddle a range boundary get an arbitrary (but still unique,
   * strictly increasing) relative order, same as `row_number` itself.
   */
  def withRowIndexRanged(df: DataFrame, name: String, order: Seq[Column], offset: Long = 1L): DataFrame = {
    val n = df.sparkSession.sparkContext.defaultParallelism
    withRowIndex(df.repartitionByRange(n, order: _*).sortWithinPartitions(order: _*), name, offset)
  }

  /**
   * Distributed running sum of `value` in `order` — ≡ `SUM(value) OVER
   * (ORDER BY keys ROWS UNBOUNDED PRECEDING)` but with no
   * single-partition stamping task: range-repartition on the keys, a
   * per-partition prefix sum (window partitioned by the bounded
   * `spark_partition_id`), then per-partition totals cumulated into
   * broadcast offsets — the [[withRowIndex]] two-pass scheme generalized
   * from counting to summing. Keys should totally order the rows: a tie
   * straddling a range boundary gets an arbitrary relative order, so its
   * prefix value (not the total) would differ between engines. The
   * repartitioned input is lineage-cut so the prefix branch and the
   * totals branch observe ONE partitioning (a re-executed range exchange
   * re-samples its boundaries).
   */
  def withRunningSumRanged(df: DataFrame, name: String, value: Column,
      order: Seq[Column]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val n = df.sparkSession.sparkContext.defaultParallelism
    val pinned = Checkpoints.cut(
      df.repartitionByRange(n, order: _*).sortWithinPartitions(order: _*))
    val base = pinned
      .withColumn("__rs_pid", spark_partition_id().cast(LongType))
      .withColumn("__rs_val", value)
    val local = base.withColumn("__rs_loc",
      sum(col("__rs_val")).over(
        Window.partitionBy(col("__rs_pid")).orderBy(order: _*)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val offsets = base.groupBy(col("__rs_pid"))
      .agg(sum(col("__rs_val")).as("__rs_t"))
      .withColumn("__rs_off", coalesce(
        sum(col("__rs_t")).over(Window.orderBy(col("__rs_pid"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("__rs_pid"), col("__rs_off"))
    local.join(broadcast(offsets), Seq("__rs_pid"))
      .withColumn(name, col("__rs_off") + col("__rs_loc"))
      .select((df.columns.map(col) :+ col(name)).toIndexedSeq: _*)
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
