package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Data-layout operators. At the 100 TB tier the dominant cost is what a
 * scan does NOT have to read: range-partitioning the corpus by a
 * space-filling curve over two filter dimensions keeps rows that are
 * close in BOTH dimensions in the same files, so min/max footer stats
 * prune most files for 2-D range predicates — the same reason Delta/
 * Iceberg expose OPTIMIZE ZORDER BY (re-derived here from the Morton
 * construction; nothing is copied).
 *
 * The z-value is pure bit arithmetic over codegen'd built-ins (no UDF),
 * and the DuckDB oracle reproduces it term for term via
 * [[Layout.zValue2Sql]].
 */
object Layout {

  /**
   * Morton (z-order) interleave of the low `bits` bits of two
   * non-negative columns: `x` occupies even bit positions, `y` odd.
   * Callers clip/scale their dimensions into `bits` first (e.g.
   * `pmod(key, 1 << bits)`).
   */
  def zValue2(x: Column, y: Column, bits: Int): Column = {
    require(bits >= 1 && bits <= 31, s"bits out of range: $bits")
    (0 until bits).map { b =>
      val xb = shiftleft(shiftright(x, b).bitwiseAND(lit(1L)), 2 * b)
      val yb = shiftleft(shiftright(y, b).bitwiseAND(lit(1L)), 2 * b + 1)
      xb.bitwiseOR(yb)
    }.reduce(_ bitwiseOR _)
  }

  /** The DuckDB mirror of [[zValue2]]: the same `bits` interleave terms,
    * OR-folded, generated from the same loop. */
  def zValue2Sql(x: String, y: String, bits: Int): String =
    (0 until bits).map { b =>
      s"((($x >> $b) & 1) << ${2 * b}) | ((($y >> $b) & 1) << ${2 * b + 1})"
    }.mkString("(", " | ", ")")

  /**
   * N-dimensional Morton interleave — [[zValue2]] generalized: bit `b`
   * of dimension `j` lands at position `b·N + j`. `dims.size · bits`
   * must fit a non-negative long (≤ 63). Three or four dimensions is
   * the practical ceiling anyway: each added dimension halves the
   * per-dimension selectivity a fixed file count can express — past
   * that, pick the filter columns that matter and leave the rest to
   * residual predicates.
   */
  def zValueN(dims: Seq[Column], bits: Int): Column = {
    require(dims.size >= 2, s"need >= 2 dimensions: ${dims.size}")
    require(bits >= 1 && dims.size * bits <= 63,
      s"${dims.size} dims x $bits bits exceeds a signed long")
    val n = dims.size
    (for {
      b <- 0 until bits
      (d, j) <- dims.zipWithIndex
    } yield shiftleft(shiftright(d, b).bitwiseAND(lit(1L)), b * n + j))
      .reduce(_ bitwiseOR _)
  }

  /** The DuckDB mirror of [[zValueN]], generated from the same loop. */
  def zValueNSql(dims: Seq[String], bits: Int): String = {
    val n = dims.size
    (for {
      b <- 0 until bits
      (d, j) <- dims.zipWithIndex
    } yield s"((($d >> $b) & 1) << ${b * n + j})").mkString("(", " | ", ")")
  }

  /**
   * 2-D HILBERT index — the locality upgrade over [[zValue2]]: a Morton
   * walk jumps across the plane at every quadrant boundary (the z
   * shape), a Hilbert walk moves ONE grid step at a time (spec-proven:
   * bijective + unit Manhattan steps over the full grid), so file
   * min/max boxes along the curve are tighter for the same file count.
   * Standard quadrant-recursive construction: per bit level, the
   * quadrant index contributes `s²·((3·rx) xor ry)` and the coordinates
   * reflect/swap into the subquadrant frame (reflection within the
   * CURRENT quadrant, `s−1 − ·`). Each of the `bits` steps is one
   * projection — named intermediate columns, so the expression tree
   * stays linear in `bits`, not exponential. x/y must sit in
   * [0, 2^bits); callers clip/scale first (same contract as zValue2).
   */
  def withHilbert2(df: DataFrame, x: Column, y: Column, bits: Int,
      outCol: String): DataFrame = {
    require(bits >= 1 && bits <= 31, s"bits out of range: $bits")
    var cur = df.withColumn("__hx", x.cast("long"))
      .withColumn("__hy", y.cast("long"))
      .withColumn(outCol, lit(0L))
    for (i <- (bits - 1) to 0 by -1) {
      val s = 1L << i
      cur = cur
        .withColumn("__rx", when(col("__hx").bitwiseAND(lit(s)) > 0, 1L).otherwise(0L))
        .withColumn("__ry", when(col("__hy").bitwiseAND(lit(s)) > 0, 1L).otherwise(0L))
        .withColumn(outCol, col(outCol) +
          lit(s * s) * (lit(3L) * col("__rx")).bitwiseXOR(col("__ry")))
        .withColumn("__nx", when(col("__ry") === 0,
          when(col("__rx") === 1, lit(s - 1) - col("__hy")).otherwise(col("__hy")))
          .otherwise(col("__hx")))
        .withColumn("__ny", when(col("__ry") === 0,
          when(col("__rx") === 1, lit(s - 1) - col("__hx")).otherwise(col("__hx")))
          .otherwise(col("__hy")))
        .withColumn("__hx", col("__nx")).withColumn("__hy", col("__ny"))
    }
    cur.drop("__hx", "__hy", "__rx", "__ry", "__nx", "__ny")
  }

  /** The DuckDB mirror of [[withHilbert2]]: the same per-level steps as
    * a generated CTE chain over `table`; `keys` ride through unchanged.
    * Produces a full `WITH … SELECT keys…, hd AS outCol` statement. */
  def hilbert2Sql(keys: Seq[String], x: String, y: String, bits: Int,
      table: String, outCol: String): String = {
    require(bits >= 1 && bits <= 31, s"bits out of range: $bits")
    val ks = keys.mkString(", ")
    val steps = ((bits - 1) to 0 by -1).zipWithIndex.map { case (i, step) =>
      val s = 1L << i
      val prev = if (step == 0) "h0" else s"g$step"
      s"""h${step + 1} AS (SELECT $ks, hx, hy, hd,
         |  CASE WHEN (hx & $s) > 0 THEN 1 ELSE 0 END AS rx,
         |  CASE WHEN (hy & $s) > 0 THEN 1 ELSE 0 END AS ry FROM $prev),
         |g${step + 1} AS (SELECT $ks,
         |  CASE WHEN ry = 0 THEN CASE WHEN rx = 1 THEN ${s - 1} - hy ELSE hy END
         |       ELSE hx END AS hx,
         |  CASE WHEN ry = 0 THEN CASE WHEN rx = 1 THEN ${s - 1} - hx ELSE hx END
         |       ELSE hy END AS hy,
         |  hd + ${s * s} * xor(3 * rx, ry) AS hd FROM h${step + 1})""".stripMargin
    }
    s"""WITH h0 AS (SELECT $ks, CAST($x AS BIGINT) AS hx,
       |  CAST($y AS BIGINT) AS hy, CAST(0 AS BIGINT) AS hd FROM $table),
       |${steps.mkString(",\n")}
       |SELECT $ks, hd AS $outCol FROM g$bits""".stripMargin
  }

  /**
   * Cluster a frame for 2-D locality: range-partition on the z-value,
   * sort within partitions by it. Writing the result gives files whose
   * footer min/max on BOTH source dimensions are tight — the scan-time
   * pruning this layout exists for. The range exchange samples the
   * z-values (one extra pass), which is the intended trade: a one-time
   * layout cost against every future scan of the table.
   */
  def zorderBy(df: DataFrame, x: Column, y: Column, bits: Int,
      nPartitions: Int): DataFrame =
    df.withColumn("__z", zValue2(x, y, bits))
      .repartitionByRange(nPartitions, col("__z"))
      .sortWithinPartitions(col("__z"))
      .drop("__z")

  /**
   * Persist `df` BUCKETED (hash-partitioned into `buckets` files, sorted
   * within each) on `keyCols` — the layout that lets every future
   * equi-join or aggregation on those keys skip its shuffle entirely.
   * At 100 TB this is the difference between re-shuffling the fact
   * table on every join and paying the partitioning ONCE at write time:
   * two tables bucketed the same way sort-merge-join with zero
   * exchanges (the spec asserts exactly that plan shape).
   *
   * Spark's bucketing rides the table catalog, so this writes through
   * `saveAsTable` into the session warehouse (managed parquet), not a
   * bare path — bucket metadata lives in the catalog.
   */
  def writeBucketed(df: DataFrame, table: String, keyCols: Seq[String],
      buckets: Int): Unit = {
    require(keyCols.nonEmpty, "no bucket keys")
    require(buckets >= 1, s"buckets must be >= 1: $buckets")
    val spark = df.sparkSession
    // the default in-memory catalog dies with the JVM but the managed
    // LOCATION under the warehouse dir does not — a later session would
    // hit LOCATION_ALREADY_EXISTS on a table it has never heard of.
    // Drop any catalog entry, then clear the orphaned location
    spark.sql(s"DROP TABLE IF EXISTS `$table`")
    val loc = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"), table.toLowerCase)
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(loc)) fs.delete(loc, true)
    df.write.mode("overwrite").format("parquet")
      .bucketBy(buckets, keyCols.head, keyCols.tail: _*)
      .sortBy(keyCols.head, keyCols.tail: _*)
      .saveAsTable(table)
  }

  /**
   * Compaction plan: assign ordered planning units (files, hive
   * partitions, topic segments) to output bins of roughly
   * `targetBytes` each — the small-file problem's planning step. A
   * 100 TB table accreting thousands of sub-megabyte files per
   * ingest hour scans slower every day (per-file open + footer read
   * dominates); the fix is periodic compaction, and THIS operator
   * decides which inputs coalesce into which output.
   *
   * Bin rule: cumulative-quota packing in `orderCols` order —
   * `bin = floor(bytes_before_this_unit / targetBytes)`. Deterministic,
   * order-preserving (so range/z-order layouts survive compaction),
   * each bin lands within one unit of the target, and it is a pure
   * prefix-sum — no first-fit-decreasing state that would serialize
   * planning at scale.
   *
   * The prefix sum is the engine's distributed one
   * ([[graft.recon.Sources.withRunningSumRanged]]): no whole-input
   * single-task funnel — the inventory may itself be huge (a 100 TB
   * table is ~200k files, but a multi-PB lake's manifest union is not
   * driver-sized). A unit with a null size adds 0 bytes.
   *
   * Output: the input columns plus `bin` (long). `orderCols` must
   * totally order the units.
   */
  def compactionPlan(units: DataFrame, orderCols: Seq[Column], bytesCol: String,
      targetBytes: Long): DataFrame = {
    require(targetBytes >= 1L, s"targetBytes must be >= 1: $targetBytes")
    graft.recon.Sources.withRunningSumRanged(units, "__cp_cum",
        coalesce(col(bytesCol), lit(0L)), orderCols)
      .withColumn("bin",
        expr(s"(__cp_cum - coalesce(`$bytesCol`, 0L)) div ${targetBytes}L"))
      .drop("__cp_cum")
  }

  /**
   * Shuffle-free equi-join of two tables previously written by
   * [[writeBucketed]] with the SAME keys and bucket count. The merge
   * hint pins sort-merge (a broadcast would hide the point being
   * demonstrated — and at real scale neither side broadcasts anyway);
   * bucketed scans already satisfy the join's distribution, so the plan
   * carries no Exchange on either side.
   */
  def bucketedJoin(spark: SparkSession, tableA: String, tableB: String,
      keyCols: Seq[String]): DataFrame =
    spark.table(tableA).hint("merge").join(spark.table(tableB), keyCols)

  /**
   * Run-length layout audit: for each candidate column, how many VALUE
   * RUNS the table's physical order produces — the number that decides
   * whether parquet RLE/dictionary pages compress (a column with
   * n_rows/10 runs encodes ~10× denser than one that alternates every
   * row), and whether re-sorting by that column is worth a rewrite.
   * `avg_run_milli` = 1000·rows/runs (average run length); the floor of
   * a resort is `n_distinct` runs, so `sorted_gain_milli` =
   * 1000·runs/n_distinct is the multiple a resort would remove.
   *
   * Adjacency without a global window: rows get a distributed index in
   * the physical order ([[graft.recon.Sources.withRowIndexRanged]]),
   * and (i, i+1) pairs meet in ONE self-equi-join on the index — all
   * `cols` are audited in that single pass. Distinct counts share one
   * aggregate (Catalyst expands it; at extreme widths run one column
   * per pass instead). The indexed frame is lineage-cut: the join's two
   * sides must observe the same index assignment.
   *
   * Values are compared as strings (uniform null-safe semantics across
   * types — the oracle mirrors the cast).
   */
  def rleGain(df: DataFrame, orderCols: Seq[Column], cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "rleGain: no columns to audit")
    val proj = cols.map(c => col(c).cast("string").as(c))
    // alias the order keys: they may BE audited columns (the compound-
    // sort-key advisor audits its own leading key), and a duplicate
    // name would make every later reference ambiguous
    val ord = orderCols.zipWithIndex.map { case (c, i) => c.as(s"__ord_$i") }
    val ordRefs = orderCols.indices.map(i => col(s"__ord_$i"))
    val idx = graft.recon.Checkpoints.cut(
      graft.recon.Sources.withRowIndexRanged(
        df.select((ord ++ proj).toIndexedSeq: _*), "__idx", ordRefs)
        .select((col("__idx") +: cols.map(col)).toIndexedSeq: _*))
    val nxt = idx.select(
      ((col("__idx") - 1).as("__idx") +: cols.map(c => col(c).as(s"__n_$c"))).toIndexedSeq: _*)
    val changes = idx.join(nxt, Seq("__idx"))
      .agg(count(lit(1)).as("__pairs"),
        cols.map(c => sum(when(col(c) <=> col(s"__n_$c"), 0L).otherwise(1L))
          .as(s"__chg_$c")): _*)
    val totals = idx.agg(count(lit(1)).as("n_rows"),
      cols.map(c => countDistinct(col(c)).as(s"__d_$c")): _*)
    val wide = changes.crossJoin(totals)
    val stacked = cols.map { c =>
      wide.select(lit(c).as("column_name"), col("n_rows"),
        (col(s"__chg_$c") + 1L).as("n_runs"), col(s"__d_$c").as("n_distinct"))
    }.reduce(_ union _)
    stacked.select(col("column_name"), col("n_rows"), col("n_runs"),
      col("n_distinct"),
      expr("(1000 * n_rows) div n_runs").as("avg_run_milli"),
      // an all-null column has 0 distinct values (count distinct skips
      // nulls in both engines) — report a null gain, not an ANSI raise
      when(col("n_distinct") > 0,
        expr("(1000 * n_runs) div n_distinct")).as("sorted_gain_milli"))
  }
}
