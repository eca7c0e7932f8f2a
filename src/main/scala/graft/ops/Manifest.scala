package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * File-statistics manifest + skip-scan: the data-skipping layer every
 * table format at lake scale (Delta, Iceberg, Hudi) builds on. A 100 TB
 * table is ~100k–200k parquet files; a range query that touches 0.1% of
 * the key space should OPEN 0.1% of the files, not all of them — footer
 * opens alone dominate otherwise. The manifest records per-file
 * min/max/count for chosen columns (one distributed scan, grouped by
 * `_metadata.file_path`, so stats collection itself never funnels
 * through the driver); pruning intersects the query range with each
 * file's [min, max] envelope and reads only the overlapping files.
 *
 * This composes with a z-order ([[Layout.zValue2]]) or range layout:
 * stats are only selective when the write layout clusters the stat
 * columns — the manifest of a randomly-laid-out table has every file
 * spanning the full key range and prunes nothing. Build order at
 * scale: layout, then manifest, then skip-scan.
 *
 * Driver-size contract: the PRUNED file list is collected to the driver
 * (that is how a file-source scan is specified); the manifest itself
 * stays distributed. ~200k files × a path string is single-digit MB —
 * the same driver budget Delta/Iceberg planning spends.
 *
 * Null semantics: a file whose stat column is entirely null has
 * null min/max and is pruned. Rows with a null key cannot satisfy a
 * range predicate, so the skip-scan result still equals
 * `full table WHERE key BETWEEN lo AND hi` exactly.
 */
object Manifest {

  /** One distributed pass over the table at `path`: per-file row count
    * and min/max for each of `statCols`. Output columns:
    * `file_path, n_rows, min_<c>, max_<c>…`. */
  def build(spark: SparkSession, path: String, statCols: Seq[String]): DataFrame = {
    require(statCols.nonEmpty, "no stat columns")
    val df = spark.read.parquet(path)
    df.select(col("_metadata.file_path").as("file_path") +: statCols.map(col): _*)
      .groupBy(col("file_path"))
      .agg(count(lit(1)).as("n_rows"),
        statCols.flatMap(c =>
          Seq(min(col(c)).as(s"min_$c"), max(col(c)).as(s"max_$c"))): _*)
  }

  /** Manifest rows whose [min, max] envelope for `statCol` overlaps
    * [lo, hi] — the files a range scan must open. */
  def overlapping(manifest: DataFrame, statCol: String, lo: Column, hi: Column): DataFrame =
    manifest.where(col(s"max_$statCol") >= lo && col(s"min_$statCol") <= hi)

  /**
   * Clustering-depth metric over a stats ledger: for each file, how
   * many files' [min, max] envelopes (same `statCol`) overlap it —
   * the number a range query stabbing that file must ALSO open.
   * Perfectly clustered data tiles the key space (depth 1); a random
   * layout overlaps everywhere (depth ≈ file count) and makes
   * [[overlapping]]-based pruning worthless. This is the measurement
   * that tells an operator to re-layout BEFORE paying for a z-order
   * rewrite of 100 TB. Self-join of the ledger on interval overlap —
   * manifest-sized × manifest-sized, never data-sized; all-null
   * envelopes (files with no non-null key) are excluded. Ledger
   * contract: `(file id col, min_<statCol>, max_<statCol>)` as built
   * by [[build]].
   */
  def overlapDepth(ledger: DataFrame, fileCol: String, statCol: String): DataFrame = {
    val a = ledger.select(col(fileCol).as("__fa"),
      col(s"min_$statCol").as("__la"), col(s"max_$statCol").as("__ha"))
      .where(col("__la").isNotNull)
    val b = ledger.select(col(s"min_$statCol").as("__lb"),
      col(s"max_$statCol").as("__hb"))
      .where(col("__lb").isNotNull)
    a.join(b, col("__la") <= col("__hb") && col("__lb") <= col("__ha"))
      .groupBy(col("__fa"))
      .agg(count(lit(1)).as("n_overlaps"))
      .select(col("__fa").as(fileCol), col("n_overlaps"))
  }

  // ---- per-file Bloom filters: the POINT-lookup skipping layer ---------
  //
  // Min/max envelopes only prune when the write layout clusters the
  // stat column; a point lookup on a column the layout ignores finds
  // every file's [min, max] covering the key and prunes nothing. A
  // per-file Bloom filter prunes on CONTENT, layout-free: k positions
  // per key in an mBits-bit filter, a file survives a probe only if
  // every probed bit is set — no false negatives by construction, so
  // pruned-read ≡ full-scan filter exactly; false positives only cost
  // an extra file open. Filters are stored packed, 62 bits per word
  // (`(file_path, word_idx, word)` rows — 62, not 64, keeps every
  // shift below the sign bit so the same arithmetic runs in ANSI SQL
  // engines): mBits=4096 is 67 longs per file, ~13 MB manifest for a
  // 200k-file table. Hashing is the md5-based [[Sampling.keyHash]]
  // double-hash (h1 + i·h2 mod m, all in [0, m)) — deterministic and
  // oracle-mirrorable, unlike xxhash64.

  private def bloomPositions(key: Column, mBits: Int, nHashes: Int): Seq[Column] = {
    val h1 = Sampling.keyHash(key) % mBits
    val h2 = Sampling.keyHash(concat(lit("#"), key.cast("string"))) % mBits
    (0 until nHashes).map(i => (h1 + lit(i.toLong) * h2) % mBits)
  }

  private def wordsOf(df: DataFrame, grouping: Column, groupAs: String,
      key: Column, mBits: Int, nHashes: Int): DataFrame =
    df.select(grouping.as(groupAs),
        explode(array(bloomPositions(key, mBits, nHashes): _*)).as("__pos"))
      .where(col("__pos").isNotNull) // null keys set no bits, match no probe
      .select(col(groupAs), expr("__pos div 62").as("word_idx"),
        expr("shiftleft(1L, cast(__pos % 62 as int))").as("__bit"))
      .groupBy(col(groupAs), col("word_idx"))
      .agg(expr("bit_or(__bit)").as("word"))

  /** One distributed pass: each file's packed Bloom filter over
    * `keyCol`. Output: `(file_path, word_idx, word)`, ≤ ⌈mBits/62⌉
    * rows per file. */
  def bloomManifest(spark: SparkSession, path: String, keyCol: String,
      mBits: Int = 4096, nHashes: Int = 4): DataFrame = {
    require(mBits >= 62, s"mBits too small: $mBits")
    require(nHashes >= 1 && nHashes <= 16, s"nHashes out of range: $nHashes")
    wordsOf(spark.read.parquet(path), col("_metadata.file_path"), "file_path",
      col(keyCol), mBits, nHashes)
  }

  /** Files that MAY contain each probe key: `(<probeCol>, file_path)`.
    * A file qualifies iff every word the probe needs is present with
    * all its bits set (a missing word row is an unset bit — the
    * count-equality form needs no key×file grid). Guaranteed to
    * include every file that truly contains the key. */
  def bloomMayContain(manifest: DataFrame, probes: DataFrame, probeCol: String,
      mBits: Int, nHashes: Int): DataFrame = {
    val need = wordsOf(probes, col(probeCol), probeCol, col(probeCol), mBits, nHashes)
      .withColumnRenamed("word", "__mask")
    val needCounts = need.groupBy(col(probeCol)).agg(count(lit(1)).as("__nw"))
    need.join(manifest, Seq("word_idx"))
      .where((col("word").bitwiseAND(col("__mask"))) === col("__mask"))
      .groupBy(col(probeCol), col("file_path")).agg(count(lit(1)).as("__ok"))
      .join(broadcast(needCounts), Seq(probeCol))
      .where(col("__ok") === col("__nw"))
      .select(col(probeCol), col("file_path"))
  }

  /** Bloom skip-scan point lookup: read ONLY the files whose filter
    * might contain one of `keys`, then apply the exact IN predicate
    * (no false negatives ⇒ result ≡ full-table filter). */
  def bloomPrunedRead(spark: SparkSession, path: String, manifest: DataFrame,
      keyCol: String, keys: Seq[Any], mBits: Int = 4096,
      nHashes: Int = 4): DataFrame = {
    require(keys.nonEmpty, "no probe keys")
    import spark.implicits._
    // probe on the key's STRING form — the same canonicalization the
    // build hashed through keyHash's internal cast
    val probes = keys.map(_.toString).toDF("__probe")
    val files = bloomMayContain(manifest, probes, "__probe", mBits, nHashes)
      .select(col("file_path")).distinct().collect().map(_.getString(0)).sorted
    if (files.isEmpty) spark.read.parquet(path).where(lit(false))
    else spark.read.parquet(files.toIndexedSeq: _*)
      .where(col(keyCol).cast("string").isin(keys.map(_.toString): _*))
  }

  /** Skip-scan: read ONLY the files whose stats envelope overlaps
    * [lo, hi], then apply the exact residual predicate (file overlap is
    * necessary, not sufficient). Result ≡ reading the whole table with
    * the same predicate; the plan's file source lists just the
    * surviving files. With zero surviving files, returns an empty frame
    * with the table's schema (footer-only scan of `path`). */
  def prunedRead(spark: SparkSession, path: String, manifest: DataFrame,
      statCol: String, lo: Column, hi: Column): DataFrame = {
    val files = overlapping(manifest, statCol, lo, hi)
      .select(col("file_path")).collect().map(_.getString(0)).sorted
    val residual = (c: Column) => c.between(lo, hi)
    if (files.isEmpty) spark.read.parquet(path).where(lit(false))
    else spark.read.parquet(files.toIndexedSeq: _*).where(residual(col(statCol)))
  }
}
