package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Winnowing document fingerprints (Schleimer, Wilkerson, Aiken,
 * "Winnowing: Local Algorithms for Document Fingerprinting",
 * SIGMOD 2003 — the MOSS algorithm). Position-robust fingerprint
 * SELECTION on top of the k-gram hash stream: slide a window of `w`
 * consecutive k-gram hashes and keep the minimum of each window
 * (rightmost position on hash ties). Guarantees: any shared substring
 * of at least `w + k − 1` tokens produces at least one shared selected
 * fingerprint, and the selected density is ~2/(w+1) — a tunable
 * fraction of [[Dedup.spanTable]]'s every-position stream.
 *
 * Exactness / portability: gram hashes are the md5-derived 60-bit
 * family ([[Dedup.SketchHash.Portable]]) folded to 20 bits, so DuckDB
 * reproduces every selection bit-for-bit. The rightmost-min tie-break
 * is folded INTO the window min by encoding
 * `key = h20·2^20 + (2^20 − 1 − pos)`: among equal hashes a larger
 * position gives a strictly smaller key, so one plain `min(key)` window
 * — no argmin, no second pass — yields both the winning hash
 * (`key div 2^20`) and its position (`2^20 − 1 − key mod 2^20`).
 *
 * Scale shape: everything is partitioned by document — the window
 * frames are bounded by `w`, the shuffle key is the doc id, and only
 * 20-bit hashes + positions travel after the gram stream is hashed.
 * The overlap join moves the winnowed fingerprint table (~2/(w+1) of
 * the gram count) and caps hub fingerprints by document frequency
 * before pairing, the same guard [[SetSimilarity]] uses.
 */
object Winnowing {

  /** Positions are encoded in 20 bits — documents must stay under ~1M
    * k-grams. A 100 TB corpus hits this per-document bound long after
    * it hits every sane tokenizer bound; fail loudly rather than alias. */
  private val PosSpace = 1048576L

  /** (doc, pos, key) winnowing-key stream + per-doc gram count. 1-based
    * positions (mirrors the SQL oracle's `range(1, …)` convention). */
  private def keyTable(df: DataFrame, textCol: String, idCol: String,
      k: Int): DataFrame = {
    val sess = df.sparkSession
    val grams = df
      .select(col(idCol).as("doc"), TextAnalysis.tokens(col(textCol)).as("__toks"))
      .repartition(sess.sparkContext.defaultParallelism)
      .select(col("doc"),
        posexplode(Dedup.shinglesOfTokens(col("__toks"), k)).as(Seq("p0", "g")))
    val h20 = conv(substring(md5(col("g")), 1, 15), 16, 10).cast("long") % PosSpace
    grams.select(col("doc"), (col("p0") + 1).as("pos"),
      (h20 * PosSpace + (lit(PosSpace - 1) - (col("p0") + 1))).as("key"))
  }

  /**
   * Selected fingerprints: one row per distinct `(doc, fp_pos, fp_hash)`
   * the winnow keeps. Windows are the `w` full-width frames ending at
   * positions `w..n`; a document shorter than `w` grams contributes its
   * single all-gram window (the final row's frame), so every non-empty
   * document yields at least one fingerprint.
   */
  def fingerprints(df: DataFrame, textCol: String, idCol: String,
      k: Int = 5, w: Int = 4): DataFrame = {
    require(k >= 1 && w >= 1, s"k and w must be positive, got k=$k w=$w")
    val byDoc = Window.partitionBy("doc")
    val frame = byDoc.orderBy("pos").rowsBetween(-(w - 1), Window.currentRow)
    keyTable(df, textCol, idCol, k)
      .withColumn("n_grams", count(lit(1)).over(byDoc))
      .withColumn("mk", min(col("key")).over(frame))
      .where(col("pos") >= w || col("pos") === col("n_grams"))
      .select(col("doc"), col("n_grams"),
        expr(s"mk div $PosSpace").as("fp_hash"),
        (lit(PosSpace - 1) - col("mk") % PosSpace).as("fp_pos"))
      .distinct()
  }

  /** Per-document fingerprint profile: gram count, selected-fingerprint
    * count, and the exact milli-density (~2000/(w+1) by the winnowing
    * density theorem — the spec pins the band). */
  def profile(df: DataFrame, textCol: String, idCol: String,
      k: Int = 5, w: Int = 4): DataFrame =
    fingerprints(df, textCol, idCol, k, w)
      .groupBy(col("doc").as(idCol), col("n_grams"))
      .agg(count(lit(1)).as("n_fp"))
      .withColumn("fp_milli", expr("(n_fp * 1000) div n_grams"))
      .select(col(idCol), col("n_grams"), col("n_fp"), col("fp_milli"))

  /**
   * Winnow-based benchmark contamination: per corpus document, how many
   * of its winnowed fingerprints appear among the BENCHMARK's winnowed
   * fingerprints. The cheap arm of [[Decontaminate.contaminationStats]]:
   * both sides shrink to the ~2/(w+1) fingerprint density BEFORE the
   * broadcast join, and the winnowing guarantee still bounds what can
   * hide — any shared run of ≥ `w + k − 1` tokens shares at least one
   * fingerprint, so long verbatim contamination cannot slip through;
   * only sub-guarantee overlaps can. Output:
   * `(idCol, n_fp, n_hit_fp, hit_milli)` for every corpus doc with ≥ 1
   * fingerprint.
   */
  def contaminationStats(corpus: DataFrame, bench: DataFrame, textCol: String,
      idCol: String, k: Int = 5, w: Int = 4): DataFrame = {
    val corpusFp = fingerprints(corpus, textCol, idCol, k, w)
      .select(col("doc").as(idCol), col("fp_hash")).distinct()
    val benchFp = fingerprints(bench, textCol, idCol, k, w)
      .select(col("fp_hash")).distinct().withColumn("__hit", lit(1L))
    corpusFp
      .join(broadcast(benchFp), Seq("fp_hash"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_fp"),
        sum(coalesce(col("__hit"), lit(0L))).as("n_hit_fp"))
      .withColumn("hit_milli", expr("(n_hit_fp * 1000) div n_fp"))
  }

  /**
   * Cross-document overlap: pairs sharing at least `minShared` distinct
   * winnowed hashes, hub hashes (selected in more than `maxDf`
   * documents) dropped before pairing — a fingerprint every document
   * carries identifies nothing and would quadratically explode the
   * bucket join, exactly the [[SetSimilarity]]/[[Dedup]] cap rationale.
   * Output: `(id_a, id_b, n_shared)`.
   */
  def overlapPairs(df: DataFrame, textCol: String, idCol: String,
      k: Int = 5, w: Int = 4, minShared: Int = 2, maxDf: Int = 64): DataFrame = {
    val fp = fingerprints(df, textCol, idCol, k, w)
      .select(col("doc"), col("fp_hash")).distinct()
    // document frequency via grouped counts joined back, never a window
    // partitioned by hash — a hub hash would buffer its whole posting
    // list in one window partition (the [[Privacy]] class-size rationale)
    val dfCounts = fp.groupBy("fp_hash").agg(count(lit(1)).as("__df"))
    val kept = fp.join(dfCounts.where(col("__df") <= maxDf), Seq("fp_hash"))
      .select("doc", "fp_hash")
    val a = kept.select(col("doc").as("id_a"), col("fp_hash"))
    val b = kept.select(col("doc").as("id_b"), col("fp_hash"))
    a.join(b, Seq("fp_hash"))
      .where(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b")
      .agg(count(lit(1)).as("n_shared"))
      .where(col("n_shared") >= minShared)
  }
}
