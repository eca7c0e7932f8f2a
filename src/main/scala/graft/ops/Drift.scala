package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Column profiling and profile drift — the monitoring layer that
 * catches a 100 TB ingest going quietly wrong: a feed that starts
 * nulling a column, a cardinality collapse (every `source` suddenly
 * "unknown"), a column added or dropped upstream.
 *
 * [[profile]] long-forms the chosen columns in-plan (one generator —
 * `(col_name, stringified value)` pairs; no per-column jobs) and runs
 * ONE aggregation for null counts plus ONE [[Sketches]] HLL register
 * build for distinct estimates — two shuffles total for any number of
 * columns, both over map-side-combined register/count-sized frames.
 * Values are profiled through their canonical string form (the same
 * canonicalization [[Sampling.keyHash]] uses), which is what makes the
 * sketch portable and the oracle mirrorable.
 *
 * [[drift]] full-outer-joins two profiles on the column name:
 * added/removed columns surface as status rows, shared columns carry
 * before/after null rates (exact milli) and distinct-sketch sums —
 * profile-sized frames, so drift itself costs nothing at any scale.
 */
object Drift {

  /** Per-column profile: `(col_name, n_rows, n_null, null_milli,
    * s_scaled, raw_estimate)` — null rate exact in milli-units,
    * distinct cardinality as the portable HLL estimate (s_scaled is
    * the exact integer register sum; see [[Sketches]]). */
  def profile(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "no columns to profile")
    val stacked = df.select(explode(array(cols.map(c =>
        struct(lit(c).as("col_name"), col(c).cast("string").as("v"))): _*)).as("s"))
      .select(col("s.col_name").as("col_name"), col("s.v").as("v"))
    val nulls = stacked.groupBy(col("col_name"))
      .agg(count(lit(1)).as("n_rows"),
        sum(when(col("v").isNull, 1L).otherwise(0L)).as("n_null"))
      .withColumn("null_milli", expr("(n_null * 1000) div n_rows"))
    val distincts = Sketches.hllEstimateFromRegisters(
      Sketches.hllRegisters(stacked.where(col("v").isNotNull), "col_name", col("v")),
      "col_name")
    // left join: a column that is ENTIRELY null has no registers — its
    // distinct estimate is 0 by definition, not missing
    nulls.join(distincts.select(col("col_name"), col("s_scaled"), col("raw_estimate")),
        Seq("col_name"), "left")
      .select(col("col_name"), col("n_rows"), col("n_null"), col("null_milli"),
        coalesce(col("s_scaled"), lit(0L)).as("s_scaled"),
        coalesce(col("raw_estimate"), lit(0.0)).as("raw_estimate"))
  }

  /**
   * Vector-column ingest gate: per stratum, the counts that catch a
   * broken embedding feed BEFORE it poisons an index build — null
   * vectors, wrong dimensionality, non-finite elements (NaN/±Inf: one
   * NaN makes every dot product NaN and silently empties a top-k), and
   * zero-norm vectors (cosine is undefined; they "match" everything at
   * 0). One columnar pass — `exists`/`size` per row, one grouped
   * aggregate, nothing data-sized after it.
   */
  def embeddingAudit(df: DataFrame, strataCol: String, vecCol: String,
      expectedDim: Int): DataFrame = {
    require(expectedDim >= 1, s"expectedDim must be >= 1: $expectedDim")
    val v = col(vecCol)
    val nonFinite = exists(v, x => isnan(x) || abs(x) > lit(Float.MaxValue))
    val zeroNorm = !exists(v, x => x =!= 0.0f)
    df.groupBy(col(strataCol)).agg(
      count(lit(1)).as("n_vecs"),
      sum(when(v.isNull, 1L).otherwise(0L)).as("n_null"),
      sum(when(v.isNotNull && size(v) =!= expectedDim, 1L).otherwise(0L))
        .as("n_wrong_dim"),
      sum(when(v.isNotNull && nonFinite, 1L).otherwise(0L)).as("n_nonfinite"),
      sum(when(v.isNotNull && zeroNorm, 1L).otherwise(0L)).as("n_zero_norm"))
  }

  /**
   * Distribution drift for an integer column: BOTH snapshots are binned
   * against the BEFORE snapshot's per-stratum [min, max] bounds (fixed
   * edges — bins only compare when the edges agree; this is the same
   * contract as [[Sketches.histMerge]]), with after-values outside the
   * old range CLAMPED into the edge bins — a mass bulge at bin 0 or
   * nBins−1 is itself the drift signal "the column's range moved".
   * Output per (stratum, bin): both counts and exact milli proportions
   * plus the signed milli delta and a per-stratum `status` ('common',
   * 'added' — stratum in after only, binned against its OWN bounds;
   * 'removed' — stratum vanished from after, proportions coalesced to
   * 0); ≤ nBins rows per stratum regardless of data volume. A drift
   * monitor exists exactly to catch appearing/vanishing strata, so
   * neither side is ever silently dropped or nulled.
   */
  def histDrift(before: DataFrame, after: DataFrame, strataCol: String,
      valueCol: String, nBins: Int): DataFrame = {
    require(nBins >= 2, s"nBins too small: $nBins")
    val bb = Sketches.histBounds(before, strataCol, valueCol)
      .select(col(strataCol), col("__lo").as("__lo_b"), col("__hi").as("__hi_b"))
    val ba = Sketches.histBounds(after, strataCol, valueCol)
      .select(col(strataCol), col("__lo").as("__lo_a"), col("__hi").as("__hi_a"))
    // BEFORE's edges stay authoritative for every stratum before knew;
    // an after-only stratum falls back to its own edges (presence, not
    // bin shape, is its signal)
    val bounds = bb.join(ba, Seq(strataCol), "full_outer")
      .select(col(strataCol),
        coalesce(col("__lo_b"), col("__lo_a")).as("__lo"),
        coalesce(col("__hi_b"), col("__hi_a")).as("__hi"))
    def binned(df: DataFrame, as: String) =
      df.select(col(strataCol), col(valueCol))
        .join(broadcast(bounds), Seq(strataCol))
        .select(col(strataCol),
          when(col("__hi") === col("__lo"), lit(0L))
            .otherwise(greatest(lit(0L), least(lit(nBins - 1L),
              expr(s"(($valueCol - __lo) * $nBins) div (__hi - __lo)"))))
            .as("bin"))
        .groupBy(col(strataCol), col("bin")).agg(count(lit(1)).as(as))
    binned(before, "n_before")
      .join(binned(after, "n_after"), Seq(strataCol, "bin"), "full_outer")
      .withColumn("n_before", coalesce(col("n_before"), lit(0L)))
      .withColumn("n_after", coalesce(col("n_after"), lit(0L)))
      .withColumn("__tb", sum(col("n_before"))
        .over(org.apache.spark.sql.expressions.Window.partitionBy(col(strataCol))))
      .withColumn("__ta", sum(col("n_after"))
        .over(org.apache.spark.sql.expressions.Window.partitionBy(col(strataCol))))
      .select(col(strataCol), col("bin"), col("n_before"), col("n_after"),
        when(col("__tb") === 0L, "added")
          .when(col("__ta") === 0L, "removed")
          .otherwise("common").as("status"),
        // ANSI-safe: an absent side has total 0; its proportion is 0
        when(col("__tb") === 0L, lit(0L))
          .otherwise(expr("(n_before * 1000) div __tb")).as("p_before_milli"),
        when(col("__ta") === 0L, lit(0L))
          .otherwise(expr("(n_after * 1000) div __ta")).as("p_after_milli"),
        (when(col("__ta") === 0L, lit(0L))
            .otherwise(expr("(n_after * 1000) div __ta")) -
          when(col("__tb") === 0L, lit(0L))
            .otherwise(expr("(n_before * 1000) div __tb"))).as("delta_milli"))
  }

  /** Per-stratum Kolmogorov–Smirnov distance in milli from a
    * [[histDrift]] frame: max over bins of the |cumulative delta| —
    * where total variation (Σ|delta|/2) totals how much mass moved, KS
    * finds the sharpest point of divergence between the two CDFs (a
    * small shift applied to EVERY value scores higher here than on TV).
    * A stratum on one side only is max drift, 1000. The cumulative
    * window is stratum-partitioned and ≤ nBins rows deep. */
  def ksMilli(drift: DataFrame, strataCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(strataCol)).orderBy(col("bin"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    drift.withColumn("__cum", sum(col("delta_milli")).over(w))
      .groupBy(col(strataCol))
      .agg(max(abs(col("__cum"))).as("__ks"),
        max(when(col("status") =!= "common", 1L).otherwise(0L)).as("__off"))
      .select(col(strataCol),
        when(col("__off") === 1L, lit(1000L))
          .otherwise(col("__ks")).as("ks_milli"))
  }

  /** Benford's-law first-digit milli frequencies, d = 1..9:
    * round(1000·log10(1 + 1/d)). */
  private val BenfordMilli: Seq[(Long, Long)] = Seq(
    1L -> 301L, 2L -> 176L, 3L -> 125L, 4L -> 97L, 5L -> 79L,
    6L -> 67L, 7L -> 58L, 8L -> 51L, 9L -> 46L)

  /**
   * Benford first-digit audit for a positive numeric column: per
   * stratum and leading digit, the observed count, exact milli share,
   * the Benford expectation, and the signed delta — the classic
   * fabricated-/degenerate-numbers screen (naturally-occurring
   * magnitudes follow log-uniform leading digits; generated or
   * truncated feeds don't). Only values ≥ 1 participate (leading digit
   * of the integer part); digits the stratum never produces still
   * emit a row (n = 0, delta = −benford), so a stratum stuck on one
   * digit shows its full miss. Σ|delta|/2 over a stratum's rows is the
   * total-variation severity. One aggregate over the
   * data; the 9-row digit spine joins broadcast.
   */
  def benfordAudit(df: DataFrame, strataCol: String, valueCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val digits = broadcast(BenfordMilli.toDF("digit", "benford_milli"))
    val counts = df.where(col(valueCol) >= 1)
      .select(col(strataCol),
        substring(floor(col(valueCol)).cast("long").cast("string"), 1, 1)
          .cast("long").as("digit"))
      .groupBy(col(strataCol), col("digit"))
      .agg(count(lit(1)).as("n"))
    val strata = counts.groupBy(col(strataCol)).agg(sum(col("n")).as("__tot"))
    strata.join(digits)
      .join(counts, Seq(strataCol, "digit"), "left")
      .select(col(strataCol), col("digit"),
        coalesce(col("n"), lit(0L)).as("n"),
        expr("(coalesce(n, 0L) * 1000) div __tot").as("p_milli"),
        col("benford_milli"),
        (expr("(coalesce(n, 0L) * 1000) div __tot") - col("benford_milli"))
          .as("delta_milli"))
  }

  /** Drift between two [[profile]] outputs. Status: 'added' (after
    * only), 'removed' (before only), 'common'. Shared columns carry
    * exact before/after null rates and the delta; the sketch sums let
    * a consumer flag cardinality collapse (s_scaled grows as distinct
    * count shrinks). */
  def drift(before: DataFrame, after: DataFrame): DataFrame = {
    val b = before.select(col("col_name"), col("null_milli").as("null_milli_before"),
      col("s_scaled").as("s_scaled_before"))
    val a = after.select(col("col_name"), col("null_milli").as("null_milli_after"),
      col("s_scaled").as("s_scaled_after"))
    b.join(a, Seq("col_name"), "full_outer")
      .select(col("col_name"),
        when(col("null_milli_before").isNull, "added")
          .when(col("null_milli_after").isNull, "removed")
          .otherwise("common").as("status"),
        col("null_milli_before"), col("null_milli_after"),
        (coalesce(col("null_milli_after"), lit(0L)) -
          coalesce(col("null_milli_before"), lit(0L))).as("null_milli_delta"),
        col("s_scaled_before"), col("s_scaled_after"))
  }
}
