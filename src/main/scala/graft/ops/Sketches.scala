package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Fixed-memory sketch operators. At the 100 TB tier a plain
 * `count(DISTINCT token)` shuffles every distinct value; a HyperLogLog
 * register set shuffles at most `m` small integers per stratum no matter
 * how many distinct values exist — the shuffle payload is bounded by the
 * sketch, not the data.
 *
 * This HLL is deliberately NOT `approx_count_distinct`: Spark's built-in
 * uses an engine-private hash/dense-encoding, so its output can never be
 * value-checked against another engine. Ours is built from the portable
 * 60-bit md5 key hash ([[Sampling.keyHash]]) and plain integer/bit
 * arithmetic, so DuckDB reproduces every register — and therefore the
 * estimate — bit for bit (see `SketchSql.hllSql`).
 *
 * Layout (p = 6, m = 64 registers): for each value,
 * `h = keyHash(value)` (60 bits), `bucket = h % m` (low p bits),
 * `rest = h >> p` (54 bits), `rho = 55 - bitlen(rest)` (leading-zero
 * rank in the 54-bit field, 55 when rest = 0). The register is
 * `M_j = max(rho)` per bucket — idempotent, so duplicate values need no
 * pre-DISTINCT and partial aggregation combines map-side.
 *
 * The harmonic sum is kept EXACT: `S = Σ_j 2^(55 - M_j)` is an integer
 * (M_j ≤ 55; empty registers contribute 2^55; max S = 64·2^55 = 2^61,
 * no overflow), so the only float op is one literal-by-integer division
 * — bit-identical across IEEE-754 engines. The small-range (linear
 * counting) correction needs `ln`, whose last ulp is libm-specific, so
 * it is left to callers; the oracle-checked surface is registers +
 * exact scaled sum + raw estimate.
 */
object Sketches {

  /** register-count exponent: m = 2^P registers per stratum. */
  final val P = 6
  final val M = 1 << P // 64
  /** bits in the rho field: 60-bit hash minus P bucket bits. */
  final val RestBits = 60 - P // 54

  /** alpha_m · m² · 2^55 — the HLL bias constant pre-multiplied so the
    * estimate is one division; computed on the driver and embedded as
    * the same literal in both engines. */
  val EstimateNumerator: Double = {
    val alpha = 0.7213 / (1.0 + 1.079 / M)
    alpha * M * M * math.pow(2.0, 55)
  }

  /** The (bucket, rho) expression pair of one value, which the register
    * builders aggregate over. */
  def hllBucketRho(valueCol: Column): (Column, Column) = {
    val h = Sampling.keyHash(valueCol)
    val rest = shiftright(h, P)
    // bitlen via bin(): both engines' bin() render the minimal binary
    // string, so rho needs no log2 (whose float error would be fatal here)
    val rho = when(rest === 0, lit(55))
      .otherwise(lit(55) - length(bin(rest)))
    ((h % M).cast("int"), rho)
  }

  /** Per-(stratum, bucket) max-rho registers. Only non-empty buckets
    * appear; [[hllEstimate]] accounts for the missing ones exactly. */
  def hllRegisters(df: DataFrame, strataCol: String, valueCol: Column): DataFrame = {
    val (bucket, rho) = hllBucketRho(valueCol)
    df.select(col(strataCol), bucket.as("bucket"), rho.as("rho"))
      .groupBy(col(strataCol), col("bucket"))
      .agg(max(col("rho")).as("rho"))
  }

  /**
   * Merge register sets built on disjoint (or overlapping — max is
   * idempotent) slices of a corpus: per-(stratum, bucket) max. THIS is
   * what makes the sketch useful at 100 TB: registers are built
   * shard-wise / day-wise where the data lives, and combining them is a
   * union of ≤ m rows per stratum per shard — never a rescan of the
   * text. `merge(build(A), build(B)) == build(A ∪ B)` exactly, register
   * for register (spec-asserted and oracle-checked by
   * `text_distinct_hll_merged`).
   */
  def hllMerge(registers: Seq[DataFrame], strataCol: String): DataFrame = {
    require(registers.nonEmpty, "nothing to merge")
    registers.reduce(_ unionByName _)
      .groupBy(col(strataCol), col("bucket"))
      .agg(max(col("rho")).as("rho"))
  }

  /**
   * Estimate from a register frame (`(strata, bucket, rho)` — the
   * output shape of [[hllRegisters]] / [[hllMerge]]): one row per
   * stratum `(strata, n_zero_registers, s_scaled, raw_estimate)`.
   * `s_scaled` is the exact integer harmonic sum Σ 2^(55 - M_j);
   * `raw_estimate = EstimateNumerator / s_scaled` is the uncorrected
   * HLL estimate. All three are cross-engine exact.
   */
  def hllEstimateFromRegisters(registers: DataFrame, strataCol: String): DataFrame =
    registers
      .groupBy(col(strataCol))
      .agg(
        (lit(M) - count(lit(1))).as("n_zero_registers"),
        // shift amount is a column, which the Scala shiftleft API can't
        // express — the SQL form ShiftLeft(col, col) can
        (sum(expr("shiftleft(CAST(1 AS BIGINT), 55 - rho)")) +
          (lit(M) - count(lit(1))) * lit(1L << 55)).as("s_scaled"))
      .select(col(strataCol), col("n_zero_registers"), col("s_scaled"),
        (lit(EstimateNumerator) / col("s_scaled").cast("double")).as("raw_estimate"))

  /** [[hllEstimateFromRegisters]] over a single frame's registers. */
  def hllEstimate(df: DataFrame, strataCol: String, valueCol: Column): DataFrame =
    hllEstimateFromRegisters(hllRegisters(df, strataCol, valueCol), strataCol)

  /**
   * Sliding-window distinct estimate: registers are built ONCE per
   * integer time unit, then each unit's ≤ m register rows are fanned
   * out (a generator, no join) to the `width` windows that unit serves
   * — window_end ∈ [unit, unit + width − 1] — and merged per window by
   * the usual idempotent max. The naive form rescans every event
   * `width` times; this rescans nothing and shuffles only
   * register-sized frames (units × m rows), which is what overlapping
   * windows over a 100 TB event log require. Windows at the head/tail
   * of the range are emitted with the units that exist (standard
   * partial-window semantics; filter on `window_end` to trim).
   * Output: [[hllEstimateFromRegisters]] keyed by `window_end`.
   */
  def hllSliding(df: DataFrame, unitCol: Column, valueCol: Column,
      width: Int): DataFrame = {
    require(width >= 1, s"window width must be >= 1: $width")
    val regs = hllRegisters(
      df.select(unitCol.cast("long").as("unit"), valueCol.as("__v")),
      "unit", col("__v"))
    val fanned = regs.select(
      explode(sequence(col("unit"), col("unit") + (width - 1))).as("window_end"),
      col("bucket"), col("rho"))
    hllEstimateFromRegisters(
      fanned.groupBy(col("window_end"), col("bucket"))
        .agg(max(col("rho")).as("rho")),
      "window_end")
  }

  // ---- count-min sketch --------------------------------------------------

  /** CMS bucket of a value in hash row `i`: the portable 60-bit md5 key
    * hash of the seeded value, mod the row width — same `"seed:value"`
    * prefixing as [[Sharding]], mirrored in SQL as
    * `md5(CAST(i AS VARCHAR) || ':' || value)`. */
  def cmsBucket(value: Column, i: Int, w: Int): Column =
    pmod(Sampling.keyHash(concat(lit(s"$i:"), value.cast("string"))), lit(w))

  /**
   * Count-min sketch of a value stream: `d` hash rows × `w` buckets of
   * plain counts. The explode is d small structs per row, partial-count
   * combined map-side, so the only shuffle carries at most `d·w` rows
   * per upstream partition — the frequency table's size is fixed by the
   * sketch, never by the vocabulary. Output: `(r, bucket, cnt)`.
   */
  def cmsSketch(df: DataFrame, valueCol: Column, d: Int = 4, w: Int = 256): DataFrame = {
    require(d >= 1 && w >= 2, s"bad CMS shape: d=$d w=$w")
    val rows = (0 until d).map(i =>
      struct(lit(i).as("r"), cmsBucket(valueCol, i, w).as("bucket")))
    df.select(explode(array(rows: _*)).as("rb"))
      .select(col("rb.r").as("r"), col("rb.bucket").as("bucket"))
      .groupBy(col("r"), col("bucket"))
      .agg(count(lit(1)).as("cnt"))
  }

  /**
   * Merge CMS sketches built on disjoint slices of a stream:
   * per-(r, bucket) SUM — counts are linear, so
   * `merge(sketch(A), sketch(B)) == sketch(A ⊎ B)` exactly. Same
   * shard-wise build story as [[hllMerge]]: each shard ships at most
   * `d·w` count rows, never its values (oracle-checked by
   * `text_cms_topk_merged`).
   */
  def cmsMerge(sketches: Seq[DataFrame]): DataFrame = {
    require(sketches.nonEmpty, "nothing to merge")
    sketches.reduce(_ unionByName _)
      .groupBy(col("r"), col("bucket"))
      .agg(sum(col("cnt")).as("cnt"))
  }

  /**
   * Point-estimate probe frequencies against an already-built sketch
   * frame (`(r, bucket, cnt)` — the output shape of [[cmsSketch]] /
   * [[cmsMerge]]): the classic `min_i sketch[i][h_i(x)]` upper bound —
   * never an undercount, over only on collisions. The sketch is `d·w`
   * rows, so the probe join broadcasts; nothing here scales with the
   * stream's cardinality.
   */
  def cmsEstimateFromSketch(sketch: DataFrame, probes: DataFrame,
      probeCol: String, d: Int = 4, w: Int = 256): DataFrame = {
    // (d, w) are part of the sketch's identity: probing with different
    // values than the build silently misses buckets (left-join nulls →
    // coalesce(0) → estimates of 0, violating the never-undercount
    // contract). Validate the shape here like cmsSketch does; matching
    // the BUILD's values is the caller's contract, stated loudly.
    require(d >= 1 && w >= 2,
      s"bad CMS shape: d=$d w=$w (must equal the values the sketch was built with)")
    val pb = (0 until d).map(i =>
      struct(lit(i).as("r"), cmsBucket(col(probeCol), i, w).as("bucket")))
    probes
      .select(col(probeCol), explode(array(pb: _*)).as("rb"))
      .select(col(probeCol), col("rb.r").as("r"), col("rb.bucket").as("bucket"))
      .join(broadcast(sketch), Seq("r", "bucket"), "left")
      .groupBy(col(probeCol))
      .agg(min(coalesce(col("cnt"), lit(0L))).as("est_count"))
  }

  /** [[cmsEstimateFromSketch]] over a sketch of `df` built in place. */
  def cmsEstimate(df: DataFrame, valueCol: Column, probes: DataFrame,
      probeCol: String, d: Int = 4, w: Int = 256): DataFrame =
    cmsEstimateFromSketch(cmsSketch(df, valueCol, d, w), probes, probeCol, d, w)

  /**
   * Equi-join SIZE estimate from two CMS sketches (AMS/CM inner product
   * — Cormode & Muthukrishnan 2005 §4.2): for each hash row `r`,
   * `dot_r = Σ_bucket cntA(r,b)·cntB(r,b)`; the estimate is
   * `min_r dot_r`. Since every pair of equal keys lands in the same
   * bucket of every row, each `dot_r ≥ |A ⋈ B|` — the estimate is an
   * UPPER bound that tightens with width, exactly the never-undercount
   * contract of [[cmsEstimateFromSketch]]. Probing a sketch against
   * ITSELF estimates the self-join size `F2 = Σ_k cnt(k)²` — the
   * second frequency moment that prices a join's blowup before anyone
   * runs it.
   *
   * The 100 TB story: the two sides exchange `d·w` counters each —
   * kilobytes — and the planner reads the output row; no scan of
   * either table happens at decision time. Both inputs must share
   * (d, w) and the hash family, i.e. come from [[cmsSketch]] /
   * [[cmsMerge]] with identical parameters (same caller contract as
   * [[cmsEstimateFromSketch]]).
   *
   * Products ride DECIMAL(38,0): counts at petabyte scale overflow a
   * BIGINT product long before they overflow the sketch. Output: one
   * row `(est)`.
   */
  def cmsJoinSizeEstimate(a: DataFrame, b: DataFrame): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    a.select(col("r"), col("bucket"), col("cnt").as("__ca"))
      .join(b.select(col("r"), col("bucket"), col("cnt").as("__cb")),
        Seq("r", "bucket"))
      .groupBy(col("r"))
      .agg(sum(col("__ca").cast(dec) * col("__cb").cast(dec)).as("__dot"))
      .agg(min(col("__dot")).as("est"))
  }

  // ---- histogram quantiles -----------------------------------------------

  /**
   * Fixed-memory quantile estimation: equi-width histogram over an
   * integer column, quantile = lower edge of the first bin whose
   * cumulative count reaches rank `ceil(n·q)`. The exact-sort
   * `percentile` in this repo's `text_len_quantiles` shuffles every
   * group value; this sketch shuffles at most `nBins` counts per
   * stratum, which is the shape that survives a 100 TB column. Error is
   * bounded by one bin width.
   *
   * Everything up to the final reported edge is INTEGER arithmetic —
   * `bin = ((v - lo)·nBins) div (hi - lo)`, `rank = (n·qn + qd - 1) div
   * qd` with quantiles given as exact rationals `qn/qd` — so the DuckDB
   * oracle matches bit for bit; the edge is one exact-int-to-double
   * division at the end. The cumulative window is partitioned by
   * stratum over ≤ nBins rows, never the data.
   *
   * BIGINT bound: `(v - lo) * nBins` must stay below 2^63, i.e. the
   * per-stratum value RANGE `hi - lo` must be < 2^63 / nBins (≈ 1.4e17
   * at nBins = 64). Counters/lengths/timestamps-in-ms all sit orders of
   * magnitude under this; for a column that genuinely spans more, scale
   * the values down (the sketch's error is a bin width anyway) rather
   * than widening the arithmetic — DuckDB raises on BIGINT overflow
   * while non-ANSI Spark wraps, so exceeding the bound diverges engines.
   *
   * Output: `(strata, q, n_rows, bin, est)`.
   */
  def histQuantiles(df: DataFrame, strataCol: String, valueCol: String,
      nBins: Int, qs: Seq[(Int, Int)]): DataFrame = {
    val bounds = histBounds(df, strataCol, valueCol)
    histQuantilesFromCounts(
      histBinCounts(df, strataCol, valueCol, nBins, bounds),
      bounds, strataCol, nBins, qs)
  }

  /** Per-stratum `(strata, __lo, __hi, __n)` bounds — the tiny global
    * pre-pass that FIXES the bin edges. Shard-wise histogram builds must
    * all bin against the same bounds or their counts don't merge. */
  def histBounds(df: DataFrame, strataCol: String, valueCol: String): DataFrame =
    df.groupBy(col(strataCol)).agg(
      min(col(valueCol)).as("__lo"), max(col(valueCol)).as("__hi"),
      count(lit(1)).as("__n"))

  /** Equi-width bin counts `(strata, bin, cnt)` of `df` against
    * caller-fixed `bounds` ([[histBounds]] shape, broadcast). */
  def histBinCounts(df: DataFrame, strataCol: String, valueCol: String,
      nBins: Int, bounds: DataFrame): DataFrame = {
    require(nBins >= 2, s"nBins too small: $nBins")
    df.select(col(strataCol), col(valueCol))
      .join(broadcast(bounds), Seq(strataCol))
      .select(col(strataCol),
        when(col("__hi") === col("__lo"), lit(0L))
          .otherwise(least(lit(nBins - 1L),
            expr(s"(($valueCol - __lo) * $nBins) div (__hi - __lo)")))
          .as("bin"))
      .groupBy(col(strataCol), col("bin")).agg(count(lit(1)).as("cnt"))
  }

  /** Merge shard-local bin counts by per-(stratum, bin) SUM — linear,
    * like [[cmsMerge]]: shards binned against the SAME bounds sum to the
    * whole corpus's histogram cell for cell, ≤ nBins rows per stratum
    * per shard on the wire (oracle-checked by `text_len_hist_merged`). */
  def histMerge(counts: Seq[DataFrame], strataCol: String): DataFrame = {
    require(counts.nonEmpty, "nothing to merge")
    counts.reduce(_ unionByName _)
      .groupBy(col(strataCol), col("bin"))
      .agg(sum(col("cnt")).as("cnt"))
  }

  /** Quantile estimates from a bin-count frame ([[histBinCounts]] /
    * [[histMerge]] shape) plus its `bounds` — the rank scan of
    * [[histQuantiles]]'s contract, unchanged. */
  def histQuantilesFromCounts(counts: DataFrame, bounds: DataFrame,
      strataCol: String, nBins: Int, qs: Seq[(Int, Int)]): DataFrame = {
    require(nBins >= 2, s"nBins too small: $nBins")
    require(qs.nonEmpty && qs.forall { case (n, d) => n > 0 && n <= d },
      s"quantiles must be rationals in (0,1]: $qs")
    import org.apache.spark.sql.expressions.Window
    val wCum = Window.partitionBy(col(strataCol)).orderBy(col("bin"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = counts.withColumn("cum", sum(col("cnt")).over(wCum))
    val qcols = qs.map { case (qn, qd) =>
      struct(lit(qn).as("qn"), lit(qd).as("qd")) }
    cum
      .join(broadcast(bounds), Seq(strataCol))
      .select(col(strataCol), col("bin"), col("cum"),
        col("__lo"), col("__hi"), col("__n"),
        explode(array(qcols: _*)).as("q"))
      .select(col(strataCol), col("bin"), col("cum"), col("__lo"), col("__hi"),
        col("__n"), col("q.qn").as("qn"), col("q.qd").as("qd"))
      .where(col("cum") >= expr("(__n * qn + qd - 1) div qd"))
      .groupBy(col(strataCol), col("qn"), col("qd"), col("__lo"), col("__hi"), col("__n"))
      .agg(min(col("bin")).as("bin"))
      .select(col(strataCol),
        (col("qn").cast("double") / col("qd")).as("q"),
        col("__n").as("n_rows"), col("bin"),
        ((col("__lo") * nBins + col("bin") * (col("__hi") - col("__lo")))
          .cast("double") / nBins).as("est"))
  }

  // ---- KMV (k-minimum-values / bottom-k) sketch --------------------------

  /**
   * Per-stratum bottom-k DISTINCT-hash sketch (Beyer et al., "On synopses
   * for distinct-value estimation under multiset operations", SIGMOD'07 —
   * re-derived, not copied). Where HLL answers only "how many distinct",
   * a KMV sketch is a uniform SAMPLE of the distinct-value space: k small
   * integers per stratum that support distinct-count estimation AND set
   * algebra — union (merge), and from a merged sketch, Jaccard /
   * containment between corpora — without ever materializing an
   * intersection. That is the 100 TB use: "how much does crawl A overlap
   * crawl B" as a bottom-k merge of two k-row sketches instead of a
   * distinct-join of two full corpora.
   *
   * Shape: hashes are portable md5-60 ([[Sampling.keyHash]]), so the
   * sketch is uniform on [0, 2^60) and every row is oracle-reproducible.
   * The `distinct()` is an aggregate — map-side partial dedup bounds the
   * shuffle by per-partition distinct hashes, not row count. The
   * bottom-k itself is two streaming `row_number` passes: first within
   * `salts` hash-salted subgroups (each of the k global minima is
   * necessarily within its salt's bottom-k, so correctness is layout- and
   * salt-independent), then over the ≤ salts·k survivors per stratum —
   * the single-key window only ever sees a sketch-sized frame, so a
   * billion-distinct stratum costs the same final pass as a thousand-
   * distinct one.
   *
   * Output: `(strata, pos, h)` with `pos` = 1-based rank of `h` among
   * the stratum's distinct hashes, `pos ≤ k`.
   */
  def kmvSketch(df: DataFrame, strataCol: String, valueCol: Column, k: Int,
      salts: Int = 64): DataFrame = {
    require(k >= 2, s"k too small: $k")
    import org.apache.spark.sql.expressions.Window
    val hashes = df.select(col(strataCol), Sampling.keyHash(valueCol).as("h")).distinct()
    val wSalt = Window.partitionBy(col(strataCol), col("__salt")).orderBy(col("h"))
    val survivors = hashes
      .withColumn("__salt", pmod(col("h"), lit(salts.toLong)))
      .withColumn("__rn", row_number().over(wSalt))
      .where(col("__rn") <= k)
      .drop("__salt", "__rn")
    bottomK(survivors, strataCol, k)
  }

  /** Final bottom-k rank over an already-sketch-sized `(strata, h)` frame
    * (distinct hashes). Shared by [[kmvSketch]] and [[kmvMerge]]. */
  private def bottomK(hashes: DataFrame, strataCol: String, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(strataCol)).orderBy(col("h"))
    hashes.withColumn("pos", row_number().over(w))
      .where(col("pos") <= k)
      .select(col(strataCol), col("pos"), col("h"))
  }

  /**
   * Merge shard-local KMV sketches: bottom-k of the distinct union —
   * EXACTLY the sketch of the unioned corpora (bottom-k is idempotent
   * and commutes with union), so shards/days build independently and
   * merge by shipping k hashes each, never rescanning values. The input
   * is sketch-sized (shards·k rows per stratum), so every step here is
   * trivially bounded.
   */
  def kmvMerge(sketches: Seq[DataFrame], strataCol: String, k: Int): DataFrame = {
    require(sketches.nonEmpty, "nothing to merge")
    val u = sketches.map(_.select(col(strataCol), col("h"))).reduce(_ unionByName _)
    bottomK(u.distinct(), strataCol, k)
  }

  /**
   * Distinct-count estimate from a [[kmvSketch]] frame: when the stratum
   * filled the sketch (`n_sketch = k`), `est = (k-1) · 2^60 / h_k` with
   * `h_k` the k-th smallest hash (the standard unbiased KMV estimator on
   * a [0, 2^60) hash space); a stratum with fewer distinct values than k
   * holds ALL of them, so the count is exact. Integer inputs throughout;
   * the only float op is the final division (the bigint→double casts
   * round identically under IEEE-754 in both engines).
   *
   * Output: `(strata, n_sketch, kth_hash, est)` — `kth_hash` null on the
   * exact branch.
   */
  def kmvEstimate(sketch: DataFrame, strataCol: String, k: Int): DataFrame = {
    val num = (k - 1).toDouble * math.pow(2.0, 60) // exact: (k-1) · 2^60
    sketch.groupBy(col(strataCol))
      .agg(count(lit(1)).as("n_sketch"), max(col("h")).as("__hmax"))
      .select(col(strataCol), col("n_sketch"),
        when(col("n_sketch") === k, col("__hmax")).as("kth_hash"),
        when(col("n_sketch") === k, lit(num) / col("__hmax").cast("double"))
          .otherwise(col("n_sketch").cast("double")).as("est"))
  }

  /**
   * Jaccard estimate between two corpora from their KMV sketches: with
   * `U` = the merged (union) sketch, `J ≈ |U ∩ A ∩ B| / |U|` — the
   * fraction of the union's bottom-k sample present in both sides. A
   * k-row broadcast join per side; exact when both strata are smaller
   * than k. Output: `(strata, k_union, n_both, jaccard_est)`.
   */
  def kmvJaccard(a: DataFrame, b: DataFrame, strataCol: String, k: Int): DataFrame = {
    val u = kmvMerge(Seq(a, b), strataCol, k)
    val inA = a.select(col(strataCol), col("h")).withColumn("__in_a", lit(1))
    val inB = b.select(col(strataCol), col("h")).withColumn("__in_b", lit(1))
    u.join(broadcast(inA), Seq(strataCol, "h"), "left")
      .join(broadcast(inB), Seq(strataCol, "h"), "left")
      .groupBy(col(strataCol))
      .agg(count(lit(1)).as("k_union"),
        sum(when(col("__in_a") === 1 && col("__in_b") === 1, 1L).otherwise(0L))
          .as("n_both"))
      .select(col(strataCol), col("k_union"), col("n_both"),
        (col("n_both").cast("double") / col("k_union").cast("double"))
          .as("jaccard_est"))
  }

  /**
   * DIRECTIONAL overlap from the same sketches: what fraction of A's
   * distinct values also appear in B — `C(A,B) ≈ |U ∩ A ∩ B| / |U ∩ A|`
   * with `U` the merged bottom-k (within U, A's members are a uniform
   * sample of A, so the in-B fraction estimates the containment). This
   * is the contamination question Jaccard can't answer: a tiny corpus
   * fully contained in a huge one has near-zero Jaccard but containment
   * 1. Same k-row frames, exact integer counts, one division. Output:
   * `(strata, n_a_sample, n_both, containment_est)`; strata where the
   * union sketch caught none of A report a 0-denominator as null.
   */
  def kmvContainment(a: DataFrame, b: DataFrame, strataCol: String, k: Int): DataFrame = {
    val u = kmvMerge(Seq(a, b), strataCol, k)
    val inA = a.select(col(strataCol), col("h")).withColumn("__in_a", lit(1))
    val inB = b.select(col(strataCol), col("h")).withColumn("__in_b", lit(1))
    u.join(broadcast(inA), Seq(strataCol, "h"), "left")
      .join(broadcast(inB), Seq(strataCol, "h"), "left")
      .groupBy(col(strataCol))
      .agg(
        sum(when(col("__in_a") === 1, 1L).otherwise(0L)).as("n_a_sample"),
        sum(when(col("__in_a") === 1 && col("__in_b") === 1, 1L).otherwise(0L))
          .as("n_both"))
      .select(col(strataCol), col("n_a_sample"), col("n_both"),
        when(col("n_a_sample") > 0,
          col("n_both").cast("double") / col("n_a_sample").cast("double"))
          .as("containment_est"))
  }
}
