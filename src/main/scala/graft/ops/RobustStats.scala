package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Outlier-robust location/spread statistics from EXACT order
 * statistics — the median/MAD pair telemetry pipelines use where one
 * fat-finger event would drag a mean/stddev arbitrarily far (the
 * breakdown point of the median is 50%; of the mean, one row).
 *
 * Exactness: the median is carried DOUBLED (`2·median` = the sum of
 * the two middle order statistics; for odd counts, twice the middle)
 * so even-count midpoints never divide — every emitted number is an
 * exact integer when the input is, and Spark and DuckDB agree bit for
 * bit. MAD composes the same primitive over absolute deviations from
 * the doubled median, landing at `4·MAD`.
 *
 * Scale shape: one rank window and one count window, both PARTITIONED
 * BY the group column (bounded by group size, never a whole-input
 * funnel), then a group aggregate. Groups are assumed numerous and
 * bounded (per-type, per-tenant, per-day) — a single billion-row group
 * would need a sketch-based quantile instead (see
 * [[Sketches.histQuantiles]]).
 */
object RobustStats {

  /**
   * Per-group doubled median of `vCol` (long-typed): output
   * `(groupCol, n, med_x2)` where `med_x2 = 2·median` exactly.
   */
  def medianX2(df: DataFrame, groupCol: String, vCol: String): DataFrame = {
    val w = Window.partitionBy(col(groupCol)).orderBy(col(vCol))
    val cw = Window.partitionBy(col(groupCol))
    df.withColumn("__rs_rn", row_number().over(w))
      .withColumn("__rs_n", count(lit(1)).over(cw))
      .groupBy(col(groupCol))
      .agg(max(col("__rs_n")).as("n"),
        // the two middle ranks coincide for odd n: that row sums once
        // and the ×2 restores the doubling. div, not /: Column./ on
        // longs is DOUBLE division
        (sum(when(col("__rs_rn") === expr("(__rs_n + 1) div 2") ||
          col("__rs_rn") === expr("(__rs_n + 2) div 2"), col(vCol)))
          * when(max(col("__rs_n")) % 2 === 1, 2).otherwise(1)).as("med_x2"))
  }

  /**
   * Per-group robust location + spread: `(groupCol, n, med_x2, mad_x4)`
   * — doubled median and quadrupled median-absolute-deviation, both
   * exact integers for integer input.
   */
  def medianMad(df: DataFrame, groupCol: String, vCol: String): DataFrame = {
    val m = medianX2(df, groupCol, vCol)
    val dev = df.join(m.select(col(groupCol), col("med_x2")), Seq(groupCol))
      .select(col(groupCol),
        abs(lit(2) * col(vCol) - col("med_x2")).as("__rs_dev2"))
    val mad = medianX2(dev, groupCol, "__rs_dev2")
      .select(col(groupCol), col("med_x2").as("mad_x4"))
    m.join(mad, Seq(groupCol))
  }

  /**
   * Pearson correlation from EXACT integer moments: the five sums run
   * in DECIMAL(38,0) (associative — a float `corr()` differs across
   * engines on summation order alone), and the final coefficient is
   * one fixed-shape double expression over those exact integers.
   * Division and multiplication are IEEE-deterministic, and `sqrt` is
   * CORRECTLY ROUNDED by IEEE-754 (unlike ln/pow, which are
   * libm-specific — see [[Sketches]] on why the small-range HLL
   * correction is not oracle-checked), so both engines produce the
   * same bits. Inputs must already be integral (cents/milli — the
   * caller's scaling).
   * Null-complete rows only: pairs with either side null are excluded
   * from every moment (the standard pairwise-complete contract).
   */
  def corrExact(df: DataFrame, strataCol: String, xCol: String,
      yCol: String): DataFrame = {
    val x = col(xCol).cast(org.apache.spark.sql.types.DecimalType(38, 0))
    val y = col(yCol).cast(org.apache.spark.sql.types.DecimalType(38, 0))
    df.where(col(xCol).isNotNull && col(yCol).isNotNull)
      .groupBy(col(strataCol))
      .agg(count(lit(1)).as("n"), sum(x).as("sum_x"), sum(y).as("sum_y"),
        sum(x * y).as("sum_xy"), sum(x * x).as("sum_x2"), sum(y * y).as("sum_y2"))
      .select(col(strataCol), col("n"),
        col("sum_x").cast("string").as("sum_x"),
        col("sum_y").cast("string").as("sum_y"),
        col("sum_xy").cast("string").as("sum_xy"),
        col("sum_x2").cast("string").as("sum_x2"),
        col("sum_y2").cast("string").as("sum_y2"),
        // one fixed expression shape, doubles only at the very end
        ((col("n") * col("sum_xy") - col("sum_x") * col("sum_y")).cast("double") /
          (sqrt((col("n") * col("sum_x2") - col("sum_x") * col("sum_x")).cast("double")) *
            sqrt((col("n") * col("sum_y2") - col("sum_y") * col("sum_y")).cast("double"))))
          .as("corr"))
  }

  /**
   * Distribution-free median confidence interval per stratum — the
   * binomial order-statistic construction: the ~95% CI endpoints are
   * the values at ranks `⌊(n − 1.96√n)/2⌋` and `⌈(n + 1.96√n)/2⌉ + 1`
   * (clamped to [1, n]) — no normality assumption, no resampling, one
   * rank window per stratum. √n is the only libm call (correctly
   * rounded), and floor/ceil over deterministic doubles pick identical
   * ranks in both engines. Values must be integral; ties break on
   * `tieCol`. Output: (stratum, n, median_x2 = lower+upper middle
   * values summed — the doubled-median convention of [[medianX2]] —
   * ci_lo, ci_hi).
   */
  def medianCiExact(df: DataFrame, strataCol: String, valueCol: String,
      tieCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(strataCol)).orderBy(col(valueCol), col(tieCol))
    val ranked = df
      .withColumn("__r", row_number().over(w))
      .withColumn("__n", count(lit(1)).over(Window.partitionBy(col(strataCol))))
    val rLo = greatest(lit(1L), expr(
      "cast(floor((cast(__n as double) - 1.96 * sqrt(cast(__n as double))) / 2.0) as long)"))
    val rHi = least(col("__n"), expr(
      "cast(ceil((cast(__n as double) + 1.96 * sqrt(cast(__n as double))) / 2.0) as long) + 1L"))
    val mLo = expr("(__n + 1) div 2")
    val mHi = expr("(__n + 2) div 2")
    ranked.groupBy(col(strataCol), col("__n").as("n"))
      .agg(
        (max(when(col("__r") === mLo, col(valueCol))) +
          max(when(col("__r") === mHi, col(valueCol)))).as("median_x2"),
        max(when(col("__r") === rLo, col(valueCol))).as("ci_lo"),
        max(when(col("__r") === rHi, col(valueCol))).as("ci_hi"))
  }

  /**
   * Per-stratum 10%-trimmed mean beside the plain mean — the robustness
   * readout in one row: drop the bottom and top `⌊n·trimMilli/1000⌋`
   * order statistics, exact-integer mean of the kept band
   * (`(1000·Σkept) div n_kept`). A stratum whose trimmed and plain
   * means disagree wildly is tail-driven; one rank window per stratum.
   */
  def trimmedMean(df: DataFrame, strataCol: String, valueCol: String,
      tieCol: String, trimMilli: Int = 100): DataFrame = {
    require(trimMilli >= 0 && trimMilli < 500, s"trimMilli out of [0,500): $trimMilli")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(strataCol)).orderBy(col(valueCol), col(tieCol))
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val ranked = df
      .withColumn("__r", row_number().over(w))
      .withColumn("__n", count(lit(1)).over(Window.partitionBy(col(strataCol))))
      .withColumn("__k", expr(s"($trimMilli * __n) div 1000"))
    ranked.groupBy(col(strataCol), col("__n").as("n"))
      .agg(
        expr(s"cast((1000 * sum(cast($valueCol as decimal(38,0)))) div count(1) as long)")
          .as("mean_milli"),
        sum(when(col("__r") > col("__k") && col("__r") <= col("__n") - col("__k"),
          col(valueCol).cast(dec))).as("__ts"),
        sum(when(col("__r") > col("__k") && col("__r") <= col("__n") - col("__k"), 1L)
          .otherwise(0L)).as("n_kept"))
      .select(col(strataCol), col("n"), col("mean_milli"), col("n_kept"),
        expr("cast((1000 * __ts) div n_kept as long)").as("trimmed_mean_milli"))
  }

  /**
   * Theil–Sen robust trend slope per stratum: the MEDIAN of all
   * pairwise slopes `(y_j − y_i)/(x_j − x_i)` over the stratum's
   * series — the slope a single corrupted day cannot drag (OLS breaks
   * down at one outlier; Theil–Sen tolerates ~29%). Slopes are IEEE
   * doubles over integer operands (division is deterministic; both
   * engines emit identical bits), and the median is the LOWER order
   * statistic at rank `(n+1) div 2` with (x1, x2) tie-breaks — exact
   * selection, no averaging of middles. The pair join is per-stratum
   * O(series²): day-grain series keep it trivial; for long series
   * sample pairs upstream (the estimator stays consistent).
   * `xCol` values must be distinct within a stratum.
   */
  def theilSenSlope(df: DataFrame, strataCol: String, xCol: String,
      yCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = graft.recon.Checkpoints.cut(
      df.select(col(strataCol).as("__g"), col(xCol).as("__x"), col(yCol).as("__y")))
    val pairs = base.alias("a").join(base.alias("b"),
        col("a.__g") === col("b.__g") && col("a.__x") < col("b.__x"))
      .select(col("a.__g").as("__g"),
        ((col("b.__y") - col("a.__y")).cast("double") /
          (col("b.__x") - col("a.__x")).cast("double")).as("slope"),
        col("a.__x").as("__x1"), col("b.__x").as("__x2"))
    val w = Window.partitionBy(col("__g"))
      .orderBy(col("slope"), col("__x1"), col("__x2"))
    pairs
      .withColumn("__r", row_number().over(w))
      .withColumn("__np", count(lit(1)).over(Window.partitionBy(col("__g"))))
      .where(col("__r") === expr("(__np + 1) div 2"))
      .select(col("__g").as(strataCol), col("__np").as("n_pairs"),
        col("slope").as("ts_slope"))
  }

  /**
   * Per-stratum z-score feature, cross-engine bit-exact: the identity
   * `z = (x−μ)/σ_pop = (n·x − S)/√(n·Q − S²)` keeps everything integer
   * until ONE correctly-rounded sqrt and ONE IEEE division — the only
   * double ops whose bits both engines guarantee (a naive
   * `(x − avg(x))/stddev(x)` drifts on summation order alone). The
   * group-wise feature-normalization step of a training matrix; strata
   * with zero variance yield null (guarded — ANSI raises on the
   * division). Inputs must already be integral.
   */
  def zscoreExact(df: DataFrame, strataCol: String, valueCol: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val x = col(valueCol).cast(dec)
    val m = df.groupBy(col(strataCol)).agg(count(lit(1)).cast(dec).as("__zn"),
      sum(x).as("__zs"), sum(x * x).as("__zq"))
    df.join(m, Seq(strataCol))
      .withColumn("z", when(expr("__zn * __zq - __zs * __zs") > 0,
        expr(s"cast(__zn * $valueCol - __zs as double)") /
          sqrt(expr("cast(__zn * __zq - __zs * __zs as double)"))))
      .drop("__zn", "__zs", "__zq")
  }

  /**
   * EXACT percentiles per stratum at arbitrary milli-quantiles — the
   * order-statistic twin of the sketch-based quantile readers: value at
   * rank `max(1, ⌈q·n/1000⌉)` (the classic lower exact percentile), one
   * rank window per stratum (bounded by the stratum, never data-global)
   * ordered by (value, tie) for determinism. Use this as the exact gate
   * or the sketch-validation baseline; at extreme stratum sizes the
   * histogram-sketch readers are the scale path and this is the audit.
   */
  def percentilesExact(df: DataFrame, strataCol: String, valueCol: String,
      tieCol: String, qMillis: Seq[Int]): DataFrame = {
    require(qMillis.nonEmpty && qMillis.forall(q => q >= 1 && q <= 1000),
      s"qMillis out of (0, 1000]: $qMillis")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(strataCol))
      .orderBy(col(valueCol), col(tieCol))
    val ranked = df
      .withColumn("__r", row_number().over(w))
      .withColumn("__n", count(lit(1)).over(Window.partitionBy(col(strataCol))))
    import df.sparkSession.implicits._
    val qs = qMillis.toDF("q_milli")
    ranked.crossJoin(broadcast(qs))
      .where(col("__r") === greatest(lit(1L),
        expr("(q_milli * __n + 999) div 1000")))
      .select(col(strataCol), col("q_milli"), col("__n").as("n"),
        col(valueCol).as("value"))
  }

  /**
   * Multivariate row-outlier screen — diagonal Mahalanobis distance in
   * EXACT integers: per row, `z²_c = (n·x − S_c)² / (n·Q_c − S_c²)` per
   * column (the cross-multiplied population z², no mean/σ division
   * anywhere), summed in milli across columns; top `topN` rows by total.
   * The multivariate cousin of the per-column z screen: a row that is
   * mildly unusual in EVERY column outranks one extreme in a single
   * column. Two passes: one moment aggregate (broadcast back as a 1-row
   * frame), one scan scoring all columns, then orderBy+limit(topN) —
   * TakeOrderedAndProject, no global sort. Zero-variance columns
   * contribute 0 (guarded, not an ANSI raise); inputs must already be
   * integral (caller's cents/milli scaling), and `n·max|x|` must stay
   * under ~10¹⁹ so `1000·num²` fits DECIMAL(38,0) — beyond that,
   * pre-center the columns (ANSI overflow raises loudly, never wraps).
   * `top_col` names the column contributing most (ties to the lexically
   * first).
   */
  def mahalanobisDiag(df: DataFrame, idCol: String, cols: Seq[String],
      topN: Int): DataFrame = {
    require(cols.nonEmpty, "mahalanobisDiag: no columns")
    require(topN >= 1, s"topN must be >= 1: $topN")
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val in = df.select((col(idCol) +: cols.map(c => col(c).cast(dec).as(c)))
      .toIndexedSeq: _*)
    val moments = in.agg(count(lit(1)).cast(dec).as("__n"),
      cols.flatMap(c => Seq(sum(col(c)).as(s"__s_$c"),
        sum(col(c) * col(c)).as(s"__q_$c"))): _*)
    val scored = in.crossJoin(broadcast(moments))
    // `div`, never `/`: decimal `/` rounds at a result scale, the oracle's
    // `//` floors — and all operands here are non-negative
    val z2 = cols.map { c =>
      val den = s"(__n * `__q_$c` - `__s_$c` * `__s_$c`)"
      val num = s"(__n * `$c` - `__s_$c`)"
      when(expr(den) > 0,
        expr(s"cast((1000 * $num * $num) div $den as long)"))
        .otherwise(0L).as(s"__z2_$c")
    }
    val withZ = scored.select((col(idCol) +: z2).toIndexedSeq: _*)
    val top = cols.map(c => struct(col(s"__z2_$c").as("z"),
      lit(c).as("c"))).reduce((a, b) => when(b("z") > a("z"), b).otherwise(a))
    withZ
      .withColumn("z2_milli", cols.map(c => col(s"__z2_$c")).reduce(_ + _))
      .withColumn("__top", top)
      .select(col(idCol), col("z2_milli"), col("__top.c").as("top_col"),
        col("__top.z").as("top_col_z2_milli"))
      .orderBy(col("z2_milli").desc, col(idCol)).limit(topN)
  }

  /**
   * Two-sample A/B POWER planning from exact moments: the sample size
   * each arm needs to detect a `mdeMilli`/1000 relative lift of the
   * stratum mean at α = 0.05 (two-sided), power 0.80 — the number an
   * experimentation platform prints next to every metric before anyone
   * launches. Classic normal-approximation formula
   * `n = 2·σ²·(z_{α/2} + z_β)²/δ²` with (1.96 + 0.84)² = 7.84, fully
   * cross-multiplied into one ceiling integer division so both engines
   * agree bit for bit: with S = Σx, Q = Σx², δ = mde·mean,
   * `n_req = ⌈15_680_000·n·(n·Q − S²) / ((n−1)·mde²·S²)⌉` (numerator in
   * DECIMAL(38,0) — S² alone exceeds int64 at realistic scale). Strata
   * with n < 2 or zero mean report null (guarded, not an ANSI raise).
   * Inputs must already be integral (cents/milli scaling).
   */
  def powerSampleSize(df: DataFrame, strataCol: String, valueCol: String,
      mdeMilli: Int = 50): DataFrame = {
    require(mdeMilli >= 1 && mdeMilli <= 1000, s"mdeMilli out of (0, 1000]: $mdeMilli")
    val x = col(valueCol).cast(org.apache.spark.sql.types.DecimalType(38, 0))
    df.where(col(valueCol).isNotNull)
      .groupBy(col(strataCol))
      .agg(count(lit(1)).as("n"), sum(x).as("__s"), sum(x * x).as("__q"))
      .select(col(strataCol), col("n"),
        when(col("n") > 0, expr("(1000 * __s) div n")).cast("long")
          .as("mean_milli"),
        when(col("n") > 1 && col("__s") =!= 0, expr(
          s"""(15680000 * n * (n * __q - __s * __s)
             |   + ((n - 1) * ${mdeMilli.toLong * mdeMilli} * __s * __s) - 1)
             | div ((n - 1) * ${mdeMilli.toLong * mdeMilli} * __s * __s)""".stripMargin))
          .cast("long").as("n_per_arm"))
  }

  /**
   * Spearman rank correlation, exact under ties: Pearson over
   * 2×average-ranks. The tie-averaged rank of a value group is
   * (min + max)/2 of its row numbers; doubling clears the half-integer,
   * and Pearson is shift/scale-invariant so the coefficient is
   * unchanged — every moment stays an exact integer. Row numbers come
   * from [[graft.recon.Sources.withRowIndexRanged]] (two-pass ranged
   * scheme — no single-partition rank window, so the rank pass
   * distributes at any cardinality), and min+max per value group is one
   * hash aggregate, so no rank window appears anywhere in the plan.
   * The final coefficient reuses [[corrExact]]'s fixed-shape double
   * expression (division IEEE-deterministic, sqrt correctly rounded).
   *
   * Input is one row per entity with integral x/y; the input subtree is
   * lineage-cut once because the two rank passes and the join would
   * otherwise re-execute it ~6×.
   */
  def spearmanExact(df: DataFrame, idCol: String, xCol: String,
      yCol: String): DataFrame = {
    val in = graft.recon.Checkpoints.cut(
      df.select(col(idCol), col(xCol), col(yCol))
        .where(col(xCol).isNotNull && col(yCol).isNotNull))
    def rank2(vCol: String, out: String): DataFrame = {
      val idx = graft.recon.Sources.withRowIndexRanged(
        in.select(col(idCol), col(vCol)), "__idx",
        Seq(col(vCol), col(idCol)))
      val grp = idx.groupBy(col(vCol))
        .agg((min(col("__idx")) + max(col("__idx"))).as(out))
      idx.join(grp, Seq(vCol)).select(col(idCol), col(out))
    }
    val ranked = rank2(xCol, "r2x").join(rank2(yCol, "r2y"), Seq(idCol))
      .withColumn("grp", lit("all"))
    corrExact(ranked, "grp", "r2x", "r2y")
      .withColumnRenamed("corr", "rho")
  }

  /**
   * CUPED adjustment statistics (Deng et al. 2013, "Improving the
   * Sensitivity of Online Controlled Experiments by Utilizing
   * Pre-Experiment Data") from EXACT integer moments — the variance
   * -reduction readout an experimentation platform publishes beside
   * every metric: `theta = cov(X,Y)/var(X)` (the coefficient that
   * turns the pre-period covariate X into an adjustment of the
   * experiment metric Y), `corr`, and `var_reduction = corr²` (the
   * fraction of Var(Y) the adjustment removes — CUPED's whole value
   * proposition as one number).
   *
   * Same exactness design as [[corrExact]]: the five moments are
   * DECIMAL(38,0) sums of caller-scaled integers, so the shuffle
   * carries five numbers per stratum regardless of user count; the
   * doubles appear only in the three final fixed-shape expressions
   * (division is IEEE-deterministic, sqrt correctly rounded, and the
   * reduction squares the already-computed `corr` double — bitwise
   * reproducible across engines). Zero X-variance yields NaN theta
   * (guarded — ANSI would raise), NaN corr, NaN reduction: the "your
   * covariate is constant, CUPED does nothing" signal.
   */
  def cupedExact(df: DataFrame, strataCol: String, xCol: String,
      yCol: String): DataFrame = {
    val m = corrExact(df, strataCol, xCol, yCol)
    // theta over the same exact moments: the string casts round-trip
    // DECIMAL(38,0) losslessly, so recasting keeps the arithmetic exact
    val n = col("n").cast(org.apache.spark.sql.types.DecimalType(38, 0))
    val sx = col("sum_x").cast(org.apache.spark.sql.types.DecimalType(38, 0))
    val sy = col("sum_y").cast(org.apache.spark.sql.types.DecimalType(38, 0))
    val sxy = col("sum_xy").cast(org.apache.spark.sql.types.DecimalType(38, 0))
    val sx2 = col("sum_x2").cast(org.apache.spark.sql.types.DecimalType(38, 0))
    val num = (n * sxy - sx * sy).cast("double")
    val den = (n * sx2 - sx * sx).cast("double")
    m.withColumn("theta",
        when(den === 0.0d, lit(Double.NaN)).otherwise(num / den))
      .withColumn("var_reduction",
        when(col("corr").isNaN, lit(Double.NaN))
          .otherwise(col("corr") * col("corr")))
  }

  /**
   * Split-conformal interval calibration (Vovk et al.; Lei et al. 2018
   * JASA): pick the residual threshold that covers a `qn/qd` fraction
   * of a held-out CALIBRATION set, then report the empirical coverage
   * that threshold achieves on a disjoint TEST set — the
   * distribution-free "how wide must the interval be" audit published
   * next to any point forecast. Residuals are caller-scaled integers
   * (the cents discipline).
   *
   * The threshold comes from the bounded equi-width histogram sketch
   * ([[Sketches.histBinCounts]] / [[Sketches.histQuantilesFromCounts]]),
   * not an exact sort — ≤ `nBins` counters on the wire, the shape that
   * survives a 100 TB residual column. It is the UPPER edge of the
   * rank-selected bin, carried as the exact integer
   * `thr_scaled = lo·nBins + (bin+1)·(hi−lo)` (residual `r` is covered
   * iff `r·nBins ≤ thr_scaled`): by the floor-bin identity every
   * calibration residual in bins ≤ bin satisfies that test, so
   * CALIBRATION coverage ≥ qn/qd by construction and the sketch's bin
   * granularity only ever makes the interval conservative, never
   * under-covering — the direction conformal prediction requires.
   *
   * Scale shape: bounds + bin counts are two aggregates over the
   * calibration side; the one-row threshold rides a broadcast through
   * the test side's single aggregate. Nothing collects, nothing sorts
   * globally. Output: one row
   * `(n_cal, n_test, q_bin, thr_scaled, covered, coverage_milli)`;
   * `coverage_milli` is null when the test side is empty.
   */
  def conformalCoverage(calib: DataFrame, test: DataFrame, residCol: String,
      nBins: Int, qn: Int, qd: Int): DataFrame = {
    require(nBins >= 2, s"nBins too small: $nBins")
    require(qn > 0 && qn <= qd, s"quantile must be a rational in (0,1]: $qn/$qd")
    val tagged = calib.select(lit("all").as("__s"), col(residCol))
    val bounds = Sketches.histBounds(tagged, "__s", residCol)
    val counts = Sketches.histBinCounts(tagged, "__s", residCol, nBins, bounds)
    // cumulative counts WITHOUT a window: the stratum here is a stamped
    // constant, so [[Sketches.histQuantilesFromCounts]]'s per-stratum
    // cum window would constant-fold to an unpartitioned window — a
    // false positive for every plan auditor (the input is ≤ nBins
    // rows, but no auditor can prove that). A broadcast triangle join
    // over the bin-count frame (≤ nBins² tiny rows) says "bounded" in
    // the plan shape itself.
    val c2 = counts.select(col("__s").as("__s2"), col("bin").as("__b2"),
      col("cnt").as("__c2"))
    val thr = counts
      .join(broadcast(c2), col("__s2") === col("__s") && col("__b2") <= col("bin"))
      .groupBy(col("__s"), col("bin")).agg(sum(col("__c2")).as("cum"))
      .join(broadcast(bounds), Seq("__s"))
      .where(col("cum") >= expr(s"(__n * $qn + $qd - 1) div $qd"))
      .groupBy(col("__s"), col("__lo"), col("__hi"), col("__n"))
      .agg(min(col("bin")).as("q_bin"))
      .select(col("__n").as("n_cal"), col("q_bin"),
        (col("__lo") * nBins + (col("q_bin") + lit(1L)) *
          (col("__hi") - col("__lo"))).as("thr_scaled"))
    test.select(col(residCol).as("__r")).crossJoin(broadcast(thr))
      .agg(min(col("n_cal")).as("n_cal"), count(lit(1)).as("n_test"),
        min(col("q_bin")).as("q_bin"), min(col("thr_scaled")).as("thr_scaled"),
        sum(when(col("__r") * nBins <= col("thr_scaled"), 1L).otherwise(0L))
          .as("covered"))
      .select(col("n_cal"), col("n_test"), col("q_bin"), col("thr_scaled"),
        col("covered"),
        when(col("n_test") === 0L, lit(null).cast("long"))
          .otherwise(expr("(covered * 1000) div n_test")).as("coverage_milli"))
  }

  /**
   * Least-squares trend slope from EXACT integer moments — the same
   * design as [[corrExact]] (DECIMAL(38,0) sums, one fixed-shape
   * double expression at the end; only division is floating, and it
   * is IEEE-deterministic). slope = (n·Σxy − Σx·Σy)/(n·Σx² − (Σx)²)
   * in y-units per x-unit — the "is this metric drifting over time"
   * number a monitor thresholds on. Same pairwise-complete null
   * contract; a stratum with zero x-variance yields NaN (guarded —
   * ANSI mode would otherwise raise on the zero divisor), the
   * caller's signal that no trend is defined.
   */
  def slopeExact(df: DataFrame, strataCol: String, xCol: String,
      yCol: String): DataFrame = {
    val x = col(xCol).cast(org.apache.spark.sql.types.DecimalType(38, 0))
    val y = col(yCol).cast(org.apache.spark.sql.types.DecimalType(38, 0))
    df.where(col(xCol).isNotNull && col(yCol).isNotNull)
      .groupBy(col(strataCol))
      .agg(count(lit(1)).as("n"), sum(x).as("sum_x"), sum(y).as("sum_y"),
        sum(x * y).as("sum_xy"), sum(x * x).as("sum_x2"))
      .select(col(strataCol), col("n"),
        col("sum_x").cast("string").as("sum_x"),
        col("sum_y").cast("string").as("sum_y"),
        col("sum_xy").cast("string").as("sum_xy"),
        col("sum_x2").cast("string").as("sum_x2"),
        {
          val num = (col("n") * col("sum_xy") - col("sum_x") * col("sum_y")).cast("double")
          val den = (col("n") * col("sum_x2") - col("sum_x") * col("sum_x")).cast("double")
          when(den === 0.0d, lit(Double.NaN)).otherwise(num / den).as("slope")
        })
  }

  /**
   * Winsorization with fixed-memory thresholds: clip an integer column
   * to its per-stratum histogram-quantile EDGES — the tail-taming step
   * before any mean-based feature leaves a pipeline. Thresholds come
   * from [[Sketches.histBinCounts]] (≤ nBins counts per stratum on the
   * wire — the shape that survives a 100 TB column; an exact per-group
   * sort would shuffle every value), so each threshold is the integer
   * lower edge of the quantile's bin: `edge = lo + (bin·(hi−lo)) div
   * nBins`, with bin-width error by construction. The whole decision
   * path is integer arithmetic.
   *
   * Output: `strataCol, valueCol, clipped, clip_dir` (−1 clipped up
   * from below, 0 untouched, +1 clipped down from above).
   */
  def winsorize(df: DataFrame, strataCol: String, valueCol: String,
      nBins: Int, qLo: (Int, Int), qHi: (Int, Int)): DataFrame = {
    require(qLo._1 * qHi._2 < qHi._1 * qLo._2, s"qLo must be < qHi: $qLo, $qHi")
    val bounds = Sketches.histBounds(df, strataCol, valueCol)
    val counts = Sketches.histBinCounts(df, strataCol, valueCol, nBins, bounds)
    def edgeOf(q: (Int, Int), as: String) =
      Sketches.histQuantilesFromCounts(counts, bounds, strataCol, nBins, Seq(q))
        .select(col(strataCol), col("bin").as(as))
    val thresholds = bounds
      .join(edgeOf(qLo, "__blo"), Seq(strataCol))
      .join(edgeOf(qHi, "__bhi"), Seq(strataCol))
      .select(col(strataCol),
        (col("__lo") + expr(s"(__blo * (__hi - __lo)) div $nBins")).as("__elo"),
        (col("__lo") + expr(s"(__bhi * (__hi - __lo)) div $nBins")).as("__ehi"))
    df.select(col(strataCol), col(valueCol))
      .join(broadcast(thresholds), Seq(strataCol))
      .select(col(strataCol), col(valueCol),
        greatest(col("__elo"), least(col("__ehi"), col(valueCol))).as("clipped"),
        when(col(valueCol) < col("__elo"), -1L)
          .when(col(valueCol) > col("__ehi"), 1L).otherwise(0L).as("clip_dir"))
  }

  /**
   * Difference-in-differences point estimate — the panel causal design
   * beside [[cupedExact]]'s covariate adjustment and the A/B z-test:
   * with a treatment flag and a pre/post period flag,
   *   DiD = (ȳ_T,post − ȳ_T,pre) − (ȳ_C,post − ȳ_C,pre)
   * cancels both the group level difference AND the common time trend,
   * leaving the treatment effect under parallel trends. ONE aggregate
   * pass (eight conditional sums, map-side combined); cell sums ride
   * DECIMAL(38,0) and ship as digit strings (Σcents at the corpus tier
   * brushes Long), the four means and the estimate are ONE fixed-shape
   * double expression per the [[corrExact]] engine-exactness
   * convention. An EMPTY cell (no treated-pre rows, say) yields NULL —
   * a DiD with a missing corner is undefined, not zero.
   *
   * Input: `treatCol`/`postCol` as 0/1 longs, `valueCol` integral
   * (cents/milli — caller's scaling). A row whose flags are outside
   * {0,1} (or NULL) belongs to NO cell — that would silently shrink
   * the design, so it raises in-plan instead. Output (one row):
   * per-cell `n_*`/`s_*` evidence plus `did`.
   */
  def didExact(df: DataFrame, treatCol: String, postCol: String,
      valueCol: String): DataFrame = {
    val v = col(valueCol).cast(org.apache.spark.sql.types.DecimalType(38, 0))
    val z = lit(0L).cast(org.apache.spark.sql.types.DecimalType(38, 0))
    def cond(t: Int, p: Int) = col(treatCol) === t.toLong && col(postCol) === p.toLong
    def cells(t: Int, p: Int, tag: String) = Seq(
      sum(when(cond(t, p), 1L).otherwise(0L)).as(s"n_$tag"),
      coalesce(sum(when(cond(t, p), v)), z).as(s"__s_$tag"))
    val offDesign = sum(when(
      col(treatCol).isin(0L, 1L) && col(postCol).isin(0L, 1L), 0L)
      .otherwise(1L)).as("__off")
    val exprs = (cells(1, 0, "t_pre") ++ cells(1, 1, "t_post") ++
      cells(0, 0, "c_pre") ++ cells(0, 1, "c_post")) :+ offDesign
    val agg = df.agg(exprs.head, exprs.tail: _*)
    def mean(tag: String) =
      col(s"__s_$tag").cast("double") / col(s"n_$tag").cast("double")
    // the guard rides a KEPT output column (a dropped guard column
    // would be pruned and never evaluate — the tClosenessAudit pattern)
    agg.select(
      when(col("__off") > 0, raise_error(concat(
        lit("didExact: "), col("__off"),
        lit(" rows with treat/post outside {0,1} — they belong to no " +
          "cell and would silently shrink the design; recode or filter " +
          "them explicitly first"))).cast("long"))
        .otherwise(col("n_t_pre")).as("n_t_pre"),
      col("__s_t_pre").cast("string").as("s_t_pre"),
      col("n_t_post"), col("__s_t_post").cast("string").as("s_t_post"),
      col("n_c_pre"), col("__s_c_pre").cast("string").as("s_c_pre"),
      col("n_c_post"), col("__s_c_post").cast("string").as("s_c_post"),
      when(col("n_t_pre") > 0 && col("n_t_post") > 0 &&
          col("n_c_pre") > 0 && col("n_c_post") > 0,
        (mean("t_post") - mean("t_pre")) - (mean("c_post") - mean("c_pre")))
        .as("did"))
  }
}
