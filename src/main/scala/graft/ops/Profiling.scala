package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Data-shape profiling: the cheap audits run BEFORE committing a 100 TB
 * job to a plan — is this join key skewed enough to need salting
 * ([[graft.recon.Reconciler]]'s salted join) or AQE skew splitting?
 *
 * The reference has no profiling surface (reference: src/reconciliatior.py)
 * — LLM-pipeline extension.
 */
object Profiling {

  /**
   * Top-N heaviest key groups with their corpus share — the pre-join skew
   * audit. One map-side-combined count aggregation; the top-N runs as
   * TakeOrderedAndProject (per-partition heaps merged on the driver, N
   * rows), never a global sort and never a single-partition window; the
   * grand total is re-aggregated from the (already tiny) per-key counts,
   * and ReuseExchange dedups the shared groupBy, so the input is scanned
   * once. Ties beyond the cut break on the key columns — deterministic on
   * any layout.
   */
  def keySkew(df: DataFrame, keys: Seq[String], topN: Int = 20): DataFrame = {
    require(keys.nonEmpty, "keySkew: need at least one key column")
    require(topN > 0, s"keySkew: topN must be positive, got $topN")
    val counts = df.groupBy(keys.map(col): _*).agg(count(lit(1)).as("n"))
    val total = counts.agg(sum(col("n")).as("__total"))
    counts.crossJoin(broadcast(total))
      .withColumn("share", col("n").cast("double") / col("__total").cast("double"))
      .drop("__total")
      .orderBy(col("n").desc +: keys.map(col): _*)
      .limit(topN)
  }

  /**
   * Contingency audit of two categorical columns: every (a, b) cell —
   * ZERO cells included, via a join of the two (small) margin frames —
   * with its observed count, expected count under independence in
   * exact milli, and its χ² contribution in exact milli
   * (`(obs·N − rowTot·colTot)² · 1000 div (N·rowTot·colTot)` over
   * DECIMAL(38,0) — integer-summable, so the total is order-free), plus
   * the corpus-level χ² total and Cramér's V (the one double, a single
   * fixed-shape sqrt both engines round identically). V near 0 ⇒ the
   * columns are independent — e.g. language mix is uniform across
   * sources; V near 1 ⇒ one column pins the other, the "this source is
   * single-language" signal a mixture planner needs. Cost: one fact
   * scan for the cell counts; margins and totals are cell-frame
   * aggregates (bounded by category cardinalities).
   *
   * Guards: the r·c margins grid is capped at `maxCells` with an
   * in-plan raise_error (a high-cardinality misuse fails loudly before
   * the grid streams), and a single-category column (dof 0) reports
   * `cramers_v` as null rather than Infinity.
   */
  def cramersV(df: DataFrame, aCol: String, bCol: String,
      maxCells: Long = 2000000L): DataFrame = {
    val cells = df.groupBy(col(aCol), col(bCol)).agg(count(lit(1)).as("__o"))
    val ra = cells.groupBy(col(aCol)).agg(sum(col("__o")).as("__rt"))
    val cb = cells.groupBy(col(bCol)).agg(sum(col("__o")).as("__ct"))
    // in-plan contingency-size guard: the margins grid is r·c rows, and a
    // caller passing two high-cardinality columns would materialize it
    // silently. The broadcast of `tot` builds BEFORE the cross-join
    // streams, so an over-cap grid fails loudly instead of running.
    val tot = cells.agg(sum(col("__o")).as("__N0"),
        count_distinct(col(aCol)).as("__r"), count_distinct(col(bCol)).as("__c"))
      .select(
        when(col("__r") * col("__c") > maxCells,
          raise_error(concat(lit(s"cramersV: contingency grid exceeds $maxCells cells: "),
            col("__r"), lit(" x "), col("__c"))).cast("long"))
          .otherwise(col("__N0")).as("__N"),
        col("__r"), col("__c"))
    val full = ra.crossJoin(cb)
      .join(cells, Seq(aCol, bCol), "left")
      .withColumn("n_obs", coalesce(col("__o"), lit(0L)))
      .crossJoin(broadcast(tot))
      .withColumn("exp_milli",
        expr("CAST((CAST(__rt AS DECIMAL(38,0)) * __ct * 1000) div __N AS BIGINT)"))
      .withColumn("contrib_milli",
        expr("""CAST(((CAST(n_obs AS DECIMAL(38,0)) * __N - CAST(__rt AS DECIMAL(38,0)) * __ct)
               |  * (CAST(n_obs AS DECIMAL(38,0)) * __N - CAST(__rt AS DECIMAL(38,0)) * __ct)
               |  * 1000) div (CAST(__N AS DECIMAL(38,0)) * __rt * __ct) AS BIGINT)""".stripMargin))
    val chi2 = full.agg(sum(col("contrib_milli")).as("chi2_milli")).crossJoin(broadcast(tot))
      .select(col("chi2_milli"),
        // single-category column => dof 0: V is undefined — guarded null,
        // never Infinity/NaN (same convention as RobustStats' zero-variance)
        when(least(col("__r") - 1, col("__c") - 1) === 0, lit(null).cast("double"))
          .otherwise(sqrt(col("chi2_milli").cast("double") /
            (lit(1000.0d) * col("__N").cast("double") *
              least(col("__r") - 1, col("__c") - 1).cast("double")))).as("cramers_v"))
    full.select(col(aCol), col(bCol), col("n_obs"), col("exp_milli"),
        col("contrib_milli"))
      .crossJoin(broadcast(chi2))
  }

  /**
   * Exact concentration profile of the per-key row distribution, one row:
   * Gini coefficient, top-decile share, and max single-key share, all in
   * exact milli units — the "is this workload hot-keyed" dashboard that
   * complements [[keySkew]]'s top-N listing with whole-distribution
   * numbers. Gini uses the sorted-rank identity
   * G = (2·Σ i·x_i − (n+1)·Σ x_i) / (n·Σ x_i) over ascending (count, key)
   * order; the key columns complete the total order so ranks (and hence
   * the exact integer result) are layout-independent and match any other
   * engine ranking the same way. Ranks come from
   * [[graft.recon.Sources.withRowIndexRanged]] (range-partitioned
   * per-partition row_number + partition-count offsets), so no
   * single-partition window ever touches the per-key frame; the rank
   * moment goes through DECIMAL(38,0) so Σ i·x_i cannot overflow at any
   * plausible key cardinality. The two aggregates over the ranked frame
   * reduce to one row each; `tot` is broadcast.
   */
  def concentration(df: DataFrame, keys: Seq[String]): DataFrame = {
    require(keys.nonEmpty, "concentration: need at least one key column")
    val counts = df.groupBy(keys.map(col): _*).agg(count(lit(1)).as("n"))
    val ranked = graft.recon.Sources.withRowIndexRanged(
      counts, "i", col("n") +: keys.map(col))
    val tot = ranked.agg(count(lit(1)).as("nu"), sum(col("n")).as("s"))
    ranked.crossJoin(broadcast(tot))
      .agg(
        max(col("nu")).as("nk"), max(col("s")).as("tot_rows"),
        sum((col("n") * col("i")).cast("decimal(38,0)")).as("s1"),
        max(col("n")).as("mx"),
        sum(when(col("i") > col("nu") - expr("nu div 10"), col("n"))
          .otherwise(lit(0L))).as("topd"))
      .withColumn("nkd", col("nk").cast("decimal(38,0)"))
      .withColumn("sd", col("tot_rows").cast("decimal(38,0)"))
      .select(
        col("nk").as("n_keys"),
        col("tot_rows").as("total_rows"),
        expr("cast((2 * s1 - (nkd + 1) * sd) * 1000 div (nkd * sd) as bigint)")
          .as("gini_milli"),
        expr("cast(topd * 1000 div tot_rows as bigint)")
          .as("top_decile_share_milli"),
        expr("cast(mx * 1000 div tot_rows as bigint)")
          .as("max_key_share_milli"))
  }

  /**
   * Join-key multiplicity histogram: keys banded by how many rows they
   * carry (1, 2–10, 11–100, 100+) — the diagnosis that turns "the join
   * blew up" into "0.1% of keys carry 40% of the rows, salt those".
   * Reads beside the Σn² exact blowup and the CMS join-size estimate;
   * one aggregate per side, label the sides and union.
   */
  def keyMultiplicity(df: DataFrame, keyCol: String, side: String): DataFrame =
    df.groupBy(col(keyCol)).agg(count(lit(1)).as("__c"))
      .withColumn("band", when(col("__c") === 1, "1")
        .when(col("__c") <= 10, "2-10")
        .when(col("__c") <= 100, "11-100").otherwise("100+"))
      .groupBy(col("band"))
      .agg(count(lit(1)).as("n_keys"), sum(col("__c")).as("n_rows"))
      .select(lit(side).as("side"), col("band"), col("n_keys"), col("n_rows"))

  /**
   * Effective distinct-key count per stratum — inverse Simpson
   * diversity, `N_eff = (Σn)²/Σn²`, exact milli: the "how many sources
   * is this corpus REALLY drawing from" number a mixture plan reads
   * (1000 raw keys where one holds 95% of the mass is N_eff ≈ 1.1, and
   * the mixture is a monoculture whatever the key count says). Two hash
   * aggregates; squares in DECIMAL(38,0).
   */
  def effectiveCount(df: DataFrame, strataCol: String, keyCol: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val n = col("__n").cast(DecimalType(38, 0))
    df.groupBy(col(strataCol), col(keyCol)).agg(count(lit(1)).as("__n"))
      .groupBy(col(strataCol))
      .agg(sum(col("__n")).as("n_rows"), count(lit(1)).as("n_keys"),
        sum(n * n).as("__s2"))
      .select(col(strataCol), col("n_rows"), col("n_keys"),
        expr("cast((1000 * cast(n_rows as decimal(38,0)) * n_rows) div __s2 as bigint)")
          .as("neff_milli"))
  }

  /**
   * Diurnality score per stratum: the chi-squared statistic of the
   * hour-of-day activity profile against uniform, fully cross-multiplied
   * into exact integers — `chi2_milli = 1000·Σ_h(24·o_h − n)² div (24·n)`
   * with the sum running over ALL 24 hours (absent hours contribute n²
   * each — computed as `(24 − hours_present)·n²`, no grid join needed).
   * A flat service hums near 0; a human-driven or cron-driven stream
   * scores high, and `peak_hour`/`peak_share_milli` say where. Squares
   * run in DECIMAL(38,0) — n² alone overflows int64 at corpus scale.
   */
  def diurnality(df: DataFrame, strataCol: String, tsCol: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val byHour = df
      .select(col(strataCol), expr(s"(unix_millis($tsCol) div 3600000) % 24").as("hour"))
      .groupBy(col(strataCol), col("hour")).agg(count(lit(1)).as("o"))
    val n = byHour.groupBy(col(strataCol)).agg(sum(col("o")).as("n"))
    val dec = (c: org.apache.spark.sql.Column) => c.cast(DecimalType(38, 0))
    byHour.join(n, Seq(strataCol))
      .groupBy(col(strataCol), col("n"))
      .agg(count(lit(1)).as("__hp"),
        sum(dec(lit(24L) * col("o") - col("n")) * dec(lit(24L) * col("o") - col("n")))
          .as("__s"),
        max(struct(col("o").as("o"), (-col("hour")).as("nh"))).as("__pk"))
      .select(col(strataCol), col("n"),
        expr("cast((1000 * (__s + (24 - __hp) * cast(n as decimal(38,0)) * n)) div (24 * n) as bigint)")
          .as("chi2_milli"),
        (-col("__pk.nh")).as("peak_hour"),
        expr("(1000 * __pk.o) div n").as("peak_share_milli"))
  }

  /**
   * Arrival-regularity screen per entity — the behavioral bot signal:
   * automated traffic arrives on a clock (inter-arrival CV² ≈ 0, gaps
   * repeating exactly), humans arrive in bursts (CV² ≳ 1, gaps all
   * distinct). Two exact integers per entity: the squared coefficient
   * of variation of inter-arrival micros,
   * `cv2_milli = 1000·(n·Σg² − (Σg)²) div (Σg)²` (moments in
   * DECIMAL(38,0) — Σg² overflows int64 at realistic spans), and the
   * repeated-gap fraction `dup_gap_milli = 1000 − 1000·distinct div n`.
   * One lag window per entity plus one aggregate; entities with < 2
   * events (no gaps) or a zero span surface with nulls rather than
   * dropping or raising.
   */
  def arrivalRegularity(df: DataFrame, entityCol: String, tsCol: String,
      tieCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types.DecimalType
    val w = Window.partitionBy(col(entityCol))
      .orderBy(unix_micros(col(tsCol)), col(tieCol))
    val gaps = df
      .withColumn("__t", unix_micros(col(tsCol)))
      .withColumn("__g", col("__t") - lag(col("__t"), 1).over(w))
      .where(col("__g").isNotNull)
    // cast BEFORE the square: g² overflows int64 at realistic spans
    val gd = col("__g").cast(DecimalType(38, 0))
    gaps.groupBy(col(entityCol))
      .agg(count(lit(1)).as("n_gaps"),
        sum(gd).as("__sg"),
        sum(gd * gd).as("__sg2"),
        countDistinct(col("__g")).as("__nd"))
      .select(col(entityCol), col("n_gaps"),
        when(col("__sg") > 0,
          expr("(1000 * (n_gaps * __sg2 - __sg * __sg)) div (__sg * __sg)"))
          .cast("long").as("cv2_milli"),
        (lit(1000L) - expr("(1000 * __nd) div n_gaps")).as("dup_gap_milli"))
  }

  /**
   * Cohen's kappa between two binary judges — chance-corrected
   * agreement, the inter-annotator statistic of label-quality review
   * (and of "do my two quality filters measure the same thing" when the
   * judges are heuristics): κ = (p_o − p_e)/(1 − p_e) with p_e the
   * agreement two INDEPENDENT judges with these marginals would reach.
   * Raw agreement flatters skewed judges (two filters that each pass 95%
   * of docs agree ≥ 90% by chance alone); κ strips that off.
   *
   * Exact integer arithmetic end to end: one conditional aggregate over
   * the fact table (map-side combined — the pair table never
   * materializes), then
   *   κ_milli = (1000·(n·a − q)) div (n² − q),  q = r₁c₁ + r₀c₀
   * cross-multiplied in DECIMAL(38,0) (n² passes Long at ~3·10⁹ rows;
   * a corpus-sized n must not wrap — the [[cramersV]] convention).
   * Degenerate marginals (either judge constant ⇒ p_e = 1) yield NULL,
   * never a division error — κ is undefined there, and a 0/0 that
   * happens to run would report spurious perfection. NULL verdicts
   * raise in-plan: silently skipping them would report agreement over
   * an electorate neither judge actually scored.
   *
   * Output (one row): `n, n_agree, n_pos_a, n_pos_b, po_milli,
   * kappa_milli` — truncated-toward-zero milli on both engines
   * (Spark `div` ≡ DuckDB integer `//`; κ may be negative:
   * worse-than-chance disagreement is a real verdict).
   */
  def cohenKappaMilli(df: DataFrame, judgeA: Column, judgeB: Column): DataFrame = {
    def verdict(j: Column, name: String): Column =
      when(j.isNull, raise_error(lit(
        s"cohenKappaMilli: NULL $name verdict — judges must score every " +
          "row; filter the unscored population explicitly first")))
        .otherwise(j)
    val base = df.select(verdict(judgeA, "judge-A").as("__a"),
      verdict(judgeB, "judge-B").as("__b"))
    base.agg(
        count(lit(1)).as("n"),
        coalesce(sum(when(col("__a") === col("__b"), 1L).otherwise(0L)), lit(0L))
          .as("n_agree"),
        coalesce(sum(when(col("__a"), 1L).otherwise(0L)), lit(0L)).as("n_pos_a"),
        coalesce(sum(when(col("__b"), 1L).otherwise(0L)), lit(0L)).as("n_pos_b"))
      .withColumn("__q",
        expr("""CAST(n_pos_a AS DECIMAL(38,0)) * n_pos_b
               |  + CAST(n - n_pos_a AS DECIMAL(38,0)) * (n - n_pos_b)""".stripMargin))
      .select(col("n"), col("n_agree"), col("n_pos_a"), col("n_pos_b"),
        when(col("n") > 0, expr("(1000 * n_agree) div n")).as("po_milli"),
        when(expr("CAST(n AS DECIMAL(38,0)) * n") =!= col("__q"),
          expr("""(1000 * (CAST(n AS DECIMAL(38,0)) * n_agree - __q))
                 |  div (CAST(n AS DECIMAL(38,0)) * n - __q)""".stripMargin))
          .cast("long").as("kappa_milli"))
  }
}
