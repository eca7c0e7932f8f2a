package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Tabular privacy: k-anonymity with a one-step generalization ladder
 * (Sweeney 2002's model, re-expressed as window counts). A released row
 * must be indistinguishable from ≥ k−1 others on its quasi-identifier
 * tuple; rows whose exact tuple is too rare first GENERALIZE the
 * hierarchical attribute one level up (e.g. nation → region) and, if
 * the generalized class is still under k, are SUPPRESSED outright.
 *
 * The complement of the text-side PII ops ([[TextAnalysis]] redaction):
 * those scrub identifiers out of free text, this bounds re-identification
 * risk in the structured columns a release ships alongside it.
 *
 * Scale shape: class sizes come from grouped counts (map-side partial
 * aggregation) joined back broadcast — the count tables are
 * distinct-quasi-tuple sized regardless of row volume — and the
 * hierarchy lookup is a broadcast-sized dimension join. No windows over
 * data-sized partitions, no collect.
 */
object Privacy {

  /**
   * Anonymize `df` on the quasi-identifier pair (`hierCol` with
   * `parentCol` as its one-level-up generalization, `flatCol` released
   * as-is). Output: every input row with
   *   - `quasi_geo`: `hierCol` when its exact class has ≥ k rows; else
   *     `parentCol` when the generalized class (among the rows forced to
   *     generalize) reaches k; else NULL,
   *   - `quasi_cat`: `flatCol`, NULL when suppressed,
   *   - `anon_level`: 0 exact / 1 generalized / 2 suppressed,
   *   - `group_n`: the released equivalence-class size (NULL when
   *     suppressed — a suppressed row discloses no class).
   *
   * The level-1 class is counted among generalizing rows ONLY: level-0
   * rows release a more specific tuple and are distinguishable from the
   * generalized ones, so they cannot pad a generalized class.
   */
  def kAnonymize(df: DataFrame, idCol: String, hierCol: String,
      parentCol: String, flatCol: String, k: Int): DataFrame = {
    require(k >= 2, s"k-anonymity needs k >= 2: $k")
    // class sizes via grouped counts joined back BROADCAST, not window
    // counts: a quasi-class at the 100 TB tier can hold billions of rows,
    // and a count-over-window buffers the whole class per partition; the
    // grouped form partial-aggregates map-side and the count tables are
    // distinct-quasi-tuple sized — broadcastable by construction
    val base = df.select(col(idCol), col(hierCol), col(parentCol), col(flatCol))
    val exactSizes = base.groupBy(col(hierCol), col(flatCol))
      .agg(count(lit(1)).as("__n1"))
    val staged = base.join(broadcast(exactSizes), Seq(hierCol, flatCol))
    val genSizes = staged.where(col("__n1") < k)
      .groupBy(col(parentCol), col(flatCol))
      .agg(count(lit(1)).as("__n2"))
    staged.join(broadcast(genSizes), Seq(parentCol, flatCol), "left")
      .withColumn("__n2", coalesce(col("__n2"), lit(0L)))
      .select(col(idCol),
        when(col("__n1") >= k, col(hierCol))
          .when(col("__n2") >= k, col(parentCol)).as("quasi_geo"),
        when(col("__n1") >= k || col("__n2") >= k, col(flatCol)).as("quasi_cat"),
        when(col("__n1") >= k, 0L).when(col("__n2") >= k, 1L).otherwise(2L)
          .as("anon_level"),
        when(col("__n1") >= k, col("__n1"))
          .when(col("__n2") >= k, col("__n2")).as("group_n"))
  }

  /**
   * Distinct ℓ-diversity audit (Machanavajjhala et al. 2007): a
   * k-anonymous class is still a disclosure if everyone in it shares
   * the sensitive value — indistinguishability protects WHO you are,
   * not WHAT the class reveals. Per quasi-identifier class: size,
   * distinct sensitive values, the top sensitive value's share in
   * milli-units (the homogeneity-attack risk number), and a 0/1
   * `diverse` verdict at threshold `l`.
   *
   * Same scale shape as [[kAnonymize]]: two grouped counts (map-side
   * combine; the inner one is distinct-(quasi, sensitive)-sized), no
   * windows over data-sized partitions.
   */
  def lDiversityAudit(df: DataFrame, quasiCols: Seq[String],
      sensitiveCol: String, l: Int): DataFrame = {
    require(quasiCols.nonEmpty, "no quasi-identifier columns")
    require(l >= 2, s"l-diversity needs l >= 2: $l")
    val q = quasiCols.map(col)
    df.groupBy(q :+ col(sensitiveCol): _*)
      .agg(count(lit(1)).as("__nv"))
      .groupBy(q: _*)
      .agg(sum(col("__nv")).as("group_n"),
        count(lit(1)).as("n_sensitive"),
        max(col("__nv")).as("__top"))
      .select(q ++ Seq(
        col("group_n"),
        col("n_sensitive"),
        expr("(__top * 1000) div group_n").as("top_share_milli"),
        when(col("n_sensitive") >= l, 1L).otherwise(0L).as("diverse")): _*)
  }

  /**
   * t-closeness audit (Li et al., ICDE 2007) for an ORDERED sensitive
   * attribute: a quasi-identifier class passes iff the Earth Mover's
   * Distance between its sensitive-value distribution and the GLOBAL
   * distribution is ≤ t — the refinement l-diversity misses (a class
   * can be "diverse" yet skewed toward the damaging end of an ordered
   * attribute). For a 1-D ordered attribute EMD has the closed form
   * Σᵢ |CDF_class(i) − CDF_global(i)| / (m − 1) over the m distinct
   * values. All arithmetic is exact integer: the CDF difference is
   * cross-multiplied (|cumᶜ·n_g − cum_g·n_c|) and `emd_milli` floors
   * the scaled sum, so both engines agree bit-for-bit. A single-value
   * domain (m = 1) is distance 0 by convention.
   *
   * Range bound (same contract as histQuantiles): the summand is
   * ≤ n_c·n_g, so the audit stays in BIGINT while
   * 1000·m·n_c·n_g < 2^63 — shard the audit beyond that.
   *
   * Scale shape: the value domain is bounded by contract (≤ 100k
   * distinct values, enforced with an in-plan raise_error — an
   * over-cap domain fails LOUDLY rather than silently dropping values
   * and under-auditing); the per-class CDF grid is classes × m via a
   * broadcast of the m-row rank spine, its windows partitioned per
   * class. Nothing data-sized funnels into a global window.
   */
  def tClosenessAudit(df: DataFrame, quasiCols: Seq[String],
      sensitiveCol: String, tMilli: Int): DataFrame = {
    require(quasiCols.nonEmpty, "no quasi-identifier columns")
    require(tMilli >= 0 && tMilli <= 1000, s"tMilli out of [0,1000]: $tMilli")
    import org.apache.spark.sql.expressions.Window
    val q = quasiCols.map(col)
    val base = df.select(q :+ col(sensitiveCol).as("__sv"): _*)
      .where(col("__sv").isNotNull)
    // the ordered value spine: rank 1..m via the ranged two-phase row
    // index (no global window). The domain bound is a loud in-plan
    // guard — every spine row carries the capped rank, so a 100k+1-th
    // distinct value raises instead of vanishing from the audit
    val domainCap = 100000L
    val ranked = graft.recon.Sources.withRowIndexRanged(
        base.select(col("__sv")).distinct(), "__rk0", Seq(col("__sv")))
      .select(col("__sv"),
        when(col("__rk0") > domainCap,
          raise_error(concat(
            lit(s"tClosenessAudit: sensitive-value domain exceeds $domainCap"),
            lit(" distinct values — shard the audit"))).cast("long"))
          .otherwise(col("__rk0")).as("__rk"))
    val withRk = base.join(broadcast(ranked), Seq("__sv"))
    // global cum counts per rank. The limit is a NO-OP under the rank
    // guard (ranks are ≤ domainCap or the query already raised) — it
    // exists to carry the boundedness into the plan for the cum window
    val g = withRk.groupBy(col("__rk")).agg(count(lit(1)).as("__nv"))
      .limit(domainCap.toInt)
      .withColumn("__cumg", sum(col("__nv")).over(
        Window.orderBy(col("__rk")).rowsBetween(Window.unboundedPreceding, 0)))
      .select(col("__rk"), col("__cumg"))
    // class × rank grid: per-rank class counts left-joined onto the
    // broadcast spine, running sum gives the class CDF at EVERY global
    // rank (ranks absent from the class carry the last cum forward)
    val cl = withRk.groupBy(q :+ col("__rk"): _*).agg(count(lit(1)).as("__ncv"))
    val classes = base.select(q: _*).distinct()
    val grid = classes.join(broadcast(g))
      .join(cl, quasiCols :+ "__rk", "left")
      .withColumn("__cumc", sum(coalesce(col("__ncv"), lit(0L))).over(
        Window.partitionBy(q: _*).orderBy(col("__rk"))
          .rowsBetween(Window.unboundedPreceding, 0)))
    val tot = ranked.agg(count(lit(1)).cast("long").as("__m"))
    val gTot = g.agg(max(col("__cumg")).as("__ng"))
    val perClass = grid
      .withColumn("__nc", max(col("__cumc")).over(Window.partitionBy(q: _*)))
      .crossJoin(broadcast(gTot)).crossJoin(broadcast(tot))
      .groupBy(q: _*)
      .agg(max(col("__nc")).as("group_n"), max(col("__ng")).as("__ngx"),
        max(col("__m")).as("__mx"),
        sum(abs(col("__cumc") * col("__ng") - col("__cumg") * col("__nc")))
          .as("__num"))
    perClass.select(q ++ Seq(
      col("group_n"),
      when(col("__mx") <= 1L, lit(0L))
        .otherwise(expr("(1000 * __num) div ((__mx - 1) * group_n * __ngx)"))
        .as("emd_milli")): _*)
      .withColumn("pass",
        when(col("emd_milli") <= tMilli, 1L).otherwise(0L))
  }

  /**
   * Suppression-cost curve: for each k in the ladder, how much of the
   * corpus survives a k-anonymity release on `quasiCols` with NO
   * generalization (every row in a class smaller than k is suppressed).
   * The release-planning readout a privacy review wants BEFORE choosing
   * k: `(k, n_classes, n_rows, n_small_classes, n_suppressed_rows,
   * suppressed_milli)`. One grouped count of the fact table reused for
   * every k (the ladder rides a broadcast cross join over the
   * class-size frame — distinct-quasi-tuple sized, never row-sized).
   */
  def suppressionCurve(df: DataFrame, quasiCols: Seq[String], ks: Seq[Int]): DataFrame = {
    require(quasiCols.nonEmpty, "no quasi-identifier columns")
    require(ks.nonEmpty && ks.forall(_ >= 2), s"ks must all be >= 2: $ks")
    val spark = df.sparkSession
    import spark.implicits._
    val sizes = df.groupBy(quasiCols.map(col): _*).agg(count(lit(1)).as("__n"))
    val ladder = ks.distinct.sorted.map(_.toLong).toDF("k")
    sizes.crossJoin(broadcast(ladder))
      .groupBy(col("k"))
      .agg(count(lit(1)).as("n_classes"),
        sum(col("__n")).as("n_rows"),
        sum(when(col("__n") < col("k"), 1L).otherwise(0L)).as("n_small_classes"),
        sum(when(col("__n") < col("k"), col("__n")).otherwise(0L))
          .as("n_suppressed_rows"))
      .withColumn("suppressed_milli",
        expr("(1000 * n_suppressed_rows) div n_rows"))
  }

  /**
   * The audit half of erasure: per fact table, how many rows existed
   * and how many the deletion list claims — the evidence row a
   * compliance review wants BEFORE the destructive pass runs. One
   * conditional aggregate per table (the subject set rides a broadcast
   * left join as a hit flag), unioned into
   * `(table_name, n_rows, n_erased)`.
   */
  def erasureReport(tables: Seq[(String, DataFrame, String)],
      subjects: DataFrame, subjectCol: String): DataFrame = {
    require(tables.nonEmpty, "no tables given")
    val subj = broadcast(
      subjects.select(col(subjectCol).as("__subj")).distinct()
        .withColumn("__hit", lit(1L)))
    tables.map { case (name, df, keyCol) =>
      df.select(col(keyCol).as("__subj"))
        .join(subj, Seq("__subj"), "left")
        .agg(count(lit(1)).as("n_rows"),
          sum(coalesce(col("__hit"), lit(0L))).as("n_erased"))
        .select(lit(name).as("table_name"), col("n_rows"), col("n_erased"))
    }.reduce(_ unionByName _)
  }

  /**
   * Bounded-sensitivity preprocessing for USER-LEVEL privacy: keep each
   * user's first `cap` rows in `order` (which must totally order the
   * rows WITHIN a user — include a unique id as the last key, or a tie
   * straddling the cap makes the kept set engine-dependent), drop the
   * rest. After clipping, any per-cell count changes by at most `cap`
   * when one user's entire history is added or removed — the
   * sensitivity bound a user-level DP release (e.g.
   * [[dpNoisedCounts]]) needs BEFORE its noise means anything: noise
   * calibrated to sensitivity 1 on unclipped data protects event-level
   * neighbors only, and a single hot user (a bot, a crawler) can
   * otherwise dominate every released cell.
   *
   * "First `cap` in time order" (not a random subset) is the
   * reproducible convention: deterministic under replay, engine-exact,
   * and biased toward a user's EARLIEST behavior — document that bias
   * to consumers. One shuffle on the user key; the window is
   * user-partitioned (never global), so hot users cost their own rows
   * and nothing else.
   */
  def clipContributions(df: DataFrame, userCol: String, order: Seq[Column],
      cap: Int): DataFrame = {
    require(cap > 0, s"cap must be positive: $cap")
    require(order.nonEmpty, "clipContributions needs ordering columns")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(userCol)).orderBy(order: _*)
    df.withColumn("__cc_rn", row_number().over(w))
      .where(col("__cc_rn") <= cap)
      .drop("__cc_rn")
  }

  /**
   * The evidence row a contribution-bounded release ships beside its
   * counts: per `keyCol` cell, raw vs clipped volume, plus the global
   * count of users the cap actually touched (how much signal the bound
   * cost — a cap that clips nobody bounds nothing a smaller cap
   * wouldn't). Cost shape: the clip's user-partitioned window, two
   * hash aggregates over the fact table, and a 1-row user census that
   * rides every output row via a broadcast cross join.
   */
  def contributionAudit(df: DataFrame, userCol: String, keyCol: String,
      order: Seq[Column], cap: Int): DataFrame = {
    val clipped = clipContributions(df, userCol, order, cap)
    val raw = df.groupBy(col(keyCol)).agg(count(lit(1)).as("n_raw"))
    val kept = clipped.groupBy(col(keyCol)).agg(count(lit(1)).as("n_clipped"))
    val census = df.groupBy(col(userCol)).agg(count(lit(1)).as("__c"))
      .agg(coalesce(sum(when(col("__c") > cap, 1L).otherwise(0L)), lit(0L))
        .as("n_users_clipped"))
    raw.join(kept, Seq(keyCol))
      .withColumn("n_dropped", col("n_raw") - col("n_clipped"))
      .crossJoin(broadcast(census))
  }

  /**
   * Generalized randomized response over a PUBLIC category domain —
   * LOCAL differential privacy, the model where the collector itself is
   * untrusted (vs [[dpNoisedCounts]]' central model, where true counts
   * exist server-side and only the release is noised): each row reports
   * its TRUE category with probability `p = pMilli/1000` and one of the
   * other `K−1` categories uniformly otherwise, so any single report is
   * (ln(p·(K−1)/(1−p)))-deniable no matter what the collector stores.
   * Warner 1965 / the direct-encoding arm of RAPPOR.
   *
   * Determinism contract (the [[discreteLaplace1]] "sticky noise"
   * form): both the flip decision and the replacement pick are 60-bit
   * md5 draws seeded by `salt:id`, so a re-run reports identically and
   * spends no extra budget; the salt is the secret, exactly as
   * documented on [[dpNoisedCounts]]. The domain must be PUBLIC and
   * total — an unlisted category raises in-plan rather than silently
   * passing the true value through.
   *
   * Pure per-row projection (a K-branch CASE over literal categories —
   * codegen, no shuffle, no state). Sized for the small categorical
   * domains local DP is used on (KB-scale K; the CASE is K² literals).
   */
  def randomizedResponse(df: DataFrame, catCol: String, idCol: String,
      categories: Seq[String], pMilli: Int, salt: String): DataFrame = {
    require(categories.size >= 2, "randomizedResponse needs >= 2 categories")
    require(categories.distinct.size == categories.size, "duplicate categories")
    require(pMilli > 0 && pMilli <= 1000, s"pMilli out of (0, 1000]: $pMilli")
    require(!salt.contains(":"), s"salt must not contain ':': '$salt'")
    val k = categories.size
    val keep = pmod(Sampling.keyHash(
      concat(lit(s"$salt:keep:"), col(idCol).cast("string"))), lit(1000L)) <
      lit(pMilli.toLong)
    val alt = pmod(Sampling.keyHash(
      concat(lit(s"$salt:alt:"), col(idCol).cast("string"))), lit((k - 1).toLong))
    val sorted = categories.sorted
    val replacement = sorted.foldRight(
      raise_error(concat(lit("randomizedResponse: category outside the public domain: "),
        col(catCol))): Column) { (c, rest) =>
      val others = sorted.filterNot(_ == c)
      when(col(catCol) === c,
        element_at(array(others.map(lit): _*), (alt + 1L).cast("int"))).otherwise(rest)
    }
    df.withColumn("reported", when(keep, col(catCol)).otherwise(replacement))
  }

  /**
   * Debiased frequency estimate from [[randomizedResponse]] reports:
   * with observed counts `y_c` over `n` reports,
   *   n̂_c = (1000·(K−1)·y_c − n·(1000−pMilli)) div (pMilli·K − 1000)
   * — the unbiased inversion of the report channel, cross-multiplied so
   * the only division is one final integer floor (the estimates sum
   * to n exactly before flooring — Σ(K−1 numerators) telescopes to
   * n·den). Zero cells ride a literal category frame, so an unreported
   * category still gets its (negative-leaning) estimate. The true
   * per-row categories never appear in the output — only reported
   * counts and their debiased inversion.
   */
  def rrFrequencyEstimate(df: DataFrame, catCol: String, idCol: String,
      categories: Seq[String], pMilli: Int, salt: String): DataFrame = {
    val k = categories.size
    require(pMilli.toLong * k > 1000L,
      s"pMilli=$pMilli uninformative for K=$k (denominator <= 0): the " +
        "report channel is at or below uniform")
    val spark = df.sparkSession
    import spark.implicits._
    val reported = randomizedResponse(df, catCol, idCol, categories, pMilli, salt)
    val obs = reported.groupBy(col("reported").as(catCol))
      .agg(count(lit(1)).as("n_reported"))
    val cats = categories.sorted.toDF(catCol)
    val tot = reported.agg(count(lit(1)).as("__n"))
    val den = pMilli.toLong * k - 1000L
    cats.join(obs, Seq(catCol), "left")
      .withColumn("n_reported", coalesce(col("n_reported"), lit(0L)))
      .crossJoin(broadcast(tot))
      // DECIMAL(38,0) numerator: 1000·(K−1)·y reaches 10¹⁹ already at a
      // 10¹³-row corpus with a 10³-category domain — the Long-wrap class
      // the exact-integer convention forbids (Spark wraps silently where
      // a BIGINT oracle raises)
      .select(col(catCol), col("n_reported"),
        expr(s"""(1000 * ${k - 1} * CAST(n_reported AS DECIMAL(38,0))
                |  - CAST(__n AS DECIMAL(38,0)) * ${1000L - pMilli}) div $den"""
          .stripMargin).as("n_est"))
  }

  /** Discrete-Laplace(ε=1) CDF thresholds scaled by 2^60 for noise
    * values −8..+7 (a 60-bit hash at or beyond the last is +8). The
    * two-sided geometric pmf P(k) ∝ α^|k| with α = e^−1, truncated at
    * ±8 (tail mass ≈ 1.8e−4 folds into the endpoints). Literals are
    * mirrored verbatim in the DuckDB oracle. */
  private val DLapCdf60: Seq[Long] = Seq(
    178729391883036L, 664566250050231L, 1985207753201749L,
    5575083553127362L, 15333377706490033L, 41859171380333926L,
    113963754309397679L, 309964331834089956L, 842749140086939325L,
    1038749717611631602L, 1110854300540695355L, 1137380094214539248L,
    1147138388367901919L, 1150728264167827532L, 1152048905670979050L,
    1152534742529146245L)

  /** Deterministic discrete-Laplace(ε=1) draw in −8..+8 from the 60-bit
    * md5 of `key` — the "sticky noise" form: the same cell always draws
    * the same noise, so re-running the release answers identically and
    * spends no additional privacy budget (memoized-release semantics,
    * cf. RAPPOR's permanent randomized response). */
  def discreteLaplace1(key: Column): Column = {
    val h = conv(substring(md5(key), 1, 15), 16, 10).cast("long")
    DLapCdf60.zipWithIndex.foldRight(lit(8L): Column) { case ((t, i), rest) =>
      when(h < lit(t), lit(i.toLong - 8L)).otherwise(rest)
    }
  }

  /**
   * TRUNCATED (approximate) discrete-Laplace noised count release over
   * `keys`: exact cell counts plus per-cell noise seeded by
   * `salt || ':' || key values`, clamped at 0 (post-processing-safe).
   * The true counts never appear in the output.
   *
   * Privacy contract — read before releasing:
   *   - **The salt is the secret.** The noise is a deterministic
   *     function of (salt, key); anyone who learns the salt can
   *     recompute and subtract it exactly. Treat the salt like a key:
   *     generate it from a CSPRNG, never log or ship it, and use each
   *     salt for EXACTLY ONE release (two releases under one salt share
   *     noise; two salts over the same cells average it away — both
   *     spend budget).
   *   - **This is NOT pure ε-DP.** The discrete-Laplace(ε=1) draw is
   *     truncated to ±8 with the tail mass (≈1.8e−4) folded into the
   *     endpoints, so observing `n_released = c` certifies the true
   *     count is within ±8 of c — a (ε, δ≈1.8e−4)-style guarantee at
   *     best, adequate for skew dashboards, NOT for adversarial
   *     releases. Widen the support before using this against a real
   *     privacy adversary.
   *
   * Key values must not contain `':'` (the seed separator) and must
   * not be NULL (a null would void the seed and degrade to constant
   * noise) — both enforced in-plan with raise_error. One groupBy of
   * the fact table; the noise is a per-group scalar expression over
   * |cells| rows.
   */
  def dpNoisedCounts(df: DataFrame, keys: Seq[String], salt: String): DataFrame = {
    require(keys.nonEmpty, "dpNoisedCounts needs at least one key column")
    require(!salt.contains(":"), s"salt must not contain ':': '$salt'")
    val sep = lit(":")
    val seed = keys.map(col).foldLeft(lit(salt): Column)((acc, k) =>
      concat(acc, sep,
        when(k.isNull,
          raise_error(lit("dpNoisedCounts: NULL key value — " +
            "a null seed degrades to constant noise; filter or impute first")))
          .when(k.cast("string").contains(":"),
            raise_error(concat(lit("dpNoisedCounts: key value contains ':': "),
              k.cast("string"))))
          .otherwise(k.cast("string"))))
    df.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("__n"))
      .select(keys.map(col) :+
        greatest(lit(0L), col("__n") + discreteLaplace1(seed))
          .as("n_released"): _*)
  }
}
