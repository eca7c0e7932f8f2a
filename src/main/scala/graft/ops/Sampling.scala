package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Deterministic sampling for training-data curation. Unlike
 * `df.sample()` (partition-layout- and seed-dependent RNG), the gate is a
 * pure function of the row's KEY: a row is kept iff the 60-bit md5 of
 * its key falls below `fraction × 2^60`. Properties that matter at
 * 100 TB:
 *
 *  - reproducible on any cluster layout, any retry, any engine — the
 *    same corpus always yields the same sample (and the DuckDB oracle
 *    value-checks it);
 *  - stable under incremental growth: a document's keep/drop decision
 *    never changes as the corpus grows, so downstream caches stay valid;
 *  - consistent across tables: sampling two tables by the same join key
 *    keeps them join-complete.
 *
 * Thresholds are computed ONCE on the driver and embedded as literals,
 * so no cross-engine float arithmetic is involved in the compare.
 */
object Sampling {

  /** fraction ∈ [0,1] → 60-bit threshold (driver-side, embedded as a
    * literal in the plan and in the oracle SQL). */
  def threshold(fraction: Double): Long = {
    require(fraction >= 0.0 && fraction <= 1.0, s"fraction out of range: $fraction")
    math.min((fraction * (1L << 60).toDouble).toLong, 1L << 60)
  }

  /** 60-bit md5 hash of the stringified key — `md5Hash60` ≡
    * `('0x' || substr(md5(key), 1, 15))::BIGINT` in DuckDB. */
  def keyHash(key: Column): Column =
    conv(substring(md5(key.cast("string")), 1, 15), 16, 10).cast("long")

  /** Uniform deterministic sample: keep ~fraction of rows by key hash. */
  def deterministicSample(df: DataFrame, keyCol: String, fraction: Double): DataFrame =
    df.where(keyHash(col(keyCol)) < lit(threshold(fraction)))

  /**
   * Stratified deterministic sample: a per-stratum fraction (e.g. keep
   * 50% of English, 10% of everything else — the standard language
   * rebalancing step). Per-row gate, no shuffle; strata with no
   * configured fraction use `defaultFraction`.
   */
  def stratifiedSample(df: DataFrame, keyCol: String, strataCol: String,
      fractions: Map[String, Double], defaultFraction: Double = 0.0): DataFrame = {
    val thresholdCol = fractions.toSeq.sortBy(_._1)
      .foldLeft(lit(threshold(defaultFraction))) { case (acc, (stratum, f)) =>
        when(col(strataCol) === stratum, lit(threshold(f))).otherwise(acc)
      }
    df.where(keyHash(col(keyCol)) < thresholdCol)
  }

  /**
   * Cumulative 60-bit band edges for a disjoint split: split i keeps rows
   * with hash in [edge(i-1), edge(i)). Driver-side, embedded as literals
   * in the plan AND the oracle SQL so both engines compare the same
   * constants. Weights must sum to 1 (the last band absorbs the rounding
   * remainder up to 2^60, so the split is exhaustive by construction).
   */
  def splitEdges(splits: Seq[(String, Double)]): Seq[(String, Long)] = {
    require(splits.nonEmpty, "empty split spec")
    require(splits.map(_._1).distinct.size == splits.size, "duplicate split names")
    require(splits.forall(_._2 >= 0.0), "negative split weight")
    require(math.abs(splits.map(_._2).sum - 1.0d) < 1e-9,
      s"split weights must sum to 1, got ${splits.map(_._2).sum}")
    val cum = splits.scanLeft(0.0d)(_ + _._2).tail
    // fp cumulative sums can land an ulp above 1.0 — clamp before the
    // threshold range check (the last edge is the absorbing band anyway)
    splits.map(_._1).zip(cum.map(c => threshold(math.min(c, 1.0d))))
  }

  /**
   * Disjoint deterministic train/val/test split: the row's split is the
   * first hash band its 60-bit key hash falls into. Same three scale
   * properties as [[deterministicSample]] (layout-independent, stable
   * under corpus growth, key-consistent across tables) plus: bands are
   * DISJOINT and EXHAUSTIVE, so every row lands in exactly one split —
   * the invariant that makes a train/test leak impossible by
   * construction. Per-row gate, no shuffle.
   */
  def hashSplit(df: DataFrame, keyCol: String, splits: Seq[(String, Double)],
      outCol: String = "split"): DataFrame = {
    val edges = splitEdges(splits)
    // last band catches everything below 2^60 — no `otherwise` gap
    val assign = edges.init.foldRight(lit(edges.last._1): Column) {
      case ((name, edge), acc) =>
        when(keyHash(col(keyCol)) < lit(edge), lit(name)).otherwise(acc)
    }
    df.withColumn(outCol, assign)
  }

  /**
   * Balanced deterministic sample: exactly `n` rows per stratum (all of
   * a stratum when it is smaller), chosen by key-hash order — the
   * equal-allocation eval set ("100 docs per language, every run the
   * same 100") that a fraction-based sample cannot give: tiny strata
   * vanish from proportional samples, and RNG samples differ run to
   * run. Hash order is layout-independent and growth-stable UNTIL new
   * keys hash below a stratum's current cutoff — unlike
   * [[deterministicSample]]'s fixed threshold, membership here can
   * shift as a stratum grows (the price of an exact count). One
   * stratum-partitioned rank window.
   */
  def balancedSample(df: DataFrame, strataCol: String, keyCol: String,
      n: Int): DataFrame = {
    require(n >= 1, s"n must be >= 1: $n")
    Ranking.topKPerGroup(df, Seq(strataCol),
        Seq(keyHash(col(keyCol)), col(keyCol)), n, rankCol = "__bs_rank")
      .drop("__bs_rank")
  }

  /**
   * Representativeness audit of a split assignment: per (split,
   * stratum) cell — count, the stratum's exact milli share WITHIN the
   * split, its milli share in the whole corpus, and the signed bias
   * between them. A hash split is uniform in expectation, not by
   * construction: a small stratum can land lopsided, and an eval set
   * whose language mix drifted from the corpus mix measures the wrong
   * thing. One grouped count; the three denominators are group-sized
   * frames riding broadcast joins.
   */
  def splitCoverage(df: DataFrame, splitCol: String, strataCol: String): DataFrame = {
    val cell = df.groupBy(col(splitCol), col(strataCol))
      .agg(count(lit(1)).as("n"))
    val perSplit = cell.groupBy(col(splitCol)).agg(sum(col("n")).as("__ns"))
    val perStratum = cell.groupBy(col(strataCol)).agg(sum(col("n")).as("__nt"))
    val total = cell.agg(sum(col("n")).as("__N"))
    cell.join(broadcast(perSplit), Seq(splitCol))
      .join(broadcast(perStratum), Seq(strataCol))
      .crossJoin(broadcast(total))
      .select(col(splitCol), col(strataCol), col("n"),
        expr("(n * 1000) div __ns").as("share_in_split_milli"),
        expr("(__nt * 1000) div __N").as("share_global_milli"),
        (expr("(n * 1000) div __ns") - expr("(__nt * 1000) div __N"))
          .as("bias_milli"))
  }

  /**
   * Per-row weighted deterministic sample (importance / quality-weighted
   * subsampling — "keep high-quality docs with probability ∝ score"): a
   * row survives iff its 60-bit key hash falls below floor(weight × 2^60),
   * so a row with weight w is kept with probability w, decided purely by
   * its key — reproducible on any layout, stable under corpus growth,
   * no RNG. `weight` is clamped to [0,1]; per-row gate, no shuffle.
   */
  def weightedSample(df: DataFrame, keyCol: String, weight: Column): DataFrame =
    df.where(keyHash(col(keyCol)) <
      floor(greatest(lit(0.0d), least(weight.cast("double"), lit(1.0d)))
        * lit((1L << 60).toDouble)).cast("long"))

  /**
   * Domain-mixture resampling: downsample strata so the output matches
   * `targetWeights` proportions (the DoReMi/Pile-style mixture step —
   * "make the corpus 60% en / 20% de / 20% fr"). The largest mixture
   * achievable without upsampling is used: C = min over strata of
   * n_d / w_d, per-stratum keep fraction = w_d · C / n_d (the binding
   * stratum keeps everything). Strata absent from `targetWeights` (or
   * with weight 0) are dropped.
   *
   * Fully in-plan — no driver collect: stratum counts are a tiny
   * aggregate, the global scale a one-row frame, both broadcast back onto
   * the per-row hash gate. Two passes over the corpus (count + gate), the
   * minimum any exact mixture requires; the gate itself is the same
   * deterministic 60-bit md5 as [[deterministicSample]], so the output is
   * layout-independent and value-checkable.
   */
  def mixtureResample(df: DataFrame, keyCol: String, strataCol: String,
      targetWeights: Map[String, Double]): DataFrame = {
    require(targetWeights.values.forall(_ >= 0.0), "negative mixture weight")
    require(targetWeights.values.exists(_ > 0.0), "all mixture weights are zero")
    val weightCol = targetWeights.toSeq.sortBy(_._1)
      .foldLeft(lit(0.0d)) { case (acc, (stratum, w)) =>
        when(col(strataCol) === stratum, lit(w)).otherwise(acc)
      }
    val counts = df.groupBy(col(strataCol)).agg(count(lit(1)).as("__n"))
      .withColumn("__w", weightCol).where(col("__w") > 0.0d)
    val scale = counts.agg(min(col("__n").cast("double") / col("__w")).as("__c"))
    val thresholds = counts.crossJoin(broadcast(scale)).select(col(strataCol),
      floor(col("__w") * col("__c") / col("__n").cast("double")
        * lit((1L << 60).toDouble)).cast("long").as("__thr"))
    df.join(broadcast(thresholds), strataCol)
      .where(keyHash(col(keyCol)) < col("__thr"))
      .drop("__thr")
  }

  /**
   * Water-filling token-budget allocation: split a token budget of
   * `budgetMilli/1000` of the corpus total across strata, each stratum
   * capped at its own token count — the budget-per-domain step of
   * mixture construction ("fit 60% of total tokens, no domain
   * over-drawn, surplus spread evenly"). Smaller strata are served in
   * full; the rest share the remainder at a common level, the classic
   * water-fill, with the integer remainder units going one each to the
   * LARGEST capped strata (deterministic tie order). All arithmetic is
   * integer, so both engines agree bit-for-bit and
   * `Σ alloc = min(budget, total)` exactly.
   *
   * Output: `(strataCol, n_tokens, alloc_tokens, capped)` — one row per
   * stratum.
   *
   * Scale shape: one map-side-combined aggregate over the corpus, then
   * everything runs on the stratum-sized table. Strata are a
   * config-scale set (domains, languages, sources): the `limit(100000)`
   * is the in-plan assertion of that contract — and the bound the plan
   * audit requires of the ordered scan's global window. The windows run
   * BEFORE any join so the audit's limit walk sees them; the one-row
   * totals and the two-value water-line aggregate join back broadcast.
   */
  def tokenBudget(df: DataFrame, strataCol: String, tokens: Column,
      budgetMilli: Int): DataFrame = {
    require(budgetMilli >= 0 && budgetMilli <= 1000,
      s"budgetMilli out of [0,1000]: $budgetMilli")
    import org.apache.spark.sql.expressions.Window
    val counts = df.groupBy(col(strataCol)).agg(sum(tokens).as("n_tokens"))
      .limit(100000)
    val tot = counts.agg(sum("n_tokens").as("__tot"), count(lit(1)).as("__S"))
    val asc = Window.orderBy(col("n_tokens"), col(strataCol))
    // ascending scan: index + prefix sum (window input is the
    // limit-bounded stratum table — keep it JOIN-FREE above the limit)
    val scanned = counts
      .withColumn("__i", row_number().over(asc).cast("long"))
      .withColumn("__P",
        sum(col("n_tokens")).over(asc.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .crossJoin(broadcast(tot))
      .withColumn("__B", expr(s"(__tot * $budgetMilli) div 1000"))
      // stratum i is served in full ⟺ nᵢ·kᵢ ≤ B − P_{i−1} with
      // kᵢ = S − i + 1 — the floor-division test cross-multiplied so
      // it stays in integers; full is prefix-monotone in ascending n
      .withColumn("__full",
        col("n_tokens") * (col("__S") - col("__i") + 1) <=
          col("__B") - (col("__P") - col("n_tokens")))
    // the water line: last fully-served index + its prefix mass, a
    // two-value aggregate joined back broadcast
    val star = scanned.agg(
      coalesce(max(when(col("__full"), col("__i"))), lit(0L)).as("__istar"),
      coalesce(max(when(col("__full"), col("__P"))), lit(0L)).as("__Pstar"))
    scanned.crossJoin(broadcast(star))
      .withColumn("__k", col("__S") - col("__istar"))
      .withColumn("__lvl",
        when(col("__k") > 0, expr("(__B - __Pstar) div __k")).otherwise(lit(0L)))
      .withColumn("__rem",
        when(col("__k") > 0, expr("(__B - __Pstar) % __k")).otherwise(lit(0L)))
      // capped strata ranked largest-first: j = S − i + 1 ∈ [1, k];
      // the first __rem of them carry one extra token
      .withColumn("__j", col("__S") - col("__i") + 1)
      .withColumn("alloc_tokens",
        when(col("__full"), col("n_tokens"))
          .otherwise(col("__lvl") + when(col("__j") <= col("__rem"), 1L).otherwise(0L)))
      .select(col(strataCol), col("n_tokens"), col("alloc_tokens"),
        when(col("__full"), 0L).otherwise(1L).as("capped"))
  }

  /**
   * Exactly-n global sample, deterministic: the n rows whose key
   * hashes are globally smallest (ties by key). A fraction gate gives
   * a binomial count; this gives EXACTLY n — the eval-set / spot-check
   * contract — while staying a pure function of the keys (same corpus
   * → same sample on any layout, any engine). Plans as
   * TakeOrderedAndProject: per-partition n-row heaps merged on the
   * driver — n rows of driver memory, never a global sort.
   */
  def exactN(df: DataFrame, keyCol: String, n: Int): DataFrame = {
    require(n >= 1, s"n must be >= 1: $n")
    df.orderBy(keyHash(col(keyCol)), col(keyCol)).limit(n)
  }

  /**
   * Per-stratum cap: keep at most `cap` rows per stratum, chosen in
   * deterministic HASH order (not "first by id", which at corpus scale
   * correlates with crawl time and biases the kept set). The
   * Common-Crawl-style per-domain quota: small strata pass whole,
   * over-represented ones are clipped — unlike [[balancedSample]]
   * (exactly n, drops small strata context) or a fraction gate (caps
   * nothing). Window is stratum-partitioned; `keep_rank` rides along
   * so downstream can tighten the cap without re-ranking.
   */
  def capPerStratum(df: DataFrame, strataCol: String, keyCol: String,
      cap: Int): DataFrame = {
    require(cap >= 1, s"cap must be >= 1: $cap")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(strataCol))
      .orderBy(keyHash(col(keyCol)), col(keyCol))
    df.withColumn("keep_rank", row_number().over(w).cast("long"))
      .where(col("keep_rank") <= cap)
  }

  /**
   * Mixture-plan epochs: given explicit per-stratum TARGET weights
   * (milli, the "data mix" a training run specifies) and a total token
   * budget, compute what each stratum must contribute and how many
   * times it repeats. [[tokenBudget]] derives an allocation from the
   * corpus (water-fill); this takes the allocation as INPUT — the two
   * halves of "plan the mix, then check it's drawable". Per stratum:
   * `n_tokens` available, `target_tokens = budget·weight div 1000`,
   * `epochs_milli = target·1000 div available` (> 1000 ⇒ the source
   * repeats — the Muennighoff-style data-constrained signal), and a
   * status: 'ok' (≤ 1 epoch), 'repeats', 'unavailable' (weighted but
   * absent — target > 0 with nothing to draw; epochs_milli null), or
   * 'unweighted' (present but target 0). All integer arithmetic.
   *
   * Scale shape: one map-side-combined aggregate over the corpus; the
   * weight table is a literal broadcast. Nothing downstream is
   * data-sized.
   */
  def mixEpochs(df: DataFrame, strataCol: String, tokens: Column,
      weightsMilli: Seq[(String, Long)], budgetTokens: Long): DataFrame = {
    require(weightsMilli.nonEmpty, "no mixture weights")
    require(weightsMilli.forall(_._2 >= 0), s"negative weight: $weightsMilli")
    require(budgetTokens >= 0, s"negative budget: $budgetTokens")
    val spark = df.sparkSession
    import spark.implicits._
    val w = broadcast(weightsMilli.toDF(strataCol, "weight_milli"))
    val avail = df.groupBy(col(strataCol)).agg(sum(tokens).as("n_tokens"))
    avail.join(w, Seq(strataCol), "full_outer")
      .select(col(strataCol),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("weight_milli"), lit(0L)).as("weight_milli"))
      .withColumn("target_tokens", expr(s"($budgetTokens * weight_milli) div 1000"))
      .withColumn("epochs_milli",
        when(col("n_tokens") > 0, expr("(target_tokens * 1000) div n_tokens")))
      .withColumn("status",
        when(col("target_tokens") === 0L, "unweighted")
          .when(col("n_tokens") === 0L, "unavailable")
          .when(col("epochs_milli") > 1000L, "repeats")
          .otherwise("ok"))
  }

  /**
   * Budget-gated sampling: downsample every stratum to (approximately)
   * its [[tokenBudget]] allocation with the deterministic 60-bit hash
   * gate — the execution step of the water-fill ("now actually draw
   * those tokens"). Fully-served strata get threshold 2^60 (kept
   * whole); capped strata keep ~alloc/n of their rows. Expected token
   * mass equals the allocation; like every hash gate the realized count
   * is binomial around it, which is the correct trade at corpus scale —
   * an EXACT cut would need a per-stratum running sum over data-sized
   * partitions. Same bit-reproducibility argument as
   * [[temperatureResample]]: both engines evaluate the identical
   * `floor(alloc/n · 2^60)` double expression. A zero-token stratum's
   * 0/0 threshold is NaN → null gate → dropped (nothing to draw).
   */
  def budgetSample(df: DataFrame, strataCol: String, keyCol: String, tokens: Column,
      budgetMilli: Int): DataFrame = {
    val thr = tokenBudget(df, strataCol, tokens, budgetMilli)
      .select(col(strataCol),
        floor(col("alloc_tokens").cast("double") / col("n_tokens").cast("double")
          * lit((1L << 60).toDouble)).cast("long").as("__thr"))
    df.join(broadcast(thr), strataCol)
      .where(keyHash(col(keyCol)) < col("__thr"))
      .drop("__thr")
  }

  /**
   * Temperature-flattened mixture (the T5 multilingual recipe): target
   * proportions are computed IN-PLAN from the stratum counts,
   * `w_s ∝ n_s^α` with α fixed at 1/2 — flattening the natural
   * distribution toward balance without anyone supplying weights. With
   * the same no-upsampling scale as [[mixtureResample]] (`C = min
   * n_s/w_s`) this reduces to: the smallest stratum keeps everything,
   * every other stratum keeps `sqrt(n_min / n_s)` of its rows, so the
   * output mixture is proportional to `sqrt(n_s)` exactly.
   *
   * α is FIXED at 1/2 deliberately: `sqrt` is correctly rounded by
   * IEEE-754 (a language-level guarantee), while a general `pow(n,α)`
   * is libm-specific in its last ulp — at a threshold boundary that one
   * ulp flips membership of real rows. To be precise about what
   * reproducibility rests on: correctly-rounded `sqrt` alone doesn't
   * make the THRESHOLD bit-exact — it's that both engines evaluate the
   * same `floor(w·C/n·2^60)` expression over the same doubles with the
   * same correctly-rounded `*`, `/`, and `sqrt` in the same order, so
   * every intermediate (and the floor) is bit-identical. Any mirror
   * that re-associates the arithmetic loses that guarantee even with a
   * perfect sqrt. Other temperatures belong to
   * [[mixtureResample]] with driver-computed weights. Same cost shape:
   * tiny count aggregate + one-row scale, broadcast onto the per-row
   * 60-bit hash gate; two passes over the corpus.
   */
  def temperatureResample(df: DataFrame, keyCol: String, strataCol: String): DataFrame = {
    val counts = df.groupBy(col(strataCol)).agg(count(lit(1)).as("__n"))
      .withColumn("__w", sqrt(col("__n").cast("double")))
    val scale = counts.agg(min(col("__n").cast("double") / col("__w")).as("__c"))
    val thresholds = counts.crossJoin(broadcast(scale)).select(col(strataCol),
      floor(col("__w") * col("__c") / col("__n").cast("double")
        * lit((1L << 60).toDouble)).cast("long").as("__thr"))
    df.join(broadcast(thresholds), strataCol)
      .where(keyHash(col(keyCol)) < col("__thr"))
      .drop("__thr")
  }

  /**
   * Raking / iterative proportional fitting (Deming & Stephan 1940):
   * per-cell reweighting of a two-way contingency so the WEIGHTED
   * marginals match BOTH target distributions simultaneously — the
   * two-marginal generalization of [[mixtureResample]]'s one-stratum
   * mix (hit the language targets AND the source targets with one
   * weight column, where sequential one-dim mixes undo each other).
   * Rounds alternate row and column scaling, `w ← w·T_r/cur_r`; each
   * step lands its marginal exactly (up to floors) and the alternation
   * converges geometrically on any cell table with enough support.
   *
   * Exact integer arithmetic: weights in MICRO, one floor division per
   * scaling step, products cross-multiplied in DECIMAL(38,0) (mass
   * `n·w` reaches 10¹⁹ already at a 10⁹-row corpus — past Long), so
   * the oracle replays every floor bit-for-bit. An observed row/col
   * value missing from the targets raises in-plan (a silent 0-target
   * would quietly erase the cell); a target 0 legitimately suppresses.
   * A target over a row/col with NO observed mass is unreachable —
   * its mass stays 0 and the achieved-share columns show the miss
   * (raking reallocates, it cannot invent rows).
   *
   * Cost shape: ONE corpus aggregate builds the cell table; every
   * round is window arithmetic over that category-sized frame
   * (partitioned by row/col value — never a global window), and the
   * chain is linear (single consumer per step — no cuts needed).
   * Output: `(rowCol, colCol, n, weight_micro, row_share_milli,
   * col_share_milli)` where the shares are the ACHIEVED weighted
   * marginals after `rounds`.
   */
  def rakeWeights(df: DataFrame, rowCol: String, colCol: String,
      targetRowMilli: Seq[(String, Long)], targetColMilli: Seq[(String, Long)],
      rounds: Int): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1: $rounds")
    def checkTargets(t: Seq[(String, Long)], which: String): Unit = {
      require(t.map(_._1).distinct.size == t.size, s"duplicate $which target keys")
      require(t.forall(_._2 >= 0L), s"negative $which target")
      require(t.map(_._2).sum == 1000L,
        s"$which targets must sum to 1000, got ${t.map(_._2).sum}")
    }
    checkTargets(targetRowMilli, "row"); checkTargets(targetColMilli, "col")
    val spark = df.sparkSession
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    val cells0 = df.groupBy(col(rowCol), col(colCol)).agg(count(lit(1)).as("n"))
    def tDf(t: Seq[(String, Long)], key: String, v: String) =
      broadcast(t.toDF(key, v))
    def guarded(t: Column, key: Column, which: String): Column =
      when(t.isNull, raise_error(concat(
        lit(s"rakeWeights: $which value missing from targets: "), key)))
        .otherwise(t)
    val tot = cells0.agg(sum(col("n")).as("__N"))
    val cells = cells0
      .join(tDf(targetRowMilli, rowCol, "__tr"), Seq(rowCol), "left")
      .join(tDf(targetColMilli, colCol, "__tc"), Seq(colCol), "left")
      .select(col(rowCol), col(colCol), col("n"),
        guarded(col("__tr"), col(rowCol), "row").as("__tr"),
        guarded(col("__tc"), col(colCol), "col").as("__tc"))
      .crossJoin(broadcast(tot))
    val byRow = Window.partitionBy(col(rowCol))
    val byCol = Window.partitionBy(col(colCol))
    // micro weights; target row mass T_r = t_r·N·1000 in micro-mass
    // units (total mass N·10⁶); every product in DECIMAL(38,0)
    var w = cells.withColumn("__w", lit(1000000L))
    def step(win: org.apache.spark.sql.expressions.WindowSpec,
        tCol: String): DataFrame = {
      val cur = sum(expr("CAST(n AS DECIMAL(38,0)) * __w")).over(win)
      w.withColumn("__cur", cur)
        .withColumn("__w",
          when(col("__cur") > 0,
            expr(s"(CAST(__w AS DECIMAL(38,0)) * $tCol * __N * 1000) div __cur"))
            .otherwise(lit(0L)))
        .drop("__cur")
    }
    for (_ <- 1 to rounds) { w = step(byRow, "__tr"); w = step(byCol, "__tc") }
    // shares are reported against the TARGET total mass N·10⁶ (not the
    // achieved total): with full support they coincide after the final
    // column step, and with unreachable targets the shortfall shows up
    // as shares not summing to 1000 — the honest readout, and it needs
    // no global window (a whole-frame funnel PlanAudit rightly flags)
    val mass = expr("CAST(n AS DECIMAL(38,0)) * __w")
    w.withColumn("__m", mass)
      .withColumn("__mr", sum(col("__m")).over(byRow))
      .withColumn("__mc", sum(col("__m")).over(byCol))
      .select(col(rowCol), col(colCol), col("n"),
        col("__w").cast("long").as("weight_micro"),
        expr("""CAST((1000 * __mr) div (CAST(__N AS DECIMAL(38,0)) * 1000000)
               |  AS BIGINT)""".stripMargin).as("row_share_milli"),
        expr("""CAST((1000 * __mc) div (CAST(__N AS DECIMAL(38,0)) * 1000000)
               |  AS BIGINT)""".stripMargin).as("col_share_milli"))
  }
}
