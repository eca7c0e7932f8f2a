package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Probabilistic record linkage, Fellegi–Sunter style: candidate pairs
 * from equi-key BLOCKING (never a cartesian compare), per-field
 * agreement weights in exact milli log-odds units, a summed match
 * score, and thresholded decision bands (match / possible / nonmatch).
 *
 * The weights are CONFIGURED, not estimated: in the classical model
 * w_agree = log(m/u) and w_disagree = log((1-m)/(1-u)) for field-level
 * m/u probabilities — here the caller supplies those logs directly as
 * milli integers, so scoring is pure integer arithmetic and both
 * engines (Spark and the DuckDB oracle) compute identical bits. An EM
 * fit of m/u is a separate estimation concern; the scoring operator is
 * the part that has to scale.
 *
 * Scale shape: ONE shuffle on the blocking key produces the candidate
 * pairs; every comparison after that is a per-row expression. Block
 * sizes bound the pair blow-up (pairs = Σ |A_k|·|B_k| over blocks), so
 * the blocking key choice is the capacity knob — the same contract as
 * the LSH band joins in [[Dedup]]. A missing field contributes weight
 * 0 (absence of evidence), the standard F–S treatment.
 *
 * The reference reconciles on exact composite keys only
 * (reference: src/reconciliatior.py:60-103, the `check_coincidences`
 * multi-key equality joins); probabilistic scoring over noisy
 * identifiers is the extension a real migration immediately asks for.
 */
object Linkage {

  /** One field comparison: `agree` over the paired frame's columns,
    * optional `missing` gate (weight 0 when true), and the milli
    * log-odds weights applied on agreement / disagreement. */
  final case class FieldRule(
      field: String,
      agree: Column,
      missing: Option[Column],
      wAgreeMilli: Long,
      wDisagreeMilli: Long)

  /** Equi-blocked candidate pairs: ALL columns prefixed (`a_`/`b_`) and
    * the join on `a_key === b_key` — the block keys stay as data on both
    * sides, so pair frames from DIFFERENT blocking passes are
    * union-compatible (the shape [[blockPairsMulti]] needs). One equi
    * shuffle; block population bounds the output. */
  def blockPairsAll(a: DataFrame, b: DataFrame, blockCols: Seq[String]): DataFrame = {
    require(blockCols.nonEmpty, "blocking requires at least one key column")
    val pa = a.columns.foldLeft(a)((d, c) => d.withColumnRenamed(c, s"a_$c"))
    val pb = b.columns.foldLeft(b)((d, c) => d.withColumnRenamed(c, s"b_$c"))
    pa.join(pb, blockCols.map(c => col(s"a_$c") === col(s"b_$c")).reduce(_ && _))
  }

  /**
   * In-plan PAIR-BUDGET guard around [[blockPairsAll]]: the candidate
   * count `Σ_k |A_k|·|B_k|` is forecast EXACTLY from the two per-key
   * count frames ([[JoinForecast.joinSizeEstimate]] — keys shuffle, data
   * never does; the sum rides DECIMAL(38,0), so a hub key whose pair
   * product passes 2^63 cannot wrap into a small-positive forecast that
   * waves the explosion through), and when it exceeds `maxPairs` the
   * plan refuses to run:
   * the 1-row forecast broadcasts into the probe side and every probe row
   * passes a `raise_error` gate BEFORE entering the block join, so an
   * exploding blocking key (the hub-nation / null-zip classic) fails at
   * scan time instead of materializing a 10¹³-row pair table. Same
   * capacity discipline as the LSH join's `maxBucket` hub cap
   * ([[Dedup]]): unguarded blocking is the one silent super-linear shape
   * probabilistic linkage can smuggle into a 100 TB run.
   */
  def blockPairsBudgeted(a: DataFrame, b: DataFrame, blockCols: Seq[String],
      maxPairs: Long): DataFrame = {
    require(maxPairs > 0, s"pair budget must be positive: $maxPairs")
    val forecast = JoinForecast.joinSizeEstimate(a, b, blockCols)
      .select(when(col("n_output_rows") <= maxPairs, lit(1L))
        .otherwise(raise_error(concat(
          lit("linkage pair budget exceeded: "), col("n_output_rows"),
          lit(s" candidate pairs > $maxPairs on (${blockCols.mkString(", ")})" +
            " — use a more selective (composite) blocking key")))
          .cast("long")).as("__budget_ok"))
    // the where (not just a drop) keeps the gate in the plan: a projected-
    // away guard column would let the optimizer prune the forecast subtree
    val gatedA = a.crossJoin(broadcast(forecast))
      .where(col("__budget_ok") === 1L).drop("__budget_ok")
    blockPairsAll(gatedA, b, blockCols)
  }

  /**
   * UNION-OF-BLOCKINGS candidate generation — the standard multi-pass
   * blocking of production linkage (each pass is one cheap equi key; a
   * pair is compared when ANY pass co-locates it). Recall comes from the
   * union — a composite key that splits some true pairs (e.g. a drifted
   * balance band) is backstopped by the other passes — while COST stays
   * per-pass bounded: Σ_pass Σ_k |A_k|·|B_k|, every pass under its own
   * `maxPairs` forecast guard.
   *
   * Passes are DISJOINT BY CONSTRUCTION, not deduped after the fact:
   * pass i filters out any pair an earlier pass already co-located
   * (`NOT coalesce(AND_k a_k = b_k, false)` — the coalesce keeps a
   * null key from nulling the predicate, matching the equi-join's
   * never-matches-null semantics), so the union is UNION ALL and the
   * pair table never shuffles. A dedup-by-id-pair variant measured 3.2×
   * slower at the sf1 headroom tier — the dedup exchange was the ONLY
   * pair-sized shuffle in the whole linkage pipeline.
   */
  def blockPairsMulti(a: DataFrame, b: DataFrame, passes: Seq[Seq[String]],
      idA: String, idB: String, maxPairs: Long = Long.MaxValue): DataFrame = {
    require(passes.nonEmpty && passes.forall(_.nonEmpty),
      "multi-pass blocking requires at least one non-empty pass")
    passes.zipWithIndex.map { case (p, i) =>
      val base =
        if (maxPairs == Long.MaxValue) blockPairsAll(a, b, p)
        else blockPairsBudgeted(a, b, p, maxPairs)
      passes.take(i).foldLeft(base) { (df, earlier) =>
        df.where(!coalesce(
          earlier.map(c => col(s"a_$c") === col(s"b_$c")).reduce(_ && _),
          lit(false)))
      }
    }.reduce(_ unionByName _)
  }

  /** Pairs + per-field milli contributions + their `score_milli` sum.
    * Pure projection over the paired frame. */
  def score(pairs: DataFrame, rules: Seq[FieldRule]): DataFrame = {
    require(rules.nonEmpty, "scoring requires at least one field rule")
    val contribs = rules.map { r =>
      val base = when(r.agree, lit(r.wAgreeMilli)).otherwise(lit(r.wDisagreeMilli))
      val gated = r.missing match {
        case Some(m) => when(m, lit(0L)).otherwise(base)
        case None    => base
      }
      gated.cast("long").as(s"w_${r.field}_milli")
    }
    val withW = pairs.select(pairs.columns.map(col) ++ contribs: _*)
    withW.withColumn("score_milli",
      rules.map(r => col(s"w_${r.field}_milli")).reduce(_ + _))
  }

  /**
   * The estimation arm of Fellegi–Sunter: per-field m/u agreement rates
   * from a TRUTH-LABELED pair sample — m = P(field agrees | true link),
   * u = P(field agrees | non-link) — in exact milli units. `log(m/u)`
   * is the agreement weight the scoring arm consumes; the logs stay a
   * driver-side concern (configured literals, see [[score]]), the rates
   * are the distributed computation. Missing fields are excluded from
   * both denominators (they carry weight 0 in scoring, so their rate
   * must not dilute the estimate). One aggregate over the pair frame;
   * output one row per field:
   * `(field, n_true, n_false, m_milli, u_milli)`.
   */
  def estimateWeights(pairs: DataFrame, isTrue: Column,
      rules: Seq[FieldRule]): DataFrame = {
    require(rules.nonEmpty, "estimation requires at least one field rule")
    // ONE pass over the pair frame computes every field's four counters;
    // the per-field rows are then sliced out of the single-row aggregate
    // (lineage-cut so the union's |rules| consumers don't re-run the scan)
    val aggs = rules.flatMap { r =>
      val present = r.missing match {
        case Some(m) => !m
        case None    => lit(true)
      }
      val agree1 = when(present && r.agree, 1L).otherwise(0L)
      val pres1 = when(present, 1L).otherwise(0L)
      Seq(
        sum(when(isTrue, pres1).otherwise(0L)).as(s"__t_${r.field}"),
        sum(when(!isTrue, pres1).otherwise(0L)).as(s"__f_${r.field}"),
        sum(when(isTrue, agree1).otherwise(0L)).as(s"__ta_${r.field}"),
        sum(when(!isTrue, agree1).otherwise(0L)).as(s"__fa_${r.field}"))
    }
    val one = graft.recon.Checkpoints.cut(pairs.agg(aggs.head, aggs.tail: _*))
    rules.map { r =>
      val f = r.field
      one.select(lit(f).as("field"),
        col(s"__t_$f").as("n_true"), col(s"__f_$f").as("n_false"),
        when(col(s"__t_$f") > 0L, expr(s"(1000 * __ta_$f) div __t_$f"))
          .as("m_milli"),
        when(col(s"__f_$f") > 0L, expr(s"(1000 * __fa_$f) div __f_$f"))
          .as("u_milli"))
    }.reduce(_ unionByName _)
  }

  /**
   * One UNSUPERVISED EM iteration for the m/u probabilities (Winkler's
   * classic fit of the Fellegi–Sunter mixture — no truth labels, unlike
   * [[estimateWeights]]): given starting milli probabilities
   * `(field, m, u)` and a match prior `pMilli`, the E-step scores every
   * pair's match responsibility
   *   w = p·Π lm_f / (p·Π lm_f + (1−p)·Π lu_f)   (milli, floor div)
   * with per-field likelihoods lm = m if agree else 1000−m (missing
   * fields contribute a neutral 1000), and the M-step re-estimates
   *   m' = Σ w·[agree] / Σ w,   u' = Σ (1000−w)·[agree] / Σ (1000−w)
   * over the pairs where the field is present. ALL integer arithmetic:
   * with ≤ 4 fields the likelihood product p·Π lm stays ≤ 10³·(10³)⁴ =
   * 10¹⁵, so the responsibility numerator 1000·(p·Π lm) ≤ 10¹⁸ fits a
   * signed 64-bit Long with headroom (a 5th field would push it to
   * 10²¹ and SILENTLY wrap under Spark's non-ANSI arithmetic while
   * DuckDB raised — exactly the cross-engine divergence the exact-milli
   * convention exists to prevent, hence the hard cap). Both engines
   * floor-divide identically, so the fit is value-checkable bit for bit.
   *
   * One aggregate pass per iteration (the standard EM-at-scale shape:
   * responsibilities never materialize, they stream through the
   * map-side combine). Output one row per field:
   * `(field, m_milli, u_milli, m_next_milli, u_next_milli)`.
   */
  def emStep(pairs: DataFrame, rules: Seq[FieldRule],
      init: Seq[(String, Long, Long)], pMilli: Long): DataFrame = {
    // ≤ 4 fields: 1000·pMilli·Π lm ≤ 1000·10³·(10³)⁴ = 10¹⁸ < Long.Max;
    // at 5 the responsibility numerator wraps (see scaladoc)
    require(rules.size <= 4, s"integer headroom caps EM at 4 fields: ${rules.size}" +
      " — use emStepDecimal for 5-10 fields")
    emStepImpl(pairs, rules, init, pMilli, dec = false)
  }

  /**
   * [[emStep]] with the likelihood products, responsibilities, and
   * M-step sums in DECIMAL(38,0) — the 5–10-field envelope the Long
   * path's hard cap refuses (the [[graft.ops.Vocab.unigramEmStep]]
   * arithmetic pattern): `1000·p·Π lm ≤ 10^(3F+6) ≤ 10³⁶` at F = 10,
   * inside decimal's 10³⁸, and the M-step numerators `1000·Σ w·[agree]`
   * ride decimal too, so a web-scale pair count cannot wrap them either.
   * Identical semantics — floor divisions over exact integers — so on
   * ≤ 4 fields the two paths are bit-identical (spec-pinned); decimal
   * is not the default because the responsibility projection runs per
   * candidate pair, the linkage hot path.
   */
  def emStepDecimal(pairs: DataFrame, rules: Seq[FieldRule],
      init: Seq[(String, Long, Long)], pMilli: Long): DataFrame = {
    require(rules.size <= 10,
      s"DECIMAL(38,0) headroom caps EM at 10 fields: ${rules.size}")
    emStepImpl(pairs, rules, init, pMilli, dec = true)
  }

  private def emStepImpl(pairs: DataFrame, rules: Seq[FieldRule],
      init: Seq[(String, Long, Long)], pMilli: Long, dec: Boolean): DataFrame = {
    require(rules.nonEmpty, "EM requires at least one field rule")
    require(pMilli > 0 && pMilli < 1000, s"prior must be in (0,1000) milli: $pMilli")
    val initMap: Map[String, (Long, Long)] =
      init.map { case (f, m, u) => f -> (m, u) }.toMap
    require(rules.forall(r => initMap.contains(r.field)),
      s"init must cover every rule field: ${init.map(_._1).mkString(", ")}")
    initMap.values.foreach { case (m, u) =>
      require(m > 0 && m < 1000 && u > 0 && u < 1000,
        s"m/u must be in (0,1000) milli: $m, $u")
    }
    val parts = rules.map { r =>
      val (m0, u0) = initMap(r.field)
      val present = r.missing match {
        case Some(miss) => !miss
        case None       => lit(true)
      }
      val lm = when(!present, lit(1000L))
        .otherwise(when(r.agree, lit(m0)).otherwise(lit(1000L - m0)))
      val lu = when(!present, lit(1000L))
        .otherwise(when(r.agree, lit(u0)).otherwise(lit(1000L - u0)))
      (r.field, present, when(present && r.agree, 1L).otherwise(0L), lm, lu)
    }
    def d(c: Column): Column = if (dec) c.cast("decimal(38,0)") else c
    val num = parts.map(_._4).foldLeft(d(lit(pMilli)))(_ * _)
    val den2 = parts.map(_._5).foldLeft(d(lit(1000L - pMilli)))(_ * _)
    // IntegralDivide returns BIGINT either way; w ≤ 1000 always fits
    val w = expr(s"(1000 * __num) div (__num + __den2)")
    val scored = pairs
      .withColumn("__num", num).withColumn("__den2", den2)
      .withColumn("__w", w)
    val aggs = parts.flatMap { case (f, present, agree1, _, _) =>
      Seq(
        sum(when(present, d(col("__w"))).otherwise(d(lit(0L)))).as(s"__sw_$f"),
        sum(when(present, d(lit(1000L) - col("__w"))).otherwise(d(lit(0L))))
          .as(s"__swu_$f"),
        sum(d(agree1 * col("__w"))).as(s"__swa_$f"),
        sum(d(agree1 * (lit(1000L) - col("__w")))).as(s"__swua_$f"))
    }
    val one = graft.recon.Checkpoints.cut(scored.agg(aggs.head, aggs.tail: _*))
    rules.map { r =>
      val f = r.field
      val (m0, u0) = initMap(f)
      one.select(lit(f).as("field"),
        lit(m0).as("m_milli"), lit(u0).as("u_milli"),
        when(col(s"__sw_$f") > 0L,
          expr(s"CAST((1000 * __swa_$f) div __sw_$f AS BIGINT)"))
          .as("m_next_milli"),
        when(col(s"__swu_$f") > 0L,
          expr(s"CAST((1000 * __swua_$f) div __swu_$f AS BIGINT)"))
          .as("u_next_milli"))
    }.reduce(_ unionByName _)
  }

  /** Decision band from descending (label, threshold) pairs: the first
    * band whose threshold the score reaches; scores below every
    * threshold get `floorLabel`. */
  def band(scoreMilli: Column, bands: Seq[(String, Long)], floorLabel: String): Column = {
    require(bands.nonEmpty, "banding requires at least one threshold")
    require(bands.map(_._2) == bands.map(_._2).sorted.reverse,
      s"band thresholds must be descending: ${bands.map(_._2).mkString(", ")}")
    bands.foldRight(lit(floorLabel): Column) { case ((label, thr), rest) =>
      when(scoreMilli >= lit(thr), lit(label)).otherwise(rest)
    }
  }
}
