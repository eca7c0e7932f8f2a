package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * EXACT set-similarity self-join via prefix filtering — the
 * deterministic complement to MinHash LSH (`Dedup.minHashNearDups`).
 * MinHash trades false negatives for speed; this operator returns
 * EVERY pair with Jaccard ≥ t over word-shingle sets, with no
 * probability knob, using the prefix-filter principle of the SSJoin /
 * All-Pairs / PPJoin family (Chaudhuri et al. ICDE'06, Bayardo et al.
 * WWW'07, Xiao et al. WWW'08 — re-derived from the published principle;
 * nothing is copied).
 *
 * Principle: order every set by one GLOBAL canonical order (ascending
 * document frequency, rarest first, ties on the shingle string). For
 * Jaccard ≥ t, a pair must overlap in ≥ ⌈t·|x|⌉ elements of each side
 * x, so if the first |x| − ⌈t·|x|⌉ + 1 elements (the "prefix") of BOTH
 * sides share nothing, the pair cannot qualify: with disjoint prefixes
 * and (wlog) a's prefix ending no later in the global order than b's,
 * every common element lies outside a's prefix — at most ⌈t·|a|⌉ − 1 of
 * them. An equi-join on prefix shingles therefore finds every candidate,
 * and one exact intersection count per candidate settles it.
 *
 * Scale shape: the only corpus-sized shuffles are hash joins and
 * aggregations on (doc) or (shingle); the ranking window partitions per
 * doc (bounded by document length); rarest-first ordering makes prefix
 * buckets small by construction — the hub shingles that would go
 * quadratic sort to the END of each set, outside every prefix. All
 * arithmetic is integer-exact (milli-units, `div`), so the DuckDB
 * oracle matches bit for bit.
 */
object SetSimilarity {

  /**
   * All unordered pairs with shingle-set Jaccard ≥ `tMilli`/1000.
   * Output: `(id_a, id_b, inter, uni, jac_milli)` with `id_a < id_b`,
   * `jac_milli = 1000·|∩| div |∪|`.
   *
   * The shingle table is lineage-cut once and feeds all five consumers
   * (sizes, frequencies, ranking, and both verify probes) — without the
   * cut Catalyst would re-derive the explode per consumer.
   */
  def jaccardPrefixJoin(df: DataFrame, textCol: String, idCol: String,
      shingleN: Int, tMilli: Int): DataFrame =
    prefixJaccardCore(
      Dedup.shingleTable(df, textCol, idCol, shingleN), tMilli)

  /**
   * WEIGHTED (bag) Jaccard self-join: `wJ = Σ_t min(cA,cB) / Σ_t max(cA,cB)`
   * over token MULTISETS — the similarity that notices when one document
   * repeats a token 50 times and the other once, which set Jaccard (both
   * "contain" the token) cannot. The standard reduction makes the prefix
   * filter's no-false-negatives guarantee carry over verbatim: index each
   * occurrence (`tok#1, tok#2, …, tok#c`) and the SET Jaccard of the
   * expanded sets IS the weighted Jaccard of the bags (|∩| = Σ min,
   * |∪| = Σ max), so the expanded elements run through the exact same
   * rarest-first prefix pipeline. Expansion size = total token count —
   * the same volume [[Dedup.spanTable]] already moves.
   *
   * Output: `(id_a, id_b, inter, uni, wjac_milli)` with `id_a < id_b`,
   * `inter = Σ min`, `uni = Σ max`, `wjac_milli ≥ tMilli`.
   */
  def weightedJaccardJoin(df: DataFrame, textCol: String, idCol: String,
      shingleN: Int, tMilli: Int): DataFrame = {
    val occ = Dedup.spanTable(df, textCol, idCol, shingleN) // every occurrence
      .groupBy(col("doc"), col("shingle")).agg(count(lit(1)).as("__c"))
      .select(col("doc"), col("shingle"),
        explode(sequence(lit(1L), col("__c"))).as("__i"))
      .select(col("doc"), concat_ws("#", col("shingle"), col("__i")).as("shingle"))
    prefixJaccardCore(occ, tMilli)
      .withColumnRenamed("jac_milli", "wjac_milli")
  }

  /** The shared SSJoin pipeline over a pre-built (doc, shingle)
    * distinct-element table — see [[jaccardPrefixJoin]] for the filter
    * argument, [[weightedJaccardJoin]] for the bag reduction. */
  private def prefixJaccardCore(elements: DataFrame, tMilli: Int): DataFrame = {
    val (sh, sizes, prefix) = rarestFirstPrefix(elements, tMilli)
    val cand = prefix.alias("pa")
      .join(prefix.alias("pb"),
        col("pa.shingle") === col("pb.shingle") && col("pa.doc") < col("pb.doc"))
      .select(col("pa.doc").as("id_a"), col("pb.doc").as("id_b"))
      .distinct()
    verifyCounts(cand, sh, sizes)
      .withColumn("uni", col("n_a") + col("n_b") - col("inter"))
      .where(col("inter") * lit(1000L) >= col("uni") * lit(tMilli.toLong))
      .withColumn("jac_milli", expr("(inter * 1000) div uni"))
      .select(col("id_a"), col("id_b"), col("inter"), col("uni"), col("jac_milli"))
  }

  /** The rarest-first prefix filter both prefix joins share. Returns the
    * lineage-cut element table `sh` (doc, shingle) — one materialization
    * feeds sizes, frequencies, ranking and both verify probes, where
    * Catalyst would otherwise re-derive the explode per consumer — the
    * per-doc sizes `(doc, n)` and each doc's prefix `(doc, shingle)`:
    * its first `n − ⌈t·n⌉ + 1` elements in ascending (df, shingle)
    * order. */
  private def rarestFirstPrefix(elements: DataFrame, tMilli: Int)
      : (DataFrame, DataFrame, DataFrame) = {
    require(tMilli >= 1 && tMilli <= 1000, s"tMilli out of (0, 1000]: $tMilli")
    val sh = graft.recon.Checkpoints.cut(elements) // (doc, shingle), distinct
    val sizes = sh.groupBy(col("doc")).agg(count(lit(1)).as("n"))
    val dfreq = sh.groupBy(col("shingle")).agg(count(lit(1)).as("df"))
    // PIN the rank window's exchange width (an explicit-count repartition
    // is exempt from AQE coalescing; it satisfies the window's hash(doc)
    // requirement, so no second exchange appears): the shuffle is only a
    // few compressed MB, so AQE's bytes-based coalescing collapsed it to
    // a handful of partitions — and since EVERYTHING downstream (prefix
    // self-join, candidate dedup, both intersection joins, the per-pair
    // aggregate) is broadcast-joined or partition-local on this same
    // hash(doc) partitioning, the entire compute-bound tail of the query
    // inherited those few tasks (measured at sf0.1: a 4-task stage with
    // 13-20 s of CPU was the whole tail of dedup_lsh_planner). Session
    // width = the cluster's configured parallelism — right at any scale;
    // it is read from the caller's conf, which cut planning never
    // overrides (a cut sizes its own shuffles in a child session), so no
    // temporary width can leak into the pin.
    val ranked = sh.join(dfreq, Seq("shingle"))
      .repartition(sh.sparkSession.sessionState.conf.numShufflePartitions,
        col("doc"))
      .withColumn("r", row_number().over(
        Window.partitionBy(col("doc")).orderBy(col("df"), col("shingle"))))
    // p = n − ⌈t·n⌉ + 1, all-integer: ⌈t·n⌉ = (tMilli·n + 999) div 1000
    val prefix = ranked.join(sizes, Seq("doc"))
      .where(col("r") <= col("n") - expr(s"($tMilli * n + 999) div 1000") + 1)
      .select(col("doc"), col("shingle"))
    (sh, sizes, prefix)
  }

  /** Exact verify tail for candidate pairs `(id_a, id_b)`: the shared
    * element count `inter` from two equi-joins against `sh`, plus both
    * sizes `n_a` and `n_b`. */
  private def verifyCounts(cand: DataFrame, sh: DataFrame, sizes: DataFrame): DataFrame =
    cand
      .join(sh.select(col("doc").as("id_a"), col("shingle")), Seq("id_a"))
      .join(sh.select(col("doc").as("id_b"), col("shingle")), Seq("id_b", "shingle"))
      .groupBy(col("id_a"), col("id_b")).agg(count(lit(1)).as("inter"))
      .join(sizes.select(col("doc").as("id_a"), col("n").as("n_a")), Seq("id_a"))
      .join(sizes.select(col("doc").as("id_b"), col("n").as("n_b")), Seq("id_b"))

  /**
   * Asymmetric CONTAINMENT join: pairs where the smaller document's
   * shingle set is ≥ `tMilli`/1000 contained in the other —
   * `C = |A∩B| / min(|A|,|B|)`. This is the near-dup class symmetric
   * Jaccard structurally misses: a paragraph quoted inside a much
   * longer document has C ≈ 1 but Jaccard ≈ |A|/|B| ≈ 0, so a
   * Jaccard-gated dedup wave keeps the copy. Same exact-integer
   * discipline as [[jaccardPrefixJoin]].
   *
   * Candidate generation keeps the prefix-filter guarantee under the
   * asymmetric score: if `|A∩B| ≥ ⌈t·|A|⌉` then A shares one of its
   * first `|A| − ⌈t·|A|⌉ + 1` rarest shingles with B (pigeonhole over
   * the global df order) — but unlike the Jaccard case B cannot be
   * pruned, so each document's prefix joins the FULL shingle table.
   * The prefix holds each document's globally RAREST shingles, so the
   * join's fan-out is bounded by those shingles' document frequency —
   * candidate-sparse at corpus scale, never all-pairs. The smaller
   * document of every qualifying pair generates it, and unordered
   * dedup collapses the double hits.
   *
   * Output: `(id_a, id_b, inter, n_small, cont_milli, jac_milli)` with
   * `id_a < id_b`, `cont_milli ≥ tMilli`; `jac_milli` rides along so
   * callers can select the containment-only band (quotes/inclusions).
   */
  def containmentPrefixJoin(df: DataFrame, textCol: String, idCol: String,
      shingleN: Int, tMilli: Int): DataFrame = {
    val (sh, sizes, prefix) = rarestFirstPrefix(
      Dedup.shingleTable(df, textCol, idCol, shingleN), tMilli)
    val cand = prefix.alias("pa")
      .join(sh.alias("pb"),
        col("pa.shingle") === col("pb.shingle") && col("pa.doc") =!= col("pb.doc"))
      .select(least(col("pa.doc"), col("pb.doc")).as("id_a"),
        greatest(col("pa.doc"), col("pb.doc")).as("id_b"))
      .distinct()
    verifyCounts(cand, sh, sizes)
      .withColumn("n_small", least(col("n_a"), col("n_b")))
      .where(col("inter") * lit(1000L) >= col("n_small") * lit(tMilli.toLong))
      .withColumn("cont_milli", expr("(inter * 1000) div n_small"))
      .withColumn("jac_milli", expr("(inter * 1000) div (n_a + n_b - inter)"))
      .select(col("id_a"), col("id_b"), col("inter"), col("n_small"),
        col("cont_milli"), col("jac_milli"))
  }

  /**
   * LSH banding S-curve in EXACT fixed-point milli arithmetic:
   * `P(detect | jaccard = s) = 1 − (1 − s^r)^b` for a signature split
   * into `b` bands of `r` rows, evaluated as repeated
   * `acc = (acc·s) div 1000` floor-multiplications (both powers
   * unrolled at plan-build time — r + b multiplications, one codegen'd
   * expression, no `pow`, whose cross-engine bit pattern libm would not
   * guarantee). The ~1‰-per-step floor bias is deterministic and
   * mirrored exactly by [[sCurveDetectMilliSql]] — this is a PLANNING
   * number (which banding catches which similarity band), not a
   * probability estimate to more digits than the model deserves.
   */
  def sCurveDetectMilli(estMilli: Column, r: Int, b: Int): Column = {
    require(r >= 1 && b >= 1, s"need r, b >= 1: $r, $b")
    // non-negative operands ≤ 10^6 throughout: the double quotient is
    // exact, so floor(x/1000.0) IS DuckDB's integer `// 1000`
    def milliDiv(c: Column): Column = floor(c / lit(1000.0d))
    def powMilli(x: Column, n: Int): Column =
      (1 until n).foldLeft(x)((acc, _) => milliDiv(acc * x))
    lit(1000L) - powMilli(lit(1000L) - powMilli(estMilli, r), b)
  }

  /** The DuckDB mirror of [[sCurveDetectMilli]]: the same unrolled
    * floor-multiply chains over an SQL expression for the milli
    * similarity. */
  def sCurveDetectMilliSql(est: String, r: Int, b: Int): String = {
    def powMilli(x: String, n: Int): String =
      (1 until n).foldLeft(x)((acc, _) => s"(($acc * $x) // 1000)")
    s"(1000 - ${powMilli(s"(1000 - ${powMilli(est, r)})", b)})"
  }

  /**
   * Evidence for flagged near-dup pairs — the audit trail a human
   * reviews before a deletion wave: per pair, the exact shared-shingle
   * count and the `k` globally RAREST shared shingles (rarest = most
   * distinctive; a pair "sharing" only hub shingles explains itself
   * away). The pair frame rides broadcast (candidate-sized by
   * construction); the rank window partitions per pair, bounded by the
   * smaller document's shingle count. Evidence order is (df, shingle) —
   * deterministic in both engines.
   */
  def explainPairs(df: DataFrame, textCol: String, idCol: String,
      shingleN: Int, pairs: DataFrame, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    val sh = graft.recon.Checkpoints.cut(
      Dedup.shingleTable(df, textCol, idCol, shingleN))
    val dfreq = sh.groupBy(col("shingle")).agg(count(lit(1)).as("__df"))
    val shared = broadcast(pairs.select(col("id_a"), col("id_b")))
      .join(sh.select(col("doc").as("id_a"), col("shingle")), Seq("id_a"))
      .join(sh.select(col("doc").as("id_b"), col("shingle")), Seq("id_b", "shingle"))
      .join(dfreq, Seq("shingle"))
    val w = Window.partitionBy(col("id_a"), col("id_b"))
      .orderBy(col("__df"), col("shingle"))
    shared.withColumn("__r", row_number().over(w))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("n_shared"),
        // '|'-joined string, not an array: registry outputs must stay
        // scalar so the cross-engine hash compare can sort them
        array_join(transform(
          sort_array(collect_list(when(col("__r") <= k,
            struct(col("__df"), col("shingle"))))),
          x => x.getField("shingle")), "|").as("evidence"))
  }
}
