package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Distributed vocabulary induction — the BPE merge-step (Sennrich et
 * al., "Neural machine translation of rare words with subword units",
 * ACL'16 — re-derived, not copied) as a Spark aggregation.
 *
 * The classic trick that makes BPE tractable on a 100 TB corpus: the
 * corpus collapses to its WORD-FREQUENCY table first (one hash
 * aggregation with map-side combine — vocabulary-sized, not
 * corpus-sized), and every pair-counting pass after that runs over
 * vocab rows weighted by frequency. A merge iteration therefore costs
 * O(vocab · word-length) no matter how many tokens the corpus has;
 * only the initial word count ever sees the data.
 *
 * The full BPE training loop (re-segment after each chosen merge) is a
 * DRIVER loop re-invoking [[pairCounts]] on the re-segmented vocab —
 * the same shape as the k-means trainer in `Similarity.kmeansTrain`:
 * each iteration is one bounded distributed pass over the vocab-sized
 * frame, the loop control is driver-side. This module ships the
 * corpus-heavy steps ([[wordCounts]], [[pairCounts]], [[topMerges]]);
 * re-segmentation is corpus-independent by construction.
 */
object Vocab {

  /** `(word, freq)` — the corpus-to-vocabulary collapse. The ONLY pass
    * over the data; everything downstream is vocab-sized. */
  def wordCounts(df: DataFrame, textCol: String): DataFrame =
    df.select(explode(TextAnalysis.tokens(col(textCol))).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))

  /**
   * Zipf profile in EXACT arithmetic: token frequency mass per DOUBLING
   * rank band (band b holds ranks [2^b, 2^(b+1))). Under a Zipf law with
   * exponent ~1 every band carries roughly equal mass, so the band table
   * is a fitted-slope readout with no `ln`/`pow` anywhere (libm-specific
   * — see [[Sketches]]); the band index is a CASE ladder over integer
   * rank, exact in any engine. Ranks come from the distributed two-pass
   * row index over (freq desc, word) — no single-partition rank window,
   * so the profile scales to a 100M-type web vocabulary unchanged.
   *
   * Output: (band, lo_rank, n_types, mass, mass_milli), band capped at
   * `maxBand` (deeper ranks pool into the last band).
   */
  def zipfBands(df: DataFrame, textCol: String, maxBand: Int = 19): DataFrame = {
    require(maxBand >= 1 && maxBand <= 62, s"maxBand out of range: $maxBand")
    // cut once: the rank pass and the total pass would otherwise each
    // re-run the corpus-sized wordCounts aggregation
    val wc = graft.recon.Checkpoints.cut(wordCounts(df, textCol))
    val ranked = graft.recon.Sources.withRowIndexRanged(
      wc, "rank", Seq(col("freq").desc, col("word")))
    val band = (0 until maxBand).foldRight(lit(maxBand).cast("int")) {
      (b, rest) => when(col("rank") < (1L << (b + 1)), b).otherwise(rest)
    }
    val total = wc.agg(sum(col("freq")).as("__total"))
    ranked.withColumn("band", band)
      .groupBy(col("band"))
      .agg(count(lit(1)).as("n_types"), sum(col("freq")).as("mass"))
      .crossJoin(broadcast(total))
      .select(col("band"), expr("shiftleft(1L, band)").as("lo_rank"),
        col("n_types"), col("mass"),
        expr("(1000 * mass) div __total").as("mass_milli"))
  }

  /**
   * BPE merge STABILITY audit: learn the top-k merges independently on
   * two deterministic corpus halves and align them — the "is my merge
   * list an artifact of this sample" check run before freezing a
   * tokenizer. Merges found by both halves carry both ranks and their
   * absolute rank delta; one-sided merges keep a null opposite rank
   * (the instability signal itself). Two vocab-sized merge learns plus
   * one ≤2k-row full-outer join.
   */
  def mergeStability(df: DataFrame, textCol: String, idCol: String,
      k: Int): DataFrame = {
    def half(m: Long) = topMerges(pairCounts(wordCounts(
      df.where(pmod(col(idCol), lit(2)) === m), textCol)), k)
    val ra = half(0L).select(col("a"), col("b"), col("rank").as("rank_a"))
    val rb = half(1L).select(col("a"), col("b"), col("rank").as("rank_b"))
    ra.join(rb, Seq("a", "b"), "full_outer")
      .select(col("a"), col("b"), col("rank_a"), col("rank_b"),
        when(col("rank_a").isNotNull && col("rank_b").isNotNull,
          abs(col("rank_a") - col("rank_b"))).as("rank_delta"))
  }

  /**
   * `(a, b, weight)` — corpus-weighted adjacent symbol-pair counts over
   * a `(word, freq)` vocab frame, symbols = single characters (BPE
   * iteration 1; later iterations feed a re-segmented vocab back through
   * the same aggregation). One row per pair OCCURRENCE before the
   * aggregate — a pair appearing twice in a word counts twice, exactly
   * the quantity BPE maximizes. Narrow explode over vocab rows, one
   * bounded shuffle on the (a, b) pair.
   */
  def pairCounts(vocab: DataFrame): DataFrame = {
    val w = col("word")
    val pairs = when(length(w) < 2, array().cast("array<struct<a:string,b:string>>"))
      .otherwise(transform(sequence(lit(1), length(w) - 1),
        i => struct(w.substr(i, lit(1)).as("a"), w.substr(i + 1, lit(1)).as("b"))))
    vocab.select(col("freq"), explode(pairs).as("p"))
      .groupBy(col("p.a").as("a"), col("p.b").as("b"))
      .agg(sum(col("freq")).as("weight"))
  }

  /**
   * The APPLY side of BPE: the space-delimited symbol string of `word`
   * after applying `merges` in order, each merging every occurrence of
   * the adjacent pair. A merge is two `regexp_replace` passes over the
   * symbol string — one pass alone under-merges when consecutive
   * occurrences share a boundary space (the regex scan resumes AFTER
   * the consumed trailing space, so in `a b a b` it merges pair 1 and
   * skips pair 2); a skipped occurrence always sits between two merged
   * neighbors (skips are never consecutive), so pass two catches
   * exactly the survivors and the result equals the full merge.
   *
   * Requires `a != b`: with distinct symbols every pair occurrence is
   * token-disjoint, so "merge all occurrences" is well-defined and the
   * two-pass result is exact (spec-checked against a reference
   * implementation on adjacency-adversarial words). A self-merge
   * (`a a` over a run) must pick which overlapping pairs win — that
   * needs stateful left-to-right machinery, not a regex, and is
   * rejected loudly rather than silently mis-segmented. Merge symbols
   * are restricted to `[A-Za-z0-9]` so they are regex- and
   * engine-neutral literals. Pure per-row projection, codegen'd when
   * used at the top level (keep it OUT of higher-order-function lambdas
   * — they run interpreted).
   */
  def segment(word: org.apache.spark.sql.Column,
      merges: Seq[(String, String)]): org.apache.spark.sql.Column = {
    merges.foreach { case (a, b) =>
      require((a + b).matches("[A-Za-z0-9]+"), s"merge symbols must be [A-Za-z0-9]+: ($a,$b)")
      require(a != b,
        s"self-merge ($a,$b) is ambiguous over runs; regex passes cannot express it")
    }
    val base = concat(lit(" "), array_join(split(word, ""), " "), lit(" "))
    val out = merges.foldLeft(base) { case (c, (a, b)) =>
      val once = regexp_replace(c, s" $a $b ", s" $a$b ")
      regexp_replace(once, s" $a $b ", s" $a$b ")
    }
    trim(out)
  }

  /**
   * Per-document subtoken accounting under a FIXED merge list — the
   * "how many tokens will this corpus cost under my learned vocab"
   * estimator. Output: `(idCol, n_words, n_chars, n_subtokens)` (docs
   * with no words drop out, like every tokenizing aggregate here). One
   * narrow explode + one per-doc aggregation; the merge regexes run in
   * whole-stage codegen at the top level of the projection.
   */
  def subtokenStats(df: DataFrame, textCol: String, idCol: String,
      merges: Seq[(String, String)]): DataFrame =
    df.select(col(idCol), explode(TextAnalysis.tokens(col(textCol))).as("__w"))
      .select(col(idCol), length(col("__w")).cast("long").as("__c"),
        size(split(segment(col("__w"), merges), " ")).cast("long").as("__n"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_words"), sum(col("__c")).as("n_chars"),
        sum(col("__n")).as("n_subtokens"))

  // ------------------------------------------------ unigram-LM tokenizer
  //
  // The OTHER tokenizer family a data pipeline meets (Kudo, "Subword
  // regularization", ACL'18 — the SentencePiece unigram trainer,
  // re-derived): pieces carry unigram likelihoods; a word's segmentations
  // form a lattice, and EM alternates expected piece counts (E, by
  // forward–backward over the lattice) with likelihood re-estimation (M),
  // pruning the lowest-value pieces between iterations. Everything here
  // is EXACT integer arithmetic so the DuckDB oracle value-checks the fit
  // bit for bit: likelihoods are milli integers in [1, 1000], lattice
  // masses are products of ≤ `maxWordLen` of them summed over ≤ 401
  // compositions — bounded by 401·1000¹⁰ < 10³³, and the occurrence
  // responsibility numerator 1000·f·L·b by ~10³⁵ — inside DECIMAL(38,0)
  // and HUGEINT. Those bounds are why `maxWordLen ≤ 10` and
  // `maxPieceLen ≤ 4` are hard caps, not tuning suggestions; words past
  // the cap are excluded from the fit (documented, oracle-mirrored).
  //
  // Like BPE, the corpus collapses to its word-frequency table first —
  // every EM pass is vocab-sized, only [[wordCounts]] sees the data.

  /** Seed piece inventory: every single character (coverage floor) plus
    * the `topN` multi-char substrings by corpus weight (occurrences ×
    * word freq; ties → piece lexicographic), with initial milli
    * likelihoods `max(1, (1000·weight) div Σweight)` over the SELECTED
    * set. Piece tables are driver-small by contract (the codebook rule);
    * the candidate aggregation is distributed, only the ≤ |chars|+topN
    * survivors collect. */
  def unigramSeed(wc: DataFrame, maxPieceLen: Int = 4, topN: Int = 40,
      maxWordLen: Int = 10): Seq[(String, Long)] = {
    require(maxPieceLen >= 1 && maxPieceLen <= 4, s"maxPieceLen 1..4: $maxPieceLen")
    require(maxWordLen >= 1 && maxWordLen <= 10, s"maxWordLen 1..10: $maxWordLen")
    require(topN >= 0, s"topN must be >= 0: $topN")
    val cand = unigramCandidates(wc, maxPieceLen, maxWordLen)
    val singles = cand.where(length(col("piece")) === 1)
    val multi = cand.where(length(col("piece")) > 1)
      .orderBy(col("weight").desc, col("piece")).limit(topN)
    val sel = singles.unionByName(multi)
      .select(col("piece"), col("weight")).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq.sortBy(_._1)
    val wtot = sel.map(_._2).sum
    require(wtot > 0, "empty corpus: no seed pieces")
    sel.map { case (p, w) => (p, math.max(1L, 1000L * w / wtot)) }
  }

  /** `(piece, weight)` — corpus-weighted substring occurrence counts over
    * the length-capped vocab (every (pos, len ≤ maxPieceLen) occurrence
    * counts, weighted by word freq). Narrow explode, one bounded
    * shuffle. */
  private def unigramCandidates(wc: DataFrame, maxPieceLen: Int,
      maxWordLen: Int): DataFrame =
    wc.where(length(col("word")) <= maxWordLen)
      .select(col("freq"), explode(expr(
        s"""flatten(transform(sequence(1, length(word)), p ->
           |  transform(sequence(1, least($maxPieceLen, length(word) - p + 1)),
           |    l -> substr(word, p, l))))""".stripMargin)).as("piece"))
      .groupBy(col("piece")).agg(sum(col("freq")).as("weight"))

  /**
   * One SOFT-EM iteration over the segmentation lattice, exact integers:
   * for every word (length ≤ `maxWordLen`, freq-weighted), forward mass
   * `f(j) = Σ_l f(j−l)·L(piece at j−l+1, len l)` and the mirrored
   * backward mass accumulate in DECIMAL(38,0); each piece OCCURRENCE
   * earns responsibility `(1000·f·L·b) div Z` (milli, ≤ 1000 — its share
   * of the lattice mass), and the M-step re-estimates
   * `p'(piece) = (1000·Σ resp) div Σ_all resp`. Unknown-character words
   * (Z = 0 — possible only on a corpus the seed never saw) are excluded
   * like the real trainer's byte-fallback boundary.
   *
   * Output one row per piece:
   * `(piece, l_milli, exp_count_milli, p_next_milli)` — expected counts
   * in milli occurrence units. One vocab-sized pass; the piece table
   * rides as a plan literal (broadcast-small by the [[unigramSeed]]
   * contract).
   */
  def unigramEmStep(wcIn: DataFrame, pieces: Seq[(String, Long)],
      maxPieceLen: Int = 4, maxWordLen: Int = 10): DataFrame = {
    require(maxPieceLen >= 1 && maxPieceLen <= 4, s"maxPieceLen 1..4: $maxPieceLen")
    require(maxWordLen >= 1 && maxWordLen <= 10, s"maxWordLen 1..10: $maxWordLen")
    require(pieces.nonEmpty, "EM needs a piece inventory")
    require(pieces.forall(p => p._2 >= 1L && p._2 <= 1000L),
      "piece likelihoods must be milli in [1, 1000] (the DECIMAL(38,0) headroom bound)")
    require(pieces.map(_._1).distinct.size == pieces.size, "duplicate pieces")
    val spark = wcIn.sparkSession
    import spark.implicits._
    val dec = "decimal(38,0)"
    val pm = typedLit(pieces.toMap)
    val wc = wcIn.where(length(col("word")) <= maxWordLen && length(col("word")) >= 1)
    // the lattice DP as an `aggregate` FOLD, not unrolled plan columns: a
    // recursive column unroll inlines f(j)'s whole subtree into every
    // consumer (tetranacci blow-up — the 10-deep version planned+codegen'd
    // for ~9 s), while the fold is ONE O(maxPieceLen) lambda evaluated
    // iteratively per row. Higher-order lambdas run interpreted — fine
    // here by design: the frame is vocab-sized, never corpus-sized.
    // Forward: acc[j+1] = f(j) = Σ_l f(j−l)·L(substr(j−l+1, l));
    // backward by suffix length d: acc[d+1] = b(d) = Σ_l L(n−d+1, l)·b(d−l).
    def fold(term: Int => String): String =
      s"""aggregate(sequence(1, length(word)),
         |  array(CAST(1 AS $dec)),
         |  (acc, j) -> array_append(acc, ${(1 to maxPieceLen).map(term)
               .mkString(" + ")}))""".stripMargin
    def lAt(pos: String, l: Int): String =
      s"CAST(coalesce(element_at(__pm, substr(word, $pos, $l)), 0) AS $dec)"
    val fExpr = fold(l =>
      s"IF(j >= $l, element_at(acc, j - $l + 1) * ${lAt(s"j - $l + 1", l)}, CAST(0 AS $dec))")
    val bExpr = fold(l =>
      s"IF(j >= $l, ${lAt(s"length(word) - j + 1", l)} * element_at(acc, j - $l + 1), CAST(0 AS $dec))")
    val prepared = wc.withColumn("__pm", pm)
      .select(col("word"), col("freq"), col("__pm"),
        length(col("word")).as("__n"),
        expr(fExpr).as("__f"), expr(bExpr).as("__b"))
      .withColumn("__z", element_at(col("__f"), col("__n") + 1))
      .where(col("__z") > lit(0L).cast(dec))
    val occ = prepared.select(col("word"), col("freq"), col("__n"), col("__f"),
        col("__b"), col("__z"),
        explode(expr(s"""flatten(transform(sequence(1, __n), p ->
          |  transform(sequence(1, least($maxPieceLen, __n - p + 1)),
          |    l -> struct(p AS pos, l AS len))))""".stripMargin)).as("__o"))
      .select(col("freq"),
        expr("substr(word, __o.pos, __o.len)").as("piece"),
        element_at(col("__f"), col("__o.pos")).as("__fv"),
        coalesce(element_at(pm, expr("substr(word, __o.pos, __o.len)")), lit(0L))
          .cast(dec).as("__lv"),
        element_at(col("__b"), col("__n") - col("__o.pos") - col("__o.len") + 2)
          .as("__bv"),
        col("__z"))
      .withColumn("__contrib",
        expr(s"(CAST(1000 AS $dec) * __fv * __lv * __bv) div __z"))
    val counts = occ.groupBy(col("piece"))
      .agg(sum(col("freq") * col("__contrib")).as("exp_count_milli"))
    val inventory = pieces.toDF("piece", "l_milli")
    val joined = inventory.join(counts, Seq("piece"), "left")
      .select(col("piece"), col("l_milli"),
        coalesce(col("exp_count_milli"), lit(0L)).as("exp_count_milli"))
    val total = joined.agg(
      coalesce(sum(col("exp_count_milli")), lit(0L)).as("__tot"))
    joined.crossJoin(broadcast(total))
      .select(col("piece"), col("l_milli"), col("exp_count_milli"),
        // the ×1000 rides DECIMAL so a web-scale count can't wrap the Long
        when(col("__tot") > 0,
          expr(s"(CAST(1000 AS $dec) * exp_count_milli) div __tot"))
          .as("p_next_milli"))
  }

  /**
   * The APPLY arm of the unigram tokenizer: exact VITERBI segmentation —
   * per word the maximum-product piece sequence under the milli
   * likelihoods, `v(j) = max_l v(j−l)·L(substr(j−l+1, l))`, ties broken
   * to the SHORTEST last piece (the l = 1..maxPieceLen probe order,
   * identical in both engines since every compare is exact integer).
   * Both the DP and the backtrace run as `aggregate` folds (see
   * [[unigramEmStep]] — unrolled recursive columns blow up the plan);
   * the backtrace walks from the word end, appending pieces in reverse.
   * Words the inventory cannot segment (an unknown character ⇒
   * `v(n) = 0`) are excluded by default — or, with `byteFallback = true`,
   * kept TOTAL the way real SentencePiece is: every single character the
   * inventory lacks scores the floor likelihood 1 milli (the same floor
   * [[unigramSeed]] guarantees its own single chars), so `v(n) ≥ 1` for
   * every word and segmentation never drops rows. Unknown MULTI-char
   * pieces stay at 0 either way — fallback is per character, exactly
   * SentencePiece's single-char/byte fallback. The flag changes only the
   * l = 1 lookup, so on a corpus the inventory fully covers the two
   * modes are bit-identical.
   *
   * Output: `(word, freq, n_pieces, seg, score_q)` — the segmentation
   * space-joined, its piece count, and the exact lattice-max product in
   * DECIMAL(38,0) (the same ≤10³³ headroom bound as the EM masses).
   */
  def unigramSegment(wcIn: DataFrame, pieces: Seq[(String, Long)],
      maxPieceLen: Int = 4, maxWordLen: Int = 10,
      byteFallback: Boolean = false): DataFrame = {
    require(maxPieceLen >= 1 && maxPieceLen <= 4, s"maxPieceLen 1..4: $maxPieceLen")
    require(maxWordLen >= 1 && maxWordLen <= 10, s"maxWordLen 1..10: $maxWordLen")
    require(pieces.nonEmpty, "segmentation needs a piece inventory")
    require(pieces.forall(p => p._2 >= 1L && p._2 <= 1000L),
      "piece likelihoods must be milli in [1, 1000]")
    val dec = "decimal(38,0)"
    val pm = typedLit(pieces.toMap)
    val wc = wcIn.where(length(col("word")) <= maxWordLen && length(col("word")) >= 1)
    def lAt(pos: String, l: Int): String = {
      val miss = if (byteFallback && l == 1) "1" else "0"
      s"CAST(coalesce(element_at(__pm, substr(word, $pos, $l)), $miss) AS $dec)"
    }
    val vExpr =
      s"""aggregate(sequence(1, length(word)),
         |  array(CAST(1 AS $dec)),
         |  (acc, j) -> array_append(acc, greatest(${(1 to maxPieceLen).map(l =>
              s"IF(j >= $l, element_at(acc, j - $l + 1) * ${lAt(s"j - $l + 1", l)}, CAST(0 AS $dec))")
              .mkString(", ")})))""".stripMargin
    // backtrace fold: state (p, parts) — from position p pick the
    // SHORTEST l whose step product equals v(p); at most n steps, idle
    // once p reaches 0
    val pick = (1 to maxPieceLen).map(l =>
      s"""WHEN st.p >= $l AND element_at(__v, st.p - $l + 1)
         |  * ${lAt(s"st.p - $l + 1", l)} = element_at(__v, st.p + 1) THEN $l""".stripMargin)
      .mkString("CASE ", " ", " END")
    val btExpr =
      s"""aggregate(sequence(1, length(word)),
         |  named_struct('p', CAST(length(word) AS INT),
         |               'parts', CAST(array() AS array<string>)),
         |  (st, x) -> IF(st.p = 0, st, named_struct(
         |    'p', st.p - ($pick),
         |    'parts', array_append(st.parts,
         |      substr(word, st.p - ($pick) + 1, ($pick))))))""".stripMargin
    wc.withColumn("__pm", pm)
      .withColumn("__v", expr(vExpr))
      .withColumn("score_q", element_at(col("__v"), length(col("word")) + 1))
      .where(col("score_q") > lit(0L).cast(dec))
      .withColumn("__bt", expr(btExpr))
      .select(col("word"), col("freq"),
        size(col("__bt.parts")).cast("long").as("n_pieces"),
        array_join(reverse(col("__bt.parts")), " ").as("seg"),
        // exact digits as a STRING: the product exceeds BIGINT (≤ 10³³)
        // and decimal renderings differ across engines — digit strings
        // value-compare exactly
        col("score_q").cast("string").as("score_q"))
  }

  /** The SHRINK step between unigram-EM iterations (SentencePiece's
    * prune): single-char pieces always survive — they are the coverage
    * floor that keeps every word segmentable — and multi-char pieces
    * keep only the top `keepMulti` by (expected count desc, piece asc).
    * Input is [[unigramEmStep]]'s `(piece, l_milli, exp_count_milli)`
    * shape; output adds `kept` (1/0). The rank window runs over the
    * piece inventory — broadcast-small by the [[unigramSeed]] contract,
    * so the single-partition window is bounded by construction. */
  def unigramPrune(em: DataFrame, keepMulti: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(keepMulti >= 0, s"keepMulti must be >= 0: $keepMulti")
    val w = Window
      .partitionBy(when(length(col("piece")) === 1, 0).otherwise(1))
      .orderBy(col("exp_count_milli").desc, col("piece"))
    em.withColumn("__mr", row_number().over(w))
      .select(col("piece"), col("l_milli"), col("exp_count_milli"),
        when(length(col("piece")) === 1, 1L)
          .when(col("__mr") <= keepMulti, 1L).otherwise(0L).as("kept"))
  }

  /** Top-`k` merge candidates by corpus weight (ties → pair
    * lexicographic, the deterministic analogue of "first seen").
    * orderBy+limit plans as TakeOrderedAndProject — distributed heaps,
    * no global sort; the rank stamps the k survivors only. */
  def topMerges(pairs: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(k >= 1, s"bad k=$k")
    val top = pairs.orderBy(col("weight").desc, col("a"), col("b")).limit(k)
    // window over ≤ k rows — bounded by construction
    top.withColumn("rank", row_number().over(
        Window.orderBy(col("weight").desc, col("a"), col("b"))))
      .select(col("a"), col("b"), col("weight"), col("rank"))
  }
}
