package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Text-analysis operators for a training-data pipeline: token counting,
 * quality scoring, language ID, fingerprinting. All built from codegen'd
 * built-in functions (no UDFs) except the fingerprint, which is a native
 * Catalyst expression ([[graft.functions.MinWindowHash]]) — so every
 * operator stays inside whole-stage codegen and scales linearly with
 * input splits (no shuffle: all per-row).
 */
object TextAnalysis {

  /** Whitespace tokens of the lowercased text; [] for blank input. */
  def tokens(text: Column): Column =
    when(length(trim(text)) === 0, array().cast("array<string>"))
      .otherwise(split(trim(lower(text)), "\\s+"))

  /**
   * Canonical text normalization — the first stage of every curation
   * pipeline: ASCII control characters become spaces, whitespace runs
   * collapse to single spaces, edges are trimmed. Per-row, codegen'd,
   * no shuffle; DuckDB mirrors it exactly (`[[:cntrl:]]` in RE2 is the
   * same ASCII class as Java's `\p{Cntrl}`, and the control pass runs
   * first so the engines' slightly different `\s` classes see identical
   * input). Deliberately NOT lowercasing — callers that hash for dedup
   * normalize case at the hash ([[Dedup.exactGroups]] already does).
   */
  def normalize(text: Column): Column =
    trim(regexp_replace(regexp_replace(text, "\\p{Cntrl}", " "), "\\s+", " "))

  /**
   * URL canonicalization — the dedup key of web-corpus ingestion:
   * lowercase scheme and host, strip the fragment, drop tracking
   * parameters (`utm_*`, `fbclid`, `gclid`), sort the surviving query
   * parameters (one resource reached via differently-ordered params is
   * one resource), empty path → `/`. Deliberately NOT a full RFC 3986
   * normalizer — no percent-decoding, no default-port or dot-segment
   * handling (those need a real parser); what it does do is pure
   * codegen string/array expression work a SQL oracle mirrors
   * operator-for-operator. A value with no `scheme://` passes through
   * untouched (not a hierarchical URL — mangling it would corrupt, not
   * canonicalize).
   */
  def canonicalUrl(url: Column): Column = {
    val scheme = lower(regexp_extract(url, "^([a-zA-Z][a-zA-Z0-9+.-]*)://", 1))
    val rest = regexp_extract(url, "^[a-zA-Z][a-zA-Z0-9+.-]*://(.*)$", 1)
    val host = lower(regexp_extract(rest, "^([^/?#]*)", 1))
    val path0 = regexp_extract(rest, "^[^/?#]*([^?#]*)", 1)
    val path = when(path0 === "", lit("/")).otherwise(path0)
    val query = regexp_extract(url, "\\?([^#]*)", 1)
    val kept = array_sort(filter(split(query, "&"),
      p => p =!= "" && !p.rlike("^(utm_[^=]*|fbclid|gclid)=")))
    when(scheme === "", url)
      .otherwise(concat(scheme, lit("://"), host, path,
        when(size(kept) > 0, concat(lit("?"), array_join(kept, "&")))
          .otherwise(lit(""))))
  }

  /** Token count (whitespace segmentation; 0 for blank). */
  def tokenCount(text: Column): Column =
    when(length(trim(text)) === 0, lit(0)).otherwise(size(split(trim(text), "\\s+")))

  /**
   * BPE-ish sub-token count: maximal letter runs + digit runs + individual
   * symbol chars — a cheap proxy for tokenizer cost ("abc123,def" → 4).
   * Counting matches of the alternation is equivalent to splitting on
   * letter/digit/symbol boundaries, needs no lookarounds (RE2-portable,
   * so the DuckDB oracle can mirror it), and stays codegen'd.
   */
  def subTokenCount(text: Column): Column =
    regexp_count(text, lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]")).cast("int")

  /** First `maxTokens` whitespace tokens re-joined with single spaces —
    * the context-budget crop before packing/export (whitespace is
    * normalized by the rejoin, like any tokenize→detokenize round-trip).
    * Blank input stays empty. Per-row, codegen'd, no shuffle. */
  def truncateTokens(text: Column, maxTokens: Int): Column = {
    require(maxTokens > 0, s"maxTokens must be positive: $maxTokens")
    when(length(trim(text)) === 0, lit(""))
      .otherwise(array_join(slice(split(trim(text), "\\s+"), 1, maxTokens), " "))
  }

  /**
   * Quality features: char/token counts plus alpha / digit / whitespace /
   * punctuation ratios and mean token length — the standard cheap filters
   * for web-scale corpus cleaning.
   */
  def qualityFeatures(df: DataFrame, textCol: String): DataFrame = {
    val t = col(textCol)
    val n = length(t).cast("double")
    def classLen(re: String) = length(regexp_replace(t, re, "")).cast("double")
    df.withColumns(Map(
      "n_chars_measured" -> length(t),
      "n_tokens" -> tokenCount(t),
      "alpha_ratio" -> when(n === 0, 0.0d).otherwise(classLen("[^A-Za-z]") / n),
      "digit_ratio" -> when(n === 0, 0.0d).otherwise(classLen("[^0-9]") / n),
      "space_ratio" -> when(n === 0, 0.0d).otherwise(classLen("[^ \\t]") / n),
      "punct_ratio" -> when(n === 0, 0.0d).otherwise(classLen("[^.,;:!?'\"()]") / n),
      "mean_token_len" -> when(tokenCount(t) === 0, 0.0d)
        .otherwise((classLen("\\s") / tokenCount(t).cast("double")))
    ))
  }

  /** Composite quality score in [0,1]: high alpha share, sane token
    * length, low digit/punct noise. Weights are heuristic constants. */
  def qualityScore(df: DataFrame, textCol: String): DataFrame = {
    val f = qualityFeatures(df, textCol)
    val lenTerm = least(col("n_tokens").cast("double") / lit(20.0d), lit(1.0d))
    f.withColumn("quality_score",
      greatest(lit(0.0d), least(lit(1.0d),
        lit(0.5d) * col("alpha_ratio") +
          lit(0.3d) * lenTerm +
          lit(0.2d) * (lit(1.0d) - col("digit_ratio") - col("punct_ratio")))))
  }

  /** Tiny per-language stopword lists for the n-gram/stopword heuristic. */
  val stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is", "that", "it", "for"),
    "es" -> Seq("el", "la", "de", "y", "que", "en", "un", "una", "los", "es"),
    "fr" -> Seq("le", "la", "de", "et", "que", "en", "un", "une", "les", "est"),
    "de" -> Seq("der", "die", "das", "und", "zu", "in", "ein", "eine", "ist", "nicht"),
    "zh" -> Seq("的", "是", "了", "在", "和", "有", "我", "不", "人", "这"))

  /**
   * Language ID by stopword-hit ratio: score(lang) = |tokens ∩ stopwords|;
   * argmax with deterministic tie-break on language code, 'und' when no
   * stopword hits at all. Per-row only — no shuffle.
   */
  def languageId(df: DataFrame, textCol: String, outCol: String = "lang_pred"): DataFrame = {
    val toks = tokens(col(textCol))
    val scored = stopwords.toSeq.sortBy(_._1).map { case (lang, words) =>
      struct(
        size(array_intersect(toks, array(words.map(lit): _*))).as("score"),
        lit(lang).as("lang"))
    }
    // array_max on struct(score, lang) picks the highest score; equal
    // scores tie-break on the struct's second field, i.e. the
    // lexicographically LARGEST language code wins ('zh' beats 'en').
    // Deterministic, and the DuckDB oracle mirrors the same rule.
    val best = array_max(array(scored: _*))
    df.withColumn(outCol,
      when(best.getField("score") <= 0, lit("und"))
        .otherwise(best.getField("lang")))
  }

  /**
   * Repetition metrics per document (the Gopher-style repetition filters at
   * token granularity): duplicate-token fraction, most-frequent-token
   * fraction, duplicate n-gram fraction. High values flag boilerplate /
   * degenerate documents for removal before training.
   *
   * Distributed shape: explode + two-level count aggregation with map-side
   * partial combine — never a per-document collect, so a pathological
   * gigabyte document costs its token count, not a buffered array. Both
   * explodes read a materialized token array behind a repartition barrier
   * (same discipline as [[Dedup.shingleSets]]: higher-order-function
   * lambdas run interpreted and are NOT CSE'd, so the tokenizer must not
   * be re-inlined per element access).
   */
  def repetitionMetrics(df: DataFrame, textCol: String, idCol: String, n: Int = 2): DataFrame = {
    val par = df.sparkSession.sparkContext.defaultParallelism
    val toks = df.select(col(idCol), tokens(col(textCol)).as("__toks")).repartition(par)

    val tokStats = toks.select(col(idCol), explode(col("__toks")).as("__t"))
      .groupBy(col(idCol), col("__t")).agg(count(lit(1)).as("__c"))
      .groupBy(col(idCol)).agg(
        sum(col("__c")).as("n_tokens"),
        count(lit(1)).as("n_distinct_tokens"),
        max(col("__c")).as("__top"))

    val gramStats = toks
      .select(col(idCol), explode(Dedup.shinglesOfTokens(col("__toks"), n)).as("__g"))
      .groupBy(col(idCol), col("__g")).agg(count(lit(1)).as("__c"))
      .groupBy(col(idCol)).agg(
        sum(col("__c")).as("n_ngrams"),
        count(lit(1)).as("n_distinct_ngrams"))

    def frac(distinct: Column, total: Column): Column =
      when(total.isNull || total === 0L, lit(0.0d))
        .otherwise(lit(1.0d) - distinct.cast("double") / total.cast("double"))

    // empty docs fall out of both explodes — restore them with zero counts
    df.select(col(idCol))
      .join(tokStats, Seq(idCol), "left")
      .join(gramStats, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("n_distinct_tokens"), lit(0L)).as("n_distinct_tokens"),
        frac(col("n_distinct_tokens"), col("n_tokens")).as("dup_token_frac"),
        when(col("n_tokens").isNull || col("n_tokens") === 0L, lit(0.0d))
          .otherwise(col("__top").cast("double") / col("n_tokens").cast("double"))
          .as("top_token_frac"),
        coalesce(col("n_ngrams"), lit(0L)).as("n_ngrams"),
        coalesce(col("n_distinct_ngrams"), lit(0L)).as("n_distinct_ngrams"),
        frac(col("n_distinct_ngrams"), col("n_ngrams")).as(s"dup_ngram_frac"))
  }

  /**
   * Unigram corpus-familiarity score (the cheap LM-perplexity proxy used
   * for web-corpus quality filtering): per document, the mean corpus
   * frequency of its tokens. Rare-token-heavy documents (OCR noise,
   * gibberish, wrong-language) score low; boilerplate scores very high;
   * both tails are filter candidates. Deliberately transcendental-free so
   * the oracle can match bit-for-bit: `n_tokens` and `sum_freq` are exact
   * BIGINTs and the score is ONE IEEE double division.
   *
   * Distributed shape: one global token-count aggregation (map-side
   * combined) over the exploded corpus, re-joined to the token stream on
   * the token key, then a per-doc re-aggregation — two shuffles and one
   * join, the minimum for any corpus-global statistic; no per-doc
   * collect, so a pathological gigabyte document costs rows, not memory.
   * Empty documents fall out of the explode and are restored with zeros.
   */
  def unigramFamiliarity(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val toks = df.select(col(idCol), explode(tokens(col(textCol))).as("__t"))
    val freq = toks.groupBy(col("__t")).agg(count(lit(1)).as("__n"))
    val perDoc = toks.join(freq, "__t")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"), sum(col("__n")).as("sum_freq"))
    df.select(col(idCol))
      .join(perDoc, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("sum_freq"), lit(0L)).as("sum_freq"),
        when(coalesce(col("n_tokens"), lit(0L)) === 0L, lit(0.0d))
          .otherwise(col("sum_freq").cast("double") / col("n_tokens").cast("double"))
          .as("familiarity"))
  }

  /**
   * Bigram corpus-familiarity — one order up from [[unigramFamiliarity]]
   * and a sharper perplexity proxy: rare word PAIRS mark unusual text
   * even when every word is common. Same exact-arithmetic design (BIGINT
   * frequency sums, one double division, no log whose last ulp could
   * differ across engines) and the same two-shuffle cost shape; repeats
   * kept — a doc re-using its own common bigram is more familiar.
   * Output: (idCol, n_bigrams, sum_freq, familiarity).
   */
  def bigramFamiliarity(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val bi = df.select(col(idCol), explode(Dedup.wordShingles(col(textCol), 2)).as("__b"))
    val freq = bi.groupBy(col("__b")).agg(count(lit(1)).as("__n"))
    val perDoc = bi.join(freq, "__b")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("__n")).as("sum_freq"))
    df.select(col(idCol))
      .join(perDoc, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("sum_freq"), lit(0L)).as("sum_freq"),
        when(coalesce(col("n_bigrams"), lit(0L)) === 0L, lit(0.0d))
          .otherwise(col("sum_freq").cast("double") / col("n_bigrams").cast("double"))
          .as("familiarity"))
  }

  /** Email pattern (RE2-portable: no lookarounds, mirrors in DuckDB). */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"

  /** Long digit runs — phone/card/account-number shaped. */
  val DigitRunRe = "[0-9]{7,}"

  /**
   * PII redaction: emails → `<EMAIL>`, then 7+-digit runs → `<NUMBER>`
   * (ordered so an address's digits are consumed by the email mask and
   * never double-counted). Adds `n_emails`, `n_digit_runs`,
   * `text_redacted`. Pure per-row regex projection — codegen'd, no
   * shuffle, linear in input splits.
   */
  def redactPii(df: DataFrame, textCol: String, outCol: String = "text_redacted"): DataFrame = {
    val t = col(textCol)
    val deEmailed = regexp_replace(t, EmailRe, "<EMAIL>")
    df.withColumn("n_emails", regexp_count(t, lit(EmailRe)).cast("int"))
      .withColumn("n_digit_runs", regexp_count(deEmailed, lit(DigitRunRe)).cast("int"))
      .withColumn(outCol, regexp_replace(deEmailed, DigitRunRe, "<NUMBER>"))
  }

  /** Stopword probe list for [[gopherFilters]] — a tiny high-frequency
    * English set (the Gopher rule asks only "does ANY common function
    * word appear", not a full stopword model). */
  val GopherStopwords: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** Sorted token n-grams of `t` (space-joined); [] when fewer than
    * `n` tokens. Sorting is the trick that lets duplicate statistics
    * fall out of adjacent-run lengths with NO per-doc group-by — see
    * [[repetitionStats]]. */
  private def sortedGrams(t: Column, n: Int): Column = {
    require(n >= 2, s"n-gram size must be ≥ 2: $n")
    val m = size(t) - (n - 1)
    // guard BEFORE sequence(): Spark's sequence(1, 0) is the descending
    // [1, 0], not empty
    when(m <= 0, array().cast("array<string>"))
      .otherwise(sort_array(transform(sequence(lit(1), m),
        i => concat_ws(" ", (0 until n).map(o => element_at(t, i + o)): _*))))
  }

  /**
   * Within-document repetition statistics — the Gopher repetition
   * filter family (Rae et al. 2021, Table A1; re-derived for token
   * n-grams, not copied): per doc, for bigrams and trigrams, the
   * occurrence count of the most frequent n-gram (`top_*`) and the
   * number of occurrences belonging to n-grams seen more than once
   * (`dup_*`), as exact integers plus their fractions of all n-gram
   * occurrences. `keep` rejects loop/boilerplate docs (top-bigram ≤
   * 0.20, top-trigram ≤ 0.18, dup-bigram ≤ 0.40 — Gopher-inspired
   * thresholds adapted to count fractions).
   *
   * 100 TB shape: everything is per-row array arithmetic — sort the
   * doc's n-grams, read duplicate counts off adjacent-run lengths — so
   * the operator needs NO shuffle at all, versus the explode +
   * groupBy(doc, gram) formulation whose shuffle carries every token
   * position of the corpus. Work per row is O(len·log len).
   *
   * Built as STAGED projections (each intermediate array lands in a
   * named column and later stages reference the attribute): inlining
   * the grams/starts/runs trees into one projection re-expands each
   * reference into a copy of the whole subtree — multiplicatively, to
   * the point that plan optimization itself hangs. Catalyst's
   * CollapseProject keeps non-cheap multiply-referenced aliases staged,
   * so the attribute boundaries survive optimization.
   */
  def repetitionStats(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    def addStats(in: DataFrame, n: Int, name: String): DataFrame = {
      val (g, m, st, r) = (s"__g_$name", s"__m_$name", s"__st_$name", s"__r_$name")
      in.withColumn(g, sortedGrams(col("__t"), n))
        .withColumn(m, size(col(g)))
        // starts: positions where the sorted gram value changes
        .withColumn(st, when(col(m) === 0, array().cast("array<int>"))
          .otherwise(filter(sequence(lit(1), col(m)),
            i => i === 1 || element_at(col(g), i) =!= element_at(col(g), i - 1))))
        // run lengths: gap to the next start (last run ends at m+1)
        .withColumn(r, when(col(m) === 0, array().cast("array<int>"))
          .otherwise(transform(sequence(lit(1), size(col(st))), j =>
            when(j === size(col(st)), col(m) + lit(1) - element_at(col(st), j))
              .otherwise(element_at(col(st), j + 1) - element_at(col(st), j)))))
        .withColumn(s"n_${name}s", col(m).cast("long"))
        .withColumn(s"top_${name}_count",
          when(col(m) === 0, lit(0L)).otherwise(array_max(col(r)).cast("long")))
        .withColumn(s"dup_${name}_count", when(col(m) === 0, lit(0L))
          .otherwise((col(m) - size(filter(col(r), x => x === 1))).cast("long")))
        .withColumn(s"top_${name}_frac", when(col(m) === 0, lit(0.0d))
          .otherwise(col(s"top_${name}_count").cast("double") / col(m).cast("double")))
        .withColumn(s"dup_${name}_frac", when(col(m) === 0, lit(0.0d))
          .otherwise(col(s"dup_${name}_count").cast("double") / col(m).cast("double")))
        .drop(g, m, st, r)
    }
    val base = df.select(col(idCol), tokens(col(textCol)).as("__t"))
    addStats(addStats(base, 2, "bigram"), 3, "trigram")
      .withColumn("keep",
        col("top_bigram_frac") <= 0.20d && col("top_trigram_frac") <= 0.18d &&
          col("dup_bigram_frac") <= 0.40d)
      .drop("__t")
  }

  /**
   * Boolean token gate: TRUE when at least one token of `textCol`
   * satisfies `pred`. Deliberately written as `size(filter(tokens, p))
   * > 0` — the shape [[graft.plans.SizeFilterToExists]] rewrites to a
   * short-circuiting, allocation-free `exists` when the rule is
   * installed; without the rule the gate is still correct, just pays
   * the filtered-array allocation per row.
   */
  def hasTokenMatching(textCol: Column, pred: Column => Column): Column =
    size(filter(tokens(textCol), pred)) > 0

  /**
   * Characteristic terms per group — the "what is this cluster about"
   * labels (c-TF-IDF's job, with the idf replaced by an exact integer
   * LIFT so both engines agree bit-for-bit): a token's score in a group
   * is `1000·(share of the group's tokens) div (share of the corpus's
   * tokens)` — >1000 means over-represented. Top `k` per group by
   * (lift desc, count desc, token). `minCount` floors noise (a token
   * seen twice in a tiny group is not a label). Two grouped counts and
   * a per-group top-k window over the group's qualifying vocabulary.
   */
  def characteristicTerms(df: DataFrame, groupCol: String, textCol: String,
      k: Int, minCount: Long = 5L): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    val tok = df.select(col(groupCol), explode(tokens(col(textCol))).as("token"))
    val grp = tok.groupBy(col(groupCol), col("token")).agg(count(lit(1)).as("n"))
      .where(col("n") >= minCount)
    val grpTotals = tok.groupBy(col(groupCol)).agg(count(lit(1)).as("__gt"))
    val corpus = tok.groupBy(col("token")).agg(count(lit(1)).as("__cn"))
    val corpusTotal = tok.agg(count(lit(1)).as("__ct"))
    val scored = grp
      .join(broadcast(grpTotals), Seq(groupCol))
      .join(corpus, Seq("token"))
      .crossJoin(broadcast(corpusTotal))
      // lift = (n/gt) / (cn/ct) = n·ct / (gt·cn), floored milli; the
      // numerator n·ct·1000 needs headroom beyond int64 at corpus
      // scale — integral `div` over DECIMAL(38,0), exact in both engines
      .withColumn("lift_milli",
        expr("CAST((CAST(n AS DECIMAL(38,0)) * __ct * 1000) div " +
          "(CAST(__gt AS DECIMAL(38,0)) * __cn) AS BIGINT)"))
    Ranking.topKPerGroup(scored, Seq(groupCol),
        Seq(col("lift_milli").desc, col("n").desc, col("token")), k)
      .select(col(groupCol), col("token"), col("n"), col("lift_milli"),
        col("rank"))
  }

  /**
   * Per-source boilerplate vocabulary: tokens whose DOCUMENT frequency
   * within a source reaches `dfMilli` (e.g. 600 = appears in ≥ 60% of
   * the source's docs) — navigation chrome, disclaimers, and template
   * residue surface exactly this way, and CCNet-style curation strips
   * them per SOURCE, not globally (a token ubiquitous on one host is
   * boilerplate there and content elsewhere). One explode + distinct +
   * two grouped counts; output `(source, token, df_milli)` is
   * boilerplate-vocabulary-sized.
   */
  def boilerplateTokens(df: DataFrame, sourceCol: String, textCol: String,
      idCol: String, dfMilli: Int): DataFrame = {
    require(dfMilli >= 1 && dfMilli <= 1000, s"dfMilli out of (0,1000]: $dfMilli")
    val docTok = df
      .select(col(sourceCol), col(idCol),
        explode(tokens(col(textCol))).as("token"))
      .distinct()
    val docsPerSource = df.groupBy(col(sourceCol))
      .agg(countDistinct(col(idCol)).as("__nd"))
    docTok.groupBy(col(sourceCol), col("token"))
      .agg(count(lit(1)).as("__df"))
      .join(broadcast(docsPerSource), Seq(sourceCol))
      .withColumn("df_milli", expr("(__df * 1000) div __nd"))
      .where(col("df_milli") >= dfMilli)
      .select(col(sourceCol), col("token"), col("df_milli"))
  }

  /**
   * Strip a source's boilerplate tokens from its documents: the
   * per-source vocabulary (tiny by construction — only ≥ dfMilli-
   * frequent tokens survive) is collected into ONE array per source
   * and broadcast-joined back, so the strip itself is a codegen'd
   * `filter(tokens, t -> !array_contains(...))` — no per-token
   * explode/rebuild shuffle on the data path. Output: id, source,
   * n_tokens_before/after, stripped_text.
   */
  def stripBoilerplate(df: DataFrame, sourceCol: String, textCol: String,
      idCol: String, dfMilli: Int): DataFrame = {
    val vocab = boilerplateTokens(df, sourceCol, textCol, idCol, dfMilli)
      .groupBy(col(sourceCol))
      .agg(sort_array(collect_list(col("token"))).as("__bp"))
    val kept = filter(tokens(col(textCol)),
      t => !array_contains(col("__bp"), t))
    df.join(broadcast(vocab), Seq(sourceCol), "left")
      .withColumn("__bp", coalesce(col("__bp"), array().cast("array<string>")))
      .select(col(idCol), col(sourceCol),
        size(tokens(col(textCol))).cast("long").as("n_tokens_before"),
        size(kept).cast("long").as("n_tokens_after"),
        array_join(kept, " ").as("stripped_text"))
  }

  /**
   * Collocation mining: the corpus's top-`topK` adjacent word pairs by
   * PMI-style lift, `lift = N·n(ab) / (n(a)·n(b))` — the association
   * score that separates genuine collocations ("new york") from pairs
   * that co-occur only because both words are common. Pairs below
   * `minCount` occurrences are dropped first (PMI is noise at low
   * support — the standard Church & Hanks caveat).
   *
   * Exactness: lift is reported in milli-units computed with DECIMAL(38,0)
   * integer division (`div` truncates; DuckDB mirrors with HUGEINT `//`,
   * identical on non-negative operands) — `n(ab)·N·1000` overflows BIGINT
   * at real corpus scale (N ~ 10¹³), DECIMAL(38,0) holds it to N ~ 10¹⁷.
   *
   * Scale shape: one map-side-combined aggregation for each of the
   * bigram and unigram count tables, two vocabulary-sized equi-joins
   * (bigram table joins the unigram counts on each word), a one-row
   * total broadcast, and a global top-k (TakeOrderedAndProject — only
   * k rows reach the driver side of the sort). The token stream is
   * materialized behind the repartition barrier once and feeds both
   * count tables.
   */
  def collocations(df: DataFrame, textCol: String, minCount: Long = 5L,
      topK: Int = 20): DataFrame = {
    val sess = df.sparkSession
    val toks = df.select(tokens(col(textCol)).as("__toks"))
      .repartition(sess.sparkContext.defaultParallelism)
    val uni = toks.select(explode(col("__toks")).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("n_tok"))
    val bi = toks.select(explode(Dedup.shinglesOfTokens(col("__toks"), 2)).as("bigram"))
      .groupBy("bigram").agg(count(lit(1)).as("n_ab"))
      .where(col("n_ab") >= minCount)
    val tot = uni.agg(sum("n_tok").as("__n_total"))
    val ua = uni.select(col("tok").as("__w1"), col("n_tok").as("n_a"))
    val ub = uni.select(col("tok").as("__w2"), col("n_tok").as("n_b"))
    bi
      .withColumn("__w1", substring_index(col("bigram"), " ", 1))
      .withColumn("__w2", substring_index(col("bigram"), " ", -1))
      .join(ua, "__w1").join(ub, "__w2")
      .crossJoin(broadcast(tot))
      .withColumn("lift_milli",
        expr("CAST(CAST(n_ab AS DECIMAL(38,0)) * __n_total * 1000" +
          " div (CAST(n_a AS DECIMAL(38,0)) * n_b) AS BIGINT)"))
      .select(col("bigram"), col("n_ab"), col("n_a"), col("n_b"), col("lift_milli"))
      .orderBy(col("lift_milli").desc, col("bigram"))
      .limit(topK)
  }

  /**
   * Gopher/C4-style heuristic document filters (Rae et al. 2021 §A1.1,
   * Raffel et al. 2020 §2.2 — re-derived, not copied): per-document
   * structural signals and one conjunctive `keep` verdict. Everything is
   * a per-row projection over codegen'd built-ins — no UDF, no shuffle,
   * linear at any scale — and every float is a ratio of exact integers,
   * so the DuckDB oracle reproduces each column bit for bit.
   *
   * Signals: word count and mean word length (bounds catch OCR noise and
   * minified blobs), fraction of bullet-point lines and of
   * ellipsis-terminated lines (boilerplate lists / truncated crawls),
   * `#`/`…` symbol-per-word ratio (markup residue), and presence of ≥ 2
   * distinct common stopwords (a cheap "is this prose" gate).
   */
  def gopherFilters(df: DataFrame, textCol: String, idCol: String,
      minWords: Int = 10, maxWords: Int = 1000000): DataFrame = {
    val t = col(textCol)
    val words = tokens(t)
    val nWords = size(words).cast("long")
    val lines = transform(split(t, "\n"), l => trim(l))
    val nLines = size(lines).cast("double")
    def lineFrac(pred: Column => Column): Column =
      size(filter(lines, pred)).cast("double") / nLines
    val meanLen = when(nWords === 0, lit(0.0d))
      .otherwise(aggregate(words, lit(0L), (acc, w) => acc + length(w)).cast("double") /
        nWords.cast("double"))
    val nSymbols =
      (length(t) - length(regexp_replace(t, "[#…]", ""))).cast("long")
    val nStops = GopherStopwords
      .map(s => when(array_contains(words, s), 1).otherwise(0))
      .reduce(_ + _)
    val bulletFrac = lineFrac(l =>
      l.startsWith("-") || l.startsWith("*") || l.startsWith("•"))
    val ellipsisFrac = lineFrac(l => l.endsWith("...") || l.endsWith("…"))
    val symbolRatio = when(nWords === 0, lit(0.0d))
      .otherwise(nSymbols.cast("double") / nWords.cast("double"))
    df.select(
      col(idCol),
      nWords.as("n_words"),
      meanLen.as("mean_word_len"),
      bulletFrac.as("bullet_line_frac"),
      ellipsisFrac.as("ellipsis_line_frac"),
      symbolRatio.as("symbol_word_ratio"),
      nStops.cast("int").as("n_stopword_hits"))
      .withColumn("keep",
        col("n_words") >= minWords && col("n_words") <= maxWords &&
          col("mean_word_len") >= 3.0 && col("mean_word_len") <= 10.0 &&
          col("bullet_line_frac") <= 0.9 &&
          col("ellipsis_line_frac") <= 0.3 &&
          col("symbol_word_ratio") <= 0.1 &&
          col("n_stopword_hits") >= 2)
  }

  /**
   * Context-window chunking: split each document into token chunks of
   * `chunkTokens` with `overlap` tokens carried between consecutive
   * chunks (stride = chunkTokens − overlap) — the standard pre-embedding
   * / pre-training segmentation. One `posexplode` per doc (narrow, no
   * shuffle); chunk count per doc is `ceil(max(n − overlap, 0) /
   * stride)` with short-but-nonempty docs yielding exactly one chunk.
   * Output: `(idCol, chunk_idx, chunk_text, chunk_tokens)`.
   */
  def chunkTokens(df: DataFrame, textCol: String, idCol: String,
      chunkTokens: Int, overlap: Int): DataFrame = {
    require(chunkTokens > 0 && overlap >= 0 && overlap < chunkTokens,
      s"need 0 <= overlap < chunkTokens, got overlap=$overlap chunk=$chunkTokens")
    val stride = chunkTokens - overlap
    val toks = tokens(col(textCol))
    val n = size(toks)
    // start offsets 0, stride, 2·stride, … while start < n (and at least
    // one chunk for any non-empty doc)
    val nChunks = when(n === 0, lit(0))
      .otherwise(greatest(lit(1), ceil((n - lit(overlap)).cast("double") / stride).cast("int")))
    df.select(col(idCol), toks.as("__toks"), nChunks.as("__nc"))
      .where(col("__nc") > 0)
      .select(col(idCol), col("__toks"),
        posexplode(sequence(lit(0), col("__nc") - 1)).as(Seq("chunk_idx", "__i")))
      .select(col(idCol), col("chunk_idx"),
        array_join(slice(col("__toks"), col("__i") * stride + 1, lit(chunkTokens)), " ")
          .as("chunk_text"),
        least(lit(chunkTokens), size(col("__toks")) - col("__i") * stride)
          .as("chunk_tokens"))
  }

  /**
   * Lexical-diversity card per document: type-token ratio and the Gini
   * IMPURITY of the token distribution (1 − Σ(cᵢ/n)²) — the exact-integer
   * stand-in for token entropy (ln is libm-specific, so entropy cannot be
   * value-checked cross-engine; impurity ranks documents the same way).
   * Low TTR + low impurity = a document hammering a few tokens — the
   * degenerate-repetition class quality filters drop. One explode + two
   * hash aggregates; the left join keeps blank documents (0 tokens, null
   * ratios — a guard, not an ANSI raise).
   *
   * Output: (id, n_tokens, n_types, ttr_milli, gini_milli), all exact:
   * `ttr_milli = 1000·types div n`, `gini_milli = 1000 − (1000·Σc²) div n²`.
   */
  def tokenDiversity(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val ids = df.select(col(idCol))
    val counts = df
      .select(col(idCol), explode(tokens(col(textCol))).as("__tok"))
      .groupBy(col(idCol), col("__tok")).agg(count(lit(1)).as("__c"))
      .groupBy(col(idCol))
      .agg(sum(col("__c")).as("__n"), count(lit(1)).as("__types"),
        sum(col("__c") * col("__c")).as("__s2"))
    ids.join(counts, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("__n"), lit(0L)).as("n_tokens"),
        coalesce(col("__types"), lit(0L)).as("n_types"),
        when(col("__n") > 0, expr("(1000 * __types) div __n")).as("ttr_milli"),
        when(col("__n") > 0,
          lit(1000L) - expr("(1000 * __s2) div (__n * __n)")).as("gini_milli"))
  }

  /**
   * Per-document keyword extraction by exact integer LIFT — the
   * document-grain twin of the per-group characteristic-terms table:
   * a token's lift is its in-document share over its corpus share,
   * `lift_milli = (1000·c_doc·T) div (n_doc·c_corpus)` (T = corpus token
   * count), top `k` per document by (lift desc, token), tokens occurring
   * once in the document excluded (hapax noise). Numerator in
   * DECIMAL(38,0): c_doc·T alone overflows int64 at corpus scale. The
   * rank window partitions per document (bounded by document length);
   * corpus totals ride one broadcast row.
   */
  def docKeywords(df: DataFrame, textCol: String, idCol: String,
      k: Int, minDocCount: Long = 2L): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    import org.apache.spark.sql.expressions.Window
    val tok = graft.recon.Checkpoints.cut(
      df.select(col(idCol), explode(tokens(col(textCol))).as("token"))
        .groupBy(col(idCol), col("token")).agg(count(lit(1)).as("c_doc")))
    val docLen = tok.groupBy(col(idCol)).agg(sum(col("c_doc")).as("n_doc"))
    val corpus = tok.groupBy(col("token")).agg(sum(col("c_doc")).as("c_corpus"))
    val total = corpus.agg(sum(col("c_corpus")).as("t_corpus"))
    val w = Window.partitionBy(col(idCol))
      .orderBy(col("lift_milli").desc, col("token"))
    tok.where(col("c_doc") >= minDocCount)
      .join(docLen, Seq(idCol))
      .join(corpus, Seq("token"))
      .crossJoin(broadcast(total))
      .withColumn("lift_milli", expr(
        "cast((1000 * cast(c_doc as decimal(38,0)) * t_corpus) div (n_doc * c_corpus) as bigint)"))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col(idCol), col("rank"), col("token"), col("c_doc"),
        col("lift_milli"))
  }

  /** Min-window-hash document fingerprint (native expression, codegen'd).
    * `portable = true` (default) slides a CHARACTER window hashed with md5
    * — value-checkable against the DuckDB oracle; `false` slides the
    * faster byte-window xxhash64 (rows-only checkable). */
  def fingerprint(df: DataFrame, textCol: String, window: Int = 16,
      outCol: String = "fingerprint", portable: Boolean = true): DataFrame = {
    val f =
      if (portable) graft.functions.TextFunctions.min_window_md5(col(textCol), window)
      else graft.functions.TextFunctions.min_window_hash(col(textCol), window)
    df.withColumn(outCol, f)
  }
}
