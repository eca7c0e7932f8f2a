package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions

/**
 * Deduplication operators for a training-data pipeline, each designed for
 * the 100 TB path:
 *
 *  - exact:    one hash-shuffle on a 128-bit content hash (never the raw
 *              text) — the shuffle payload is 16 bytes + ids per row.
 *  - MinHash:  signatures computed per-row (narrow), then LSH banding so
 *              the only shuffle is on (band, bandHash) buckets; candidate
 *              pairs are verified with real Jaccard — no quadratic blow-up.
 *  - SimHash:  64-bit signature per row, chunk-banding (Hamming ≤ k ⇒ some
 *              16-bit chunk equal), bucket join, bit_count verify.
 *  - n-gram Jaccard: exact shingle-join version for modest candidate sets;
 *              document-frequency cap bounds the worst hub shingle.
 *  - embedding: cosine near-dup via the codegen'd float kernel; LSH
 *              hyperplane bucketing available through [[Similarity]].
 */
object Dedup {

  /** Canonical 128-bit content hash (md5 of the normalized text). */
  def contentHash(text: Column): Column = md5(lower(trim(text)).cast("binary"))

  /**
   * Hash kernels for the sketch operators (MinHash slots, LSH band
   * hashes). `Portable` is the default: 60-bit md5-derived hashes that
   * DuckDB reproduces exactly (`('0x' || substr(md5(x),1,15))::BIGINT`),
   * so every sketch query is value-checkable against the oracle — 15 hex
   * digits keep the value non-negative in a signed 64-bit int on both
   * engines. `Fast` is xxhash64: cheapest per byte, JVM-only, rows-only
   * checkable. Both are codegen'd built-ins; switching kernels never
   * changes the plan shape, only the hash family.
   */
  sealed trait SketchHash {
    /** all k slot hashes of a shingle at once (array<long>). */
    def slots(shingle: Column, k: Int): Column
    /** hash of a band's slot values (LSH bucket key). */
    def band(cols: Seq[Column]): Column
  }
  object SketchHash {
    private def md5h60(c: Column): Column =
      conv(substring(md5(c), 1, 15), 16, 10).cast("long")
    case object Portable extends SketchHash {
      // one digest + k splitmix64 mixes per shingle (native kernel) —
      // not k digests; the mixer is mirrored in SQL via HUGEINT mod-2^64
      def slots(shingle: Column, k: Int): Column =
        graft.functions.TextFunctions.md5_slots(shingle, k)
      def band(cols: Seq[Column]): Column = md5h60(concat_ws(",", cols: _*))
    }
    case object Fast extends SketchHash {
      def slots(shingle: Column, k: Int): Column =
        array((0 until k).map(i => xxhash64(lit(i), shingle)): _*)
      def band(cols: Seq[Column]): Column = xxhash64(cols: _*)
    }
  }

  /**
   * Exact dedup groups: one row per distinct content, with the canonical
   * (minimum) id and the duplicate count. Group-by on the 16-byte hash —
   * map-side partial aggregation, single shuffle.
   */
  def exactGroups(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.groupBy(contentHash(col(textCol)).as("content_hash"))
      .agg(min(col(idCol)).as("canonical_id"), count(lit(1)).as("n_copies"))

  /**
   * Label-noise audit over exact-duplicate content: groups whose copies
   * DISAGREE on a label column (identical text tagged `source=web` and
   * `source=books`, or two languages) — each conflict is either a
   * mislabel or a provenance leak, and training pipelines want both
   * surfaced before a dedup wave silently keeps one arbitrary side. One
   * hash aggregate; only conflicted groups survive. `label_lo`/`label_hi`
   * bound the disagreement (the full label set is an array — kept out of
   * the output by the scalar-columns rule).
   */
  def labelConflicts(df: DataFrame, textCol: String, idCol: String,
      labelCol: String): DataFrame =
    df.groupBy(contentHash(col(textCol)).as("content_hash"))
      .agg(count(lit(1)).as("n_copies"),
        countDistinct(col(labelCol)).as("n_labels"),
        min(col(idCol)).as("canonical_id"),
        min(col(labelCol)).as("label_lo"), max(col(labelCol)).as("label_hi"))
      .where(col("n_labels") > 1)

  /** Exact dedup: keep one row per distinct content (the min-id row). */
  def exactDedup(df: DataFrame, textCol: String, idCol: String): DataFrame =
    graft.recon.Reconciler.keepFirstBy(df.withColumn("__ch", contentHash(col(textCol))),
      Seq("__ch"), Seq(col(idCol))).drop("__ch")

  /** The persisted state for cross-run (incremental) exact dedup: one
    * 16-byte content hash per distinct content already ingested. Write
    * this once per run; union with the new batch's hashes for the next. */
  def seenContentHashes(df: DataFrame, textCol: String): DataFrame =
    df.select(contentHash(col(textCol)).as("content_hash")).distinct()

  /**
   * Stratified exact-duplication rate — the dedup dashboard number: per
   * stratum, how many documents have at least one exact copy anywhere in
   * the corpus (cross-stratum copies count — that's the interesting
   * case: a mirror site shows up as a high dup rate in BOTH sources).
   * One hash aggregate + a semi-style mark join; the rate is a division
   * of exact integers. Output: strata cols + (n_docs, n_dup_docs,
   * dup_rate).
   */
  def dupRateByStrata(df: DataFrame, textCol: String, strata: Seq[String]): DataFrame = {
    val marked = df.withColumn("__ch", contentHash(col(textCol)))
    val dup = marked.groupBy(col("__ch")).agg(count(lit(1)).as("__c"))
      .where(col("__c") >= 2)
      .select(col("__ch"), lit(1L).as("__dup"))
    marked.join(dup, Seq("__ch"), "left")
      .groupBy(strata.map(col).toIndexedSeq: _*)
      .agg(count(lit(1)).as("n_docs"),
        sum(coalesce(col("__dup"), lit(0L))).as("n_dup_docs"))
      .withColumn("dup_rate",
        col("n_dup_docs").cast("double") / col("n_docs").cast("double"))
  }

  /**
   * Incremental exact dedup: keep only new-batch rows whose content no
   * prior run ingested — the every-few-hours corpus update path, where
   * re-deduping the whole corpus per batch would be quadratic over the
   * corpus lifetime. An anti-join on the 16-byte hash: the (small) new
   * batch shuffles against the corpus-lifetime `seen` set hash-to-hash;
   * AQE broadcasts `seen` on its own when it is genuinely small.
   * Within-batch duplicates are NOT removed here (this is the cross-run
   * filter) — compose with [[exactDedup]] on the survivors for both.
   *
   * Runs UNCHANGED on a `readStream` frame: a stream-static left-anti
   * join, append mode, no streaming state (the static `seen` side is
   * the state, maintained by whatever batch ingest wrote it) —
   * spec-asserted equivalent to the batch form on the same files.
   */
  def incrementalDedup(newDf: DataFrame, seen: DataFrame, textCol: String): DataFrame =
    newDf.withColumn("__ch", contentHash(col(textCol)))
      .join(seen, col("__ch") === seen("content_hash"), "left_anti")
      .drop("__ch")

  /**
   * Word n-gram shingles of a token-array column — the native codegen
   * kernel ([[graft.functions.TextOps.wordShingles]]): one tight loop
   * inside whole-stage codegen, byte-identical to the
   * `transform(sequence(...), concat_ws)` composition it replaced
   * (WordShingleSpec pins the equivalence). The old interpreted
   * higher-order-function form re-evaluated its inputs per element —
   * the reason every shingle consumer carries a repartition barrier;
   * those barriers stay (they also spread single-split inputs across
   * cores) but no longer guard against a 40× re-split hazard.
   */
  def shinglesOfTokens(toks: Column, n: Int): Column =
    graft.functions.TextFunctions.word_shingles(toks, n)

  /** Convenience: shingles straight off a text column (tokenizes inline —
    * fine for single-row use; prefer [[shingleTable]]/[[shingleSets]] in
    * pipelines). */
  def wordShingles(text: Column, n: Int): Column =
    shinglesOfTokens(TextAnalysis.tokens(text), n)

  /**
   * (doc, shingle-set array) with tokens materialized before shingling.
   * The repartition between tokenize and shingle is load-bearing twice
   * over: (1) it is an optimizer barrier — without it CollapseProject
   * re-inlines the tokenizer into the shingle lambda and, because
   * higher-order functions run interpreted, the text is re-split for every
   * element access (measured 18s → 0.4s at sf0.1); (2) small doc tables
   * arrive as one parquet split, and the exchange spreads the interpreted
   * lambda work across all cores.
   */
  def shingleSets(df: DataFrame, textCol: String, idCol: String, n: Int): DataFrame =
    df.select(col(idCol).as("doc"), TextAnalysis.tokens(col(textCol)).as("__toks"))
      .repartition(df.sparkSession.sparkContext.defaultParallelism)
      .select(col("doc"), array_distinct(shinglesOfTokens(col("__toks"), n)).as("sh"))

  /**
   * (doc, shingle) exploded distinct-shingle table. The explode is applied
   * to the shingle *expression*, not to a projected attribute: exploding an
   * attribute lets `InferFiltersFromGenerate` add a `size(sh) > 0` filter
   * that predicate-pushdown substitutes below the exchange — re-inlining
   * the whole interpreted shingle pipeline into a pre-shuffle Filter that
   * evaluates it twice per row on the unparallelized input (measured 17s
   * vs 0.4s at sf0.1). Inference skips non-trivial generator children.
   */
  def shingleTable(df: DataFrame, textCol: String, idCol: String, n: Int): DataFrame =
    df.select(col(idCol).as("doc"), TextAnalysis.tokens(col(textCol)).as("__toks"))
      .repartition(df.sparkSession.sparkContext.defaultParallelism)
      .select(col("doc"),
        explode(array_distinct(shinglesOfTokens(col("__toks"), n))).as("shingle"))

  /** POSITIONAL (doc, shingle) table — every n-gram occurrence, repeats
    * kept. Same explode-the-expression / repartition-barrier discipline as
    * [[shingleTable]]; the only difference is no `array_distinct`, because
    * span-level measurements weight by occurrence, not presence. */
  def spanTable(df: DataFrame, textCol: String, idCol: String, n: Int): DataFrame =
    df.select(col(idCol).as("doc"), TextAnalysis.tokens(col(textCol)).as("__toks"))
      .repartition(df.sparkSession.sparkContext.defaultParallelism)
      .select(col("doc"), explode(shinglesOfTokens(col("__toks"), n)).as("shingle"))

  /**
   * Duplicated-span profile (the measurement arm of exact substring dedup,
   * Lee et al. 2021 "Deduplicating Training Data Makes Language Models
   * Better"): for every document, the fraction of its word n-gram spans
   * whose text occurs ≥2 times anywhere in the corpus (other documents OR
   * again in the same one). Output: (idCol, n_spans, n_dup_spans,
   * dup_frac); documents shorter than `n` tokens have no spans and are
   * absent.
   *
   * Scale shape: spans travel as 60-bit [[Sampling.keyHash]]es, never as
   * strings. The span stream is cut once and feeds both consumers; the
   * corpus-frequency aggregation is map-side combined on the hash, and the
   * dup-mark join is hash-co-partitioned with it. Unlike
   * [[graft.ops.Decontaminate]] there is no broadcast-able side — the dup
   * set is corpus-sized — so both shuffles are genuinely necessary.
   */
  def duplicatedSpanStats(df: DataFrame, textCol: String, idCol: String, n: Int): DataFrame = {
    val spans = graft.recon.Checkpoints.cut(
      spanTable(df, textCol, idCol, n)
        .select(col("doc"), Sampling.keyHash(col("shingle")).as("__gh")))
    val dup = spans.groupBy(col("__gh"))
      .agg(count(lit(1)).as("__c"))
      .where(col("__c") >= 2)
      .select(col("__gh"), lit(1L).as("__dup"))
    spans.join(dup, Seq("__gh"), "left")
      .groupBy(col("doc").as(idCol))
      .agg(count(lit(1)).as("n_spans"),
        sum(coalesce(col("__dup"), lit(0L))).as("n_dup_spans"))
      .withColumn("dup_frac",
        col("n_dup_spans").cast("double") / col("n_spans").cast("double"))
  }

  /** POSITIONAL (doc, pos, shingle) table with 1-based token positions —
    * the input for maximal-span merging, where WHERE an n-gram sits
    * matters, not just that it occurs. Same explode-the-expression /
    * repartition-barrier discipline as [[spanTable]]. */
  def posSpanTable(df: DataFrame, textCol: String, idCol: String, n: Int): DataFrame =
    posSpanTableOf(df, TextAnalysis.tokens(col(textCol)), idCol, n)

  /** [[posSpanTable]] over an ARBITRARY token expression (array<string>) —
    * the hook that lets the span machinery run on any tokenization
    * (whitespace words, BPE subtokens, characters) without forking the
    * downstream dup-mark/island logic. */
  def posSpanTableOf(df: DataFrame, toks: Column, idCol: String, n: Int): DataFrame =
    df.select(col(idCol).as("doc"), toks.as("__toks"))
      .repartition(df.sparkSession.sparkContext.defaultParallelism)
      .select(col("doc"),
        posexplode(shinglesOfTokens(col("__toks"), n)).as(Seq("__p0", "shingle")))
      .select(col("doc"), (col("__p0") + 1).cast("long").as("pos"), col("shingle"))

  /** The whole document re-expressed as a BPE SUBTOKEN stream under a
    * fixed merge list: each whitespace word segments through
    * [[graft.ops.Vocab.segment]] (greedy two-pass regex merges), and the
    * per-word subtoken lists flatten in word order. Lee et al. 2021 ran
    * exact-substring dedup over token streams of roughly this shape
    * (~50 BPE tokens), not whitespace words — this is the expression that
    * feeds their semantics. Pure column expression: stays inside
    * whole-stage codegen, no UDF. */
  def bpeTokens(text: Column, merges: Seq[(String, String)]): Column =
    flatten(transform(TextAnalysis.tokens(text),
      w => split(Vocab.segment(w, merges), " ")))

  /**
   * MAXIMAL duplicated spans (the variable-length upgrade of
   * [[duplicatedSpanStats]], Lee et al. 2021's exact-substring shape): a
   * duplicated region longer than `n` tokens appears as a RUN of
   * consecutive duplicated n-gram positions, and fixed n-gram accounting
   * under-reports it as independent grams. Here runs merge: per document,
   * every maximal run of consecutive positions whose n-gram occurs ≥2
   * times corpus-wide becomes ONE span — a 2n-token duplicated region is
   * one (n+1)-gram span, not n+1 separate hits. Output per span:
   * (idCol, span_start, span_end, n_grams, span_tokens) with 1-based
   * inclusive token indexes, span_end = last_pos + n − 1.
   *
   * Scale shape: positions travel with 60-bit span hashes (never text);
   * the dup mark is a count≥2 semi join co-partitioned on the hash; the
   * run merge is gaps-and-islands — one window PARTITIONED BY doc (no
   * global funnel), islands keyed by pos − row_number.
   */
  def duplicatedSpans(df: DataFrame, textCol: String, idCol: String, n: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spans = graft.recon.Checkpoints.cut(
      posSpanTable(df, textCol, idCol, n)
        .select(col("doc"), col("pos"), Sampling.keyHash(col("shingle")).as("__gh")))
    val dup = spans.groupBy(col("__gh"))
      .agg(count(lit(1)).as("__c"))
      .where(col("__c") >= 2)
      .select(col("__gh"))
    val w = Window.partitionBy(col("doc")).orderBy(col("pos"))
    spans.join(dup, Seq("__gh"), "left_semi")
      .withColumn("__isl", col("pos") - row_number().over(w))
      .groupBy(col("doc"), col("__isl"))
      .agg(min(col("pos")).as("span_start"),
        (max(col("pos")) + lit(n - 1)).as("span_end"),
        count(lit(1)).as("n_grams"))
      .select(col("doc").as(idCol), col("span_start"), col("span_end"),
        col("n_grams"),
        (col("span_end") - col("span_start") + 1).as("span_tokens"))
  }

  /**
   * Lee et al. 2021's ACTUAL removal semantics: cut the duplicated
   * REGIONS out of the text, keeping the corpus-wide FIRST occurrence —
   * not drop whole documents ([[spanDedupFilter]]) or merely measure
   * ([[duplicatedSpans]]). A position is redundant when its n-gram
   * occurred earlier in (doc, pos) order anywhere in the corpus; runs of
   * consecutive redundant positions merge into maximal spans
   * (gaps-and-islands), and every token covered by such a span is
   * removed. Output: one row per input document —
   * `(idCol, text_cut, n_tokens_kept)`, empty string when everything
   * (or nothing) was there.
   *
   * Scale shape: the occurrence ranking is one window PARTITIONED BY the
   * 60-bit gram hash (corpus-wide but per-hash groups are tiny); the
   * span merge windows per doc; the token cut is a per-doc spans array
   * (small by construction — spans per doc, not corpus spans) joined
   * back to the posexploded tokens. No text ever travels on the hash
   * shuffles.
   */
  def cutDuplicatedSpans(df: DataFrame, textCol: String, idCol: String, n: Int): DataFrame =
    cutDuplicatedSpansOf(df, TextAnalysis.tokens(col(textCol)), idCol, n)

  /** [[cutDuplicatedSpans]] over BPE SUBTOKEN streams — the tokenization
    * Lee et al. 2021 actually used (they cut at ~50 BPE tokens, not ~n
    * words; a subtoken window of the same text span is finer-grained, so
    * pick `n` ≈ 4× the word-level n for comparable span lengths). The
    * output `text_cut` is the surviving SUBTOKEN stream space-joined —
    * the unit the training pipeline consumes downstream of this cut. */
  def cutDuplicatedSpansBpe(df: DataFrame, textCol: String, idCol: String,
      merges: Seq[(String, String)], n: Int): DataFrame =
    cutDuplicatedSpansOf(df, bpeTokens(col(textCol), merges), idCol, n)

  /** The tokenization-generic core of [[cutDuplicatedSpans]]: `toks` is
    * any array<string> expression over the row. */
  def cutDuplicatedSpansOf(df: DataFrame, toks: Column, idCol: String, n: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val grams = graft.recon.Checkpoints.cut(
      posSpanTableOf(df, toks, idCol, n)
        .select(col("doc"), col("pos"), Sampling.keyHash(col("shingle")).as("__gh")))
    val wOcc = Window.partitionBy(col("__gh")).orderBy(col("doc"), col("pos"))
    val redundant = grams
      .withColumn("__occ", row_number().over(wOcc))
      .where(col("__occ") > 1)
      .select(col("doc"), col("pos"))
    val wDoc = Window.partitionBy(col("doc")).orderBy(col("pos"))
    val spansPerDoc = redundant
      .withColumn("__isl", col("pos") - row_number().over(wDoc))
      .groupBy(col("doc"), col("__isl"))
      .agg(min(col("pos")).as("s"), (max(col("pos")) + lit(n - 1)).as("e"))
      .groupBy(col("doc"))
      .agg(collect_list(struct(col("s"), col("e"))).as("__spans"))
      .withColumnRenamed("doc", idCol)
    val tokTable = df.select(col(idCol),
        posexplode(toks).as(Seq("__p0", "__tok")))
      .select(col(idCol), (col("__p0") + 1).cast("long").as("__tp"), col("__tok"))
    val kept = tokTable.join(spansPerDoc, Seq(idCol), "left")
      .where(col("__spans").isNull ||
        !exists(col("__spans"), sp =>
          col("__tp") >= sp.getField("s") && col("__tp") <= sp.getField("e")))
      .groupBy(col(idCol))
      .agg(array_sort(collect_list(struct(col("__tp"), col("__tok")))).as("__tt"))
      .select(col(idCol),
        concat_ws(" ", transform(col("__tt"), e => e.getField("__tok"))).as("text_cut"),
        size(col("__tt")).cast("long").as("n_tokens_kept"))
    // every input doc appears, even fully-cut or token-less ones
    df.select(col(idCol)).join(kept, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("text_cut"), lit("")).as("text_cut"),
        coalesce(col("n_tokens_kept"), lit(0L)).as("n_tokens_kept"))
  }

  /**
   * Removal arm of exact-substring (span) dedup: keep documents whose
   * duplicated-span fraction stays at or under `maxDupFrac`. Documents
   * shorter than `n` tokens have no spans, carry no duplication
   * evidence, and are kept. The join side is the stats aggregate — an id
   * plus one double per doc, never text.
   */
  def spanDedupFilter(df: DataFrame, textCol: String, idCol: String, n: Int,
      maxDupFrac: Double): DataFrame = {
    val stats = duplicatedSpanStats(df, textCol, idCol, n)
      .select(col(idCol), col("dup_frac"))
    df.join(stats, Seq(idCol), "left")
      .where(col("dup_frac").isNull || col("dup_frac") <= maxDupFrac)
      .drop("dup_frac")
  }

  /**
   * CONTENT-DEFINED chunking of every document (the Rabin/rolling-hash
   * boundary principle of LBFS and storage dedup, re-expressed over word
   * tokens): a token position starts a new chunk when the w-gram hash
   * anchored there satisfies `hash % divisor == 0` (plus position 1).
   * Because boundaries depend only on LOCAL content, inserting or
   * deleting a region re-aligns chunk boundaries immediately after it —
   * the property fixed-width blocks lack, and the reason storage systems
   * chunk this way. Expected chunk length ≈ `divisor` tokens.
   *
   * Output: `(doc, chunk_start, chunk_tokens, chunk_hash)` — one row
   * per chunk, the text already reduced to its 60-bit [[Sampling.keyHash]]
   * so downstream frequency joins never ship text. Chunk assembly
   * happens in a per-doc aggregation (the only place chunk text exists);
   * the boundary-assignment window partitions per doc.
   */
  def cdcChunkTable(df: DataFrame, textCol: String, idCol: String,
      w: Int, divisor: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(w >= 1 && divisor >= 1, s"bad w=$w / divisor=$divisor")
    val tokens = df.select(col(idCol).as("doc"), TextAnalysis.tokens(col(textCol)).as("__toks"))
      .repartition(df.sparkSession.sparkContext.defaultParallelism)
      .select(col("doc"), posexplode(col("__toks")).as(Seq("__p0", "tok")))
      .select(col("doc"), (col("__p0") + 1).cast("long").as("tp"), col("tok"))
    val bounds = posSpanTable(df, textCol, idCol, w)
      .select(col("doc"), col("pos").as("tp"),
        (pmod(Sampling.keyHash(col("shingle")), lit(divisor.toLong)) === 0).as("__cut"))
    val marked = tokens.join(bounds, Seq("doc", "tp"), "left")
      .withColumn("__bnd",
        when(col("tp") === 1 || coalesce(col("__cut"), lit(false)), col("tp")))
    val run = Window.partitionBy(col("doc")).orderBy(col("tp"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    marked.withColumn("chunk_start", max(col("__bnd")).over(run))
      .groupBy(col("doc"), col("chunk_start"))
      .agg(count(lit(1)).as("chunk_tokens"),
        array_join(transform(array_sort(collect_list(struct(col("tp"), col("tok")))),
          s => s.getField("tok")), " ").as("__chunk"))
      .select(col("doc"), col("chunk_start"), col("chunk_tokens"),
        Sampling.keyHash(col("__chunk")).as("chunk_hash"))
  }

  /**
   * Chunk-level duplication profile: per document, how many of its
   * content-defined chunks occur ≥ 2 times anywhere in the corpus
   * (multiplicity counts — a chunk repeated within one doc is a dup).
   * Output: `(idCol, n_chunks, n_dup_chunks, dup_milli)`, exact integer
   * milli-fraction. Documents with no tokens have no chunks and are
   * absent. The corpus-frequency join moves only 60-bit hashes.
   */
  def cdcChunkStats(df: DataFrame, textCol: String, idCol: String,
      w: Int, divisor: Int): DataFrame = {
    val chunks = graft.recon.Checkpoints.cut(
      cdcChunkTable(df, textCol, idCol, w, divisor))
    val freq = chunks.groupBy(col("chunk_hash")).agg(count(lit(1)).as("__n"))
    chunks.join(freq, Seq("chunk_hash"))
      .groupBy(col("doc"))
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("__n") >= 2, 1L).otherwise(0L)).as("n_dup_chunks"))
      .withColumn("dup_milli", expr("(n_dup_chunks * 1000) div n_chunks"))
      .withColumnRenamed("doc", idCol)
  }

  /**
   * Exact n-gram Jaccard near-dup pairs: explode distinct shingles, join
   * on shingle, count common per pair, Jaccard ≥ threshold. `maxDf` drops
   * hub shingles (docfreq > maxDf) before the pair join — the standard cap
   * that keeps Σf² bounded at scale; dropped shingles only lower the
   * estimate for pathological hub-heavy pairs.
   */
  def ngramJaccardPairs(df: DataFrame, textCol: String, idCol: String,
      n: Int, threshold: Double, maxDf: Long = 1000L): DataFrame = {
    // materialize once: the shingle table feeds three consumers (sizes,
    // df-prune, pair join) and ReuseExchange only dedups the plan up to the
    // repartition — the interpreted shingle explode above it would re-run
    // per consumer without this cut
    val shingled = graft.recon.Checkpoints.cut(shingleTable(df, textCol, idCol, n))
    val sizes = shingled.groupBy("doc").agg(count(lit(1)).as("set_size"))
    // hub prune BEFORE grouping doc lists, so no unbounded collect_list ever
    // materializes: the count-only aggregate is partial-combined (tiny
    // shuffle), AQE broadcasts the kept-shingle set for an exchange-free
    // semi join, and every later per-shingle list is ≤ maxDf elements
    val pruned = shingled.join(
      shingled.groupBy("shingle").agg(count(lit(1)).as("df"))
        .where(col("df") <= maxDf).select("shingle"),
      Seq("shingle"), "left_semi")
    // pair expansion from one grouped pass (same shape as the LSH banding
    // path) instead of a self-join — the self-join shuffles the shingle
    // table twice; this shuffles it once and explodes pairs in place
    val common = pruned.groupBy("shingle").agg(collect_list(col("doc")).as("docs"))
      .where(size(col("docs")) > 1)
      .select(explode(col("docs")).as("doc1"), col("docs"))
      .select(col("doc1"), explode(col("docs")).as("doc2"))
      .where(col("doc1") < col("doc2"))
      .groupBy(col("doc1"), col("doc2"))
      .agg(count(lit(1)).as("n_common"))
    common
      .join(sizes.withColumnRenamed("doc", "doc1").withColumnRenamed("set_size", "size1"), Seq("doc1"))
      .join(sizes.withColumnRenamed("doc", "doc2").withColumnRenamed("set_size", "size2"), Seq("doc2"))
      .withColumn("jaccard",
        col("n_common").cast("double") /
          (col("size1") + col("size2") - col("n_common")).cast("double"))
      .where(col("jaccard") >= threshold)
      .select(col("doc1"), col("doc2"), col("jaccard"))
  }

  /**
   * MinHash signatures as k min-aggregates over exploded shingles: slot i =
   * min(hash.slot(i, shingle)). The explode keeps every hash evaluation
   * inside whole-stage codegen (a per-row higher-order `transform` chain
   * would evaluate interpreted), and the map-side partial min means the
   * single shuffle carries only k longs per doc.
   * Returns (doc, h0..h{k-1}).
   */
  def minHashSignatures(df: DataFrame, textCol: String, idCol: String,
      shingleN: Int, k: Int, hash: SketchHash = SketchHash.Portable): DataFrame =
    minHashSignaturesOf(shingleTable(df, textCol, idCol, shingleN), k, hash)

  /** Signatures from a pre-built (doc, shingle) table — lets callers
    * materialize the shingle work once and share it across stages. The
    * slot array is projected ONCE per (doc, shingle) row; the k mins then
    * read elements of that attribute (map-side combined, k longs per doc
    * on the shuffle). */
  def minHashSignaturesOf(shingled: DataFrame, k: Int,
      hash: SketchHash = SketchHash.Portable): DataFrame = {
    val sl = shingled.select(col("doc"), hash.slots(col("shingle"), k).as("__slots"))
    val minCols = (0 until k).map(i => min(element_at(col("__slots"), i + 1)).as(s"h$i"))
    sl.groupBy("doc").agg(minCols.head, minCols.tail: _*)
  }

  /**
   * MinHash + LSH banding candidate pairs from a pre-built (doc, shingle)
   * table ([[shingleTable]]): `bands` band hashes per doc (xxhash64 of
   * that band's slot values); docs sharing any band hash are candidates.
   * Only shuffles: the signature groupBy and the bucket groupBy on (band,
   * bandHash). `maxBucket` skips degenerate hub buckets (boilerplate-heavy
   * corpora collapse into giant buckets whose pair expansion is quadratic
   * — the standard cap at scale; recall for pairs inside a skipped bucket
   * is recovered by the other bands).
   */
  def minHashCandidatesOf(shingled: DataFrame,
      k: Int, bands: Int, maxBucket: Int,
      hash: SketchHash = SketchHash.Portable): DataFrame = {
    require(k % bands == 0, "bands must divide k")
    val rows = k / bands
    // materialize the signatures once: the banded table feeds both the
    // bucket-size prune and the member grouping below (doc + k longs — tiny)
    val sig = graft.recon.Checkpoints.cut(minHashSignaturesOf(shingled, k, hash))
    val bandCols = (0 until bands).map { b =>
      hash.band((b * rows until (b + 1) * rows).map(i => col(s"h$i"))).as(s"b$b")
    }
    val banded = sig.select(col("doc"), posexplode(array(bandCols: _*)))
      .toDF("doc", "band", "band_hash")
    // count-prune hub buckets BEFORE collect_list (see lshCandidates: a
    // skipped bucket must never be buffered whole in one agg group)
    val okBuckets = banded.groupBy("band", "band_hash")
      .agg(count(lit(1)).as("__n"))
      .where(col("__n") > 1 && col("__n") <= maxBucket)
      .select("band", "band_hash")
    val g = banded.join(okBuckets, Seq("band", "band_hash"), "left_semi")
      .groupBy("band", "band_hash")
      .agg(collect_list(col("doc")).as("docs"))
    g.select(explode(col("docs")).as("doc1"), col("docs"))
      .select(col("doc1"), explode(col("docs")).as("doc2"))
      .where(col("doc1") < col("doc2"))
      .select(col("doc1"), col("doc2"))
      .distinct()
  }

  /**
   * Incremental near-dup: which docs of a NEW batch near-duplicate an
   * already-ingested corpus — the daily-crawl shape at 100 TB, where
   * re-running all-pairs LSH over corpus ∪ batch would rescan petabytes
   * for a gigabyte of novelty. The seen side participates only through
   * its MinHash signatures (k longs per doc — the persisted state of a
   * production run; computed here from `seenDf` for the self-contained
   * form), so the incremental cost is: sign the batch, band-join
   * against the seen band table, verify candidates on SIGNATURES.
   *
   * Verification is the signature-estimated Jaccard (fraction of equal
   * slots, an unbiased estimator of the true Jaccard) rather than exact
   * shingle intersection — deliberately: exact verify would need the
   * seen docs' shingle sets, i.e. a rescan of history text, exactly
   * what incremental state exists to avoid. `maxBucket` caps the SEEN
   * side of each band bucket (hub-boilerplate buckets bound the join
   * fan-out; a fresh batch doc still probes every non-hub band).
   *
   * Returns `(new_doc, seen_doc, slot_agreement)` for pairs with
   * agreement ≥ `minAgreement`.
   */
  def minHashIncremental(newDf: DataFrame, seenDf: DataFrame, textCol: String,
      idCol: String, shingleN: Int = 3, k: Int = 64, bands: Int = 8,
      minAgreement: Double = 0.5d, maxBucket: Int = 100,
      hash: SketchHash = SketchHash.Portable): DataFrame =
    minHashIncrementalOf(
      graft.recon.Checkpoints.cut(
        minHashSignatures(newDf, textCol, idCol, shingleN, k, hash)),
      graft.recon.Checkpoints.cut(
        minHashSignatures(seenDf, textCol, idCol, shingleN, k, hash)),
      k, bands, minAgreement, maxBucket, hash)

  /** Banded `(doc, band, band_hash)` table of a signature frame — the
    * at-rest probe structure of a MinHash index ([[IndexStore]] persists
    * its per-bucket counts as the stats sidecar). */
  private[ops] def bandedSignatures(sig: DataFrame, k: Int, bands: Int,
      hash: SketchHash): DataFrame = {
    require(k % bands == 0, "bands must divide k")
    val rows = k / bands
    val bandCols = (0 until bands).map { b =>
      hash.band((b * rows until (b + 1) * rows).map(i => col(s"h$i"))).as(s"b$b")
    }
    sig.select(col("doc"), posexplode(array(bandCols: _*)))
      .toDF("doc", "band", "band_hash")
  }

  /** [[minHashIncremental]] against PRE-BUILT signature frames — the
    * probe arm for an index loaded from disk ([[IndexStore]]): the seen
    * corpus participates only through `sigS` (doc + k longs), text is
    * never rescanned. */
  def minHashIncrementalOf(sigN: DataFrame, sigS: DataFrame, k: Int, bands: Int,
      minAgreement: Double, maxBucket: Int,
      hash: SketchHash = SketchHash.Portable): DataFrame = {
    require(k % bands == 0, "bands must divide k")
    val bN = bandedSignatures(sigN, k, bands, hash)
    val bS = bandedSignatures(sigS, k, bands, hash)
    val okBuckets = bS.groupBy("band", "band_hash").agg(count(lit(1)).as("__n"))
      .where(col("__n") <= maxBucket)
      .select("band", "band_hash")
    val cands = bN
      .join(bS.join(okBuckets, Seq("band", "band_hash"), "left_semi")
        .select(col("band"), col("band_hash"), col("doc").as("seen_doc")),
        Seq("band", "band_hash"))
      .select(col("doc").as("new_doc"), col("seen_doc"))
      .distinct()
    val nCols = col("doc").as("new_doc") +: (0 until k).map(i => col(s"h$i").as(s"__n_h$i"))
    val sCols = col("doc").as("seen_doc") +: (0 until k).map(i => col(s"h$i").as(s"__s_h$i"))
    val agree = (0 until k)
      .map(i => when(col(s"__n_h$i") === col(s"__s_h$i"), 1).otherwise(0))
      .reduce(_ + _)
    cands
      .join(sigN.select(nCols: _*), Seq("new_doc"))
      .join(sigS.select(sCols: _*), Seq("seen_doc"))
      .withColumn("slot_agreement", agree.cast("double") / lit(k.toDouble))
      .where(col("slot_agreement") >= minAgreement)
      .select(col("new_doc"), col("seen_doc"), col("slot_agreement"))
  }

  /**
   * Full MinHash near-dup pipeline: LSH candidates verified with exact
   * n-gram Jaccard (shingle-set intersection via a join back to the docs).
   */
  def minHashNearDups(df: DataFrame, textCol: String, idCol: String,
      shingleN: Int = 3, k: Int = 64, bands: Int = 16, threshold: Double = 0.7,
      maxBucket: Int = 100, hash: SketchHash = SketchHash.Portable): DataFrame = {
    // one materialized shingle pass feeds the signature/banding path AND
    // both sides of the verification join (sh1/sh2) — without the cut the
    // interpreted shingle pipeline executes 3×
    val sets = graft.recon.Checkpoints.cut(shingleSets(df, textCol, idCol, shingleN))
    val shingled = sets.select(col("doc"), explode(col("sh")).as("shingle"))
    val cands = minHashCandidatesOf(shingled, k, bands, maxBucket, hash)
    cands
      .join(sets.select(col("doc").as("doc1"), col("sh").as("sh1")), Seq("doc1"))
      .join(sets.select(col("doc").as("doc2"), col("sh").as("sh2")), Seq("doc2"))
      .withColumn("jaccard",
        size(array_intersect(col("sh1"), col("sh2"))).cast("double") /
          size(array_union(col("sh1"), col("sh2"))).cast("double"))
      .where(col("jaccard") >= threshold)
      .select(col("doc1"), col("doc2"), col("jaccard"))
  }

  /**
   * SimHash near-dup pairs: 64-bit signature, banding into four 16-bit
   * chunks (pigeonhole: Hamming ≤ 3 ⇒ at least one chunk identical),
   * chunk-bucket grouping, verify with bit_count(xor) ≤ maxHamming.
   *
   * Bucket mechanics match the MinHash path: one shuffle on
   * (chunk, chunk_val), grouped pair expansion in place (no self-join —
   * that shape shuffles the chunked table twice), and `maxBucket` skips
   * degenerate hub buckets (one boilerplate chunk value shared by the
   * whole corpus would otherwise expand quadratically; pairs lost to a
   * skipped bucket can still surface through the other three chunks).
   *
   * `portable = true` (default) hashes tokens with md5 so the DuckDB
   * oracle reproduces the signatures; `false` uses the faster xxhash64.
   */
  def simHashNearDups(df: DataFrame, textCol: String, idCol: String,
      maxHamming: Int = 3, maxBucket: Int = 1000, portable: Boolean = true): DataFrame = {
    val toks = TextAnalysis.tokens(col(textCol))
    val sigExpr =
      if (portable) TextFunctions.simhash64_md5(toks) else TextFunctions.simhash64(toks)
    // materialize the signatures once: the chunked table feeds both the
    // bucket-size prune and the member grouping below
    val sig = graft.recon.Checkpoints.cut(
      df.select(col(idCol).as("doc"), sigExpr.as("sig")))
    val chunked = sig.select(col("doc"), col("sig"),
      posexplode(array((0 until 4).map(c =>
        shiftright(col("sig"), c * 16).bitwiseAND(lit(0xFFFFL))): _*)))
      .toDF("doc", "sig", "chunk", "chunk_val")
    // count-prune hub buckets BEFORE collect_list (see lshCandidates: a
    // skipped bucket must never be buffered whole in one agg group)
    val okBuckets = chunked.groupBy("chunk", "chunk_val")
      .agg(count(lit(1)).as("__n"))
      .where(col("__n") > 1 && col("__n") <= maxBucket)
      .select("chunk", "chunk_val")
    val buckets = chunked.join(okBuckets, Seq("chunk", "chunk_val"), "left_semi")
      .groupBy("chunk", "chunk_val")
      .agg(collect_list(struct(col("doc"), col("sig"))).as("members"))
    buckets
      .select(explode(col("members")).as("m1"), col("members"))
      .select(col("m1"), explode(col("members")).as("m2"))
      .where(col("m1.doc") < col("m2.doc"))
      .select(col("m1.doc").as("doc1"), col("m2.doc").as("doc2"),
        TextFunctions.hamming64(col("m1.sig"), col("m2.sig")).as("hamming"))
      .where(col("hamming") <= maxHamming)
      .distinct()
  }

  /**
   * Connected components over an undirected pair list — the clustering
   * step of near-dup dedup (pairs are transitive: A≈B and B≈C put all
   * three in one cluster even when A≈C was never emitted, and exactly one
   * document per cluster should survive).
   *
   * Iterative min-label propagation: each round every node adopts the
   * smallest label among itself and its neighbors; fixpoint after
   * O(component diameter) rounds — near-dup graphs have tiny diameters,
   * so 3-4 rounds typical. Each round is one join + one
   * partial-aggregated groupBy (both shuffling label-sized rows on node
   * id), with the label frame lineage-cut per round (without the cut the
   * plan doubles every iteration). The driver loop with a cheap
   * convergence probe is the standard Pregel-style shape; the fixpoint is
   * independent of iteration order, so the result is deterministic on any
   * cluster layout. For high-diameter graphs, where O(diameter) rounds
   * exceed the budget, use [[alternatingComponents]].
   *
   * Returns (node, component) for every node appearing in a pair, where
   * component = the minimum reachable node id.
   */
  def connectedComponents(pairs: DataFrame, aCol: String = "doc1", bCol: String = "doc2",
      maxIter: Int = 25): DataFrame = {
    import graft.recon.Checkpoints.cut
    // symmetrize with ONE pass over `pairs` (an explode of both
    // directions) — a union of two selects would consume `pairs` twice
    // and re-execute its whole upstream sketch pipeline per consumer.
    // Pre-partition the (static) edge set by the join key before the cut:
    // localCheckpoint preserves the partitioning, so the per-round join
    // reshuffles only the (changing) label frame, not the edges
    val spark = pairs.sparkSession
    val edges0 = cut(
      pairs.select(explode(array(
          struct(col(aCol).as("src"), col(bCol).as("dst")),
          struct(col(bCol).as("src"), col(aCol).as("dst")))).as("e"))
        .select(col("e.src").as("src"), col("e.dst").as("dst"))
        .distinct()
        .repartition(col("dst")))
    // near-dup pair graphs are usually FAR smaller than the corpus that
    // produced them, and every round below is a cut subtree (planned
    // AQE-off — no runtime coalescing): size the loop's partitions from
    // the measured edge count (`rows`; guide §2.2). The count triggers
    // the edge materialization that round 1 would have paid anyway; when
    // the adaptive width is below the session's, the static edge frame is
    // re-cut once at that width so the per-round join stays
    // co-partitioned — eagerly, so the session-width copy's blocks are
    // released before the loop instead of staying stored to its end
    val m = edges0.count()
    val p = graft.recon.Checkpoints.parts(spark, m)
    val edges =
      if (p < spark.sessionState.conf.numShufflePartitions) {
        val narrow = cut(edges0.repartition(p, col("dst")), eager = true, rows = Some(m))
        graft.recon.Checkpoints.release(edges0)
        narrow
      } else edges0
    var labels = cut(
      edges.select(col("src").as("node")).distinct().withColumn("component", col("node")),
      rows = Some(m))
    var done = false
    var i = 0
    while (!done && i < maxIter) {
      // the self row is flagged so the SAME aggregate that computes the new
      // label also carries the old one out — the convergence probe is then
      // a shuffle-free filter over the checkpointed frame, not a second
      // join+shuffle job per round
      val compType = labels.schema("component").dataType
      val viaNbr = edges.join(labels, edges("dst") === labels("node"))
        .select(edges("src").as("node"), col("component"), lit(null).cast(compType).as("__old"))
      val next = cut(
        labels.select(col("node"), col("component"), col("component").as("__old"))
          .unionByName(viaNbr)
          .groupBy("node")
          .agg(min("component").as("component"), min("__old").as("__old")),
        rows = Some(m))
      done = next.where(col("component") =!= col("__old")).isEmpty
      labels = next.select("node", "component")
      i += 1
    }
    // silent non-convergence would split one cluster into several and let
    // extra "survivors" through downstream — fail loudly instead
    if (!done) throw new IllegalStateException(
      s"connectedComponents did not converge within maxIter=$maxIter rounds " +
        "(component diameter exceeds the budget); raise maxIter")
    labels
  }

  /**
   * Alternating large-star/small-star connected components (the
   * Kiveris et al. SOCC'14 "Connected Components in MapReduce and
   * Beyond" scheme, re-derived) — the HIGH-DIAMETER / EDGE-DOMINATED
   * complement of [[connectedComponents]]: plain hash-min needs
   * O(diameter) rounds, and every round joins the FULL edge set against
   * the labels; star alternation converges in O(log² n) rounds regardless of
   * diameter AND its edge set CONTRACTS toward stars round over round —
   * on a 100 TB link graph the shrinking join input is the difference,
   * not just the round count.
   *
   * Both operations keep edges in canonical `(u, v), u > v` form:
   *   - large-star: symmetrize; at each center c with neighborhood Γ(c),
   *     link every STRICTLY LARGER neighbor to m = min(Γ(c) ∪ {c}) — one
   *     explode + one per-center min aggregate + one join.
   *   - small-star: group canonical edges by their larger endpoint u
   *     (all neighbors < u); link u and every non-min neighbor to
   *     m = min(neighbors).
   * Both preserve connectivity and never raise a node's reachable min
   * (paper lemmas 1-2); the fixpoint is a forest of depth-1 stars whose
   * roots are component minima. Convergence probe: the canonical edge
   * set stopped changing (subset + equal-count — two bounded jobs on the
   * cut frame). Deterministic on any cluster layout (min is order-free).
   *
   * Same contract as [[connectedComponents]]: returns
   * `(node, component = min reachable id)` for every node in a pair;
   * non-convergence within `maxIter` throws rather than silently
   * splitting clusters. Each round is lineage-cut (the plan would
   * otherwise double per round).
   */
  def alternatingComponents(pairs: DataFrame, aCol: String = "doc1",
      bCol: String = "doc2", maxIter: Int = 40): DataFrame =
    alternatingComponentsWithRounds(pairs, aCol, bCol, maxIter)._1

  /** [[alternatingComponents]] plus the round count it converged in —
    * the measurable half of the O(log) claim (spec-pinned on a path
    * graph where hash-min would need O(n) rounds). */
  private[graft] def alternatingComponentsWithRounds(pairs: DataFrame, aCol: String,
      bCol: String, maxIter: Int): (DataFrame, Int) = {
    import graft.recon.Checkpoints.cut
    val nodes = cut(pairs
      .select(explode(array(col(aCol), col(bCol))).as("node")).distinct())
    var edges = cut(pairs
      .select(greatest(col(aCol), col(bCol)).as("u"),
        least(col(aCol), col(bCol)).as("v"))
      .where(col("u") =!= col("v")).distinct())
    // the convergence probe already counts the edge set every round —
    // carry the count along and size each round's (cut, AQE-off) plan
    // from it (`rows`; guide §2.2). Star alternation CONTRACTS the
    // edge set round over round, so the width shrinks with it.
    var m = edges.count()
    var converged = false
    var rounds = 0
    while (!converged && rounds < maxIter) {
      // large-star over the symmetrized neighborhoods: ONE pass explode
      // (the union-of-two-selects form would re-read the cut frame twice,
      // which is free here but keeps the one-consumer discipline)
      val sym = edges.select(explode(array(
          struct(col("u").as("c"), col("v").as("n")),
          struct(col("v").as("c"), col("u").as("n")))).as("e"))
        .select(col("e.c").as("c"), col("e.n").as("n"))
      val minsL = sym.groupBy("c")
        .agg(least(min(col("n")), first(col("c"))).as("m"))
      val large = sym.join(minsL, Seq("c"))
        .where(col("n") > col("c"))
        .select(col("n").as("u"), col("m").as("v"))
        .distinct()
      // small-star over the canonical orientation: every neighbor of u is
      // already < u, so the min aggregate needs no self fold-in
      val minsS = large.groupBy("u").agg(min(col("v")).as("m"))
      val next = cut(
        large.join(minsS, Seq("u"))
          .select(explode(array(
            struct(col("u").as("a"), col("m").as("b")),
            struct(col("v").as("a"), col("m").as("b")))).as("e"))
          .select(col("e.a").as("u"), col("e.b").as("v"))
          .where(col("u") =!= col("v"))
          .distinct(),
        rows = Some(2L * m))
      // fixpoint: next ⊆ edges and |next| = |edges| ⇒ equal sets (both
      // distinct) — one anti-join probe + one count over cut frames (the
      // previous round's count is carried in `m`, not re-run)
      val nextCount = next.count()
      converged = nextCount == m &&
        next.join(edges, Seq("u", "v"), "left_anti").isEmpty
      edges = next
      m = nextCount
      rounds += 1
    }
    if (!converged) throw new IllegalStateException(
      s"alternatingComponents did not converge within maxIter=$maxIter rounds; " +
        "raise maxIter")
    // the fixpoint is a star forest: u → component min; roots label themselves
    val labels = nodes
      .join(edges.select(col("u").as("node"), col("v").as("__m")), Seq("node"), "left")
      .select(col("node"), coalesce(col("__m"), col("node")).as("component"))
    (labels, rounds)
  }

  /**
   * INCREMENTAL connected components — extend a converged label frame
   * with a new batch's pairs without touching the historical edge set,
   * the cluster-maintenance step of a rolling 100 TB dedup: yesterday's
   * labels are state, today's crawl contributes only the pairs that
   * touch it (e.g. [[minHashIncremental]] against a persisted
   * [[IndexStore]] index plus in-batch candidates).
   *
   * Algorithm: contract every seen endpoint to its component label
   * (labels are super-nodes), drop the pairs that collapse into
   * self-loops (both ends already in one component), run min-label
   * propagation on the CONTRACTED graph — whose size is bounded by the
   * batch's fan-out, not the corpus — then (a) relabel seen nodes whose
   * old component merged and (b) emit fresh nodes (new docs, and seen
   * docs this batch connected for the first time) directly.
   *
   * EXACTNESS contract: `labelsSeen` must be a CONVERGED min-label
   * frame (the output of [[connectedComponents]] — label = min member
   * id). Contraction then preserves both connectivity and the min,
   * because an old component's label IS its minimum member, so the
   * result EQUALS a full [[connectedComponents]] run over the union
   * edge set — the registry query shares the full run's oracle on
   * exactly this argument, and the spec pins the merge/bridge/isolated
   * cases.
   */
  def incrementalComponents(labelsSeen: DataFrame, newPairs: DataFrame,
      aCol: String = "doc1", bCol: String = "doc2", maxIter: Int = 25): DataFrame = {
    import graft.recon.Checkpoints.cut
    val seen = cut(labelsSeen) // consumed three times below
    val la = seen.select(col("node").as("__na"), col("component").as("__ca"))
    val lb = seen.select(col("node").as("__nb"), col("component").as("__cb"))
    val contracted = newPairs
      .join(la, col(aCol) === col("__na"), "left")
      .join(lb, col(bCol) === col("__nb"), "left")
      .select(coalesce(col("__ca"), col(aCol)).as("__a"),
        coalesce(col("__cb"), col(bCol)).as("__b"))
      .where(col("__a") =!= col("__b"))
    val cc = cut(connectedComponents(contracted, "__a", "__b", maxIter))
    val merged = cc.select(col("node").as("__oldc"), col("component").as("__newc"))
    val seenFinal = seen.join(merged, col("component") === col("__oldc"), "left")
      .select(col("node"), coalesce(col("__newc"), col("component")).as("component"))
    // fresh nodes: everything the contracted run labeled that is not a
    // seen node — new docs, plus previously-isolated seen docs (an old
    // LABEL is always itself a seen node, so the anti-join is exact)
    val fresh = cc.join(seen.select(col("node").as("__sn")),
      col("node") === col("__sn"), "left_anti")
    seenFinal.unionByName(fresh.select("node", "component"))
  }

  /** Keep one document per near-dup cluster: the component-canonical
    * (minimum-id) member survives; documents in no pair pass through. */
  def dedupByComponents(df: DataFrame, idCol: String, pairs: DataFrame,
      aCol: String = "doc1", bCol: String = "doc2"): DataFrame = {
    val comps = connectedComponents(pairs, aCol, bCol)
    val losers = comps.where(col("node") =!= col("component"))
      .select(col("node").as(idCol))
    df.join(losers, Seq(idCol), "left_anti")
  }

  /**
   * Quality-aware canonicalization: each near-dup cluster (connected
   * component of `pairs`) elects the member with the highest score, tie
   * broken toward the lowest id. One row per cluster:
   * `(component, rep_id, rep_score, cluster_size)`. The election is a
   * `max_by` over a struct ordering — one hash aggregation on the
   * component label, partial-aggregated map-side; no per-cluster window
   * sort, so a pathological mega-cluster costs a skewed reduce key, not
   * a driver melt-down.
   *
   * `scored` is `(idCol, scoreCol)` — typically
   * [[TextAnalysis.qualityScore]] output — joined to the labels on the
   * member id.
   */
  def canonicalByQuality(pairs: DataFrame, scored: DataFrame, idCol: String,
      scoreCol: String = "quality_score",
      aCol: String = "doc1", bCol: String = "doc2"): DataFrame = {
    val comps = connectedComponents(pairs, aCol, bCol)
    val members = comps.join(scored.withColumnRenamed(idCol, "node"), Seq("node"))
    members.groupBy(col("component"))
      .agg(
        count(lit(1)).as("cluster_size"),
        max_by(struct(col("node"), col(scoreCol)),
          struct(col(scoreCol), negate(col("node")))).as("rep"))
      .select(col("component"), col("rep.node").as("rep_id"),
        col(s"rep.$scoreCol").as("rep_score"), col("cluster_size"))
  }

  /**
   * Embedding near-dup pairs, scale path: sign-LSH bucket candidates
   * (bounded by `maxBucket`) verified with the exact codegen'd float
   * kernel. The only corpus shuffle is the bucket groupBy; no self-join,
   * no cartesian. Scores are DOT products — pass `cosine = true` for
   * un-normalized embeddings.
   */
  def embeddingNearDupsLsh(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double, h: Int = 4, maxBucket: Int = 4096,
      cosine: Boolean = false): DataFrame = {
    import graft.functions.VectorFunctions.{vec_cosine, vec_dot}
    val cands = Similarity.lshCandidates(df, idCol, vecCol, h, maxBucket)
    val scoreCol =
      if (cosine) vec_cosine(col("v1"), col("v2")) else vec_dot(col("v1"), col("v2"))
    cands.withColumn("score", scoreCol)
      .where(col("score") >= threshold)
      .select(col("id1"), col("id2"), col("score"))
  }

  /**
   * INCREMENTAL embedding near-dup: a NEW batch of vectors against the
   * SEEN corpus's persisted LSH index (`(bucket, id, vec)` — the
   * [[Similarity.lshIndex]] shape at rest). The batch is bucketed with
   * the same deterministic hyperplanes (seeded per (plane, dim) — no RNG
   * state to persist) and joined on the bucket key, so history
   * embeddings are touched only in buckets the batch actually probes;
   * the seen-side bucket cap bounds the fan-out exactly like
   * [[Similarity.lshCandidates]]. The embedding twin of
   * [[incrementalDedup]]: daily vector ingest never rescans or re-hashes
   * history. Within-batch pairs are NOT emitted — compose with
   * [[embeddingNearDupsLsh]] on the batch for both, the same split as
   * incrementalDedup vs exactDedup. Output: `(new_id, seen_id, score)`.
   */
  def embeddingIncrementalNearDups(newDf: DataFrame, seenIndex: DataFrame,
      idCol: String, vecCol: String, threshold: Double, h: Int,
      maxBucket: Int = 4096, cosine: Boolean = false): DataFrame = {
    import graft.functions.VectorFunctions.{vec_cosine, vec_dot}
    val okBuckets = seenIndex.groupBy(col("bucket")).agg(count(lit(1)).as("__n"))
      .where(col("__n") <= maxBucket)
      .select(col("bucket"))
    val seen = seenIndex.join(okBuckets, Seq("bucket"), "left_semi")
      .select(col("bucket"), col(idCol).as("seen_id"), col(vecCol).as("__sv"))
    val probe = Similarity.lshIndex(newDf, idCol, vecCol, h)
      .select(col("bucket"), col(idCol).as("new_id"), col(vecCol).as("__nv"))
    val scoreCol =
      if (cosine) vec_cosine(col("__nv"), col("__sv")) else vec_dot(col("__nv"), col("__sv"))
    probe.join(seen, "bucket")
      .withColumn("score", scoreCol)
      .where(col("score") >= threshold)
      .select(col("new_id"), col("seen_id"), col("score"))
  }

  /**
   * Embedding near-dup pairs, exact form: all-pairs self join (a
   * CartesianProduct — O(N²) scored pairs) + the codegen'd float kernel.
   * This is the VERIFICATION kernel for small candidate sets and tests;
   * register [[embeddingNearDupsLsh]] for anything corpus-sized. The
   * score column is a DOT product — equal to cosine only for
   * pre-normalized embeddings; pass `cosine = true` otherwise.
   */
  def embeddingNearDups(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double, cosine: Boolean = false): DataFrame = {
    import graft.functions.VectorFunctions.{vec_cosine, vec_dot}
    val a = df.select(col(idCol).as("id1"), col(vecCol).as("v1"))
    val b = df.select(col(idCol).as("id2"), col(vecCol).as("v2"))
    val scoreCol =
      if (cosine) vec_cosine(col("v1"), col("v2")) else vec_dot(col("v1"), col("v2"))
    a.join(b, col("id1") < col("id2"))
      .withColumn("score", scoreCol)
      .where(col("score") >= threshold)
      .select(col("id1"), col("id2"), col("score"))
  }

  /**
   * Semantic near-dup pairs, SemDeDup-style (Abbas et al. 2023, "SemDeDup:
   * Data-efficient learning at web-scale through semantic deduplication"):
   * partition the embedding space with a k-means codebook, then score
   * cosine pairs ONLY within each cluster — the codebook turns the O(N²)
   * all-pairs problem into Σ(cluster²), with `maxCluster` bounding the
   * worst cell exactly like `maxBucket` bounds an LSH bucket.
   *
   * Scale shape: the assignment is [[Similarity.ivfIndexWith]]'s zero-
   * shuffle broadcast argmax; the ONE corpus shuffle is the groupBy on
   * centroid_id, count-pruned before any member list is built (same
   * discipline as [[Similarity.lshCandidates]]). `cents` is a trained
   * [[Similarity.kmeansCentroids]] codebook (or any (centroid_id, cv)
   * frame) — broadcast-sized by contract.
   */
  def semanticNearDups(df: DataFrame, idCol: String, vecCol: String,
      cents: DataFrame, threshold: Double, maxCluster: Int = 4096): DataFrame = {
    import graft.functions.VectorFunctions.vec_cosine
    val idx = Similarity.ivfIndexWith(df, idCol, vecCol, cents)
    val okClusters = idx.groupBy(col("centroid_id"))
      .agg(count(lit(1)).as("__n"))
      .where(col("__n") > 1 && col("__n") <= maxCluster)
      .select("centroid_id")
    val clusters = idx.join(okClusters, Seq("centroid_id"), "left_semi")
      .groupBy(col("centroid_id"))
      .agg(collect_list(struct(col(idCol).as("id"), col(vecCol).as("v"))).as("members"))
    clusters
      .select(explode(col("members")).as("m1"), col("members"))
      .select(col("m1"), explode(col("members")).as("m2"))
      .where(col("m1.id") < col("m2.id"))
      .withColumn("score", vec_cosine(col("m1.v"), col("m2.v")))
      .where(col("score") >= threshold)
      .select(col("m1.id").as("id1"), col("m2.id").as("id2"), col("score"))
  }

  /**
   * SemDeDup removal: drop every row that has a semantic near-dup with a
   * smaller id (keep-lowest-id per near-dup pair — deterministic on any
   * layout). Survivors keep all their columns.
   */
  def semanticDedup(df: DataFrame, idCol: String, vecCol: String,
      cents: DataFrame, threshold: Double, maxCluster: Int = 4096): DataFrame = {
    val losers = semanticNearDups(df, idCol, vecCol, cents, threshold, maxCluster)
      .select(col("id2").as(idCol)).distinct()
    df.join(losers, Seq(idCol), "left_anti")
  }
}
