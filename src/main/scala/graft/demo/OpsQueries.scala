package graft.demo

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.QuerySpec
import graft.ops._

/**
 * Training-data-pipeline operators (dedup / similarity / text / multimodal)
 * as named queries over `documents` + `embeddings`, with DuckDB oracles
 * where the computation is engine-portable. Hash-sketch operators (xxhash64
 * MinHash/SimHash, LSH) have no DuckDB equivalent → rows-only checks; their
 * *verification* stages (exact Jaccard, exact cosine) are oracle-checked
 * through the portable queries.
 */
object OpsQueries {

  private def docs(s: SparkSession, d: String) = s.read.parquet(s"$d/documents.parquet")
  private def embs(s: SparkSession, d: String) = s.read.parquet(s"$d/embeddings.parquet")

  // Sign-LSH sizing shared by the three embedding-LSH queries and their
  // oracles: h tracks the corpus (targetBucket ≈ expected bucket size, 128
  // here so the derivation provably changes across the test SFs — 500
  // vectors → h=2, 2000 → h=4); HMax bounds the oracle's unrolled plane
  // expression (2^8 buckets covers any corpus the oracle will ever scan;
  // the Spark kernel itself has no such bound).
  private[demo] val LshTargetBucket = 128
  private[demo] val HMax = 8

  /** Runtime h for the Spark side — one cheap count aggregate, the mirror
    * of the oracle's `hh` CTE. */
  private[demo] def autoH(corpus: DataFrame): Int =
    Similarity.recommendedH(corpus.count(), LshTargetBucket)

  /** Shared by dedup_embed_incremental (in-memory) and
    * dedup_embed_index_probe (IndexStore round-trip): the two paths must
    * stay value-identical, so they share ONE oracle. */
  private[demo] def embedIncrementalOracle: String =
    LshOracleSql.incrementalCosineSql(h = 4, threshold = 0.4d, maxBucket = 4096)

  // IVF-PQ training-set cap (VERDICT r12 #4): Lloyd routing + PQ codebook
  // training read a deterministic ~50% keyHash sample of the corpus —
  // at 100 TB training on everything is the wrong cost (the codebook
  // converges on a sample; FAISS-style practice trains on 10^5-10^6
  // vectors regardless of corpus size). Serving (cell assignment, encode,
  // probe) still touches the FULL corpus. The gate is md5-based
  // (Sampling.keyHash), mirrored exactly in the oracle's trainer CTEs.
  private[demo] val IvfPqTrainThr: Long = Sampling.threshold(0.5)
  private[demo] def trainSample(e: DataFrame): DataFrame =
    e.where(Sampling.keyHash(col("vec_id")) < IvfPqTrainThr)
  private[demo] def trainGateSql(ref: String): String =
    s"('0x' || substr(md5(CAST($ref AS VARCHAR)), 1, 15))::BIGINT < $IvfPqTrainThr"

  /** ≡ Similarity.pqTopK(k=5, m=8, subDim=8, nCentroids=16, modulus=5) on
    * embeddings with every-100th query — the full codebook→encode→
    * reconstruct→score→rank mirror, shared by `sim_pq_topk` and the
    * recall harness. */
  private[demo] val PqTopkSql: String =
    raw"""WITH samp AS (SELECT vec_id, embedding FROM embeddings
         |              WHERE vec_id % 5 = 0 ORDER BY vec_id LIMIT 16),
         |cb AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS j, embedding AS cv FROM samp),
         |ss AS (SELECT unnest(range(0, 8)) AS s),
         |sub AS (SELECT ss.s, cb.j, cb.cv[ss.s*8+1 : ss.s*8+8] AS cs FROM cb CROSS JOIN ss),
         |sims AS (SELECT e.vec_id, u.s, u.j,
         |           list_dot_product(e.embedding[u.s*8+1 : u.s*8+8], u.cs) AS sim
         |         FROM embeddings e CROSS JOIN sub u),
         |codes AS (SELECT vec_id, s, j AS code FROM (
         |            SELECT vec_id, s, j,
         |              row_number() OVER (PARTITION BY vec_id, s ORDER BY sim DESC, j) AS rn
         |            FROM sims)
         |          WHERE rn = 1),
         |recon AS (SELECT c.vec_id, flatten(list(u.cs ORDER BY c.s)) AS rv
         |          FROM codes c JOIN sub u ON u.s = c.s AND u.j = c.code
         |          GROUP BY c.vec_id),
         |q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id % 100 = 0),
         |scored AS (SELECT query_id, r.vec_id AS neighbor_id,
         |             list_dot_product(qv, r.rv) AS score
         |           FROM q JOIN recon r ON r.vec_id <> query_id)
         |SELECT query_id, neighbor_id, score, rank FROM (
         |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rank
         |  FROM scored)
         |WHERE rank <= 5""".stripMargin

  /** Schema-adaptive events loader: the driver has regenerated
    * `events.parquet` with `ts` as TIMESTAMP(NANOS) in some rounds and
    * `timestamp[us]` in others, so branch on the dtype Spark actually read
    * instead of assuming one encoding forever:
    *   - LongType       → nanos read via `spark.sql.legacy.parquet.nanosAsLong`
    *                      (kept for backward compat); truncate to micros.
    *   - TIMESTAMP_NTZ  → naive micros; session tz is UTC everywhere in this
    *                      repo, so a plain cast preserves the wall clock and
    *                      matches the DuckDB oracle's `epoch_ms`.
    *   - TimestampType  → already an instant; use directly.
    * Every downstream query sees a TimestampType `ts`.
    *
    * Conf contract: reading long-nanos files requires
    * `spark.sql.legacy.parquet.nanosAsLong=true` (a session conf — parquet
    * has no per-read option for it). The session builders that own this
    * repo's entry points (Verify/Bench/PlanAudit/specs) all set it at build
    * time, so this fill-in is a no-op there; it only flips the conf on a
    * session that left it at the default, and then exactly once — repeat
    * calls see "true" and never touch shared session state again (the
    * round-9 version set it unconditionally on every construction, a
    * concurrent-planning hazard). */
  private[demo] def events(s: SparkSession, d: String): DataFrame = {
    if (s.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false") != "true")
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = s.read.parquet(s"$d/events.parquet")
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        df.withColumn("ts", col("ts").cast(org.apache.spark.sql.types.TimestampType))
      case org.apache.spark.sql.types.TimestampType => df
      case other =>
        throw new IllegalStateException(
          s"events.parquet ts has unsupported type $other (expected long-nanos, " +
            "timestamp_ntz, or timestamp)")
    }
  }

  val all: Seq[QuerySpec] = Seq(

    // ---- text analysis ---------------------------------------------------

    QuerySpec("text_tokens",
      raw"""SELECT doc_id,
           |  CASE WHEN length(trim(text)) = 0 THEN 0
           |       ELSE len(string_split_regex(trim(text), '\s+')) END AS n_tokens,
           |  length(text) AS n_chars_measured
           |FROM documents""".stripMargin) { (s, d) =>
      docs(s, d).select(col("doc_id"),
        TextAnalysis.tokenCount(col("text")).as("n_tokens"),
        length(col("text")).as("n_chars_measured"))
    },

    QuerySpec("text_quality",
      raw"""WITH f AS (
           |  SELECT doc_id,
           |    CAST(length(text) AS DOUBLE) AS n,
           |    CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE) AS alpha,
           |    CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE) AS digits,
           |    CAST(length(regexp_replace(text, '[^.,;:!?''"()]', '', 'g')) AS DOUBLE) AS puncts,
           |    CAST(length(regexp_replace(text, '\s', '', 'g')) AS DOUBLE) AS nonspace,
           |    CASE WHEN length(trim(text)) = 0 THEN 0
           |         ELSE len(string_split_regex(trim(text), '\s+')) END AS n_tokens
           |  FROM documents)
           |SELECT doc_id, n_tokens,
           |  CASE WHEN n = 0 THEN 0.0 ELSE alpha / n END AS alpha_ratio,
           |  CASE WHEN n = 0 THEN 0.0 ELSE digits / n END AS digit_ratio,
           |  CASE WHEN n = 0 THEN 0.0 ELSE puncts / n END AS punct_ratio,
           |  CASE WHEN n_tokens = 0 THEN 0.0 ELSE nonspace / CAST(n_tokens AS DOUBLE) END AS mean_token_len,
           |  greatest(0.0, least(1.0,
           |    0.5 * (CASE WHEN n = 0 THEN 0.0 ELSE alpha / n END)
           |    + 0.3 * least(CAST(n_tokens AS DOUBLE) / 20.0, 1.0)
           |    + 0.2 * (1.0 - (CASE WHEN n = 0 THEN 0.0 ELSE digits / n END)
           |                 - (CASE WHEN n = 0 THEN 0.0 ELSE puncts / n END)))) AS quality_score
           |FROM f""".stripMargin) { (s, d) =>
      TextAnalysis.qualityScore(docs(s, d), "text")
        .select(col("doc_id"), col("n_tokens"), col("alpha_ratio"), col("digit_ratio"),
          col("punct_ratio"), col("mean_token_len"), col("quality_score"))
    },

    // per-group top-k: the 3 highest-quality docs of every (lang, source)
    // bucket — one hash shuffle on the group key, streaming row_number, no
    // global sort (graft.ops.Ranking); ties broken by doc_id on both sides
    QuerySpec("text_source_topk",
      raw"""WITH f AS (
           |  SELECT doc_id, lang, source,
           |    CAST(length(text) AS DOUBLE) AS n,
           |    CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE) AS alpha,
           |    CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE) AS digits,
           |    CAST(length(regexp_replace(text, '[^.,;:!?''"()]', '', 'g')) AS DOUBLE) AS puncts,
           |    CASE WHEN length(trim(text)) = 0 THEN 0
           |         ELSE len(string_split_regex(trim(text), '\s+')) END AS n_tokens
           |  FROM documents),
           |q AS (SELECT doc_id, lang, source,
           |  greatest(0.0, least(1.0,
           |    0.5 * (CASE WHEN n = 0 THEN 0.0 ELSE alpha / n END)
           |    + 0.3 * least(CAST(n_tokens AS DOUBLE) / 20.0, 1.0)
           |    + 0.2 * (1.0 - (CASE WHEN n = 0 THEN 0.0 ELSE digits / n END)
           |                 - (CASE WHEN n = 0 THEN 0.0 ELSE puncts / n END)))) AS quality_score
           |  FROM f)
           |SELECT lang, source, doc_id, quality_score, rank FROM (
           |  SELECT *, row_number() OVER (PARTITION BY lang, source
           |    ORDER BY quality_score DESC, doc_id) AS rank FROM q)
           |WHERE rank <= 3""".stripMargin) { (s, d) =>
      Ranking.topKPerGroup(TextAnalysis.qualityScore(docs(s, d), "text"),
        groupCols = Seq("lang", "source"),
        order = Seq(col("quality_score").desc, col("doc_id")), k = 3)
        .select(col("lang"), col("source"), col("doc_id"),
          col("quality_score"), col("rank"))
    },

    QuerySpec("text_langid",
      raw"""WITH sc AS (
           |  SELECT doc_id,
           |    len(list_intersect(t, ['der','die','das','und','zu','in','ein','eine','ist','nicht'])) AS s_de,
           |    len(list_intersect(t, ['the','a','of','and','to','in','is','that','it','for'])) AS s_en,
           |    len(list_intersect(t, ['el','la','de','y','que','en','un','una','los','es'])) AS s_es,
           |    len(list_intersect(t, ['le','la','de','et','que','en','un','une','les','est'])) AS s_fr,
           |    len(list_intersect(t, ['的','是','了','在','和','有','我','不','人','这'])) AS s_zh
           |  FROM (SELECT doc_id, CASE WHEN length(trim(text)) = 0 THEN []
           |                           ELSE string_split_regex(trim(lower(text)), '\s+') END AS t
           |        FROM documents))
           |SELECT doc_id,
           |  CASE WHEN greatest(s_de, s_en, s_es, s_fr, s_zh) <= 0 THEN 'und'
           |       WHEN s_zh = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'zh'
           |       WHEN s_fr = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'fr'
           |       WHEN s_es = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'es'
           |       WHEN s_en = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'en'
           |       ELSE 'de' END AS lang_pred
           |FROM sc""".stripMargin) { (s, d) =>
      TextAnalysis.languageId(docs(s, d), "text").select(col("doc_id"), col("lang_pred"))
    },

    // min sliding CHARACTER-window md5 fingerprint — the portable kernel:
    // both engines md5 the same UTF-8 bytes of each 16-char window and
    // take the first 15 hex digits (60 bits, sign-safe in a BIGINT)
    QuerySpec("text_fingerprint",
      """SELECT doc_id,
        |  CASE WHEN length(text) < 16 THEN 0
        |       ELSE list_min([CAST(('0x' || substr(md5(substr(text, i, 16)), 1, 15)) AS BIGINT)
        |                      FOR i IN range(1, length(text) - 14)])
        |  END AS fingerprint
        |FROM documents""".stripMargin) { (s, d) =>
      TextAnalysis.fingerprint(docs(s, d), "text").select(col("doc_id"), col("fingerprint"))
    },

    QuerySpec("text_subtokens",
      raw"""SELECT doc_id,
           |  len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS n_subtokens
           |FROM documents""".stripMargin) { (s, d) =>
      docs(s, d).select(col("doc_id"), TextAnalysis.subTokenCount(col("text")).as("n_subtokens"))
    },

    // vocabulary extraction: top-5 tokens per language by frequency —
    // partial-aggregated token counts, then a PARTITIONED window top-k
    // (each language ranks independently; no global funnel)
    QuerySpec("text_top_tokens",
      raw"""WITH tok AS (
           |  SELECT lang, unnest(CASE WHEN length(trim(text)) = 0 THEN []
           |    ELSE string_split_regex(trim(lower(text)), '\s+') END) AS token
           |  FROM documents),
           |c AS (SELECT lang, token, count(*) AS n FROM tok GROUP BY 1, 2)
           |SELECT lang, token, n, rank FROM (
           |  SELECT *, row_number() OVER (PARTITION BY lang ORDER BY n DESC, token) AS rank
           |  FROM c)
           |WHERE rank <= 5""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val counts = docs(s, d)
        .select(col("lang"), explode(TextAnalysis.tokens(col("text"))).as("token"))
        .groupBy("lang", "token").agg(count(lit(1)).as("n"))
      val w = Window.partitionBy("lang").orderBy(col("n").desc, col("token"))
      counts.withColumn("rank", row_number().over(w)).where(col("rank") <= 5)
    },

    // end-to-end curation pipeline: quality gate → exact dedup (min-id
    // survivor per normalized content) → deterministic per-source sample.
    // The composition of three oracle-checked stages, itself value-checked.
    QuerySpec("text_curation_pipeline", {
      val (tS1, tDef) = (Sampling.threshold(0.8), Sampling.threshold(0.25))
      s"""WITH f AS (
         |  SELECT doc_id, text, source,
         |    CAST(length(text) AS DOUBLE) AS n,
         |    CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE) AS alpha,
         |    CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE) AS digits,
         |    CAST(length(regexp_replace(text, '[^.,;:!?''"()]', '', 'g')) AS DOUBLE) AS puncts,
         |    CASE WHEN length(trim(text)) = 0 THEN 0
         |         ELSE len(string_split_regex(trim(text), '\\s+')) END AS n_tokens
         |  FROM documents),
         |scored AS (
         |  SELECT doc_id, text, source,
         |    greatest(0.0, least(1.0,
         |      0.5 * (CASE WHEN n = 0 THEN 0.0 ELSE alpha / n END)
         |      + 0.3 * least(CAST(n_tokens AS DOUBLE) / 20.0, 1.0)
         |      + 0.2 * (1.0 - (CASE WHEN n = 0 THEN 0.0 ELSE digits / n END)
         |                   - (CASE WHEN n = 0 THEN 0.0 ELSE puncts / n END)))) AS quality_score
         |  FROM f),
         |q AS (SELECT * FROM scored WHERE quality_score >= 0.5),
         |d AS (SELECT doc_id, source FROM (
         |  SELECT doc_id, source,
         |    row_number() OVER (PARTITION BY md5(lower(trim(text))) ORDER BY doc_id) AS rn
         |  FROM q) WHERE rn = 1)
         |SELECT doc_id, source FROM d
         |WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) <
         |  CASE source WHEN 'src1' THEN $tS1 ELSE $tDef END""".stripMargin
    }) { (s, d) =>
      val q = TextAnalysis.qualityScore(docs(s, d), "text")
        .where(col("quality_score") >= 0.5)
      val deduped = Dedup.exactDedup(q, "text", "doc_id")
      Sampling.stratifiedSample(deduped, "doc_id", "source",
        Map("src1" -> 0.8), defaultFraction = 0.25)
        .select(col("doc_id"), col("source"))
    },

    // temperature-flattened mixture (α = 1/2, the T5 multilingual
    // recipe): proportions come from the stratum counts themselves —
    // smallest lang keeps all, every other keeps sqrt(n_min/n_s). α is
    // fixed at 1/2 because sqrt is correctly rounded in every IEEE
    // engine; pow's last ulp is libm-specific and would flip membership
    // at threshold boundaries. Keep set value-checked row for row
    QuerySpec("text_sample_temperature",
      raw"""WITH c AS (SELECT lang, count(*) AS n FROM documents GROUP BY 1),
           |w AS (SELECT lang, n, sqrt(CAST(n AS DOUBLE)) AS w FROM c),
           |s AS (SELECT min(CAST(n AS DOUBLE) / w) AS cc FROM w),
           |t AS (SELECT lang,
           |        CAST(floor(w * s.cc / CAST(n AS DOUBLE) * 1152921504606846976.0) AS BIGINT)
           |          AS thr
           |      FROM w CROSS JOIN s)
           |SELECT d.doc_id, d.lang FROM documents d JOIN t USING (lang)
           |WHERE ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 15))::BIGINT < t.thr""".stripMargin) {
      (s, d) =>
        Sampling.temperatureResample(docs(s, d), "doc_id", "lang")
          .select(col("doc_id"), col("lang"))
    },

    // deterministic stratified sampling: keep/drop is a pure function of
    // (doc_id, lang) — reproducible on any layout, value-checked exactly
    // unigram corpus-familiarity (cheap perplexity proxy): exact BIGINT
    // token/frequency sums + one IEEE double division — no log/exp whose
    // last bits could differ across engines; DuckDB's HUGEINT sum is cast
    // back to BIGINT to match Spark's long sum
    QuerySpec("text_familiarity",
      raw"""WITH tt AS (
           |  SELECT doc_id, unnest(CASE WHEN length(trim(text)) = 0 THEN []
           |    ELSE string_split_regex(trim(lower(text)), '\s+') END) AS t
           |  FROM documents),
           |freq AS (SELECT t, count(*) AS n FROM tt GROUP BY 1),
           |per AS (SELECT doc_id, count(*) AS n_tokens,
           |          CAST(sum(n) AS BIGINT) AS sum_freq
           |        FROM tt JOIN freq USING (t) GROUP BY 1)
           |SELECT d.doc_id,
           |  COALESCE(p.n_tokens, 0) AS n_tokens,
           |  COALESCE(p.sum_freq, 0) AS sum_freq,
           |  CASE WHEN COALESCE(p.n_tokens, 0) = 0 THEN 0.0
           |       ELSE CAST(p.sum_freq AS DOUBLE) / CAST(p.n_tokens AS DOUBLE)
           |  END AS familiarity
           |FROM documents d LEFT JOIN per p USING (doc_id)""".stripMargin) { (s, d) =>
      TextAnalysis.unigramFamiliarity(docs(s, d), "text", "doc_id")
    },

    // bigram familiarity: rare word PAIRS mark unusual text even when
    // every word is common — same exact-integer design as
    // text_familiarity, one order up (repeats kept on both sides)
    QuerySpec("text_bigram_familiarity",
      raw"""WITH tt AS (
           |  SELECT doc_id, CASE WHEN length(trim(text)) = 0 THEN []
           |    ELSE string_split_regex(trim(lower(text)), '\s+') END AS t
           |  FROM documents),
           |bb AS (SELECT doc_id, unnest(
           |         CASE WHEN len(t) < 2 THEN []
           |              ELSE [t[i] || ' ' || t[i+1] FOR i IN range(1, len(t))] END) AS b
           |       FROM tt),
           |freq AS (SELECT b, count(*) AS n FROM bb GROUP BY 1),
           |per AS (SELECT doc_id, count(*) AS n_bigrams,
           |          CAST(sum(n) AS BIGINT) AS sum_freq
           |        FROM bb JOIN freq USING (b) GROUP BY 1)
           |SELECT d.doc_id,
           |  COALESCE(p.n_bigrams, 0) AS n_bigrams,
           |  COALESCE(p.sum_freq, 0) AS sum_freq,
           |  CASE WHEN COALESCE(p.n_bigrams, 0) = 0 THEN 0.0
           |       ELSE CAST(p.sum_freq AS DOUBLE) / CAST(p.n_bigrams AS DOUBLE)
           |  END AS familiarity
           |FROM documents d LEFT JOIN per p USING (doc_id)""".stripMargin) { (s, d) =>
      TextAnalysis.bigramFamiliarity(docs(s, d), "text", "doc_id")
    },

    QuerySpec("text_sample_stratified", {
      val (tEn, tZh, tDef) = (Sampling.threshold(0.5), Sampling.threshold(0.2),
        Sampling.threshold(0.1))
      s"""SELECT doc_id, lang FROM documents
         |WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) <
         |  CASE lang WHEN 'en' THEN $tEn WHEN 'zh' THEN $tZh ELSE $tDef END""".stripMargin
    }) { (s, d) =>
      Sampling.stratifiedSample(docs(s, d), "doc_id", "lang",
        Map("en" -> 0.5, "zh" -> 0.2), defaultFraction = 0.1)
        .select(col("doc_id"), col("lang"))
    },

    // ---- dedup -----------------------------------------------------------

    QuerySpec("dedup_exact_groups",
      """SELECT md5(lower(trim(text))) AS content_hash,
        |  min(doc_id) AS canonical_id, count(*) AS n_copies
        |FROM documents GROUP BY 1""".stripMargin) { (s, d) =>
      Dedup.exactGroups(docs(s, d), "text", "doc_id")
    },

    // cross-run incremental dedup: docs ≡0 mod 3 play the already-ingested
    // corpus (its persisted content-hash state), the rest the new batch —
    // survivors are new-batch docs whose content no prior run saw
    QuerySpec("dedup_incremental",
      """SELECT d.doc_id, d.lang, d.source FROM documents d
        |WHERE d.doc_id % 3 <> 0
        |  AND NOT EXISTS (SELECT 1 FROM documents s WHERE s.doc_id % 3 = 0
        |    AND md5(lower(trim(s.text))) = md5(lower(trim(d.text))))""".stripMargin) { (s, d) =>
      val all = docs(s, d)
      val seen = Dedup.seenContentHashes(all.where(col("doc_id") % 3 === 0), "text")
      Dedup.incrementalDedup(all.where(col("doc_id") % 3 =!= 0), seen, "text")
        .select(col("doc_id"), col("lang"), col("source"))
    },

    // incremental NEAR-dup, the fuzzy twin of dedup_incremental: new
    // batch (doc_id % 3 ≠ 0) vs the seen corpus's persisted MinHash
    // signatures — band-join candidates (seen-side bucket cap), verify
    // by slot-agreement on signatures alone, so history text is never
    // rescanned. The whole path (slots, banding, cap, agreement ratio)
    // is value-checked
    // k=16/bands=4 across the registered minhash family (here,
    // dedup_minhash, dedup_minhash_survivors): the DuckDB mirror pays k
    // md5 calls per (doc, shingle), and at k=64 these three oracles alone
    // cost ~4 min of the driver's correctness-gate budget. Value checks
    // only need the constants to MATCH; the k=64 production shape stays
    // spec-covered on fixtures (DedupSpec) and available in the API.
    QuerySpec("dedup_minhash_incremental",
      SketchOracleSql.minHashIncrementalSql(k = 16, bands = 4,
        minAgreement = 0.5d, maxBucket = 100)) { (s, d) =>
      val all = docs(s, d)
      Dedup.minHashIncremental(
        all.where(col("doc_id") % 3 =!= 0), all.where(col("doc_id") % 3 === 0),
        "text", "doc_id", shingleN = 3, k = 16, bands = 4,
        minAgreement = 0.5d, maxBucket = 100)
    },

    // stratified duplication dashboard: per (lang, source), how many
    // docs have an exact copy ANYWHERE in the corpus (cross-source
    // copies count — a mirror shows up in both strata); rate = exact
    // integer division
    QuerySpec("dedup_rate_by_source",
      """WITH h AS (SELECT doc_id, lang, source, md5(lower(trim(text))) AS ch FROM documents),
        |d AS (SELECT ch, count(*) AS c FROM h GROUP BY 1)
        |SELECT lang, source, count(*) AS n_docs,
        |  CAST(sum(CASE WHEN d.c >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_docs,
        |  CAST(sum(CASE WHEN d.c >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
        |    / CAST(count(*) AS DOUBLE) AS dup_rate
        |FROM h JOIN d USING (ch) GROUP BY 1, 2""".stripMargin) { (s, d) =>
      Dedup.dupRateByStrata(docs(s, d), "text", Seq("lang", "source"))
    },

    // pre-join skew audit: the 20 heaviest user_id groups in events with
    // their corpus share — TakeOrderedAndProject top-N, no global sort
    QuerySpec("events_key_skew",
      """WITH c AS (SELECT user_id, count(*) AS n FROM events GROUP BY 1),
        |t AS (SELECT sum(n) AS tot FROM c)
        |SELECT user_id, n, CAST(n AS DOUBLE) / CAST((SELECT tot FROM t) AS DOUBLE) AS share
        |FROM c ORDER BY n DESC, user_id LIMIT 20""".stripMargin) { (s, d) =>
      Profiling.keySkew(events(s, d), Seq("user_id"), topN = 20)
    },

    QuerySpec("dedup_keyed_first",
      """SELECT doc_id, lang, source
        |FROM (SELECT doc_id, lang, source,
        |        row_number() OVER (PARTITION BY lang, source ORDER BY doc_id) AS rn
        |      FROM documents)
        |WHERE rn = 1""".stripMargin) { (s, d) =>
      graft.recon.Reconciler.keepFirstBy(docs(s, d), Seq("lang", "source"), Seq(col("doc_id")))
        .select(col("doc_id"), col("lang"), col("source"))
    },

    QuerySpec("dedup_ngram_jaccard",
      raw"""WITH sample_docs AS (
           |  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS t
           |  FROM documents WHERE doc_id % 5 = 0 AND length(trim(text)) > 0),
           |sh AS (SELECT doc_id AS doc, unnest(list_distinct([t[i] || ' ' || t[i+1] FOR i IN range(1, len(t))])) AS shingle
           |       FROM sample_docs WHERE len(t) >= 2),
           |sizes AS (SELECT doc, count(*) AS set_size FROM sh GROUP BY 1),
           |keep AS (SELECT shingle FROM (SELECT shingle, count(*) AS df FROM sh GROUP BY 1) WHERE df <= 1000),
           |pruned AS (SELECT sh.* FROM sh WHERE EXISTS (SELECT 1 FROM keep k WHERE k.shingle = sh.shingle)),
           |common AS (SELECT a.doc AS doc1, b.doc AS doc2, count(*) AS n_common
           |           FROM pruned a JOIN pruned b ON a.shingle = b.shingle AND a.doc < b.doc
           |           GROUP BY 1, 2)
           |SELECT doc1, doc2,
           |  CAST(n_common AS DOUBLE) / CAST(s1.set_size + s2.set_size - n_common AS DOUBLE) AS jaccard
           |FROM common JOIN sizes s1 ON doc1 = s1.doc JOIN sizes s2 ON doc2 = s2.doc
           |WHERE CAST(n_common AS DOUBLE) / CAST(s1.set_size + s2.set_size - n_common AS DOUBLE) >= 0.3""".stripMargin) { (s, d) =>
      Dedup.ngramJaccardPairs(
        docs(s, d).where(col("doc_id") % 5 === 0), "text", "doc_id",
        n = 2, threshold = 0.3d, maxDf = 1000L)
    },

    // md5-based MinHash slots + band hashes: the whole
    // signature→banding→bucket-cap→Jaccard-verify path is value-checked
    QuerySpec("dedup_minhash",
      SketchOracleSql.minHashSql(k = 16, bands = 4, threshold = 0.5d, maxBucket = 100)) { (s, d) =>
      Dedup.minHashNearDups(docs(s, d), "text", "doc_id",
        shingleN = 3, k = 16, bands = 4, threshold = 0.5d, maxBucket = 100)
    },

    // the PRODUCTION sketch shape (k=64/bands=8 — what a 100 TB deployment
    // would actually run; the family above registers k=16/4 for oracle
    // budget) cross-engine value-checked over a deterministic ~25% slice.
    // The slice keys on the hash of the first-8-token PREFIX, not doc_id:
    // near-dup pairs share their prefix (their edits land later in the
    // doc), so pairs are kept or dropped WHOLE and pair density survives
    // the 4x shrink — a doc_id slice would split nearly every pair across
    // the cut, and a full-content hash splits non-exact near-dups too.
    // The DuckDB mirror pays its 64 mix64 ops per (doc, shingle) on 1/4 of
    // the corpus — under the 30 s per-oracle gate budget
    QuerySpec("dedup_minhash_k64",
      SketchOracleSql.minHashSql(k = 64, bands = 8, threshold = 0.5d, maxBucket = 100,
        src = "slice",
        extraCtes =
          raw"""slice AS (SELECT * FROM documents
               |  WHERE ('0x' || substr(md5(array_to_string(
               |    (string_split_regex(trim(lower(text)), '\s+'))[1:8], ' ')), 1, 15))::BIGINT % 4 = 0),
               |""".stripMargin)) { (s, d) =>
      val prefix = array_join(
        slice(split(trim(lower(col("text"))), "\\s+"), 1, 8), " ")
      Dedup.minHashNearDups(
        docs(s, d).where(pmod(Sampling.keyHash(prefix), lit(4L)) === 0L),
        "text", "doc_id",
        shingleN = 3, k = 64, bands = 8, threshold = 0.5d, maxBucket = 100)
    },

    // md5-token SimHash: signatures, 16-bit chunk banding, bucket cap and
    // the Hamming verify are all mirrored (HUGEINT mod-2^64 sign fixup)
    QuerySpec("dedup_simhash",
      SketchOracleSql.simHashSql(maxHamming = 3, maxBucket = 1000)) { (s, d) =>
      Dedup.simHashNearDups(docs(s, d), "text", "doc_id", maxHamming = 3, maxBucket = 1000)
    },

    // THE dedup story end-to-end: MinHash+LSH pairs → transitive
    // components → canonical survivor per cluster; everything mirrored
    // (signatures, banding, caps, Jaccard verify, recursive closure)
    QuerySpec("dedup_minhash_survivors",
      SketchOracleSql.minHashSurvivorsSql(k = 16, bands = 4, threshold = 0.5d, maxBucket = 100)) { (s, d) =>
      Dedup.dedupByComponents(docs(s, d), "doc_id",
        Dedup.minHashNearDups(docs(s, d), "text", "doc_id",
          shingleN = 3, k = 16, bands = 4, threshold = 0.5d, maxBucket = 100))
        .select(col("doc_id"))
    },

    // cosine-thresholded variant for UN-normalized embeddings: the float32
    // cosine kernel is mirrored bit-for-bit (float dot, norms as
    // double-sqrt-rounded-to-float, float multiply/divide). h is DERIVED
    // from the corpus size on both sides (recommendedH / the hh CTE) — a
    // hard-coded h that was right at one SF silently cap-skips at 100×
    QuerySpec("dedup_embed_cosine",
      LshOracleSql.nearDupCosineSqlAuto(HMax, LshTargetBucket,
        threshold = 0.4, maxBucket = 4096)) { (s, d) =>
      val e = embs(s, d)
      Dedup.embeddingNearDupsLsh(e, "vec_id", "embedding",
        threshold = 0.4d, h = autoH(e), maxBucket = 4096, cosine = true)
    },

    // incremental embedding near-dup: the odd-id batch probed against
    // the even-id seen corpus's persisted LSH index — history vectors
    // touched only in buckets the batch hits, cap on the seen bucket
    // size. The embedding twin of dedup_minhash_incremental
    QuerySpec("dedup_embed_incremental",
      embedIncrementalOracle) {
      (s, d) =>
        val e = embs(s, d)
        val seenIdx = Similarity.lshIndex(
          e.where(pmod(col("vec_id"), lit(2)) === 0), "vec_id", "embedding", h = 4)
        Dedup.embeddingIncrementalNearDups(
          e.where(pmod(col("vec_id"), lit(2)) === 1), seenIdx,
          "vec_id", "embedding", threshold = 0.4d, h = 4, cosine = true)
    },

    // near-dup clustering: connected components over the SimHash pair
    // graph (iterative min-label propagation; oracle = recursive-CTE
    // transitive closure) — the survivor-selection step of dedup
    QuerySpec("dedup_components",
      SketchOracleSql.simHashComponentsSql(maxHamming = 3, maxBucket = 1000)) { (s, d) =>
      Dedup.connectedComponents(
        Dedup.simHashNearDups(docs(s, d), "text", "doc_id", maxHamming = 3, maxBucket = 1000))
    },

    // HIGH-DIAMETER clustering: the SAME component assignment as
    // dedup_components, computed by alternating large-star/small-star
    // (Kiveris et al. — O(log² n) rounds regardless of diameter, vs
    // hash-min's O(diameter); the opt-in for provenance chains and
    // path-shaped link graphs). Shares the recursive-closure oracle, so
    // the alternation must be value-identical to min-label propagation
    QuerySpec("dedup_components_alt",
      SketchOracleSql.simHashComponentsSql(maxHamming = 3, maxBucket = 1000)) { (s, d) =>
      Dedup.alternatingComponents(
        Dedup.simHashNearDups(docs(s, d), "text", "doc_id", maxHamming = 3, maxBucket = 1000))
    },

    // weak supervision: lang seeds on 1/7 of docs propagate to every
    // member of their near-dup component by majority vote (count desc,
    // label asc) — a small annotation budget inherited corpus-wide.
    // Unseeded components stay null; isolated seeds label themselves
    QuerySpec("dedup_label_propagation",
      SketchOracleSql.simHashLabelPropagationSql(maxHamming = 3, maxBucket = 1000,
        seedMod = 7)) { (s, d) =>
      import org.apache.spark.sql.functions.col
      val dd = docs(s, d)
      graft.ops.Graph.propagateLabels(
        Dedup.connectedComponents(
          Dedup.simHashNearDups(dd, "text", "doc_id", maxHamming = 3, maxBucket = 1000)),
        dd.select("doc_id"), "doc_id",
        dd.where(col("doc_id") % 7 === 0).select(col("doc_id"), col("lang")), "lang")
    },

    // INCREMENTAL clustering: label the seen slice (doc_id % 20 != 0)
    // first, then fold in the batch slice through contraction-based
    // label merging (Dedup.incrementalComponents) — no historical edge
    // is revisited. Shares the full run's oracle: contracting converged
    // min-label components preserves connectivity and minima, so the
    // incremental result must be value-identical to recomputing from
    // scratch — which is exactly what the driver then checks
    QuerySpec("dedup_components_incremental",
      SketchOracleSql.simHashComponentsSql(maxHamming = 3, maxBucket = 1000)) { (s, d) =>
      import org.apache.spark.sql.functions.col
      val pairs = graft.recon.Checkpoints.cut(
        Dedup.simHashNearDups(docs(s, d), "text", "doc_id", maxHamming = 3, maxBucket = 1000))
      val oldPairs = pairs.where(col("doc1") % 20 =!= 0 && col("doc2") % 20 =!= 0)
      val newPairs = pairs.where(col("doc1") % 20 === 0 || col("doc2") % 20 === 0)
      Dedup.incrementalComponents(Dedup.connectedComponents(oldPairs), newPairs)
    },

    // scale path: sign-LSH bucket candidates (capped) + exact float dot
    // verify — no cartesian; the bucket assignment is mirrored via the
    // splitmix64 SQL kernel, so the whole path is value-checked. h derived
    // from the corpus size (see dedup_embed_cosine)
    QuerySpec("dedup_embed",
      LshOracleSql.nearDupSqlAuto(HMax, LshTargetBucket,
        threshold = 0.45, maxBucket = 4096)) { (s, d) =>
      val e = embs(s, d)
      Dedup.embeddingNearDupsLsh(e, "vec_id", "embedding",
        threshold = 0.45d, h = autoH(e), maxBucket = 4096)
    },

    // ---- similarity search ----------------------------------------------

    QuerySpec("sim_topk_brute",
      """WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id % 100 = 0),
        |scored AS (SELECT query_id, e.vec_id AS neighbor_id,
        |             list_dot_product(qv, e.embedding) AS score
        |           FROM q JOIN embeddings e ON e.vec_id <> query_id)
        |SELECT query_id, neighbor_id, score, rank FROM (
        |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rank
        |  FROM scored)
        |WHERE rank <= 5""".stripMargin) { (s, d) =>
      val e = embs(s, d)
      Similarity.bruteForceTopK(e, e.where(col("vec_id") % 100 === 0),
        "vec_id", "embedding", k = 5)
    },

    // retrieval-confidence audit: per query the top-1/top-2 score
    // MARGIN — the distance-ratio test (Lowe 2004 §7.1 applied to
    // retrieval): a wide margin says the nearest neighbor is
    // unambiguous, a sliver says the corpus has competing near-ties
    // and downstream consumers should treat the hit as uncertain. The
    // margin is a difference of two identically-computed per-row
    // doubles (index-ordered dot products), so both engines agree
    // bitwise. Same broadcast query-side shape as sim_topk_brute
    QuerySpec("sim_topk_margin",
      """WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id % 50 = 0),
        |scored AS (SELECT query_id, e.vec_id AS neighbor_id,
        |             list_dot_product(qv, e.embedding) AS score
        |           FROM q JOIN embeddings e ON e.vec_id <> query_id),
        |rk AS (SELECT *, row_number() OVER (PARTITION BY query_id
        |         ORDER BY score DESC, neighbor_id) AS rank FROM scored)
        |SELECT query_id,
        |  max(CASE WHEN rank = 1 THEN neighbor_id END) AS top1_id,
        |  max(CASE WHEN rank = 2 THEN neighbor_id END) AS top2_id,
        |  max(CASE WHEN rank = 1 THEN score END) AS s1,
        |  max(CASE WHEN rank = 2 THEN score END) AS s2,
        |  max(CASE WHEN rank = 1 THEN score END)
        |    - max(CASE WHEN rank = 2 THEN score END) AS margin
        |FROM rk WHERE rank <= 2 GROUP BY 1""".stripMargin) { (s, d) =>
      val e = embs(s, d)
      Similarity.bruteForceTopK(e, e.where(col("vec_id") % 50 === 0),
          "vec_id", "embedding", k = 2)
        .groupBy(col("query_id"))
        .agg(max(when(col("rank") === 1, col("neighbor_id"))).as("top1_id"),
          max(when(col("rank") === 2, col("neighbor_id"))).as("top2_id"),
          max(when(col("rank") === 1, col("score"))).as("s1"),
          max(when(col("rank") === 2, col("score"))).as("s2"))
        .select(col("query_id"), col("top1_id"), col("top2_id"),
          col("s1"), col("s2"), (col("s1") - col("s2")).as("margin"))
    },

    // sign-random-projection LSH: the splitmix64 hyperplane signs are
    // re-derived in DuckDB (HUGEINT mod-2^64 arithmetic, split multiply,
    // let-bindings via single-element list comprehensions) — the whole
    // bucket/cap/score/top-k path is value-checked. h derived from the
    // corpus size (see dedup_embed_cosine)
    QuerySpec("sim_lsh_topk",
      LshOracleSql.topkSqlAuto(HMax, LshTargetBucket, k = 5, maxBucket = 4096)) { (s, d) =>
      val e = embs(s, d)
      Similarity.lshTopK(e, "vec_id", "embedding", k = 5, h = autoH(e), maxBucket = 4096)
    },

    // multi-probe variant: each vector also probes the h buckets one
    // sign-flip away, recovering the single-plane-split misses that
    // dominate sign-LSH recall loss — (h+1)× probe volume for ~3×
    // the recall (see sim_ann_multiprobe_recall). Same capped index
    QuerySpec("sim_lsh_multiprobe_topk",
      LshOracleSql.multiProbeTopkSqlAuto(HMax, LshTargetBucket, k = 5, maxBucket = 4096)) {
      (s, d) =>
        val e = embs(s, d)
        Similarity.lshTopKMultiProbe(e, "vec_id", "embedding",
          k = 5, h = autoH(e), maxBucket = 4096)
    },

    // product quantization ANN: per-subspace codebooks (deterministic
    // every-5th sample, 16 codes × 8 subspaces of 8 dims), argmax
    // encode, and asymmetric scoring expressed as float_dot(query,
    // reconstruction) — the per-subspace lookup-table sum routed through
    // the one float kernel both engines already match bit for bit. The
    // whole encode→decode→score→top-k path is value-checked
    QuerySpec("sim_pq_topk", PqTopkSql) { (s, d) =>
      val e = embs(s, d)
      Similarity.pqTopK(e, e.where(col("vec_id") % 100 === 0), "vec_id", "embedding",
        k = 5, m = 8, subDim = 8, nCentroids = 16, modulus = 5L)
    },

    // ---- multimodal ------------------------------------------------------

    QuerySpec("mm_meta",
      """SELECT doc_id AS media_id,
        |  CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS media_type,
        |  strlen(text) AS n_bytes,
        |  CASE doc_id % 3 WHEN 0 THEN 'png' WHEN 1 THEN 'wav' ELSE 'mp4' END AS format
        |FROM documents""".stripMargin) { (s, d) =>
      Multimodal.syntheticMedia(docs(s, d), "doc_id", "text")
        .select(col("media_id"), col("media_type"), col("n_bytes"), col("format"))
    },

    // stub decoder output: the fake decode (31·h + signed-byte rolling hash
    // over the first 64 utf-8 bytes, Java 64-bit wraparound) is re-derived in
    // DuckDB via HUGEINT mod-2^64 arithmetic, so the whole mapPartitions
    // decode path is oracle-checked end-to-end
    QuerySpec("mm_features", MultimodalSql.featuresSql) { (s, d) =>
      Multimodal.decodeFeatures(
        Multimodal.asMedia(Multimodal.syntheticMedia(docs(s, d), "doc_id", "text"))).toDF()
    },

    // frame sampling, exploded to scalar rows for a portable value compare
    QuerySpec("mm_frames", MultimodalSql.framesSql) { (s, d) =>
      Multimodal.sampleFrameOffsets(
        Multimodal.decodeFeatures(
          Multimodal.asMedia(Multimodal.syntheticMedia(docs(s, d), "doc_id", "text"))).toDF(),
        k = 4)
        .select(col("media_id"), col("n_frames"),
          posexplode(col("frame_indices")).as(Seq("frame_seq", "frame_idx")))
    },

    // salted skew join: identical results to the plain join (the oracle IS
    // the plain join — salting must never change multiplicity)
    QuerySpec("recon_salted_join",
      s"""${OracleSql.prelude}
         |SELECT i._id AS _id, e.ext_id AS ext_id
         |FROM internal i JOIN external e
         |  ON i.create_timestamp = e.ext_ts AND i.bin_code = e.ext_prio""".stripMargin) { (s, d) =>
      // low-cardinality keys (date x 5 priorities) -> skewed buckets; the
      // salted join must reproduce the plain join bit-for-bit
      graft.recon.SkewJoin.saltedEquiJoin(
        TpcMapping.internal(s, d), TpcMapping.external(s, d),
        keys = Seq("create_timestamp" -> "ext_ts", "bin_code" -> "ext_prio"),
        saltBy = Seq("create_timestamp", "_id"), saltFactor = 8)
        .select(col("_id"), col("ext_id"))
    },

    // IVF ANN — fully portable (dot products + windows, no hash kernels):
    // centroid assignment, nprobe cell selection, and per-query top-k are
    // all mirrored in the oracle; float32 dot accumulation is bit-identical
    // to DuckDB's list_dot_product on FLOAT[]
    QuerySpec("sim_ivf_topk",
      """WITH cents AS (
        |  SELECT vec_id AS centroid_id, embedding AS cv FROM embeddings
        |  WHERE vec_id % 50 = 0 ORDER BY vec_id LIMIT 16),
        |assigned AS (
        |  SELECT vec_id, embedding, centroid_id FROM (
        |    SELECT e.vec_id, e.embedding, c.centroid_id,
        |      row_number() OVER (PARTITION BY e.vec_id
        |        ORDER BY list_dot_product(e.embedding, c.cv) DESC, c.centroid_id) AS rn
        |    FROM embeddings e CROSS JOIN cents c) WHERE rn = 1),
        |probes AS (
        |  SELECT query_id, qv, centroid_id FROM (
        |    SELECT q.vec_id AS query_id, q.embedding AS qv, c.centroid_id,
        |      row_number() OVER (PARTITION BY q.vec_id
        |        ORDER BY list_dot_product(q.embedding, c.cv) DESC, c.centroid_id) AS pr
        |    FROM embeddings q CROSS JOIN cents c WHERE q.vec_id % 100 = 0) WHERE pr <= 4),
        |scored AS (
        |  SELECT p.query_id, a.vec_id AS neighbor_id,
        |    list_dot_product(p.qv, a.embedding) AS score
        |  FROM probes p JOIN assigned a
        |    ON p.centroid_id = a.centroid_id AND p.query_id <> a.vec_id)
        |SELECT query_id, neighbor_id, score, rank FROM (
        |  SELECT *, row_number() OVER (PARTITION BY query_id
        |    ORDER BY score DESC, neighbor_id) AS rank FROM scored)
        |WHERE rank <= 5""".stripMargin) { (s, d) =>
      val e = embs(s, d)
      Similarity.ivfTopK(e, e.where(col("vec_id") % 100 === 0),
        "vec_id", "embedding", k = 5, nCentroids = 16, modulus = 50, nprobe = 4)
    },

    // hard-negative mining for contrastive training: the IVF top-10
    // candidates per query, minus anything scoring >= 0.4 (this corpus's
    // near-dup threshold — those are positives/copies, not negatives),
    // the next 5 re-ranked. The "close but not a copy" band that makes
    // embedding training data hard; whole path value-checked
    QuerySpec("sim_hard_negatives",
      """WITH cents AS (
        |  SELECT vec_id AS centroid_id, embedding AS cv FROM embeddings
        |  WHERE vec_id % 50 = 0 ORDER BY vec_id LIMIT 16),
        |assigned AS (
        |  SELECT vec_id, embedding, centroid_id FROM (
        |    SELECT e.vec_id, e.embedding, c.centroid_id,
        |      row_number() OVER (PARTITION BY e.vec_id
        |        ORDER BY list_dot_product(e.embedding, c.cv) DESC, c.centroid_id) AS rn
        |    FROM embeddings e CROSS JOIN cents c) WHERE rn = 1),
        |probes AS (
        |  SELECT query_id, qv, centroid_id FROM (
        |    SELECT q.vec_id AS query_id, q.embedding AS qv, c.centroid_id,
        |      row_number() OVER (PARTITION BY q.vec_id
        |        ORDER BY list_dot_product(q.embedding, c.cv) DESC, c.centroid_id) AS pr
        |    FROM embeddings q CROSS JOIN cents c WHERE q.vec_id % 100 = 0) WHERE pr <= 4),
        |scored AS (
        |  SELECT p.query_id, a.vec_id AS neighbor_id,
        |    list_dot_product(p.qv, a.embedding) AS score
        |  FROM probes p JOIN assigned a
        |    ON p.centroid_id = a.centroid_id AND p.query_id <> a.vec_id),
        |cand AS (SELECT query_id, neighbor_id, score FROM (
        |  SELECT *, row_number() OVER (PARTITION BY query_id
        |    ORDER BY score DESC, neighbor_id) AS rank FROM scored)
        |  WHERE rank <= 10)
        |SELECT query_id, neighbor_id, score, neg_rank FROM (
        |  SELECT query_id, neighbor_id, score,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY score DESC, neighbor_id) AS neg_rank
        |  FROM cand WHERE score < 0.4)
        |WHERE neg_rank <= 5""".stripMargin) { (s, d) =>
      val e = embs(s, d)
      val cand = Similarity.ivfTopK(e, e.where(col("vec_id") % 100 === 0),
        "vec_id", "embedding", k = 10, nCentroids = 16, modulus = 50, nprobe = 4)
      Similarity.hardNegatives(cand, k = 5, dupThreshold = 0.4d)
    },

    // IVF ANN with a TRAINED codebook: 2 Lloyd iterations of spherical
    // k-means ([[graft.ops.Similarity.kmeansCentroids]]) feed the same
    // probe arm as sim_ivf_topk. The oracle unrolls both assignment+mean
    // iterations as CTEs; the per-(cluster,dim) mean is a double AVG cast
    // to float32 on BOTH sides, so summation-order noise in the low double
    // bits is absorbed by the float rounding and every downstream dot is
    // bit-identical — the one substantial code path that had no
    // CORRECTNESS entry before this query
    QuerySpec("sim_ivf_kmeans_topk",
      kmeansIvfSql(k = 16, modulus = 50, iters = 2, queryMod = 100,
        nprobe = 4, topk = 5)) { (s, d) =>
      val e = embs(s, d)
      val cents = Similarity.kmeansCentroids(e, "vec_id", "embedding",
        k = 16, iters = 2, modulus = 50)
      Similarity.ivfTopKWith(e, e.where(col("vec_id") % 100 === 0),
        "vec_id", "embedding", k = 5, cents, nprobe = 4)
    },

    // IVF-PQ composition (Jégou et al. TPAMI'11 §V): trained IVF centroids
    // route queries to nprobe cells; candidates score against their
    // TRAINED-PQ reconstruction. The oracle unrolls BOTH trainers — the
    // 64-dim Lloyd iterations for routing and the m per-subspace Lloyd
    // iterations for the codebooks — plus encode/reconstruct/score, so the
    // whole composed path is value-checked end to end
    QuerySpec("sim_ivfpq_topk",
      ivfpqSql(k = 16, modulus = 50, iters = 1, m = 32, subDim = 2,
        pqC = 32, pqModulus = 5, queryMod = 100, nprobe = 6, topk = 5,
        sampledTraining = true)) { (s, d) =>
      val e = embs(s, d)
      val train = trainSample(e) // train on the keyHash sample, serve the full corpus
      val cents = Similarity.kmeansCentroids(train, "vec_id", "embedding",
        k = 16, iters = 1, modulus = 50)
      val cb = Similarity.pqCodebookTrained(train, "vec_id", "embedding",
        m = 32, subDim = 2, nCentroids = 32, iters = 1, modulus = 5)
      Similarity.ivfpqTopKWith(e, e.where(col("vec_id") % 100 === 0),
        "vec_id", "embedding", k = 5, cents, cb, m = 32, subDim = 2, nprobe = 6)
    },

    // recall of the composed IVF-PQ index against the brute-force truth —
    // the shippability gate the untrained flat PQ failed (0.36): routing
    // misses (nprobe) and quantization error (trained codebooks) are the
    // two recall losses this measures together. SimilarityTextSpec pins
    // the floor
    QuerySpec("sim_ivfpq_recall",
      raw"""WITH brute AS (
           |  WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id % 100 = 0),
           |  scored AS (SELECT query_id, e.vec_id AS neighbor_id,
           |               list_dot_product(qv, e.embedding) AS score
           |             FROM q JOIN embeddings e ON e.vec_id <> query_id)
           |  SELECT query_id, neighbor_id FROM (
           |    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rank
           |    FROM scored)
           |  WHERE rank <= 5),
           |ivfpq AS (SELECT query_id, neighbor_id FROM (
           |${ivfpqSql(k = 16, modulus = 50, iters = 1, m = 32, subDim = 2,
                pqC = 32, pqModulus = 5, queryMod = 100, nprobe = 6, topk = 5,
                sampledTraining = true)}))
           |SELECT b.query_id, count(*) AS k,
           |  CAST(sum(CASE WHEN p.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
           |  CAST(sum(CASE WHEN p.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
           |    / CAST(count(*) AS DOUBLE) AS recall
           |FROM brute b LEFT JOIN ivfpq p
           |  ON p.query_id = b.query_id AND p.neighbor_id = b.neighbor_id
           |GROUP BY 1""".stripMargin) { (s, d) =>
      val e = embs(s, d)
      val queries = e.where(col("vec_id") % 100 === 0)
      val brute = Similarity.bruteForceTopK(e, queries, "vec_id", "embedding", k = 5)
        .select(col("query_id"), col("neighbor_id"))
      val train = trainSample(e)
      val cents = Similarity.kmeansCentroids(train, "vec_id", "embedding",
        k = 16, iters = 1, modulus = 50)
      val cb = Similarity.pqCodebookTrained(train, "vec_id", "embedding",
        m = 32, subDim = 2, nCentroids = 32, iters = 1, modulus = 5)
      val ivfpq = Similarity.ivfpqTopKWith(e, queries, "vec_id", "embedding",
        k = 5, cents, cb, m = 32, subDim = 2, nprobe = 6)
        .select(col("query_id"), col("neighbor_id"), lit(1).as("__hit"))
      brute.join(ivfpq, Seq("query_id", "neighbor_id"), "left")
        .groupBy(col("query_id"))
        .agg(count(lit(1)).as("k"),
          sum(coalesce(col("__hit"), lit(0))).cast("long").as("n_hit"))
        .withColumn("recall", col("n_hit").cast("double") / col("k").cast("double"))
    },

    // the IVF-PQ index LIFECYCLE, value-checked at the registry level:
    // train + encode + persist (ops/IndexStore: meta + ivf_centroids +
    // pq_codebook + the coded corpus), then answer the top-k FROM THE
    // FILES — routing, reconstruction and scoring all read the loaded
    // frames, never the raw embeddings. Training is deterministic, so
    // this shares sim_ivfpq_topk's oracle and the round-trip must be
    // value-identical to the in-memory composition
    QuerySpec("sim_ivfpq_index_probe",
      ivfpqSql(k = 16, modulus = 50, iters = 1, m = 32, subDim = 2,
        pqC = 32, pqModulus = 5, queryMod = 100, nprobe = 6, topk = 5,
        sampledTraining = true)) { (s, d) =>
      val e = embs(s, d)
      val tmp = CurationQueries.runTmpDir(s, "graft_ivfpq_index")
      graft.ops.IndexStore.writeIvfPqIndex(e, "vec_id", "embedding",
        tmp.getAbsolutePath, kCells = 16, ivfIters = 1, ivfModulus = 50,
        m = 32, subDim = 2, pqC = 32, pqIters = 1, pqModulus = 5,
        train = Some(trainSample(e)))
      val probed = graft.ops.IndexStore.ivfPqProbe(
        e.where(col("vec_id") % 100 === 0), tmp.getAbsolutePath, k = 5, nprobe = 6)
      // EAGER: the frame's input files are deleted on the next line
      val out = graft.recon.Checkpoints.cut(probed, eager = true)
      CurationQueries.deleteRecursively(tmp)
      out
    },

    // the index lifecycle a GROWING corpus actually runs: build the
    // IVF-PQ index over 90% of the vectors, then APPEND the remaining
    // batch — encoded against the FROZEN centroids/codebook (ingest
    // never retrains), merged idempotently (the replayed second merge
    // must append 0 rows — the crash-replay discipline the dedup ingest
    // gate pins), and probed FROM THE FILES. The training sample is
    // fixed up front, so the oracle is the from-scratch full-corpus
    // probe: append ∪ old answering value-identically to a rebuild is
    // exactly the contract that makes incremental ingest trustworthy
    QuerySpec("sim_ivfpq_index_append",
      ivfpqSql(k = 16, modulus = 50, iters = 1, m = 32, subDim = 2,
        pqC = 32, pqModulus = 5, queryMod = 100, nprobe = 6, topk = 5,
        sampledTraining = true)) { (s, d) =>
      val e = embs(s, d)
      val old = e.where(pmod(col("vec_id"), lit(10)) =!= 7)
      val batch = e.where(pmod(col("vec_id"), lit(10)) === 7)
      val tmp = CurationQueries.runTmpDir(s, "graft_ivfpq_append")
      graft.ops.IndexStore.writeIvfPqIndex(old, "vec_id", "embedding",
        tmp.getAbsolutePath, kCells = 16, ivfIters = 1, ivfModulus = 50,
        m = 32, subDim = 2, pqC = 32, pqIters = 1, pqModulus = 5,
        train = Some(trainSample(e)))
      val n1 = graft.ops.IndexStore.mergeIntoIvfPqIndexIdempotent(
        batch, tmp.getAbsolutePath)
      val n2 = graft.ops.IndexStore.mergeIntoIvfPqIndexIdempotent(
        batch, tmp.getAbsolutePath) // crash replay of the same batch
      require(n1 > 0 && n2 == 0,
        s"idempotent append broke exactly-once: first=$n1 replay=$n2")
      val probed = graft.ops.IndexStore.ivfPqProbe(
        e.where(col("vec_id") % 100 === 0), tmp.getAbsolutePath, k = 5, nprobe = 6)
      // EAGER: the frame's input files are deleted on the next line
      val out = graft.recon.Checkpoints.cut(probed, eager = true)
      CurationQueries.deleteRecursively(tmp)
      out
    },

    // the recall/cost CURVE of the composed IVF-PQ index — (nprobe,
    // mean_recall) for nprobe ∈ {2, 6, 12} against the brute-force truth,
    // the knob a 100 TB operator actually turns (+1 nprobe ≈ +1/16 of the
    // corpus scanned per query). ONE route-encode-score pass at nprobe=12
    // serves all three arms (rank-≤-2 candidates ⊂ rank-≤-6 ⊂ rank-≤-12 —
    // filter on the kept probe rank), in BOTH engines. mean_recall is the
    // micro average hits/truth; every query contributes exactly topk truth
    // rows, so micro ≡ macro, and the double is one division of two exact
    // ints. SimilarityTextSpec pins monotone recall + the 0.6 floor at
    // nprobe=6. queryMod=200 (half the usual query load): three arms of
    // top-k would otherwise triple the bench/oracle cost of the pair above
    QuerySpec("sim_ivfpq_recall_curve",
      raw"""${ivfpqCandCtes(k = 16, modulus = 50, iters = 1, m = 32, subDim = 2,
              pqC = 32, pqModulus = 5, queryMod = 200, nprobeMax = 12,
              sampledTraining = true)},
           |brute AS (
           |  SELECT query_id, neighbor_id FROM (
           |    SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
           |      row_number() OVER (PARTITION BY q.vec_id
           |        ORDER BY list_dot_product(q.embedding, e.embedding) DESC, e.vec_id) AS rank
           |    FROM embeddings q JOIN embeddings e ON e.vec_id <> q.vec_id
           |    WHERE q.vec_id % 200 = 0)
           |  WHERE rank <= 5),
           |ranked AS (
           |  SELECT ar.nprobe, c.query_id, c.neighbor_id,
           |    row_number() OVER (PARTITION BY ar.nprobe, c.query_id
           |      ORDER BY c.score DESC, c.neighbor_id) AS rank
           |  FROM (VALUES (2), (6), (12)) ar(nprobe) JOIN cand c ON c.pr <= ar.nprobe),
           |topk AS (SELECT nprobe, query_id, neighbor_id FROM ranked WHERE rank <= 5)
           |SELECT ar.nprobe, count(*) AS n_truth,
           |  CAST(sum(CASE WHEN t.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
           |  CAST(sum(CASE WHEN t.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
           |    / CAST(count(*) AS DOUBLE) AS mean_recall
           |FROM (VALUES (2), (6), (12)) ar(nprobe)
           |JOIN brute b ON true
           |LEFT JOIN topk t ON t.nprobe = ar.nprobe
           |  AND t.query_id = b.query_id AND t.neighbor_id = b.neighbor_id
           |GROUP BY 1""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val e = embs(s, d)
      val queries = e.where(col("vec_id") % 200 === 0)
      val brute = graft.recon.Checkpoints.cut(
        Similarity.bruteForceTopK(e, queries, "vec_id", "embedding", k = 5)
          .select(col("query_id"), col("neighbor_id")))
      val train = trainSample(e)
      val cents = Similarity.kmeansCentroids(train, "vec_id", "embedding",
        k = 16, iters = 1, modulus = 50)
      val cb = Similarity.pqCodebookTrained(train, "vec_id", "embedding",
        m = 32, subDim = 2, nCentroids = 32, iters = 1, modulus = 5)
      // one scored candidate stream at nprobe=12, cut so the three arms
      // below share its materialization instead of re-training/rescoring
      val cand = graft.recon.Checkpoints.cut(
        Similarity.ivfpqCandidatesWith(e, queries, "vec_id", "embedding",
          cents, cb, m = 32, subDim = 2, nprobeMax = 12))
      val w = Window.partitionBy(col("query_id")).orderBy(col("score").desc, col("neighbor_id"))
      Seq(2, 6, 12).map { np =>
        val topk = cand.where(col("pr") <= np)
          .withColumn("rank", row_number().over(w)).where(col("rank") <= 5)
          .select(col("query_id"), col("neighbor_id"), lit(1).as("__hit"))
        brute.join(topk, Seq("query_id", "neighbor_id"), "left")
          .agg(count(lit(1)).as("n_truth"),
            sum(coalesce(col("__hit"), lit(0))).cast("long").as("n_hit"))
          .select(lit(np).as("nprobe"), col("n_truth"), col("n_hit"),
            (col("n_hit").cast("double") / col("n_truth").cast("double"))
              .as("mean_recall"))
      }.reduce(_ unionByName _)
    },

    // IVF-PQ with the EXACT RE-RANK tail (Jégou §V.D): the PQ scan
    // shortlists 4k candidates per query in code space, only those join
    // back to the raw vectors for the true float dot, and the top-k ranks
    // by the exact score — the production recall recovery (PQ error now
    // only costs recall when truth misses the shortlist; measured 0.76 →
    // 0.9+ mean recall@5, pinned in SimilarityTextSpec). The oracle runs
    // the same shortlist + exact-dot re-rank chain end to end
    QuerySpec("sim_ivfpq_rerank",
      raw"""${ivfpqCandCtes(k = 16, modulus = 50, iters = 1, m = 32, subDim = 2,
              pqC = 32, pqModulus = 5, queryMod = 100, nprobeMax = 6,
              sampledTraining = true)},
           |short AS (SELECT query_id, neighbor_id FROM (
           |    SELECT query_id, neighbor_id, row_number() OVER (PARTITION BY query_id
           |      ORDER BY score DESC, neighbor_id) AS pqr FROM cand)
           |  WHERE pqr <= 20)
           |SELECT query_id, neighbor_id, score, rank FROM (
           |  SELECT s.query_id, s.neighbor_id,
           |    list_dot_product(q.embedding, e.embedding) AS score,
           |    row_number() OVER (PARTITION BY s.query_id
           |      ORDER BY list_dot_product(q.embedding, e.embedding) DESC,
           |               s.neighbor_id) AS rank
           |  FROM short s JOIN embeddings q ON q.vec_id = s.query_id
           |               JOIN embeddings e ON e.vec_id = s.neighbor_id)
           |WHERE rank <= 5""".stripMargin) { (s, d) =>
      val e = embs(s, d)
      val train = trainSample(e)
      val cents = Similarity.kmeansCentroids(train, "vec_id", "embedding",
        k = 16, iters = 1, modulus = 50)
      val cb = Similarity.pqCodebookTrained(train, "vec_id", "embedding",
        m = 32, subDim = 2, nCentroids = 32, iters = 1, modulus = 5)
      Similarity.ivfpqTopKReranked(e, e.where(col("vec_id") % 100 === 0),
        "vec_id", "embedding", k = 5, cents, cb, m = 32, subDim = 2,
        nprobe = 6, shortlist = 20)
    },

    // SemDeDup (Abbas et al. 2023): semantic near-dup pairs scored only
    // within trained k-means cells — the codebook bounds candidate pairs
    // to Σ(cluster²) instead of N²; the full path (Lloyd training,
    // broadcast-argmax assignment, float32 cosine) is value-checked
    QuerySpec("dedup_semantic_pairs",
      semanticPairsSql(k = 16, modulus = 50, iters = 2,
        threshold = 0.4, maxCluster = 4096)) { (s, d) =>
      val e = embs(s, d)
      val cents = Similarity.kmeansCentroids(e, "vec_id", "embedding",
        k = 16, iters = 2, modulus = 50)
      Dedup.semanticNearDups(e, "vec_id", "embedding", cents,
        threshold = 0.4, maxCluster = 4096)
    },

    // the removal arm: keep-lowest-id survivors of the pair graph above
    QuerySpec("dedup_semantic",
      semanticSurvivorsSql(k = 16, modulus = 50, iters = 2,
        threshold = 0.4, maxCluster = 4096)) { (s, d) =>
      val e = embs(s, d)
      val cents = Similarity.kmeansCentroids(e, "vec_id", "embedding",
        k = 16, iters = 2, modulus = 50)
      Dedup.semanticDedup(e, "vec_id", "embedding", cents,
        threshold = 0.4, maxCluster = 4096)
        .select(col("vec_id"), col("label"))
    },

    // as-of join (point-in-time lookup): every click sees the value of
    // the user's most recent prior-or-simultaneous view — composed from
    // union + ignore-nulls window, no custom plan node
    QuerySpec("stream_asof",
      // rv is a STRUCT (non-null for every right row even when its value
      // is NULL) so the IGNORE NULLS pick counts a NULL-valued observation
      // as an observation — exactly the Spark side's struct semantics
      """WITH e AS (
        |  SELECT user_id, event_id, event_type, value, epoch_ms(ts) AS ms FROM events),
        |u AS (
        |  SELECT user_id, ms, event_id AS tb, NULL AS click_id, {'v': value} AS rv, 0 AS side
        |  FROM e WHERE event_type = 'view'
        |  UNION ALL
        |  SELECT user_id, ms, event_id, event_id, CAST(NULL AS STRUCT(v DOUBLE)), 1
        |  FROM e WHERE event_type = 'click'),
        |w AS (
        |  SELECT *, (last_value(rv IGNORE NULLS) OVER (
        |    PARTITION BY user_id ORDER BY ms, side, tb
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)).v AS asof_value
        |  FROM u)
        |SELECT user_id, click_id AS event_id, ms, asof_value FROM w WHERE side = 1""".stripMargin) { (s, d) =>
      val e = events(s, d).withColumn("ms", unix_millis(col("ts").cast("timestamp")))
      val clicks = e.where(col("event_type") === "click")
        .select(col("user_id"), col("event_id"), col("ms"))
      val views = e.where(col("event_type") === "view")
        .select(col("user_id"), col("event_id"), col("ms"), col("value"))
      AsOfJoin.asOf(clicks, views, keys = Seq("user_id"),
        leftTs = "ms", rightTs = "ms", valueCols = Seq("value"),
        tiebreak = col("event_id"))
        .select(col("user_id"), col("event_id"), col("ms"), col("asof_value"))
    },

    // pure range join via temporal binning: clicks × errors within ±60 s
    // of each other (NO equi key) — bucketed to near-diagonal candidates
    // instead of a cartesian theta-join; zero-neighbor clicks kept
    QuerySpec("stream_near_errors",
      """WITH e AS (
        |  SELECT event_id, event_type, epoch_ms(ts) AS ms FROM events),
        |c AS (SELECT event_id, ms FROM e WHERE event_type = 'click'),
        |x AS (SELECT event_id, ms FROM e WHERE event_type = 'error')
        |SELECT c.event_id, c.ms, count(x.event_id) AS n_errors
        |FROM c LEFT JOIN x ON abs(c.ms - x.ms) <= 60000
        |GROUP BY 1, 2""".stripMargin) { (s, d) =>
      val e = events(s, d).withColumn("ms", unix_millis(col("ts").cast("timestamp")))
      val clicks = e.where(col("event_type") === "click").select(col("event_id"), col("ms"))
      val errors = e.where(col("event_type") === "error")
        .select(col("event_id").as("err_id"), col("ms").as("err_ms"))
      val pairs = RangeJoin.withinWindow(clicks, errors, "ms", "err_ms", window = 60000L)
      val counts = pairs.groupBy(col("event_id"), col("ms"))
        .agg(count(lit(1)).as("n_errors"))
      clicks.join(counts, Seq("event_id", "ms"), "left")
        .select(col("event_id"), col("ms"),
          coalesce(col("n_errors"), lit(0L)).as("n_errors"))
    },

    // ---- event-time operators --------------------------------------------

    // exact dedup by event id, keep-first by time
    QuerySpec("stream_dedup_ids",
      """SELECT event_id, user_id, event_type
        |FROM (SELECT event_id, user_id, event_type,
        |        row_number() OVER (PARTITION BY event_id ORDER BY ts, user_id) AS rn
        |      FROM events)
        |WHERE rn = 1""".stripMargin) { (s, d) =>
      graft.recon.Reconciler.keepFirstBy(events(s, d), Seq("event_id"), Seq(col("ts"), col("user_id")))
        .select(col("event_id"), col("user_id"), col("event_type"))
    },

    QuerySpec("stream_tumbling",
      """SELECT CAST(floor(epoch_ms(ts) / 300000.0) AS BIGINT) * 300000 AS bucket_start,
        |  event_type, count(*) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM events GROUP BY 1, 2""".stripMargin) { (s, d) =>
      graft.streaming.EventPipeline.tumblingAgg(events(s, d), windowMs = 300000L)
    },

    QuerySpec("stream_sessionize",
      streamSessionizeSql) { (s, d) =>
      graft.streaming.EventPipeline.sessionize(events(s, d), gapMs = 600000L)
    },

    // rendezvous-routed stream accounting: per 5-min window × HRW shard
    // of the user key, event count + exact cents mass — the router's
    // fan-out table. Stateless per-row routing + one windowed agg. The
    // oracle computes the HRW argmax per DISTINCT user, then joins —
    // same assignment, |users|·nShards work instead of |events|·nShards
    QuerySpec("stream_shard_route",
      raw"""WITH u AS (SELECT DISTINCT user_id FROM events),
           |sc AS (SELECT user_id, s,
           |         ('0x' || substr(md5(CAST(s AS VARCHAR) || ':' ||
           |            CAST(user_id AS VARCHAR)), 1, 15))::BIGINT AS h
           |       FROM u CROSS JOIN (SELECT unnest(range(0, 8)) AS s) k),
           |a AS (SELECT user_id, s AS shard,
           |        row_number() OVER (PARTITION BY user_id ORDER BY h DESC, s DESC) AS r
           |      FROM sc)
           |SELECT epoch_ms(ts) - epoch_ms(ts) % 300000 AS window_start,
           |  a.shard, count(*) AS n_events,
           |  CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS cents
           |FROM events e JOIN a ON a.user_id = e.user_id AND a.r = 1
           |GROUP BY 1, 2""".stripMargin) { (s, d) =>
      graft.streaming.EventPipeline.shardRouteCounts(events(s, d),
        nShards = 8, windowMs = 300000L)
    },

    // local-DP ingest ledger: randomized response BEFORE any
    // aggregation (the collector's windowed counts only ever hold
    // REPORTED types). Same channel as privacy_local_rr, per 5-min
    // tumbling window
    QuerySpec("stream_local_rr", {
      val cats = Seq("click", "error", "purchase", "signup", "view") // sorted
      val branches = cats.map { c =>
        val others = cats.filterNot(_ == c).map(o => s"'$o'").mkString(", ")
        s"WHEN '$c' THEN [$others][CAST(ha + 1 AS INT)]"
      }.mkString("\n           |            ")
      raw"""WITH r AS (SELECT ts, event_type,
           |        ('0x' || substr(md5('r15srr:keep:' || CAST(event_id AS VARCHAR)), 1, 15))::BIGINT
           |          % 1000 AS hk,
           |        ('0x' || substr(md5('r15srr:alt:' || CAST(event_id AS VARCHAR)), 1, 15))::BIGINT
           |          % 4 AS ha
           |      FROM events),
           |rep AS (SELECT ts, CASE WHEN hk < 750 THEN event_type
           |          ELSE CASE event_type
           |            $branches
           |          END END AS reported FROM r)
           |SELECT epoch_ms(ts) - epoch_ms(ts) % 300000 AS window_start,
           |  reported, count(*) AS n_reported
           |FROM rep GROUP BY 1, 2""".stripMargin
    }) { (s, d) =>
      graft.streaming.EventPipeline.rrRouteCounts(events(s, d),
        Seq("click", "error", "purchase", "signup", "view"),
        pMilli = 750, salt = "r15srr", windowMs = 300000L)
    },

    // ENGINE-NATIVE session windows (Catalyst session_window): merge
    // iff gap STRICTLY under 10 min (an event exactly at a window's end
    // opens a new session — note `>=` in the oracle's new-session flag,
    // vs stream_sessionize's `>`), session_end = last event + gap
    QuerySpec("stream_session_window",
      raw"""WITH e AS (
           |  SELECT user_id, event_id, value, epoch_ms(ts) AS ms,
           |    lag(epoch_ms(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
           |  FROM events),
           |f AS (SELECT *, CASE WHEN prev IS NULL OR ms - prev >= 600000 THEN 1 ELSE 0 END AS ns
           |      FROM e),
           |n AS (SELECT *, CAST(SUM(ns) OVER (PARTITION BY user_id ORDER BY ms, event_id
           |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sid
           |      FROM f)
           |SELECT user_id, min(ms) AS session_start, max(ms) + 600000 AS session_end,
           |  count(*) AS n_events,
           |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
           |FROM n GROUP BY user_id, sid""".stripMargin) { (s, d) =>
      graft.streaming.EventPipeline.sessionWindowAgg(events(s, d), gapMs = 600000L)
    }
  )

  /**
   * DuckDB mirror of [[graft.ops.Similarity.kmeansCentroids]] (iters
   * unrolled as CTEs) feeding the [[graft.ops.Similarity.ivfTopKWith]]
   * probe. Structure per iteration i: a_i assigns every vector to its
   * max-dot centroid (tie → smallest id, the argmax-struct semantics),
   * m_i is the per-(cluster, dim) double AVG cast to float32, c_i is the
   * new codebook with empty clusters keeping their previous centroid.
   * Seeds are the deterministic every-`modulus`-th sample relabeled
   * 0..k-1 by id order, exactly like the Spark side.
   *
   * The WITH-prefix shared by every trained-codebook oracle: seed
   * codebook `c0`, `iters` Lloyd iterations, final assignment `af` of
   * (vec_id, embedding, centroid_id) against the trained codebook
   * `c$iters`.
   */
  private def kmeansCtes(k: Int, modulus: Int, iters: Int,
      sampledTraining: Boolean = false): String = {
    // `sampledTraining` mirrors the Spark side's trainSample gate: seeds
    // and the per-iteration assignments read only the keyHash sample;
    // the FINAL assignment `af` (serving) always reads everything
    def gate(ref: String) = if (sampledTraining) s" AND ${trainGateSql(ref)}" else ""
    def assignCte(name: String, cents: String, where: String = ""): String =
      s"""$name AS (
         |  SELECT vec_id, embedding, centroid_id FROM (
         |    SELECT e.vec_id, e.embedding, c.centroid_id,
         |      row_number() OVER (PARTITION BY e.vec_id
         |        ORDER BY list_dot_product(e.embedding, c.cv) DESC, c.centroid_id) AS rn
         |    FROM embeddings e CROSS JOIN $cents c$where) WHERE rn = 1)""".stripMargin
    val trainWhere =
      if (sampledTraining) s" WHERE ${trainGateSql("e.vec_id")}" else ""
    val iterCtes = (1 to iters).map { i =>
      s"""${assignCte(s"a$i", s"c${i - 1}", trainWhere)},
         |m$i AS (
         |  SELECT a.centroid_id, d.d, CAST(avg(a.embedding[d.d]) AS FLOAT) AS m
         |  FROM a$i a CROSS JOIN dims d GROUP BY 1, 2),
         |c$i AS (
         |  SELECT centroid_id, list(m ORDER BY d) AS cv FROM m$i GROUP BY 1
         |  UNION ALL
         |  SELECT c.centroid_id, c.cv FROM c${i - 1} c
         |  WHERE c.centroid_id NOT IN (SELECT centroid_id FROM m$i))""".stripMargin
    }.mkString(",\n")
    s"""WITH dims AS (
       |  SELECT unnest(range(1, (SELECT max(len(embedding)) FROM embeddings) + 1)) AS d),
       |c0 AS (
       |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS centroid_id, embedding AS cv
       |  FROM (SELECT vec_id, embedding FROM embeddings
       |        WHERE vec_id % $modulus = 0${gate("vec_id")} ORDER BY vec_id LIMIT $k)),
       |$iterCtes,
       |${assignCte("af", s"c$iters")}""".stripMargin
  }

  private def kmeansIvfSql(k: Int, modulus: Int, iters: Int, queryMod: Int,
      nprobe: Int, topk: Int): String = {
    s"""${kmeansCtes(k, modulus, iters)},
       |probes AS (
       |  SELECT query_id, qv, centroid_id FROM (
       |    SELECT q.vec_id AS query_id, q.embedding AS qv, c.centroid_id,
       |      row_number() OVER (PARTITION BY q.vec_id
       |        ORDER BY list_dot_product(q.embedding, c.cv) DESC, c.centroid_id) AS pr
       |    FROM embeddings q CROSS JOIN c$iters c WHERE q.vec_id % $queryMod = 0)
       |  WHERE pr <= $nprobe),
       |scored AS (
       |  SELECT p.query_id, a.vec_id AS neighbor_id,
       |    list_dot_product(p.qv, a.embedding) AS score
       |  FROM probes p JOIN af a
       |    ON p.centroid_id = a.centroid_id AND p.query_id <> a.vec_id)
       |SELECT query_id, neighbor_id, score, rank FROM (
       |  SELECT *, row_number() OVER (PARTITION BY query_id
       |    ORDER BY score DESC, neighbor_id) AS rank FROM scored)
       |WHERE rank <= $topk""".stripMargin
  }

  /**
   * DuckDB mirror of [[graft.ops.Similarity.pqCodebookTrained]] +
   * [[graft.ops.Similarity.pqEncode]]/[[graft.ops.Similarity.pqReconstruct]]
   * — CTE fragment (no WITH prefix) ending at `pqrecon(vec_id, rv)`.
   * Per subspace `s`: seed codebook from the every-`pqModulus`-th sample's
   * slice, `iters` Lloyd iterations on the slice (double AVG → float32,
   * the same rounding device as [[kmeansCtes]]), final code assignment
   * (tie → lowest code), reconstruction = the coded centroid subvector;
   * `pqrecon` concatenates the m subspaces in order via an m-way join.
   */
  private def pqTrainedCtes(m: Int, subDim: Int, pqC: Int, iters: Int,
      pqModulus: Int, sampledTraining: Boolean = false): String = {
    // ≡ Similarity.l2Score: argmax(dot(v,c) − ½‖c‖²) = argmin ‖v−c‖²,
    // float32 dots cast to DOUBLE, double arithmetic — bit-identical to
    // the Spark kernel path (0.5e0 forces a DOUBLE literal, not DECIMAL)
    def l2score(v: String, c: String) =
      s"(CAST(list_dot_product($v, $c) AS DOUBLE) - 0.5e0 * CAST(list_dot_product($c, $c) AS DOUBLE))"
    // the subspace index rides as DATA (`pss`), not as m unrolled CTE
    // blocks — the per-subspace form was O(m·iters) CTEs and took DuckDB
    // minutes to even plan at m=32; this shape is a constant ~10 CTEs
    // training reads `ptrain` (the keyHash sample) when sampled; the final
    // encode in pqrecon always reads the full `psub`
    val trainSrc = if (sampledTraining) "ptrain" else "psub"
    val trainCte =
      if (sampledTraining)
        s"ptrain AS (SELECT * FROM psub WHERE ${trainGateSql("vec_id")}),\n"
      else ""
    val iterCtes = (1 to iters).map { i =>
      s"""pqa$i AS (
         |  SELECT s, vec_id, sv, j FROM (
         |    SELECT t.s, t.vec_id, t.sv, c.j,
         |      row_number() OVER (PARTITION BY t.s, t.vec_id
         |        ORDER BY ${l2score("t.sv", "c.cs")} DESC, c.j) AS rn
         |    FROM $trainSrc t JOIN pq${i - 1} c ON c.s = t.s) WHERE rn = 1),
         |pqm$i AS (
         |  SELECT a.s, a.j, d.d, CAST(avg(a.sv[d.d]) AS FLOAT) AS m
         |  FROM pqa$i a CROSS JOIN sdims d GROUP BY 1, 2, 3),
         |pq$i AS (
         |  SELECT s, j, list(m ORDER BY d) AS cs FROM pqm$i GROUP BY 1, 2
         |  UNION ALL
         |  SELECT c.s, c.j, c.cs FROM pq${i - 1} c
         |  WHERE NOT EXISTS (SELECT 1 FROM pqm$i x WHERE x.s = c.s AND x.j = c.j))""".stripMargin
    }.mkString(",\n")
    val seedGate = if (sampledTraining) s" AND ${trainGateSql("vec_id")}" else ""
    s"""sdims AS (SELECT unnest(range(1, ${subDim + 1})) AS d),
       |pss AS (SELECT unnest(range(0, $m)) AS s),
       |psub AS (
       |  SELECT e.vec_id, p.s, e.embedding[p.s*$subDim+1 : (p.s+1)*$subDim] AS sv
       |  FROM embeddings e CROSS JOIN pss p),
       |${trainCte}pq0 AS (
       |  SELECT p.s, row_number() OVER (PARTITION BY p.s ORDER BY t.vec_id) - 1 AS j,
       |    t.embedding[p.s*$subDim+1 : (p.s+1)*$subDim] AS cs
       |  FROM (SELECT vec_id, embedding FROM embeddings
       |        WHERE vec_id % $pqModulus = 0$seedGate ORDER BY vec_id LIMIT $pqC) t
       |  CROSS JOIN pss p),
       |$iterCtes,
       |pqrecon AS (
       |  SELECT vec_id, flatten(list(cs ORDER BY s)) AS rv FROM (
       |    SELECT enc.s, enc.vec_id, c.cs FROM (
       |      SELECT s, vec_id, j AS code FROM (
       |        SELECT t.s, t.vec_id, c.j,
       |          row_number() OVER (PARTITION BY t.s, t.vec_id
       |            ORDER BY ${l2score("t.sv", "c.cs")} DESC, c.j) AS rn
       |        FROM psub t JOIN pq$iters c ON c.s = t.s) WHERE rn = 1) enc
       |    JOIN pq$iters c ON c.s = enc.s AND c.j = enc.code)
       |  GROUP BY vec_id)""".stripMargin
  }

  /** ≡ [[graft.ops.Similarity.ivfpqTopKWith]] with trained IVF centroids
    * ([[kmeansCtes]]) and trained PQ codebooks ([[pqTrainedCtes]]):
    * nprobe-cell routing, asymmetric PQ scoring, per-query top-k. */
  private def ivfpqSql(k: Int, modulus: Int, iters: Int, m: Int, subDim: Int,
      pqC: Int, pqModulus: Int, queryMod: Int, nprobe: Int, topk: Int,
      sampledTraining: Boolean = false): String =
    s"""${ivfpqCandCtes(k, modulus, iters, m, subDim, pqC, pqModulus, queryMod,
          nprobe, sampledTraining)}
       |SELECT query_id, neighbor_id, score, rank FROM (
       |  SELECT query_id, neighbor_id, score, row_number() OVER (PARTITION BY query_id
       |    ORDER BY score DESC, neighbor_id) AS rank FROM cand)
       |WHERE rank <= $topk""".stripMargin

  /** ≡ [[graft.ops.Similarity.ivfpqCandidatesWith]]: the candidate stream
    * with its probe rank kept (`cand(query_id, pr, neighbor_id, score)`),
    * so one trained-route-encode-score chain serves every nprobe ≤
    * `nprobeMax` by filtering `pr` — shared by [[ivfpqSql]] and the
    * recall-curve mirror. Starts with WITH. */
  private def ivfpqCandCtes(k: Int, modulus: Int, iters: Int, m: Int, subDim: Int,
      pqC: Int, pqModulus: Int, queryMod: Int, nprobeMax: Int,
      sampledTraining: Boolean = false): String =
    s"""${kmeansCtes(k, modulus, iters, sampledTraining)},
       |${pqTrainedCtes(m, subDim, pqC, iters, pqModulus, sampledTraining)},
       |probes AS (
       |  SELECT query_id, qv, centroid_id, pr FROM (
       |    SELECT q.vec_id AS query_id, q.embedding AS qv, c.centroid_id,
       |      row_number() OVER (PARTITION BY q.vec_id
       |        ORDER BY list_dot_product(q.embedding, c.cv) DESC, c.centroid_id) AS pr
       |    FROM embeddings q CROSS JOIN c$iters c WHERE q.vec_id % $queryMod = 0)
       |  WHERE pr <= $nprobeMax),
       |cand AS (
       |  SELECT p.query_id, p.pr, a.vec_id AS neighbor_id,
       |    list_dot_product(p.qv, r.rv) AS score
       |  FROM probes p JOIN af a
       |    ON p.centroid_id = a.centroid_id AND p.query_id <> a.vec_id
       |  JOIN pqrecon r ON r.vec_id = a.vec_id)""".stripMargin

  /** Within-cluster cosine pair CTE over the trained-codebook assignment —
    * ≡ [[graft.ops.Dedup.semanticNearDups]] with the same (k, modulus,
    * iters): cluster-size prune, a.id < b.id pair join, float32 cosine. */
  private def semanticPairsCtes(k: Int, modulus: Int, iters: Int,
      threshold: Double, maxCluster: Int): String =
    s"""${kmeansCtes(k, modulus, iters)},
       |csz AS (SELECT centroid_id, count(*) AS n FROM af GROUP BY 1),
       |pairs AS (
       |  SELECT id1, id2, score FROM (
       |    SELECT a.vec_id AS id1, b.vec_id AS id2,
       |      ${LshOracleSql.cosExpr("a.embedding", "b.embedding")} AS score
       |    FROM af a JOIN af b ON a.centroid_id = b.centroid_id AND a.vec_id < b.vec_id
       |    JOIN csz s ON a.centroid_id = s.centroid_id WHERE s.n <= $maxCluster)
       |  WHERE score >= $threshold)""".stripMargin

  private def semanticPairsSql(k: Int, modulus: Int, iters: Int,
      threshold: Double, maxCluster: Int): String =
    semanticPairsCtes(k, modulus, iters, threshold, maxCluster) +
      "\nSELECT id1, id2, score FROM pairs"

  private def semanticSurvivorsSql(k: Int, modulus: Int, iters: Int,
      threshold: Double, maxCluster: Int): String =
    semanticPairsCtes(k, modulus, iters, threshold, maxCluster) +
      """
        |SELECT e.vec_id, e.label FROM embeddings e
        |WHERE NOT EXISTS (SELECT 1 FROM pairs p WHERE p.id2 = e.vec_id)""".stripMargin

  // referenced from `all` above — keep a def (a val here would still be
  // uninitialized when `all` runs, object init is declaration-ordered)
  private def streamSessionizeSql =
      """WITH e AS (
        |  SELECT user_id, event_id, value, epoch_ms(ts) AS ms,
        |    lag(epoch_ms(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
        |  FROM events),
        |flagged AS (
        |  SELECT *, CASE WHEN prev IS NULL OR ms - prev > 600000 THEN 1 ELSE 0 END AS new_session
        |  FROM e),
        |numbered AS (
        |  SELECT *, CAST(SUM(new_session) OVER (PARTITION BY user_id ORDER BY ms, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_seq
        |  FROM flagged)
        |SELECT user_id, session_seq, min(ms) AS session_start, max(ms) AS session_end,
        |  count(*) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM numbered GROUP BY 1, 2""".stripMargin
}

/**
 * DuckDB mirror of the splitmix64 sign-LSH kernel
 * ([[graft.functions.VecOps.lshBucketF]]): 64-bit wraparound arithmetic via
 * HUGEINT mod-2^64, the multiply split into 32-bit halves so no
 * intermediate exceeds INT128, and each mixer stage bound once through a
 * single-element list comprehension (a SQL "let") so the expression stays
 * linear in size instead of exponentially duplicated.
 */
object LshOracleSql {
  import DuckHashSql.mix64

  /** ±1f sign list for plane `p` over the embedding's dims (float32, so
    * list_dot_product accumulates bit-identically to the JVM kernel). */
  private def signs(p: Int): String = {
    val base = p.toLong * 0x100000001BL
    val m = mix64(s"CAST($base AS HUGEINT) + i", s"p$p")
    s"[CASE WHEN ($m) % 2 = 0 THEN CAST(1.0 AS FLOAT) ELSE CAST(-1.0 AS FLOAT) END " +
      s"FOR i IN range(0, len(embedding))]"
  }

  /** `(bucketTerms)` expression ≡ VecOps.lshBucketF over `embedding`. */
  private def bucketExpr(h: Int): String =
    (0 until h).map(p =>
      s"(CASE WHEN list_dot_product(embedding, ${signs(p)}) >= 0 THEN ${1L << p} ELSE 0 END)")
      .mkString("(", " + ", ")")

  /** Shared CTE prefix: bucket index + bucket sizes (for the cap), with a
    * caller-chosen bucket expression and optional leading CTEs. */
  private def idxCteWith(bucketSql: String, extraCtes: String = ""): String =
    s"""WITH ${extraCtes}idx AS (
       |  SELECT vec_id, embedding, $bucketSql AS bucket
       |  FROM embeddings),
       |bsz AS (SELECT bucket, count(*) AS n FROM idx GROUP BY 1)""".stripMargin

  private def idxCte(h: Int): String = idxCteWith(bucketExpr(h))

  /**
   * h derived IN-SQL from the corpus count — the exact mirror of
   * [[graft.ops.Similarity.recommendedH]] (`ceil(ln(n/target)/ln 2)`,
   * floored at 1). The bucket is computed with `hMax` sign planes and
   * masked down to the derived h's low bits: plane p's bit is independent
   * of h, so `bucket_h = bucket_hMax & (2^h - 1)` — which keeps the SQL
   * static while the effective h tracks the data size, exactly like the
   * Spark side's runtime `recommendedH(corpus.count())`.
   */
  private def idxCteAuto(hMax: Int, targetBucket: Int): String =
    idxCteWith(
      s"(${bucketExpr(hMax)} & ((1 << (SELECT h FROM hh)) - 1))",
      s"hh AS (SELECT greatest(1, CAST(ceil(ln(count(*) / ${targetBucket}.0) / ln(2)) AS INT)) AS h FROM embeddings),\n")

  private def topkBody(k: Int, maxBucket: Int): String =
    s""",
       |scored AS (
       |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
       |    list_dot_product(a.embedding, b.embedding) AS score
       |  FROM idx a JOIN idx b ON a.bucket = b.bucket AND a.vec_id <> b.vec_id
       |  JOIN bsz s ON a.bucket = s.bucket WHERE s.n <= $maxBucket)
       |SELECT query_id, neighbor_id, score, rank FROM (
       |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rank
       |  FROM scored)
       |WHERE rank <= $k""".stripMargin

  def topkSql(h: Int, k: Int, maxBucket: Int): String =
    idxCte(h) + topkBody(k, maxBucket)

  /** [[topkSql]] with h auto-derived from the corpus count. */
  def topkSqlAuto(hMax: Int, targetBucket: Int, k: Int, maxBucket: Int): String =
    idxCteAuto(hMax, targetBucket) + topkBody(k, maxBucket)

  /** Multi-probe body ≡ [[graft.ops.Similarity.lshTopKMultiProbe]]:
    * each vector probes its own bucket (j = -1) and the h buckets with
    * one sign bit flipped; the cap applies to the NEIGHBOR's bucket.
    * Requires the `hh` CTE, so auto-h only. */
  private def multiProbeTopkBody(k: Int, maxBucket: Int): String =
    s""",
       |pj AS (SELECT unnest(range(-1, (SELECT h FROM hh))) AS j),
       |probe AS (
       |  SELECT vec_id, embedding,
       |    CASE WHEN j = -1 THEN bucket
       |         ELSE xor(bucket, (CAST(1 AS BIGINT) << CAST(j AS INT))) END AS pbucket
       |  FROM idx CROSS JOIN pj),
       |scored AS (
       |  SELECT p.vec_id AS query_id, b.vec_id AS neighbor_id,
       |    list_dot_product(p.embedding, b.embedding) AS score
       |  FROM probe p JOIN idx b ON p.pbucket = b.bucket AND p.vec_id <> b.vec_id
       |  JOIN bsz s ON b.bucket = s.bucket WHERE s.n <= $maxBucket)
       |SELECT query_id, neighbor_id, score, rank FROM (
       |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rank
       |  FROM scored)
       |WHERE rank <= $k""".stripMargin

  /** [[multiProbeTopkBody]] with h auto-derived from the corpus count. */
  def multiProbeTopkSqlAuto(hMax: Int, targetBucket: Int, k: Int, maxBucket: Int): String =
    idxCteAuto(hMax, targetBucket) + multiProbeTopkBody(k, maxBucket)

  private def nearDupBody(threshold: Double, maxBucket: Int): String =
    s"""
       |SELECT a.vec_id AS id1, b.vec_id AS id2,
       |  list_dot_product(a.embedding, b.embedding) AS score
       |FROM idx a JOIN idx b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
       |JOIN bsz s ON a.bucket = s.bucket
       |WHERE s.n <= $maxBucket
       |  AND list_dot_product(a.embedding, b.embedding) >= $threshold""".stripMargin

  /** Bucket-candidate near-dup pairs verified with exact float dot —
    * ≡ Dedup.embeddingNearDupsLsh. */
  def nearDupSql(h: Int, threshold: Double, maxBucket: Int): String =
    idxCte(h) + nearDupBody(threshold, maxBucket)

  /** [[nearDupSql]] with h auto-derived from the corpus count. */
  def nearDupSqlAuto(hMax: Int, targetBucket: Int, threshold: Double, maxBucket: Int): String =
    idxCteAuto(hMax, targetBucket) + nearDupBody(threshold, maxBucket)

  /** float32 cosine ≡ VecOps.cosineF, bit-for-bit: float dot + norms as
    * double-sqrt-rounded-to-float + float multiply/divide (validated
    * bit-exact against the JVM kernel on random vectors). */
  private[demo] def cosExpr(x: String, y: String): String = {
    def norm(v: String) =
      s"CAST(sqrt(CAST(list_dot_product($v, $v) AS DOUBLE)) AS FLOAT)"
    s"""CASE WHEN ${norm(x)} = 0 OR ${norm(y)} = 0 THEN CAST(0 AS FLOAT)
       |     ELSE list_dot_product($x, $y) / (${norm(x)} * ${norm(y)}) END""".stripMargin
  }

  private def nearDupCosineBody(threshold: Double, maxBucket: Int): String =
    s"""
       |SELECT id1, id2, score FROM (
       |  SELECT a.vec_id AS id1, b.vec_id AS id2,
       |    ${cosExpr("a.embedding", "b.embedding")} AS score
       |  FROM idx a JOIN idx b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
       |  JOIN bsz s ON a.bucket = s.bucket
       |  WHERE s.n <= $maxBucket)
       |WHERE score >= $threshold""".stripMargin

  /** Cosine variant of [[nearDupSql]] ≡ embeddingNearDupsLsh(cosine=true)
    * — the right threshold semantics for UN-normalized embeddings. */
  def nearDupCosineSql(h: Int, threshold: Double, maxBucket: Int): String =
    idxCte(h) + nearDupCosineBody(threshold, maxBucket)

  /** [[nearDupCosineSql]] with h auto-derived from the corpus count. */
  def nearDupCosineSqlAuto(hMax: Int, targetBucket: Int, threshold: Double, maxBucket: Int): String =
    idxCteAuto(hMax, targetBucket) + nearDupCosineBody(threshold, maxBucket)

  /** ≡ Dedup.embeddingIncrementalNearDups(cosine = true) with the seen
    * corpus = even vec_ids and the new batch = odd vec_ids: probe the
    * batch's buckets against the seen index only, cap on the SEEN
    * bucket size. */
  def incrementalCosineSql(h: Int, threshold: Double, maxBucket: Int): String =
    idxCte(h) +
      s""",
         |seenb AS (SELECT bucket, count(*) AS n FROM idx WHERE vec_id % 2 = 0 GROUP BY 1),
         |scored AS (
         |  SELECT p.vec_id AS new_id, s.vec_id AS seen_id,
         |    ${cosExpr("p.embedding", "s.embedding")} AS score
         |  FROM idx p JOIN idx s ON p.bucket = s.bucket
         |  JOIN seenb sb ON s.bucket = sb.bucket
         |  WHERE p.vec_id % 2 = 1 AND s.vec_id % 2 = 0 AND sb.n <= $maxBucket)
         |SELECT new_id, seen_id, score FROM scored WHERE score >= $threshold""".stripMargin
}

/**
 * Shared DuckDB HUGEINT mod-2^64 primitives for mirroring JVM 64-bit
 * wraparound hash kernels: the multiply splits into 32-bit halves so no
 * intermediate exceeds INT128, and each mixer stage binds once through a
 * single-element list comprehension (a SQL "let") so the generated
 * expression stays linear in size.
 */
object DuckHashSql {

  val P = "18446744073709551616" // 2^64

  def wrap(e: String): String = s"(($e) % $P)"
  def bxor(a: String, b: String): String = s"xor(($a), ($b))"
  def shr(e: String, k: Int): String = s"(($e) >> $k)"

  /** (a*c) mod 2^64 with a < 2^64: split a into 32-bit halves so the
    * products fit in INT128. */
  def mulmod(a: String, c: String): String = {
    val al = s"(($a) % 4294967296)"
    val ah = s"(($a) // 4294967296)"
    wrap(s"$al * $c + ((($ah * $c) % 4294967296) * 4294967296)")
  }

  /** splitmix64 finalizer over HUGEINT, ≡ VecOps.mix64. `tag` uniquifies
    * the let-bound variable names per instantiation. */
  def mix64(z0: String, tag: String): String = {
    val (v1, v2, v3) = (s"__m${tag}a", s"__m${tag}b", s"__m${tag}c")
    val s1 = wrap(s"($z0) + 11400714819323198485")          // 0x9E3779B97F4A7C15
    val s2 = mulmod(bxor(v1, shr(v1, 30)), "13787848793156543929") // 0xBF58476D1CE4E5B9
    val s3 = mulmod(bxor(v2, shr(v2, 27)), "10723151780598845931") // 0x94D049BB133111EB
    val s4 = bxor(v3, shr(v3, 31))
    s"[[[ $s4 FOR $v3 IN [$s3]][1] FOR $v2 IN [$s2]][1] FOR $v1 IN [$s1]][1]"
  }
}

/**
 * DuckDB mirrors of the md5-portable sketch kernels ([[graft.ops.Dedup]],
 * [[graft.functions.TextOps]]): MinHash slot hashes are
 * splitmix64(md5_64(shingle) + slot) >> 4 (one digest per shingle, 60-bit
 * non-negative values; mixer mirrored via [[DuckHashSql.mix64]]), band
 * hashes the first 15 hex digits of an md5, SimHash per-token hashes the
 * first 16 (full unsigned 64-bit, rebuilt through HUGEINT with an
 * explicit sign fixup). Tokenization,
 * shingling, banding, the bucket-size caps and the verification stages are
 * all mirrored, so CORRECTNESS value-checks the entire sketch paths.
 */
object SketchOracleSql {

  /** `src` lets pipeline compositions run the whole chain over a prior
    * CTE (e.g. exact-dedup survivors) instead of the raw table. */
  private def tokensCte(src: String = "documents"): String =
    raw"""tt AS (
         |  SELECT doc_id AS doc, CASE WHEN length(trim(text)) = 0 THEN []
         |                             ELSE string_split_regex(trim(lower(text)), '\s+') END AS t
         |  FROM $src)""".stripMargin

  /** ≡ Dedup.minHashNearDups(shingleN = 3, k, bands, threshold, maxBucket)
    * with the Portable (md5) kernel. `src`/`extraCtes` let a caller run the
    * chain over a prior CTE (e.g. a deterministic slice) instead of the
    * whole documents table. */
  def minHashSql(k: Int, bands: Int, threshold: Double, maxBucket: Int,
      src: String = "documents", extraCtes: String = ""): String =
    s"WITH ${extraCtes}${minHashCtes(k, bands, maxBucket, src)}\n${minHashSelect(threshold)}"

  /** Sketch-fidelity harness: per LSH candidate pair, the slot-agreement
    * ESTIMATE of Jaccard next to the exact value (both in milli) and the
    * absolute error — how trustworthy the k-slot sketch is on THIS
    * corpus. Zero-overlap candidates (band-hash collisions) keep
    * exact = 0 via the left join. */
  def minHashFidelitySql(k: Int, bands: Int, maxBucket: Int): String =
    s"""WITH ${minHashCtes(k, bands, maxBucket)},
       |est AS (SELECT c.doc1, c.doc2,
       |    (len(list_filter(range(1, $k + 1), i -> a.hs[i] = b.hs[i])) * 1000) // $k AS est_milli
       |  FROM cands c JOIN sig a ON a.doc = c.doc1 JOIN sig b ON b.doc = c.doc2),
       |ex AS (SELECT e.doc1, e.doc2, e.est_milli,
       |    (COALESCE(cm.n_common, 0) * 1000)
       |      // (s1.set_size + s2.set_size - COALESCE(cm.n_common, 0)) AS exact_milli
       |  FROM est e
       |  LEFT JOIN common cm ON cm.doc1 = e.doc1 AND cm.doc2 = e.doc2
       |  JOIN sizes s1 ON s1.doc = e.doc1 JOIN sizes s2 ON s2.doc = e.doc2)
       |SELECT doc1, doc2, CAST(est_milli AS BIGINT) AS est_milli,
       |  CAST(exact_milli AS BIGINT) AS exact_milli,
       |  CAST(abs(est_milli - exact_milli) AS BIGINT) AS err_milli
       |FROM ex""".stripMargin

  /** ≡ Dedup.dedupByComponents over minHashNearDups pairs: survivors =
    * documents minus non-canonical members of each transitive near-dup
    * cluster (recursive-CTE closure over the mirrored pair SQL). */
  def minHashSurvivorsSql(k: Int, bands: Int, threshold: Double, maxBucket: Int): String =
    s"""WITH RECURSIVE ${minHashCtes(k, bands, maxBucket)},
       |pairs AS (
       |${minHashSelect(threshold)}),
       |e2 AS (SELECT doc1 AS a, doc2 AS b FROM pairs UNION SELECT doc2, doc1 FROM pairs),
       |reach(a, b) AS (
       |  SELECT a, b FROM e2
       |  UNION
       |  SELECT r.a, e.b FROM reach r JOIN e2 e ON r.b = e.a),
       |losers AS (
       |  SELECT a AS node FROM reach GROUP BY a HAVING a <> least(a, min(b)))
       |SELECT doc_id FROM documents
       |WHERE NOT EXISTS (SELECT 1 FROM losers l WHERE l.node = doc_id)""".stripMargin

  private def minHashSelect(threshold: Double): String =
    s"""SELECT doc1, doc2,
       |  CAST(n_common AS DOUBLE) / CAST(s1.set_size + s2.set_size - n_common AS DOUBLE) AS jaccard
       |FROM common JOIN sizes s1 ON doc1 = s1.doc JOIN sizes s2 ON doc2 = s2.doc
       |WHERE CAST(n_common AS DOUBLE) / CAST(s1.set_size + s2.set_size - n_common AS DOUBLE) >= $threshold""".stripMargin

  /** tokens → distinct 3-shingles → k md5/mix64 min-slots → signature
    * list CTE chain (ends at `sig(doc, hs)`), shared by the batch and
    * incremental mirrors. */
  private def sigCtes(k: Int, src: String = "documents"): String =
    s"""${tokensCte(src)},
       |d AS (SELECT doc, list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2]
       |                                 FOR i IN range(1, len(t) - 1)]) AS sh FROM tt),
       |sh AS (SELECT doc, unnest(sh) AS shingle FROM d),
       |bs AS (SELECT doc, CAST(CAST(('0x' || substr(md5(shingle), 1, 16)) AS UBIGINT) AS HUGEINT) AS b FROM sh),
       |slot AS (
       |  SELECT doc, i AS slot,
       |    min(CAST((${DuckHashSql.mix64("b + i", "sl")} // 16) AS BIGINT)) AS h
       |  FROM bs CROSS JOIN range(0, $k) r(i) GROUP BY doc, i),
       |sig AS (SELECT doc, list(h ORDER BY slot) AS hs FROM slot GROUP BY doc)""".stripMargin

  /** The `bands` band-hash branches (md5 of the comma-joined band slots
    * ≡ SketchHash.Portable.band) over a signature CTE named `src`. */
  private def bandBranches(src: String, k: Int, bands: Int): String = {
    val rows = k / bands
    (0 until bands).map { b =>
      val bandStr = (0 until rows)
        .map(i => s"CAST(hs[${b * rows + i + 1}] AS VARCHAR)")
        .mkString(" || ',' || ")
      s"SELECT doc, $b AS band, CAST(('0x' || substr(md5($bandStr), 1, 15)) AS BIGINT) AS band_hash FROM $src"
    }.mkString("\nUNION ALL\n")
  }

  private def minHashCtes(k: Int, bands: Int, maxBucket: Int,
      src: String = "documents"): String = {
    require(k % bands == 0)
    s"""${sigCtes(k, src)},
       |banded AS (
       |${bandBranches("sig", k, bands)}),
       |bsz AS (SELECT band, band_hash, count(*) AS n FROM banded GROUP BY 1, 2),
       |cands AS (
       |  SELECT DISTINCT a.doc AS doc1, c.doc AS doc2
       |  FROM banded a
       |  JOIN banded c ON a.band = c.band AND a.band_hash = c.band_hash AND a.doc < c.doc
       |  JOIN bsz s ON a.band = s.band AND a.band_hash = s.band_hash
       |  WHERE s.n > 1 AND s.n <= $maxBucket),
       |common AS (
       |  SELECT doc1, doc2, count(*) AS n_common
       |  FROM cands JOIN sh s1 ON s1.doc = doc1 JOIN sh s2 ON s2.doc = doc2 AND s2.shingle = s1.shingle
       |  GROUP BY 1, 2),
       |sizes AS (SELECT doc, count(*) AS set_size FROM sh GROUP BY 1)""".stripMargin
  }

  /** ≡ Dedup.minHashIncremental with the `doc_id % 3` seen/new split
    * used by dedup_incremental: sign everything once, band each side,
    * candidate = new×seen band-bucket mates (cap on the SEEN side),
    * verify by slot-agreement ratio on the signatures alone. */
  def minHashIncrementalSql(k: Int, bands: Int, minAgreement: Double,
      maxBucket: Int): String = {
    require(k % bands == 0)
    s"""WITH ${sigCtes(k)},
       |sigN AS (SELECT * FROM sig WHERE doc % 3 <> 0),
       |sigS AS (SELECT * FROM sig WHERE doc % 3 = 0),
       |bandedN AS (
       |${bandBranches("sigN", k, bands)}),
       |bandedS AS (
       |${bandBranches("sigS", k, bands)}),
       |bszS AS (SELECT band, band_hash, count(*) AS n FROM bandedS GROUP BY 1, 2),
       |cands AS (
       |  SELECT DISTINCT n.doc AS new_doc, s.doc AS seen_doc
       |  FROM bandedN n
       |  JOIN bandedS s ON n.band = s.band AND n.band_hash = s.band_hash
       |  JOIN bszS z ON s.band = z.band AND s.band_hash = z.band_hash
       |  WHERE z.n <= $maxBucket),
       |agr AS (
       |  SELECT c.new_doc, c.seen_doc,
       |    CAST(len(list_filter(range(1, $k + 1), i -> a.hs[i] = b.hs[i])) AS DOUBLE)
       |      / $k AS slot_agreement
       |  FROM cands c JOIN sig a ON a.doc = c.new_doc JOIN sig b ON b.doc = c.seen_doc)
       |SELECT new_doc, seen_doc, slot_agreement FROM agr
       |WHERE slot_agreement >= $minAgreement""".stripMargin
  }

  /** ≡ [[graft.ops.IngestGate.gateBatch]] with batch = doc_id % 3 ≠ 0
    * against an index of doc_id % 3 = 0: per batch doc the count of
    * index matches (banded candidates at ≥ minAgreement slot agreement,
    * seen-side bucket cap), the count of SMALLER-ID in-batch matches
    * (same probe of the batch against itself), and the admission bit
    * (both counts zero). */
  def gateDecisionsSql(k: Int, bands: Int, minAgreement: Double,
      maxBucket: Int): String = {
    require(k % bands == 0)
    def agr(cands: String) =
      s"""SELECT c.new_doc, c.seen_doc,
         |    CAST(len(list_filter(range(1, $k + 1), i -> a.hs[i] = b.hs[i])) AS DOUBLE)
         |      / $k AS slot_agreement
         |  FROM $cands c JOIN sig a ON a.doc = c.new_doc JOIN sig b ON b.doc = c.seen_doc""".stripMargin
    s"""WITH ${sigCtes(k)},
       |sigN AS (SELECT * FROM sig WHERE doc % 3 <> 0),
       |sigS AS (SELECT * FROM sig WHERE doc % 3 = 0),
       |bandedN AS (
       |${bandBranches("sigN", k, bands)}),
       |bandedS AS (
       |${bandBranches("sigS", k, bands)}),
       |bszS AS (SELECT band, band_hash, count(*) AS n FROM bandedS GROUP BY 1, 2),
       |candsX AS (
       |  SELECT DISTINCT n.doc AS new_doc, s.doc AS seen_doc
       |  FROM bandedN n
       |  JOIN bandedS s ON n.band = s.band AND n.band_hash = s.band_hash
       |  JOIN bszS z ON s.band = z.band AND s.band_hash = z.band_hash
       |  WHERE z.n <= $maxBucket),
       |crossN AS (
       |  SELECT new_doc, count(*) AS n FROM (${agr("candsX")})
       |  WHERE slot_agreement >= $minAgreement GROUP BY 1),
       |bszN AS (SELECT band, band_hash, count(*) AS n FROM bandedN GROUP BY 1, 2),
       |candsB AS (
       |  SELECT DISTINCT n.doc AS new_doc, s.doc AS seen_doc
       |  FROM bandedN n
       |  JOIN bandedN s ON n.band = s.band AND n.band_hash = s.band_hash
       |  JOIN bszN z ON s.band = z.band AND s.band_hash = z.band_hash
       |  WHERE z.n <= $maxBucket),
       |batchN AS (
       |  SELECT new_doc, count(*) AS n FROM (${agr("candsB")})
       |  WHERE slot_agreement >= $minAgreement AND seen_doc < new_doc GROUP BY 1)
       |SELECT d.doc_id,
       |  CAST(coalesce(x.n, 0) AS BIGINT) AS n_index_matches,
       |  CAST(coalesce(b.n, 0) AS BIGINT) AS n_batch_matches,
       |  CAST(CASE WHEN coalesce(x.n, 0) = 0 AND coalesce(b.n, 0) = 0
       |    THEN 1 ELSE 0 END AS BIGINT) AS admitted
       |FROM documents d
       |LEFT JOIN crossN x ON x.new_doc = d.doc_id
       |LEFT JOIN batchN b ON b.new_doc = d.doc_id
       |WHERE d.doc_id % 3 <> 0""".stripMargin
  }

  /** CTE chain ending at `lab(doc_id, label)`: every document labeled by
    * its MinHash near-dup component (minimum reachable doc id via the
    * recursive closure); documents in no pair keep their own id. The
    * building block for leakage-free splits — append a hash-band CASE
    * over `label`. */
  def minHashComponentLabelsCte(k: Int, bands: Int, threshold: Double,
      maxBucket: Int, src: String = "documents", extraCtes: String = ""): String =
    s"""WITH RECURSIVE ${extraCtes}${minHashCtes(k, bands, maxBucket, src)},
       |pairs AS (
       |${minHashSelect(threshold)}),
       |e2 AS (SELECT doc1 AS a, doc2 AS b FROM pairs UNION SELECT doc2, doc1 FROM pairs),
       |reach(a, b) AS (
       |  SELECT a, b FROM e2
       |  UNION
       |  SELECT r.a, e.b FROM reach r JOIN e2 e ON r.b = e.a),
       |comp AS (SELECT a AS doc, least(a, min(b)) AS label FROM reach GROUP BY a),
       |lab AS (SELECT d.doc_id, COALESCE(c.label, d.doc_id) AS label
       |        FROM $src d LEFT JOIN comp c ON c.doc = d.doc_id)""".stripMargin

  /** ≡ Dedup.simHashNearDups(maxHamming, maxBucket) with md5 token
    * hashes. A doc with no tokens has signature 0 (the LEFT JOIN +
    * COALESCE — it still chunk-buckets with other blank docs). */
  def simHashSql(maxHamming: Int, maxBucket: Int): String =
    s"WITH ${simHashCtes(maxHamming, maxBucket)}\n${simHashSelect(maxHamming, maxBucket)}"

  /** ≡ Dedup.connectedComponents over simHashNearDups pairs: the
    * transitive closure of the near-dup graph via a recursive CTE,
    * component label = min reachable node. */
  def simHashComponentsSql(maxHamming: Int, maxBucket: Int): String =
    s"""WITH RECURSIVE ${simHashCtes(maxHamming, maxBucket)},
       |pairs AS (
       |${simHashSelect(maxHamming, maxBucket)}),
       |edges AS (SELECT doc1 AS a, doc2 AS b FROM pairs UNION SELECT doc2, doc1 FROM pairs),
       |reach(a, b) AS (
       |  SELECT a, b FROM edges
       |  UNION
       |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a)
       |SELECT a AS node, least(a, min(b)) AS component FROM reach GROUP BY a""".stripMargin

  /** Cluster-size distribution over the simhash near-dup components:
    * (cluster_size, n_clusters) for every multi-doc cluster, plus the
    * singleton row (docs in no pair). */
  def simHashComponentSizesSql(maxHamming: Int, maxBucket: Int): String =
    s"""WITH RECURSIVE ${simHashCtes(maxHamming, maxBucket)},
       |pairs AS (
       |${simHashSelect(maxHamming, maxBucket)}),
       |edges AS (SELECT doc1 AS a, doc2 AS b FROM pairs UNION SELECT doc2, doc1 FROM pairs),
       |reach(a, b) AS (
       |  SELECT a, b FROM edges
       |  UNION
       |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
       |comp AS (SELECT a AS node, least(a, min(b)) AS component FROM reach GROUP BY a),
       |cs AS (SELECT component, count(*) AS sz FROM comp GROUP BY 1),
       |dist AS (SELECT sz, count(*) AS n_clusters FROM cs GROUP BY 1),
       |tot AS (SELECT count(*) AS n_docs FROM documents),
       |cl AS (SELECT count(*) AS n_clustered FROM comp)
       |SELECT CAST(sz AS BIGINT) AS cluster_size,
       |  CAST(n_clusters AS BIGINT) AS n_clusters FROM dist
       |UNION ALL
       |SELECT 1, CAST(t.n_docs - c.n_clustered AS BIGINT)
       |FROM tot t CROSS JOIN cl c""".stripMargin

  /** ≡ Graph.propagateLabels over the simhash component graph with
    * lang seeds on doc_id % `seedMod` = 0: majority vote per component
    * (count desc, label asc), singletons label themselves iff seeded. */
  def simHashLabelPropagationSql(maxHamming: Int, maxBucket: Int, seedMod: Int): String =
    s"""WITH RECURSIVE ${simHashCtes(maxHamming, maxBucket)},
       |pairs AS (
       |${simHashSelect(maxHamming, maxBucket)}),
       |edges AS (SELECT doc1 AS a, doc2 AS b FROM pairs UNION SELECT doc2, doc1 FROM pairs),
       |reach(a, b) AS (
       |  SELECT a, b FROM edges
       |  UNION
       |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
       |lbls AS (SELECT a AS node, least(a, min(b)) AS component FROM reach GROUP BY a),
       |comp AS (SELECT d.doc_id AS node, COALESCE(l.component, d.doc_id) AS component
       |         FROM documents d LEFT JOIN lbls l ON l.node = d.doc_id),
       |seeds AS (SELECT doc_id AS node, lang AS lbl FROM documents
       |          WHERE doc_id % $seedMod = 0),
       |votes AS (SELECT c.component, s.lbl, count(*) AS v
       |          FROM comp c JOIN seeds s ON s.node = c.node GROUP BY 1, 2),
       |win AS (SELECT component, lbl AS label, v AS n_votes,
       |          row_number() OVER (PARTITION BY component ORDER BY v DESC, lbl) AS rk
       |        FROM votes)
       |SELECT c.node, c.component, w.label,
       |  CAST(COALESCE(w.n_votes, 0) AS BIGINT) AS n_votes
       |FROM comp c LEFT JOIN win w ON w.component = c.component AND w.rk = 1""".stripMargin

  /** [[graft.ops.Dedup.canonicalByQuality]] over the simhash pair set:
    * the components CTE chain plus the text_quality score formula and a
    * per-component argmax (score DESC, id ASC). */
  def simHashCanonicalSql(maxHamming: Int, maxBucket: Int): String =
    s"""WITH RECURSIVE ${simHashCtes(maxHamming, maxBucket)},
       |pairs AS (
       |${simHashSelect(maxHamming, maxBucket)}),
       |edges AS (SELECT doc1 AS a, doc2 AS b FROM pairs UNION SELECT doc2, doc1 FROM pairs),
       |reach(a, b) AS (
       |  SELECT a, b FROM edges
       |  UNION
       |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
       |labels AS (SELECT a AS node, least(a, min(b)) AS component FROM reach GROUP BY a),
       |qf AS (
       |  SELECT doc_id,
       |    CAST(length(text) AS DOUBLE) AS n,
       |    CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE) AS alpha,
       |    CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE) AS digits,
       |    CAST(length(regexp_replace(text, '[^.,;:!?''"()]', '', 'g')) AS DOUBLE) AS puncts,
       |    CASE WHEN length(trim(text)) = 0 THEN 0
       |         ELSE len(string_split_regex(trim(text), '\\s+')) END AS n_tokens
       |  FROM documents),
       |q AS (
       |  SELECT doc_id, greatest(0.0, least(1.0,
       |    0.5 * (CASE WHEN n = 0 THEN 0.0 ELSE alpha / n END)
       |    + 0.3 * least(CAST(n_tokens AS DOUBLE) / 20.0, 1.0)
       |    + 0.2 * (1.0 - (CASE WHEN n = 0 THEN 0.0 ELSE digits / n END)
       |                 - (CASE WHEN n = 0 THEN 0.0 ELSE puncts / n END)))) AS quality_score
       |  FROM qf),
       |m AS (SELECT l.component, l.node, q.quality_score
       |      FROM labels l JOIN q ON q.doc_id = l.node),
       |r AS (SELECT component, node AS rep_id, quality_score AS rep_score,
       |        count(*) OVER (PARTITION BY component) AS cluster_size,
       |        row_number() OVER (PARTITION BY component
       |          ORDER BY quality_score DESC, node) AS rn
       |      FROM m)
       |SELECT component, rep_id, rep_score, cluster_size FROM r WHERE rn = 1""".stripMargin

  private def simHashSelect(maxHamming: Int, maxBucket: Int): String =
    s"""SELECT DISTINCT a.doc AS doc1, b.doc AS doc2, bit_count(xor(a.sig, b.sig)) AS hamming
       |FROM chunked a
       |JOIN chunked b ON a.chunk = b.chunk AND a.chunk_val = b.chunk_val AND a.doc < b.doc
       |JOIN bsz s ON a.chunk = s.chunk AND a.chunk_val = s.chunk_val
       |WHERE s.n > 1 AND s.n <= $maxBucket AND bit_count(xor(a.sig, b.sig)) <= $maxHamming""".stripMargin

  private def simHashCtes(maxHamming: Int, maxBucket: Int): String =
    s"""${tokensCte()},
       |tok AS (SELECT doc, unnest(t) AS tok FROM tt),
       |th AS (SELECT doc, CAST(('0x' || substr(md5(tok), 1, 16)) AS UBIGINT) AS h FROM tok),
       |bits AS (
       |  SELECT doc, b,
       |    CASE WHEN sum(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) > 0
       |         THEN CAST(1 AS UBIGINT) ELSE CAST(0 AS UBIGINT) END AS bit
       |  FROM th CROSS JOIN range(0, 64) r(b) GROUP BY doc, b),
       |sigu AS (SELECT doc, sum(bit * (CAST(1 AS UBIGINT) << CAST(b AS INTEGER))) AS m FROM bits GROUP BY doc),
       |sig AS (
       |  SELECT tt.doc AS doc,
       |    CAST(COALESCE(m - CASE WHEN m >= CAST('9223372036854775808' AS HUGEINT)
       |                           THEN CAST('18446744073709551616' AS HUGEINT) ELSE 0 END, 0) AS BIGINT) AS sig
       |  FROM tt LEFT JOIN sigu ON tt.doc = sigu.doc),
       |chunked AS (
       |  SELECT doc, sig, c.chunk, (sig >> (c.chunk * 16)) & 65535 AS chunk_val
       |  FROM sig CROSS JOIN (VALUES (0),(1),(2),(3)) c(chunk)),
       |bsz AS (SELECT chunk, chunk_val, count(*) AS n FROM chunked GROUP BY 1, 2)""".stripMargin
}

/**
 * DuckDB mirrors of the STUB media decode ([[graft.ops.Multimodal]]): the
 * Java rolling hash (h = 31·h + signedByte over the first 64 utf-8 bytes,
 * 64-bit wraparound) is reproduced with HUGEINT mod-2^64 arithmetic;
 * DuckDB `>>` on BIGINT is an arithmetic shift, matching Java's `>>`.
 */
object MultimodalSql {

  private val P = "18446744073709551616" // 2^64

  /** CTE: (doc_id, text, ch) where ch == decodeStub's content_hash. */
  private val hashCte: String =
    s"""WITH b AS (
       |  SELECT doc_id, text,
       |    [CAST(CAST(('0x' || substr(hex(encode(text)), 2*i+1, 2)) AS BIGINT) AS HUGEINT)
       |     FOR i IN range(0, least(octet_length(encode(text)), 64))] AS bytes
       |  FROM documents
       |),
       |h AS (
       |  SELECT doc_id, text,
       |    CAST((m - CASE WHEN m >= 9223372036854775808 THEN $P ELSE 0 END) AS BIGINT) AS ch
       |  FROM (SELECT doc_id, text,
       |          list_reduce(
       |            list_prepend(CAST(1125899906842597 AS HUGEINT),
       |              [CASE WHEN x < 128 THEN x ELSE x - 256 END FOR x IN bytes]),
       |            (acc, x) -> ((31*acc + x) % $P + $P) % $P) AS m
       |        FROM b)
       |)""".stripMargin

  private val featuresBody: String =
    """SELECT doc_id AS media_id,
      |  CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS media_type,
      |  octet_length(encode(text)) AS n_bytes,
      |  CASE WHEN doc_id % 3 = 1 THEN 0 ELSE CAST(64 + abs(ch) % 1024 AS INT) END AS width,
      |  CASE WHEN doc_id % 3 = 1 THEN 0 ELSE CAST(64 + abs(ch >> 10) % 1024 AS INT) END AS height,
      |  CASE WHEN doc_id % 3 = 0 THEN 0 ELSE abs(ch >> 20) % 600000 END AS duration_ms,
      |  ch AS content_hash
      |FROM h""".stripMargin

  val featuresSql: String = s"$hashCte\n$featuresBody"

  /** The stub-decoded feature frame as a reusable CTE `f` — downstream
    * multimodal oracles (aspect buckets, pHash near-dups) build on it. */
  val featuresCte: String = s"$hashCte, f AS (\n$featuresBody)"

  /** Video rows only; k=4 evenly spaced frame indices, exploded.
    * trunc() before the BIGINT cast: DuckDB rounds on double→int casts
    * where Spark truncates. */
  val framesSql: String =
    s"""$hashCte,
       |f AS (
       |  SELECT doc_id AS media_id,
       |    greatest(1, CAST(trunc((abs(ch >> 20) % 600000) / 1000.0 * 30.0) AS BIGINT)) AS n_frames
       |  FROM h WHERE doc_id % 3 = 2
       |)
       |SELECT media_id, n_frames, i AS frame_seq,
       |  least(n_frames - 1, CAST(trunc(i * n_frames / 4.0) AS BIGINT)) AS frame_idx
       |FROM f, range(0, 4) r(i)""".stripMargin
}
