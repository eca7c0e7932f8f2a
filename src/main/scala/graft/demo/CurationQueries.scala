package graft.demo

import org.apache.spark.sql.functions._
import graft.QuerySpec
import graft.ops._

/**
 * Shutdown-time cleanup for the round-trip queries' temp dirs: ONE JVM
 * hook for the whole process (guarded by an AtomicBoolean — the previous
 * per-call `addShutdownHook` accumulated a thread per query invocation,
 * 2N threads across N bench reps), draining a shared pending set.
 * Registration is Try-wrapped: `addShutdownHook` throws
 * IllegalStateException once the JVM is already shutting down, and a
 * cleanup helper must never turn teardown into a crash.
 */
private[graft] object TmpDirs {

  /** Sibling sweep threshold: dirs untouched this long are crash leftovers,
    * anything younger may belong to a live concurrent run. */
  final val StaleMs: Long = 2L * 60 * 60 * 1000

  private val pending =
    java.util.concurrent.ConcurrentHashMap.newKeySet[java.io.File]()
  private val hooked = new java.util.concurrent.atomic.AtomicBoolean(false)
  // observable by the spec: how many times the JVM hook was registered
  private[graft] val hookRegistrations = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Delete `f` at JVM exit (best-effort) unless already cleaned up. */
  private[graft] def enroll(f: java.io.File): Unit = {
    pending.add(f)
    if (hooked.compareAndSet(false, true)) {
      scala.util.Try {
        Runtime.getRuntime.addShutdownHook(new Thread(() => {
          pending.forEach(d => scala.util.Try(CurationQueries.deleteRecursively(d)): Unit)
        }, "graft-tmpdir-cleanup"))
        hookRegistrations.incrementAndGet()
      }: Unit
    }
  }
}

/**
 * Round-3 curation / retrieval / packing / windowing queries, plus
 * oracle-checked upgrades of previously spec-only reference operators
 * (S3/S6 CSV round-trip, P10 shadow keys, A2 row count). Same contract as
 * [[OpsQueries]]: every entry pairs the Spark implementation with its
 * exact DuckDB mirror.
 */
object CurationQueries {

  private def docs(s: org.apache.spark.sql.SparkSession, d: String) =
    s.read.parquet(s"$d/documents.parquet")

  /** Per-run temp dir for the round-trip queries: suffixed with the Spark
    * applicationId so concurrent runs never collide, and cleared up front
    * so a stale run's output can never leak into this run's value check.
    * Callers materialize the read-back ([[graft.recon.Checkpoints.cut]])
    * and then [[deleteRecursively]] the dir before returning. Entry also
    * best-effort sweeps STALE sibling dirs with the same name prefix (left
    * by a crashed earlier run under a different appId) — stale meaning
    * untouched for [[TmpDirs.StaleMs]], so the live temp dir of a
    * CONCURRENT run under another appId is never deleted mid-query — and
    * enrolls the dir with the single process-wide shutdown hook so
    * abnormal termination of THIS run cleans up too. */
  private[demo] def runTmpDir(s: org.apache.spark.sql.SparkSession, name: String): java.io.File = {
    val base = new java.io.File(sys.props("java.io.tmpdir"))
    val cutoff = System.currentTimeMillis() - TmpDirs.StaleMs
    Option(base.listFiles()).toSeq.flatten
      .filter(f => f.isDirectory && f.getName.startsWith(s"${name}_")
        && f.lastModified() < cutoff)
      .foreach(f => scala.util.Try(deleteRecursively(f)))
    val f = new java.io.File(base, s"${name}_${s.sparkContext.applicationId}")
    if (f.exists()) deleteRecursively(f)
    TmpDirs.enroll(f)
    f
  }

  private[graft] def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(deleteRecursively)
    f.delete(): Unit
  }

  /** DuckDB CTE: (doc_id, t) lowercase whitespace tokens — the
    * [[graft.ops.TextAnalysis.tokens]] mirror used across text oracles. */
  private val tokensCte: String =
    raw"""tt AS (
         |  SELECT doc_id, CASE WHEN length(trim(text)) = 0 THEN []
         |                      ELSE string_split_regex(trim(lower(text)), '\s+') END AS t
         |  FROM documents)""".stripMargin

  /** DuckDB expression: whitespace token count of `text` ≡ TextAnalysis.tokenCount. */
  private val tokenCountSql: String =
    raw"""CASE WHEN length(trim(text)) = 0 THEN 0
         |     ELSE len(string_split_regex(trim(text), '\s+')) END""".stripMargin

  // BM25 constants — interpolated into BOTH engines from the same doubles
  // so the literals agree bit-for-bit
  private val K1 = 1.2d
  private val B = 0.75d
  private val Bm25Terms = Seq("spark", "dup", "merge")

  /** Oracle CTE chain of the `vocab_unigram_*` family — mirrors
    * [[graft.ops.Vocab.unigramSeed]] + [[graft.ops.Vocab.unigramEmStep]]
    * relationally: substring candidates → single-char floor + top-`topN`
    * multi → milli likelihoods → the per-word forward/backward lattice
    * DP, unrolled over the hard word-length cap of 10 as lateral-alias
    * columns over a pivoted (pos, len) score matrix, all in HUGEINT
    * (same bounds as the Spark DECIMAL(38,0) arithmetic). Ends with the
    * `em(piece, l_milli, exp_count_milli)` + `emtot(t)` CTEs.
    *
    * `trainWhere` restricts the words the INVENTORY is seeded from (the
    * apply side still scores every word); `fallback1` gives unknown
    * single chars the floor likelihood 1 — together they mirror
    * [[graft.ops.Vocab.unigramSegment]]'s `byteFallback` deployment
    * shape (inventory trained on a subcorpus, applied corpus-wide). */
  private def unigramOracleCtes(topN: Int, trainWhere: String = "",
      fallback1: Boolean = false): String = {
    val W = 10; val P = 4
    // pivoted scores s_p_l = lm of the piece at (pos, len), per word
    val pivots = (for (p <- 1 to W; l <- 1 to P if p + l - 1 <= W)
      yield s"MAX(CASE WHEN pos = $p AND len = $l THEN lm END) AS s_${p}_$l")
      .mkString(",\n       ")
    // forward: f_j = Σ_{l ≤ min(4,j)} f_{j−l} · s_{j−l+1}_l
    val fCols = (1 to W).map { j =>
      val terms = (1 to math.min(P, j))
        .map(l => s"f${j - l} * s_${j - l + 1}_$l").mkString(" + ")
      s"CASE WHEN n >= $j THEN $terms END AS f$j"
    }.mkString(",\n       ")
    // backward by suffix length d: b_d = Σ_l s_{n−d+1}_l · b_{d−l} — the
    // data-dependent position resolves through a per-l column list
    def sList(l: Int) =
      "[" + (1 to (W - l + 1)).map(p => s"s_${p}_$l").mkString(", ") + "]"
    val bCols = (1 to W).map { d =>
      val terms = (1 to math.min(P, d))
        .map(l => s"${sList(l)}[n - $d + 1] * b${d - l}").mkString(" + ")
      s"CASE WHEN n >= $d THEN $terms END AS b$d"
    }.mkString(",\n       ")
    val fList = "[" + (1 to W).map(j => s"f$j").mkString(", ") + "]"
    val f0List = "[" + (0 to W).map(j => s"f$j").mkString(", ") + "]"
    val bList = "[" + (0 to W).map(d => s"b$d").mkString(", ") + "]"
    raw"""WITH tt AS (SELECT CASE WHEN length(trim(text)) = 0 THEN []
         |          ELSE string_split_regex(trim(lower(text)), '\s+') END AS t FROM documents),
         |wc0 AS (SELECT word, count(*) AS freq
         |        FROM (SELECT unnest(t) AS word FROM tt) GROUP BY 1),
         |wc AS MATERIALIZED (SELECT word, freq, length(word) AS n FROM wc0
         |      WHERE length(word) BETWEEN 1 AND $W),
         |occ AS MATERIALIZED (
         |  SELECT word, freq, n, CAST(i AS INTEGER) AS pos, CAST(l AS INTEGER) AS len,
         |         substr(word, CAST(i AS INTEGER), CAST(l AS INTEGER)) AS piece
         |  FROM wc, range(1, ${W + 1}) t1(i), range(1, ${P + 1}) t2(l)
         |  WHERE i + l - 1 <= n),
         |cand AS (SELECT piece, sum(freq) AS weight FROM occ
         |         ${if (trainWhere.nonEmpty) s"WHERE $trainWhere" else ""} GROUP BY 1),
         |selp AS MATERIALIZED (
         |  SELECT piece, weight FROM cand WHERE length(piece) = 1
         |  UNION ALL
         |  SELECT piece, weight FROM (
         |    SELECT piece, weight, row_number() OVER (ORDER BY weight DESC, piece) AS r
         |    FROM cand WHERE length(piece) > 1) WHERE r <= $topN),
         |wt AS (SELECT sum(weight) AS w FROM selp),
         |ps AS MATERIALIZED (SELECT piece,
         |      GREATEST(1, (1000 * weight) // (SELECT w FROM wt)) AS lm FROM selp),
         |sc AS MATERIALIZED (SELECT o.word, o.freq, o.n, o.pos, o.len, o.piece,
         |       CAST(COALESCE(p.lm, ${if (fallback1)
                   "CASE WHEN length(o.piece) = 1 THEN 1 ELSE 0 END" else "0"})
         |         AS HUGEINT) AS lm
         |     FROM occ o LEFT JOIN ps p USING (piece)),
         |sm AS MATERIALIZED (SELECT word, any_value(freq) AS freq, any_value(n) AS n,
         |       $pivots
         |     FROM sc GROUP BY word),
         |fb AS MATERIALIZED (SELECT word, freq, n,
         |       CAST(1 AS HUGEINT) AS f0,
         |       $fCols,
         |       CAST(1 AS HUGEINT) AS b0,
         |       $bCols
         |     FROM sm),
         |good AS MATERIALIZED (SELECT * FROM (
         |      SELECT *, $fList[n] AS z FROM fb) WHERE z > 0),
         |resp AS (SELECT s.piece, s.freq,
         |      (1000 * $f0List[s.pos] * s.lm
         |        * $bList[g.n - s.pos - s.len + 2]) // g.z AS contrib
         |    FROM sc s JOIN good g USING (word) WHERE s.lm > 0),
         |em AS MATERIALIZED (SELECT p.piece, CAST(p.lm AS BIGINT) AS l_milli,
         |      CAST(COALESCE(r.c, 0) AS BIGINT) AS exp_count_milli
         |    FROM ps p LEFT JOIN (SELECT piece, sum(freq * contrib) AS c
         |                         FROM resp GROUP BY 1) r USING (piece)),
         |emtot AS (SELECT sum(exp_count_milli) AS t FROM em)""".stripMargin
  }

  /** Full oracle SQL of the unigram Viterbi APPLY arm (the
    * `vocab_unigram_segment*` family): [[unigramOracleCtes]] → max-product
    * DP over the pivoted score matrix → shortest-last-piece backtrace as
    * a chained-CTE walk from the word end. Shared by the fully-covered
    * and the byte-fallback variants — only the CTE-chain knobs differ. */
  private def unigramViterbiSql(topN: Int, trainWhere: String = "",
      fallback1: Boolean = false): String = {
    val W = 10; val P = 4
    def sList(l: Int) =
      "[" + (1 to (W - l + 1)).map(p => s"s_${p}_$l").mkString(", ") + "]"
    val vCols = (1 to W).map { j =>
      val terms = (1 to math.min(P, j))
        .map(l => s"v${j - l} * s_${j - l + 1}_$l").mkString(", ")
      s"CASE WHEN n >= $j THEN greatest($terms) END AS v$j"
    }.mkString(",\n           |       ")
    val vList = "[" + (0 to W).map(j => s"v$j").mkString(", ") + "]"
    def pick(prev: String) = "CASE " + (1 to P).map(l =>
      s"""WHEN $prev >= $l AND vl[$prev - $l + 1] * sl$l[$prev - $l + 1]
         | = vl[$prev + 1] THEN $l""".stripMargin).mkString(" ") + " END"
    val slCols = (1 to P).map(l => s"${sList(l)} AS sl$l").mkString(",\n           |       ")
    val btCtes = (1 to W).map { i =>
      s"""bt$i AS MATERIALIZED (SELECT *,
         |  CASE WHEN p${i - 1} > 0 THEN ${pick(s"p${i - 1}")} END AS l$i,
         |  CASE WHEN p${i - 1} > 0 THEN p${i - 1} - l$i ELSE 0 END AS p$i,
         |  CASE WHEN p${i - 1} > 0
         |       THEN substr(word, p${i - 1} - l$i + 1, l$i) END AS pc$i
         |FROM bt${i - 1})""".stripMargin
    }.mkString(",\n")
    val pcList = "[" + (1 to W).map(i => s"pc$i").mkString(", ") + "]"
    unigramOracleCtes(topN, trainWhere, fallback1) + raw""",
         |vv AS MATERIALIZED (SELECT word, freq, n,
         |       CAST(1 AS HUGEINT) AS v0,
         |       $vCols,
         |       $slCols
         |     FROM sm),
         |bt0 AS MATERIALIZED (SELECT word, freq, n, n AS p0,
         |       $vList AS vl, sl1, sl2, sl3, sl4
         |     FROM vv WHERE $vList[n + 1] > 0),
         |$btCtes
         |SELECT word, CAST(freq AS BIGINT) AS freq,
         |  CAST(len(pcs) AS BIGINT) AS n_pieces,
         |  array_to_string(list_reverse(pcs), ' ') AS seg,
         |  CAST(vl[n + 1] AS VARCHAR) AS score_q
         |FROM (SELECT *, list_filter($pcList, x -> x IS NOT NULL) AS pcs
         |      FROM bt$W)""".stripMargin
  }

  val all: Seq[QuerySpec] = Seq(

    // canonical normalization, the stage every curation pipeline runs
    // first: control chars → spaces, whitespace runs collapsed, edges
    // trimmed — per-row codegen, no shuffle. Output carries the md5 of
    // the normalized text (registry rule: no giant strings needed when
    // a collision-checked digest value-checks the transform) plus
    // before/after lengths and a changed flag
    QuerySpec("text_normalize",
      raw"""WITH n AS (SELECT doc_id, text,
           |  trim(regexp_replace(regexp_replace(text, '[[:cntrl:]]', ' ', 'g'),
           |       '\s+', ' ', 'g')) AS norm
           |  FROM documents)
           |SELECT doc_id, md5(norm) AS norm_md5,
           |  CAST(length(text) AS BIGINT) AS n_chars_raw,
           |  CAST(length(norm) AS BIGINT) AS n_chars_norm,
           |  norm <> text AS changed
           |FROM n""".stripMargin) { (s, d) =>
      val norm = TextAnalysis.normalize(col("text"))
      docs(s, d).select(col("doc_id"), md5(norm).as("norm_md5"),
        length(col("text")).cast("long").as("n_chars_raw"),
        length(norm).cast("long").as("n_chars_norm"),
        (norm =!= col("text")).as("changed"))
    },

    // URL canonicalization as a dedup key (the web-corpus ingest step):
    // deterministic per-doc URLs with mixed-case scheme/host, shuffled
    // params, tracking junk and fragments collapse onto their canonical
    // form — every regex/sort/join step mirrored operator-for-operator
    // (the formula only generates VARIANTS; the collapse under test is
    // the canonicalizer's). Within one (host, path) bucket both query
    // orderings and all fragments land in ONE group
    QuerySpec("text_url_canonical",
      raw"""WITH g AS (SELECT doc_id,
           |    (CASE WHEN doc_id % 4 = 0 THEN 'HTTPS://' ELSE 'https://' END) ||
           |    (CASE doc_id % 3 WHEN 0 THEN 'WWW.Example.COM'
           |                     WHEN 1 THEN 'Docs.Example.com'
           |                     ELSE 'example.com' END) ||
           |    '/p/' || CAST(doc_id // 7 AS VARCHAR) ||
           |    (CASE WHEN doc_id % 2 = 0 THEN '?b=2&a=1&utm_source=feed'
           |          ELSE '?a=1&b=2&gclid=g123' END) ||
           |    (CASE WHEN doc_id % 5 = 0 THEN '#sec' ELSE '' END) AS url
           |  FROM documents),
           |c AS (SELECT doc_id,
           |    lower(regexp_extract(url, '^([a-zA-Z][a-zA-Z0-9+.-]*)://', 1)) AS scheme,
           |    regexp_extract(url, '^[a-zA-Z][a-zA-Z0-9+.-]*://(.*)$$', 1) AS rest,
           |    regexp_extract(url, '\?([^#]*)', 1) AS q
           |  FROM g),
           |p AS (SELECT doc_id, scheme,
           |    lower(regexp_extract(rest, '^([^/?#]*)', 1)) AS host,
           |    CASE WHEN regexp_extract(rest, '^[^/?#]*([^?#]*)', 1) = '' THEN '/'
           |         ELSE regexp_extract(rest, '^[^/?#]*([^?#]*)', 1) END AS path,
           |    array_to_string(list_sort(list_filter(string_split(q, '&'),
           |      x -> x <> '' AND NOT regexp_matches(x, '^(utm_[^=]*|fbclid|gclid)='))),
           |      '&') AS qq
           |  FROM c),
           |u AS (SELECT doc_id, scheme || '://' || host || path ||
           |        CASE WHEN qq <> '' THEN '?' || qq ELSE '' END AS url_canonical
           |      FROM p)
           |SELECT url_canonical, count(*) AS n_variants, min(doc_id) AS min_doc
           |FROM u GROUP BY 1""".stripMargin) { (s, d) =>
      val id = col("doc_id")
      val url = concat(
        when(pmod(id, lit(4)) === 0, "HTTPS://").otherwise("https://"),
        when(pmod(id, lit(3)) === 0, "WWW.Example.COM")
          .when(pmod(id, lit(3)) === 1, "Docs.Example.com")
          .otherwise("example.com"),
        lit("/p/"), expr("doc_id div 7").cast("string"),
        when(pmod(id, lit(2)) === 0, "?b=2&a=1&utm_source=feed")
          .otherwise("?a=1&b=2&gclid=g123"),
        when(pmod(id, lit(5)) === 0, "#sec").otherwise(""))
      docs(s, d).select(id, TextAnalysis.canonicalUrl(url).as("url_canonical"))
        .groupBy(col("url_canonical"))
        .agg(count(lit(1)).as("n_variants"), min(id).as("min_doc"))
    },

    // Gopher-style repetition filters, token granularity (the synthetic
    // docs are single-line, so line-level dup fractions would be
    // degenerate): duplicate-token, top-token and duplicate-bigram
    // fractions per document
    QuerySpec("text_repetition",
      raw"""WITH $tokensCte,
           |tok AS (SELECT doc_id, unnest(t) AS tk FROM tt),
           |tc AS (SELECT doc_id, tk, count(*) AS c FROM tok GROUP BY 1, 2),
           |ts AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
           |         count(*) AS n_distinct_tokens, CAST(max(c) AS BIGINT) AS top
           |       FROM tc GROUP BY 1),
           |gr AS (SELECT doc_id, unnest([t[i] || ' ' || t[i+1] FOR i IN range(1, len(t))]) AS g FROM tt),
           |gc AS (SELECT doc_id, g, count(*) AS c FROM gr GROUP BY 1, 2),
           |gs AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_ngrams,
           |         count(*) AS n_distinct_ngrams
           |       FROM gc GROUP BY 1)
           |SELECT d.doc_id,
           |  coalesce(n_tokens, 0) AS n_tokens,
           |  coalesce(n_distinct_tokens, 0) AS n_distinct_tokens,
           |  CASE WHEN coalesce(n_tokens, 0) = 0 THEN 0.0
           |       ELSE 1.0 - CAST(n_distinct_tokens AS DOUBLE) / CAST(n_tokens AS DOUBLE) END AS dup_token_frac,
           |  CASE WHEN coalesce(n_tokens, 0) = 0 THEN 0.0
           |       ELSE CAST(top AS DOUBLE) / CAST(n_tokens AS DOUBLE) END AS top_token_frac,
           |  coalesce(n_ngrams, 0) AS n_ngrams,
           |  coalesce(n_distinct_ngrams, 0) AS n_distinct_ngrams,
           |  CASE WHEN coalesce(n_ngrams, 0) = 0 THEN 0.0
           |       ELSE 1.0 - CAST(n_distinct_ngrams AS DOUBLE) / CAST(n_ngrams AS DOUBLE) END AS dup_ngram_frac
           |FROM documents d LEFT JOIN ts USING (doc_id) LEFT JOIN gs USING (doc_id)""".stripMargin) { (s, d) =>
      TextAnalysis.repetitionMetrics(docs(s, d), "text", "doc_id", n = 2)
    },

    // PII redaction over deterministically synthesized PII (the synthetic
    // corpus has none of its own): emails masked first, then long digit
    // runs — counts + redacted text value-checked
    QuerySpec("text_redact",
      raw"""WITH s AS (
           |  SELECT doc_id,
           |    text || ' contact user' || CAST(doc_id AS VARCHAR)
           |         || '@example.com or 00447700' || CAST(doc_id % 1000 + 900000 AS VARCHAR) AS t
           |  FROM documents),
           |e AS (
           |  SELECT doc_id, t,
           |    len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_emails,
           |    regexp_replace(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g') AS de
           |  FROM s)
           |SELECT doc_id, n_emails,
           |  len(regexp_extract_all(de, '[0-9]{7,}')) AS n_digit_runs,
           |  regexp_replace(de, '[0-9]{7,}', '<NUMBER>', 'g') AS text_redacted
           |FROM e""".stripMargin) { (s, d) =>
      val synth = docs(s, d).select(col("doc_id"),
        concat(col("text"), lit(" contact user"), col("doc_id").cast("string"),
          lit("@example.com or 00447700"),
          (col("doc_id") % 1000 + 900000).cast("string")).as("pii_text"))
      TextAnalysis.redactPii(synth, "pii_text")
        .select(col("doc_id"), col("n_emails"), col("n_digit_runs"), col("text_redacted"))
    },

    // BM25 keyword retrieval (rational-idf variant — bit-reproducible in
    // ANSI SQL; the log-idf form is spec-checked): top-10 docs for a
    // mixed common/rare term set
    QuerySpec("text_bm25", {
      val termList = Bm25Terms.map(t => s"'$t'").mkString(", ")
      val perTermSum = Bm25Terms
        .map(t => s"coalesce(sum(CASE WHEN tk = '$t' THEN s END), 0.0)")
        .mkString("\n      + ")
      raw"""WITH $tokensCte,
           |dl AS (SELECT doc_id, CAST($tokenCountSql AS DOUBLE) AS dl FROM documents),
           |st AS (SELECT CAST(count(*) AS DOUBLE) AS n, sum(dl) AS s FROM dl),
           |tok AS (SELECT doc_id, unnest(t) AS tk FROM tt),
           |tf AS (SELECT doc_id, tk, CAST(count(*) AS DOUBLE) AS tf
           |       FROM tok WHERE tk IN ($termList) GROUP BY 1, 2),
           |dfq AS (SELECT tk, CAST(count(*) AS DOUBLE) AS dfq FROM tf GROUP BY 1),
           |sc AS (SELECT f.doc_id, f.tk,
           |    ((st.n - q.dfq + 0.5) / (q.dfq + 0.5)) *
           |    ((f.tf * ${K1 + 1.0d}) / (f.tf + $K1 * (${1.0d - B} + $B * (d.dl / (st.s / st.n))))) AS s
           |  FROM tf f JOIN dfq q USING (tk) JOIN dl d USING (doc_id) CROSS JOIN st),
           |agg AS (SELECT doc_id, $perTermSum AS score FROM sc GROUP BY 1)
           |SELECT doc_id, score, rank FROM (
           |  SELECT *, row_number() OVER (ORDER BY score DESC, doc_id) AS rank FROM agg)
           |WHERE rank <= 10""".stripMargin
    }) { (s, d) =>
      Retrieval.bm25TopK(docs(s, d), "text", "doc_id", Bm25Terms, k = 10,
        k1 = K1, b = B, logIdf = false)
    },

    // hybrid retrieval: reciprocal-rank fusion of the BM25 lexical arm
    // (top-20 for the term set) and a semantic arm (top-20 by exact
    // float dot against doc 0's embedding, doc_id ≡ vec_id). RRF needs
    // no score calibration — each arm contributes 1/(60+rank) — and the
    // fusion itself only ever sees the two k-row frames
    QuerySpec("retrieval_hybrid_rrf", {
      val termList = Bm25Terms.map(t => s"'$t'").mkString(", ")
      val perTermSum = Bm25Terms
        .map(t => s"coalesce(sum(CASE WHEN tk = '$t' THEN s END), 0.0)")
        .mkString("\n      + ")
      raw"""WITH $tokensCte,
           |dl AS (SELECT doc_id, CAST($tokenCountSql AS DOUBLE) AS dl FROM documents),
           |st AS (SELECT CAST(count(*) AS DOUBLE) AS n, sum(dl) AS s FROM dl),
           |tok AS (SELECT doc_id, unnest(t) AS tk FROM tt),
           |tf AS (SELECT doc_id, tk, CAST(count(*) AS DOUBLE) AS tf
           |       FROM tok WHERE tk IN ($termList) GROUP BY 1, 2),
           |dfq AS (SELECT tk, CAST(count(*) AS DOUBLE) AS dfq FROM tf GROUP BY 1),
           |sc AS (SELECT f.doc_id, f.tk,
           |    ((st.n - q.dfq + 0.5) / (q.dfq + 0.5)) *
           |    ((f.tf * ${K1 + 1.0d}) / (f.tf + $K1 * (${1.0d - B} + $B * (d.dl / (st.s / st.n))))) AS s
           |  FROM tf f JOIN dfq q USING (tk) JOIN dl d USING (doc_id) CROSS JOIN st),
           |agg AS (SELECT doc_id, $perTermSum AS score FROM sc GROUP BY 1),
           |lex AS (SELECT doc_id, rank FROM (
           |          SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id) AS rank FROM agg)
           |        WHERE rank <= 20),
           |qv AS (SELECT embedding AS v FROM embeddings WHERE vec_id = 0),
           |sem0 AS (SELECT e.vec_id AS doc_id, list_dot_product(v, e.embedding) AS score
           |         FROM qv CROSS JOIN embeddings e WHERE e.vec_id <> 0),
           |sem AS (SELECT doc_id, rank FROM (
           |          SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id) AS rank FROM sem0)
           |        WHERE rank <= 20),
           |fused AS (SELECT coalesce(l.doc_id, m.doc_id) AS doc_id,
           |    coalesce(CAST(1 AS DOUBLE) / CAST(60 + l.rank AS DOUBLE), 0.0)
           |      + coalesce(CAST(1 AS DOUBLE) / CAST(60 + m.rank AS DOUBLE), 0.0) AS rrf_score
           |  FROM lex l FULL OUTER JOIN sem m ON l.doc_id = m.doc_id)
           |SELECT doc_id, rrf_score, rank FROM (
           |  SELECT *, row_number() OVER (ORDER BY rrf_score DESC, doc_id) AS rank FROM fused)
           |WHERE rank <= 10""".stripMargin
    }) { (s, d) =>
      val lex = Retrieval.bm25TopK(docs(s, d), "text", "doc_id", Bm25Terms, k = 20,
        k1 = K1, b = B, logIdf = false)
      val e = s.read.parquet(s"$d/embeddings.parquet")
      val sem = Similarity.bruteForceTopK(e, e.where(col("vec_id") === 0),
          "vec_id", "embedding", k = 20)
        .select(col("neighbor_id").as("doc_id"), col("rank"))
      Retrieval.rrfFuse(lex.select(col("doc_id"), col("rank")), sem, "doc_id", k = 10)
    },

    // pseudo-relevance feedback (RM3-lite): seed BM25 -> top-5 feedback
    // docs -> their 3 most frequent non-seed sub-40%-df terms at weight
    // 0.5 -> re-score. The whole expansion loop is IN-PLAN (broadcast
    // term frames, never a collected list), and scores are micro-int
    // (per-(doc,term) IEEE double floored, then integer-summed — the
    // order-free form a data-driven term set requires, since the fixed
    // per-term float sum of text_bm25 needs build-time terms)
    QuerySpec("retrieval_prf", {
      val termList = Bm25Terms.map(t => s"'$t'").mkString(", ")
      val seedUnnest = Bm25Terms.map(t => s"'$t'").mkString(", ")
      // micro score over aliases f (tf), q (df), d (dl), st (corpus stats)
      val microSql =
        raw"""CAST(floor((((st.n - q.dfq + 0.5) / (q.dfq + 0.5)) *
             |      ((f.tf * ${K1 + 1.0d}) / (f.tf + $K1 * (${1.0d - B} + $B * (d.dl / (st.s / st.n))))))
             |      * 1000000.0) AS BIGINT)""".stripMargin
      raw"""WITH $tokensCte,
           |dl AS (SELECT doc_id, CAST($tokenCountSql AS DOUBLE) AS dl FROM documents),
           |st AS (SELECT CAST(count(*) AS DOUBLE) AS n, sum(dl) AS s FROM dl),
           |tok AS (SELECT doc_id, unnest(t) AS tk FROM tt),
           |tf1 AS (SELECT doc_id, tk, CAST(count(*) AS DOUBLE) AS tf
           |        FROM tok WHERE tk IN ($termList) GROUP BY 1, 2),
           |df1 AS (SELECT tk, CAST(count(*) AS DOUBLE) AS dfq FROM tf1 GROUP BY 1),
           |sc1 AS (SELECT f.doc_id, $microSql AS micro
           |        FROM tf1 f JOIN df1 q USING (tk) JOIN dl d USING (doc_id) CROSS JOIN st),
           |s1 AS (SELECT doc_id, CAST(sum(micro) AS BIGINT) AS score_micro
           |       FROM sc1 GROUP BY 1),
           |fb AS (SELECT doc_id FROM s1 ORDER BY score_micro DESC, doc_id LIMIT 5),
           |nd AS (SELECT count(*) AS nd FROM documents),
           |cdf AS (SELECT tk, count(*) AS dfd
           |        FROM (SELECT DISTINCT doc_id, tk FROM tok) GROUP BY 1),
           |cand AS (SELECT tok.tk, count(*) AS cnt FROM tok JOIN fb USING (doc_id)
           |         WHERE tok.tk NOT IN ($termList) GROUP BY 1),
           |ex AS (SELECT cand.tk AS term, 500 AS w FROM cand JOIN cdf USING (tk)
           |       CROSS JOIN nd WHERE cdf.dfd * 1000 <= nd.nd * 400
           |       ORDER BY cand.cnt DESC, cand.tk LIMIT 3),
           |terms AS (SELECT unnest([$seedUnnest]) AS term, 1000 AS w
           |          UNION ALL SELECT term, w FROM ex),
           |tf2 AS (SELECT doc_id, tk, CAST(count(*) AS DOUBLE) AS tf
           |        FROM tok WHERE tk IN (SELECT term FROM terms) GROUP BY 1, 2),
           |df2 AS (SELECT tk, CAST(count(*) AS DOUBLE) AS dfq FROM tf2 GROUP BY 1),
           |sc2 AS (SELECT f.doc_id, f.tk, $microSql AS micro
           |        FROM tf2 f JOIN df2 q USING (tk) JOIN dl d USING (doc_id) CROSS JOIN st),
           |s2 AS (SELECT sc2.doc_id,
           |         CAST(sum((sc2.micro * t.w) // 1000) AS BIGINT) AS score_micro
           |       FROM sc2 JOIN terms t ON t.term = sc2.tk GROUP BY 1)
           |SELECT doc_id, score_micro, rank FROM (
           |  SELECT *, row_number() OVER (ORDER BY score_micro DESC, doc_id) AS rank FROM s2)
           |WHERE rank <= 10""".stripMargin
    }) { (s, d) =>
      Retrieval.prfTopK(docs(s, d), "text", "doc_id", Bm25Terms, k = 10,
        fbDocs = 5, expTerms = 3, betaMilli = 500, maxDfMilli = 400,
        k1 = K1, b = B)
    },

    // DSIR-style data selection: score every doc by hashed-bigram
    // affinity to the English subcorpus vs the raw pool, keep the top
    // 25. The log-ratio is replaced by its exact-integer cross-
    // multiplied surrogate in DECIMAL(38,0) (log's last ulp is libm-
    // specific); the distribution tables are ≤ 1024 rows, broadcast
    QuerySpec("text_dsir_select",
      raw"""WITH tt AS (SELECT doc_id, lang, CASE WHEN length(trim(text)) = 0 THEN []
           |          ELSE string_split_regex(trim(lower(text)), '\s+') END AS t FROM documents),
           |g AS (SELECT doc_id, lang, unnest([t[i] || ' ' || t[i+1] FOR i IN range(1, len(t))]) AS gram
           |      FROM tt WHERE len(t) >= 2),
           |f AS (SELECT doc_id, lang,
           |        ('0x' || substr(md5(gram), 1, 15))::BIGINT % 1024 AS bucket FROM g),
           |tc AS (SELECT bucket, count(*) AS tc FROM f WHERE lang = 'en' GROUP BY 1),
           |rc AS (SELECT bucket, count(*) AS rc FROM f GROUP BY 1),
           |ts AS (SELECT CAST(sum(tc) AS BIGINT) AS t_total FROM tc),
           |rs AS (SELECT CAST(sum(rc) AS BIGINT) AS r_total FROM rc),
           |sc AS (SELECT f.doc_id,
           |         CAST(coalesce(tc.tc, 0) + 1 AS DECIMAL(38,0)) * CAST(rs.r_total + 1024 AS DECIMAL(38,0))
           |         - CAST(rc.rc + 1 AS DECIMAL(38,0)) * CAST(ts.t_total + 1024 AS DECIMAL(38,0)) AS term
           |       FROM f LEFT JOIN tc USING (bucket) JOIN rc USING (bucket)
           |       CROSS JOIN ts CROSS JOIN rs),
           |agg AS (SELECT doc_id, count(*) AS n_feats,
           |          CAST(sum(term) AS DECIMAL(38,0)) AS score FROM sc GROUP BY 1)
           |SELECT doc_id, n_feats, CAST(score AS DOUBLE) AS score, rank FROM (
           |  SELECT *, row_number() OVER (ORDER BY score DESC, doc_id) AS rank FROM agg)
           |WHERE rank <= 25""".stripMargin) { (s, d) =>
      val dd = docs(s, d)
      Selection.selectByAffinity(dd, dd.where(col("lang") === "en"),
        "text", "doc_id", k = 25, nBuckets = 1024)
    },

    // BPE vocabulary induction, merge step 1: corpus → word-frequency
    // table (the only data-sized pass), then corpus-weighted adjacent
    // character-pair counts over vocab rows and the top-20 merge
    // candidates (ties → pair lexicographic). The training loop is a
    // driver loop over this same aggregation on re-segmented vocabs
    QuerySpec("vocab_bpe_merges",
      raw"""WITH w AS (SELECT CASE WHEN length(trim(text)) = 0 THEN []
           |          ELSE string_split_regex(trim(lower(text)), '\s+') END AS t FROM documents),
           |wc AS (SELECT word, count(*) AS freq FROM (SELECT unnest(t) AS word FROM w) GROUP BY 1),
           |p AS (SELECT substr(word, i, 1) AS a, substr(word, i + 1, 1) AS b, freq
           |      FROM (SELECT word, freq, unnest(range(1, length(word))) AS i
           |            FROM wc WHERE length(word) >= 2)),
           |agg AS (SELECT a, b, CAST(sum(freq) AS BIGINT) AS weight FROM p GROUP BY 1, 2)
           |SELECT a, b, weight, rank FROM (
           |  SELECT *, row_number() OVER (ORDER BY weight DESC, a, b) AS rank FROM agg)
           |WHERE rank <= 20""".stripMargin) { (s, d) =>
      Vocab.topMerges(Vocab.pairCounts(Vocab.wordCounts(docs(s, d), "text")), k = 20)
    },

    // the APPLY side of BPE: per-doc subtoken accounting under a fixed
    // merge list (the corpus's top pairs) — the "what will this corpus
    // cost under my learned vocab" estimator. Each merge is two greedy
    // regexp passes (two passes ≡ sequential greedy merge; the
    // adjacency argument is spec-checked in Vocab's segment spec)
    QuerySpec("vocab_bpe_apply", {
      val merges = Seq(("e", "r"), ("i", "n"), ("s", "t"))
      val base = raw"' ' || array_to_string(string_split(w, ''), ' ') || ' '"
      val seg = merges.foldLeft(base) { case (c, (a, b)) =>
        s"regexp_replace(regexp_replace($c, ' $a $b ', ' $a$b ', 'g'), ' $a $b ', ' $a$b ', 'g')"
      }
      raw"""WITH tt AS (SELECT doc_id, CASE WHEN length(trim(text)) = 0 THEN []
           |          ELSE string_split_regex(trim(lower(text)), '\s+') END AS t FROM documents),
           |w AS (SELECT doc_id, unnest(t) AS w FROM tt),
           |seg AS (SELECT doc_id, CAST(length(w) AS BIGINT) AS c,
           |          CAST(len(string_split(trim($seg), ' ')) AS BIGINT) AS n
           |        FROM w)
           |SELECT doc_id, count(*) AS n_words,
           |  CAST(sum(c) AS BIGINT) AS n_chars,
           |  CAST(sum(n) AS BIGINT) AS n_subtokens
           |FROM seg GROUP BY 1""".stripMargin
    }) { (s, d) =>
      Vocab.subtokenStats(docs(s, d), "text", "doc_id",
        Seq(("e", "r"), ("i", "n"), ("s", "t")))
    },

    // tokenizer fertility per lang (subtokens per word, exact milli):
    // THE number that decides if a vocabulary suits a corpus slice —
    // high-fertility languages pay more sequence length per word and
    // starve in a token-budgeted mix. Same merges as vocab_bpe_apply
    QuerySpec("vocab_bpe_fertility", {
      val merges = Seq(("e", "r"), ("i", "n"), ("s", "t"))
      val base = raw"' ' || array_to_string(string_split(w, ''), ' ') || ' '"
      val seg = merges.foldLeft(base) { case (c, (a, b)) =>
        s"regexp_replace(regexp_replace($c, ' $a $b ', ' $a$b ', 'g'), ' $a $b ', ' $a$b ', 'g')"
      }
      raw"""WITH tt AS (SELECT doc_id, lang, CASE WHEN length(trim(text)) = 0 THEN []
           |          ELSE string_split_regex(trim(lower(text)), '\s+') END AS t FROM documents),
           |w AS (SELECT doc_id, lang, unnest(t) AS w FROM tt),
           |seg AS (SELECT lang,
           |          CAST(len(string_split(trim($seg), ' ')) AS BIGINT) AS n
           |        FROM w)
           |SELECT lang, CAST(count(*) AS BIGINT) AS n_words,
           |  CAST(sum(n) AS BIGINT) AS n_subtokens,
           |  CAST((sum(n) * 1000) // count(*) AS BIGINT) AS fertility_milli
           |FROM seg GROUP BY 1""".stripMargin
    }) { (s, d) =>
      val stats = Vocab.subtokenStats(docs(s, d), "text", "doc_id",
        Seq(("e", "r"), ("i", "n"), ("s", "t")))
      stats.join(docs(s, d).select("doc_id", "lang"), Seq("doc_id"))
        .groupBy(col("lang"))
        .agg(sum(col("n_words")).as("n_words"),
          sum(col("n_subtokens")).as("n_subtokens"))
        .select(col("lang"), col("n_words"), col("n_subtokens"),
          expr("(n_subtokens * 1000) div n_words").as("fertility_milli"))
    },

    // the OTHER tokenizer family (Kudo ACL'18, SentencePiece unigram):
    // seed pieces = single-char floor + top-40 substrings by corpus
    // weight, then ONE soft-EM pass over every word's segmentation
    // lattice — forward/backward masses as exact integer products
    // (DECIMAL(38,0) ≡ HUGEINT; word length hard-capped at 10, pieces at
    // 4, which bounds every intermediate under 10³⁶), per-occurrence
    // responsibilities in floor milli, and the M-step re-estimate. The
    // oracle unrolls the SAME lattice DP as lateral-alias columns over a
    // pivoted (pos, len) score matrix — the whole fit is value-checked
    // bit for bit, like recon_linkage_em for the F–S mixture
    QuerySpec("vocab_unigram_em",
      unigramOracleCtes(topN = 40) + raw"""
           |SELECT piece, l_milli, exp_count_milli,
           |  CASE WHEN (SELECT t FROM emtot) > 0
           |       THEN CAST((1000 * CAST(exp_count_milli AS HUGEINT))
           |                 // (SELECT t FROM emtot) AS BIGINT) END AS p_next_milli
           |FROM em""".stripMargin) { (s, d) =>
      import graft.ops.Vocab
      // cut once: the seeding action and the EM pass otherwise each
      // re-run the corpus-sized wordCounts aggregation
      val wc = graft.recon.Checkpoints.cut(Vocab.wordCounts(docs(s, d), "text"))
      Vocab.unigramEmStep(wc, Vocab.unigramSeed(wc, maxPieceLen = 4, topN = 40))
    },

    // the PRUNE step between unigram-EM iterations: single chars are the
    // coverage floor and always survive; multi-char pieces keep only the
    // top-12 by expected count (ties → piece asc) — the lowest-value
    // pieces leave the inventory, exactly SentencePiece's shrink step.
    // kept is value-checked, so a one-bit disagreement anywhere in the
    // EM chain flips a boundary piece and fails the row
    QuerySpec("vocab_unigram_prune",
      unigramOracleCtes(topN = 40) + raw"""
           |SELECT piece, l_milli, exp_count_milli,
           |  CAST(CASE WHEN length(piece) = 1 THEN 1
           |       WHEN mr <= 12 THEN 1 ELSE 0 END AS BIGINT) AS kept
           |FROM (SELECT *, row_number() OVER (
           |        PARTITION BY CASE WHEN length(piece) = 1 THEN 0 ELSE 1 END
           |        ORDER BY exp_count_milli DESC, piece) AS mr FROM em)""".stripMargin) { (s, d) =>
      import graft.ops.Vocab
      val wc = graft.recon.Checkpoints.cut(Vocab.wordCounts(docs(s, d), "text"))
      val em = Vocab.unigramEmStep(wc, Vocab.unigramSeed(wc, maxPieceLen = 4, topN = 40))
        .select("piece", "l_milli", "exp_count_milli")
      Vocab.unigramPrune(em, keepMulti = 12)
    },

    // the APPLY arm of the unigram tokenizer: exact Viterbi segmentation
    // per word — max-product DP over the same pivoted score matrix, ties
    // to the shortest last piece, backtrace unrolled as a chained-CTE
    // walk from the word end. Segmentation string, piece count, AND the
    // exact lattice-max product are all value-checked; unsegmentable
    // (unknown-char) words excluded on both sides
    QuerySpec("vocab_unigram_segment",
      unigramViterbiSql(topN = 40)) { (s, d) =>
      import graft.ops.Vocab
      val wc = graft.recon.Checkpoints.cut(Vocab.wordCounts(docs(s, d), "text"))
      Vocab.unigramSegment(wc, Vocab.unigramSeed(wc, maxPieceLen = 4, topN = 40))
    },

    // the BYTE-FALLBACK deployment shape of the same tokenizer: the
    // inventory is seeded from a SUBCORPUS (words over a..m only), then
    // applied corpus-wide — words carrying characters the seed never saw
    // segment through floor-likelihood single-char fallback pieces
    // instead of being dropped, exactly SentencePiece's totality
    // contract. seg, piece count, and the exact lattice-max product are
    // value-checked; the word population must equal the full capped
    // vocabulary (zero drops) for the row hash to match
    QuerySpec("vocab_unigram_segment_fallback",
      unigramViterbiSql(topN = 40,
        trainWhere = "regexp_matches(word, '^[a-m]+$')",
        fallback1 = true)) { (s, d) =>
      import graft.ops.Vocab
      val wc = graft.recon.Checkpoints.cut(Vocab.wordCounts(docs(s, d), "text"))
      val train = wc.where(col("word").rlike("^[a-m]+$"))
      Vocab.unigramSegment(wc, Vocab.unigramSeed(train, maxPieceLen = 4, topN = 40),
        byteFallback = true)
    },

    // fertility head-to-head over the SAME word population (length ≤ 10):
    // expected pieces per word under the unigram lattice (Σ occurrence
    // responsibilities — already milli) vs BPE subtokens under the
    // corpus's standard 3-merge list. THE comparison a tokenizer choice
    // hinges on; one row per tokenizer, exact integer arithmetic
    QuerySpec("vocab_unigram_fertility", {
      val merges = Seq(("e", "r"), ("i", "n"), ("s", "t"))
      val base = raw"' ' || array_to_string(string_split(word, ''), ' ') || ' '"
      val seg = merges.foldLeft(base) { case (c, (a, b)) =>
        s"regexp_replace(regexp_replace($c, ' $a $b ', ' $a$b ', 'g'), ' $a $b ', ' $a$b ', 'g')"
      }
      unigramOracleCtes(topN = 40) + raw""",
           |den AS (SELECT sum(freq) AS nw FROM wc),
           |bpe AS (SELECT sum(freq) AS nw, sum(freq *
           |          len(string_split(trim($seg), ' '))) AS ns FROM wc)
           |SELECT 'unigram' AS tokenizer,
           |  CAST((SELECT nw FROM den) AS BIGINT) AS n_words,
           |  CAST((SELECT t FROM emtot) AS BIGINT) AS subtokens_milli,
           |  CAST((SELECT t FROM emtot) // (SELECT nw FROM den) AS BIGINT) AS fertility_milli
           |UNION ALL
           |SELECT 'bpe', CAST(nw AS BIGINT), CAST(ns * 1000 AS BIGINT),
           |  CAST((ns * 1000) // nw AS BIGINT) FROM bpe""".stripMargin
    }) { (s, d) =>
      import graft.ops.Vocab
      val merges = Seq(("e", "r"), ("i", "n"), ("s", "t"))
      val wcAll = Vocab.wordCounts(docs(s, d), "text")
      val wc = graft.recon.Checkpoints.cut(
        wcAll.where(length(col("word")) <= 10))
      val em = Vocab.unigramEmStep(wc, Vocab.unigramSeed(wc, maxPieceLen = 4, topN = 40))
      val uniRow = em.agg(coalesce(sum(col("exp_count_milli")), lit(0L)).as("__t"))
        .crossJoin(broadcast(wc.agg(sum(col("freq")).as("__nw"))))
        .select(lit("unigram").as("tokenizer"), col("__nw").as("n_words"),
          col("__t").as("subtokens_milli"),
          expr("__t div __nw").as("fertility_milli"))
      val bpeRow = wc.select(col("freq"),
          size(split(Vocab.segment(col("word"), merges), " ")).cast("long").as("__ns"))
        .agg(sum(col("freq")).as("n_words"),
          (sum(col("freq") * col("__ns")) * 1000L).as("subtokens_milli"))
        .select(lit("bpe").as("tokenizer"), col("n_words"), col("subtokens_milli"),
          expr("subtokens_milli div n_words").as("fertility_milli"))
      uniRow.unionByName(bpeRow)
    },

    // corpus data card: per-(lang, source) + per-lang + whole-corpus
    // composition stats in ONE grouping-sets pass (docs, chars, tokens,
    // exact-ratio mean doc length) — the release-notes table every
    // curated dataset ships with, at one-scan cost. grouping() columns
    // disambiguate subtotal rows from real 'null' strata
    QuerySpec("text_data_card",
      raw"""WITH base AS (
           |  SELECT lang, source, n_chars,
           |    CAST(CASE WHEN length(trim(text)) = 0 THEN 0
           |         ELSE len(string_split_regex(trim(text), '\s+')) END AS BIGINT) AS n_toks
           |  FROM documents)
           |SELECT lang, source,
           |  CAST(grouping(lang) AS INTEGER) AS g_lang,
           |  CAST(grouping(source) AS INTEGER) AS g_source,
           |  count(*) AS n_docs,
           |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
           |  CAST(sum(n_toks) AS BIGINT) AS total_tokens,
           |  CAST(sum(n_toks) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS mean_doc_tokens
           |FROM base GROUP BY ROLLUP (lang, source)""".stripMargin) { (s, d) =>
      docs(s, d)
        .select(col("lang"), col("source"), col("n_chars"),
          TextAnalysis.tokenCount(col("text")).cast("long").as("n_toks"))
        .rollup(col("lang"), col("source"))
        .agg(
          grouping(col("lang")).as("g_lang"),
          grouping(col("source")).as("g_source"),
          count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("total_chars"),
          sum(col("n_toks")).as("total_tokens"),
          (sum(col("n_toks")).cast("double") / count(lit(1)).cast("double"))
            .as("mean_doc_tokens"))
    },

    // concat-then-chunk sequence packing per language (2048-token budget):
    // bin population + token totals, value-checked. Exact integral div on
    // the running sum — no double floor
    QuerySpec("text_pack_bins",
      raw"""WITH t AS (
           |  SELECT lang, doc_id, CAST($tokenCountSql AS BIGINT) AS w FROM documents),
           |c AS (
           |  SELECT lang, doc_id, w,
           |    sum(w) OVER (PARTITION BY lang ORDER BY doc_id
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
           |  FROM t)
           |SELECT lang, CAST((cum - w) // 2048 AS BIGINT) AS pack_id,
           |  count(*) AS n_docs, CAST(sum(w) AS BIGINT) AS pack_tokens
           |FROM c GROUP BY 1, 2""".stripMargin) { (s, d) =>
      val weighted = docs(s, d).select(col("lang"), col("doc_id"),
        TextAnalysis.tokenCount(col("text")).cast("long").as("__w"))
      Packing.packByBudget(weighted, "__w", Seq(col("doc_id")), 2048L, Seq("lang"))
        .groupBy(col("lang"), col("pack_id"))
        .agg(count(lit(1)).as("n_docs"), sum(col("__w")).as("pack_tokens"))
    },

    // globally-ordered packing (no per-group funnel): the two-phase
    // distributed prefix sum of Packing.packGlobal vs DuckDB's running-sum
    // window WITHOUT a partition clause — value-checks the claim that the
    // distributed form equals the single-sequence semantics exactly
    QuerySpec("text_pack_global",
      raw"""WITH t AS (
           |  SELECT doc_id, CAST($tokenCountSql AS BIGINT) AS w FROM documents),
           |c AS (
           |  SELECT doc_id, w,
           |    sum(w) OVER (ORDER BY doc_id
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
           |  FROM t)
           |SELECT doc_id, CAST((cum - w) // 2048 AS BIGINT) AS pack_id FROM c""".stripMargin) { (s, d) =>
      val weighted = docs(s, d).select(col("doc_id"),
        TextAnalysis.tokenCount(col("text")).cast("long").as("__w"))
      Packing.packGlobal(weighted, "__w", Seq(col("doc_id")), 2048L)
        .select(col("doc_id"), col("pack_id"))
    },

    // per-language length distribution: exact interpolated quantiles
    // (Spark `percentile` ≡ DuckDB `quantile_cont` — both linear
    // interpolation at rank p*(n-1); dyadic fractions over integers are
    // bit-exact in either formula)
    QuerySpec("text_len_quantiles",
      """SELECT lang, count(*) AS n_docs,
        |  quantile_cont(n_chars, 0.25) AS q25,
        |  quantile_cont(n_chars, 0.50) AS q50,
        |  quantile_cont(n_chars, 0.75) AS q75
        |FROM documents GROUP BY lang""".stripMargin) { (s, d) =>
      docs(s, d).groupBy(col("lang")).agg(
        count(lit(1)).as("n_docs"),
        percentile(col("n_chars"), lit(0.25d)).as("q25"),
        percentile(col("n_chars"), lit(0.50d)).as("q50"),
        percentile(col("n_chars"), lit(0.75d)).as("q75"))
    },

    // hopping (sliding) windows: 10-minute window every 5 minutes — each
    // event in exactly 2 windows, same boundaries as Structured
    // Streaming's window(ts, size, slide)
    QuerySpec("stream_hopping",
      """WITH e AS (SELECT epoch_ms(ts) AS ms, event_type, value FROM events),
        |a AS (
        |  SELECT (ms // 300000) * 300000 - off * 300000 AS win_start, event_type, value
        |  FROM e CROSS JOIN (SELECT unnest([0, 1]) AS off) o)
        |SELECT win_start, event_type, count(*) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM a GROUP BY 1, 2""".stripMargin) { (s, d) =>
      graft.streaming.EventPipeline.hoppingAgg(OpsQueries.events(s, d),
        windowMs = 600000L, slideMs = 300000L)
    },

    // semi-structured props: JSON field extraction + typed grouping —
    // get_json_object stays per-row/codegen'd; the aggregate is the only
    // shuffle
    QuerySpec("events_json_extract",
      """SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
        |  count(*) AS n_events,
        |  count(DISTINCT user_id) AS n_users,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM events GROUP BY 1""".stripMargin) { (s, d) =>
      OpsQueries.events(s, d)
        .select(get_json_object(col("props"), "$.k").cast("long").as("k"),
          col("user_id"), col("value"))
        .groupBy(col("k"))
        .agg(count(lit(1)).as("n_events"),
          countDistinct(col("user_id")).as("n_users"),
          sum(col("value").cast("decimal(18,2)")).cast("double").as("total_value"))
    },

    // S3+S6 upgraded from spec-only to value-checked: the internal frame
    // round-trips through the reference's CSV convention (write header CSV,
    // re-read all-string with no inference, cast back) and must equal the
    // original scan bit-for-bit
    QuerySpec("recon_csv_roundtrip",
      s"${OracleSql.prelude}\nSELECT * FROM internal") { (s, d) =>
      val i = TpcMapping.internal(s, d)
      val tmp = runTmpDir(s, "graft_csv_roundtrip")
      graft.recon.Sinks.writeCsv(i, tmp.getAbsolutePath)
      val back = graft.recon.Sources.csvAllString(s, tmp.getAbsolutePath)
      val casted = i.schema.fields.foldLeft(back) { (df, f) =>
        df.withColumn(f.name, col(f.name).cast(f.dataType))
      }
      // EAGER: the frame's input files are deleted on the next line
      val out = graft.recon.Checkpoints.cut(casted, eager = true)
      deleteRecursively(tmp)
      out
    },

    // the persisted-index LIFECYCLE, value-checked end to end: build the
    // seen corpus's MinHash index, write it to disk ([[graft.ops.IndexStore]]
    // layout: meta + signatures + bucket-stats sidecar), then probe the
    // new batch AGAINST THE LOADED FILES — same oracle as the in-memory
    // dedup_minhash_incremental, so the round-trip must be value-identical
    // the near-dup INGEST GATE, value-checked end to end: build the seen
    // corpus's index on disk, gate the batch against it AND against
    // itself (smaller id survives in-batch), emit per-doc admission
    // decisions with both match counts. The oracle mirrors the banded
    // probe, the seen-side bucket cap, the slot-agreement verify, and the
    // first-survives in-batch rule — a gate that admits one duplicate or
    // rejects one novel doc hash-mismatches
    QuerySpec("dedup_gate_decisions",
      SketchOracleSql.gateDecisionsSql(k = 16, bands = 4,
        minAgreement = 0.5d, maxBucket = 100)) { (s, d) =>
      val all = docs(s, d)
      val tmp = runTmpDir(s, "graft_gate_index")
      graft.ops.IndexStore.writeMinHashIndex(
        all.where(col("doc_id") % 3 === 0), "text", "doc_id",
        tmp.getAbsolutePath, shingleN = 3, k = 16, bands = 4)
      // EAGER: the index files are deleted on the next line
      val out = graft.recon.Checkpoints.cut(
        graft.ops.IngestGate.gateBatch(
          all.where(col("doc_id") % 3 =!= 0), "text", "doc_id",
          tmp.getAbsolutePath, minAgreement = 0.5d, maxBucket = 100),
        eager = true)
      deleteRecursively(tmp)
      out
    },

    QuerySpec("dedup_index_probe",
      SketchOracleSql.minHashIncrementalSql(k = 16, bands = 4,
        minAgreement = 0.5d, maxBucket = 100)) { (s, d) =>
      val all = docs(s, d)
      val tmp = runTmpDir(s, "graft_minhash_index")
      graft.ops.IndexStore.writeMinHashIndex(
        all.where(col("doc_id") % 3 === 0), "text", "doc_id",
        tmp.getAbsolutePath, shingleN = 3, k = 16, bands = 4)
      // EAGER: the index files are deleted on the next line
      val out = graft.recon.Checkpoints.cut(
        graft.ops.IndexStore.minHashProbe(
          all.where(col("doc_id") % 3 =!= 0), "text", "doc_id",
          tmp.getAbsolutePath, minAgreement = 0.5d, maxBucket = 100),
        eager = true)
      deleteRecursively(tmp)
      out
    },

    // the embedding twin of dedup_index_probe: sign-LSH index of the
    // even-id vectors written through the IndexStore layout, odd-id batch
    // probed AGAINST THE LOADED FILES (h and column names come from the
    // meta sidecar) — same oracle as the in-memory dedup_embed_incremental
    QuerySpec("dedup_embed_index_probe",
      OpsQueries.embedIncrementalOracle) { (s, d) =>
      val e = s.read.parquet(s"$d/embeddings.parquet")
      val tmp = runTmpDir(s, "graft_embed_index")
      graft.ops.IndexStore.writeEmbeddingIndex(
        e.where(pmod(col("vec_id"), lit(2)) === 0), "vec_id", "embedding",
        tmp.getAbsolutePath, h = 4)
      // EAGER: the index files are deleted on the next line
      val out = graft.recon.Checkpoints.cut(
        graft.ops.IndexStore.embeddingProbe(
          e.where(pmod(col("vec_id"), lit(2)) === 1), tmp.getAbsolutePath,
          threshold = 0.4d, cosine = true),
        eager = true)
      deleteRecursively(tmp)
      out
    },

    // P10 upgraded from spec-only to value-checked: full external prep
    // (row index, key casts, ext_ prefix, exd_ shadow keys) with the
    // ext_/exd_ projection (P11) over it
    QuerySpec("recon_shadow_keys",
      """SELECT CAST(o_orderkey AS VARCHAR) AS ext_id,
        |  CAST(o_orderkey AS VARCHAR) AS ext_code,
        |  o_totalprice AS ext_amount,
        |  epoch_ms(o_orderdate) AS ext_ts,
        |  o_orderpriority AS ext_prio,
        |  CAST(o_orderkey AS VARCHAR) AS exd_code,
        |  o_totalprice AS exd_amount,
        |  epoch_ms(o_orderdate) AS exd_ts,
        |  o_orderpriority AS exd_prio
        |FROM orders""".stripMargin) { (s, d) =>
      val raw = s.read.parquet(s"$d/orders.parquet").select(
        col("o_orderkey").cast("string").as("id"),
        col("o_orderkey").cast("string").as("code"),
        col("o_totalprice").cast("string").as("amount"),
        unix_millis(col("o_orderdate").cast("timestamp")).cast("string").as("ts"),
        col("o_orderpriority").as("prio"))
      val prepped = graft.recon.Sources.prepareExternal(raw, TpcMapping.conf)
      graft.recon.ExprBuilder.selectByPrefix(prepped, "ext_", "exd_")
    },

    // storage-format coverage beyond parquet/CSV/JSONL: the internal frame
    // round-trips through ORC (the Hive-lineage columnar format; schema
    // travels in the file, stripe min/max stats serve pushdown like
    // parquet row groups) and must equal the original scan bit-for-bit
    QuerySpec("recon_orc_roundtrip",
      s"${OracleSql.prelude}\nSELECT * FROM internal") { (s, d) =>
      val i = TpcMapping.internal(s, d)
      val tmp = runTmpDir(s, "graft_orc_roundtrip")
      graft.recon.Sinks.writeOrc(i, tmp.getAbsolutePath)
      // EAGER: the frame's input files are deleted on the next line
      val out = graft.recon.Checkpoints.cut(
        graft.recon.Sources.readOrc(s, tmp.getAbsolutePath), eager = true)
      deleteRecursively(tmp)
      out
    },

    // S8/§2.8 upgraded from spec-only to value-checked: the interval-
    // partitioned write fan-out (the reference's 5-thread `$merge` split,
    // second_conciliate.py:409-447, as repartitionByRange) round-trips
    // through parquet and must preserve content exactly
    QuerySpec("recon_write_intervals",
      s"${OracleSql.prelude}\nSELECT * FROM internal") { (s, d) =>
      val i = TpcMapping.internal(s, d)
      val tmp = runTmpDir(s, "graft_interval_write")
      graft.recon.Sinks.writeRangePartitioned(i, tmp.getAbsolutePath,
        "create_timestamp", numRanges = 5)
      // EAGER: the frame's input files are deleted on the next line
      val out = graft.recon.Checkpoints.cut(s.read.parquet(tmp.getAbsolutePath), eager = true)
      deleteRecursively(tmp)
      out
    },

    // A2 upgraded from spec-only to value-checked: row count + emptiness
    // guard as a one-row frame
    QuerySpec("recon_count",
      s"${OracleSql.prelude}\nSELECT count(*) AS n_rows, count(*) > 0 AS non_empty FROM internal") { (s, d) =>
      TpcMapping.internal(s, d)
        .agg(count(lit(1)).as("n_rows"))
        .select(col("n_rows"), (col("n_rows") > 0).as("non_empty"))
    }
  )
}
