package graft.demo

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.QuerySpec
import graft.ops._

/**
 * Round-6 sketch / filter-bundle queries: fixed-memory distinct
 * counting, bloom-pre-filtered joins, heuristic document filters, and
 * quality-aware near-dup canonicalization. Same contract as
 * [[OpsQueries]]: every entry pairs the Spark implementation with its
 * exact DuckDB mirror.
 */
object SketchQueries {

  private def docs(s: SparkSession, d: String) =
    s.read.parquet(s"$d/documents.parquet")
  // the shared reader normalizes the parquet nanos column to a real
  // timestamp — required wherever ts feeds window alignment
  private def events(s: SparkSession, d: String) = OpsQueries.events(s, d)

  /** the tokens CTE shared by the token-level mirrors (matches
    * [[graft.ops.TextAnalysis.tokens]]: lowercased, blank → []). */
  private val TokensCte =
    raw"""tt AS (SELECT lang, CASE WHEN length(trim(text)) = 0 THEN []
         |          ELSE string_split_regex(trim(lower(text)), '\s+') END AS t FROM documents),
         |tok AS (SELECT lang, unnest(t) AS tok FROM tt)""".stripMargin

  val all: Seq[QuerySpec] = Seq(

    // HLL fidelity harness: the raw estimate NEXT TO the exact distinct
    // count per language, with the relative error in milli — whether
    // the 64-register sketch is accurate enough on THIS cardinality
    // range, measured instead of assumed (the sketch twin of
    // dedup_minhash_fidelity)
    QuerySpec("text_hll_fidelity",
      raw"""WITH $TokensCte,
           |ex AS (SELECT lang, count(DISTINCT tok) AS exact FROM tok GROUP BY 1),
           |hh AS (SELECT lang, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h FROM tok),
           |rr AS (SELECT lang, h % 64 AS bucket,
           |         CASE WHEN h // 64 = 0 THEN 55 ELSE 55 - length(bin(h // 64)) END AS rho
           |       FROM hh),
           |reg AS (SELECT lang, bucket, max(rho) AS rho FROM rr GROUP BY 1, 2),
           |agg AS (SELECT lang,
           |          CAST(sum(CAST(1 AS BIGINT) << CAST(55 - rho AS INTEGER))
           |               + (64 - count(*)) * (CAST(1 AS BIGINT) << 55) AS BIGINT) AS s_scaled
           |        FROM reg GROUP BY 1),
           |est AS (SELECT lang,
           |          ${graft.ops.Sketches.EstimateNumerator} / CAST(s_scaled AS DOUBLE) AS raw_estimate
           |        FROM agg)
           |SELECT e.lang, CAST(ex.exact AS BIGINT) AS exact_distinct, e.raw_estimate,
           |  CAST(floor(abs(e.raw_estimate - CAST(ex.exact AS DOUBLE)) * 1000.0
           |    / CAST(ex.exact AS DOUBLE)) AS BIGINT) AS err_milli
           |FROM est e JOIN ex USING (lang)""".stripMargin) { (s, d) =>
      val toks = docs(s, d)
        .select(col("lang"), explode(TextAnalysis.tokens(col("text"))).as("tok"))
      val est = Sketches.hllEstimate(toks, "lang", col("tok"))
        .select(col("lang"), col("raw_estimate"))
      val exact = toks.groupBy(col("lang"))
        .agg(countDistinct(col("tok")).as("exact_distinct"))
      est.join(exact, Seq("lang"))
        .select(col("lang"), col("exact_distinct"), col("raw_estimate"),
          floor(abs(col("raw_estimate") - col("exact_distinct").cast("double")) * 1000.0
            / col("exact_distinct").cast("double")).cast("long").as("err_milli"))
    },

    // HyperLogLog distinct-token count per language: the fixed-memory
    // alternative to count(DISTINCT) — the shuffle carries at most 64
    // (lang, bucket, rho) rows per stratum regardless of cardinality.
    // Portable construction (md5-60 hash, bin() bit-length, exact integer
    // harmonic sum), so registers AND estimate are cross-engine exact;
    // only the log-based small-range correction is left to the spec
    QuerySpec("text_distinct_hll",
      raw"""WITH $TokensCte,
           |hh AS (SELECT lang, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h FROM tok),
           |rr AS (SELECT lang, h % 64 AS bucket,
           |         CASE WHEN h // 64 = 0 THEN 55 ELSE 55 - length(bin(h // 64)) END AS rho
           |       FROM hh),
           |reg AS (SELECT lang, bucket, max(rho) AS rho FROM rr GROUP BY 1, 2),
           |agg AS (SELECT lang,
           |          64 - count(*) AS n_zero_registers,
           |          CAST(sum(CAST(1 AS BIGINT) << CAST(55 - rho AS INTEGER))
           |               + (64 - count(*)) * (CAST(1 AS BIGINT) << 55) AS BIGINT) AS s_scaled
           |        FROM reg GROUP BY 1)
           |SELECT lang, n_zero_registers, s_scaled,
           |  ${Sketches.EstimateNumerator} / CAST(s_scaled AS DOUBLE) AS raw_estimate
           |FROM agg""".stripMargin) { (s, d) =>
      val toks = docs(s, d)
        .select(col("lang"), explode(TextAnalysis.tokens(col("text"))).as("tok"))
      Sketches.hllEstimate(toks, "lang", col("tok"))
    },

    // the DISTRIBUTIVE property that makes HLL useful at 100 TB: build
    // registers on two disjoint corpus halves (doc_id parity — stand-in
    // for shards/days), merge by per-(lang,bucket) max, estimate. The
    // merge ships ≤ 64 rows per stratum per shard and never rescans
    // text; by max-idempotence the result equals the whole-corpus
    // sketch register for register (cross-checkable vs text_distinct_hll)
    QuerySpec("text_distinct_hll_merged",
      raw"""WITH tt AS (SELECT doc_id, lang, CASE WHEN length(trim(text)) = 0 THEN []
           |          ELSE string_split_regex(trim(lower(text)), '\s+') END AS t FROM documents),
           |tok AS (SELECT doc_id, lang, unnest(t) AS tok FROM tt),
           |hh AS (SELECT doc_id, lang, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h FROM tok),
           |rr AS (SELECT doc_id, lang, h % 64 AS bucket,
           |         CASE WHEN h // 64 = 0 THEN 55 ELSE 55 - length(bin(h // 64)) END AS rho
           |       FROM hh),
           |reg0 AS (SELECT lang, bucket, max(rho) AS rho FROM rr WHERE doc_id % 2 = 0 GROUP BY 1, 2),
           |reg1 AS (SELECT lang, bucket, max(rho) AS rho FROM rr WHERE doc_id % 2 = 1 GROUP BY 1, 2),
           |merged AS (SELECT lang, bucket, max(rho) AS rho FROM
           |             (SELECT * FROM reg0 UNION ALL SELECT * FROM reg1) GROUP BY 1, 2),
           |agg AS (SELECT lang,
           |          64 - count(*) AS n_zero_registers,
           |          CAST(sum(CAST(1 AS BIGINT) << CAST(55 - rho AS INTEGER))
           |               + (64 - count(*)) * (CAST(1 AS BIGINT) << 55) AS BIGINT) AS s_scaled
           |        FROM merged GROUP BY 1)
           |SELECT lang, n_zero_registers, s_scaled,
           |  ${Sketches.EstimateNumerator} / CAST(s_scaled AS DOUBLE) AS raw_estimate
           |FROM agg""".stripMargin) { (s, d) =>
      val toks = docs(s, d)
        .select(col("doc_id"), col("lang"), explode(TextAnalysis.tokens(col("text"))).as("tok"))
      val half = (par: Int) =>
        Sketches.hllRegisters(toks.where(pmod(col("doc_id"), lit(2)) === par), "lang", col("tok"))
      Sketches.hllEstimateFromRegisters(Sketches.hllMerge(Seq(half(0), half(1)), "lang"), "lang")
    },

    // sliding-window distinct users per 3-hour window over the event
    // log: per-HOUR registers built once, fanned out by a generator to
    // the 3 windows each hour serves, max-merged per window. The naive
    // form rescans every event 3x; this shuffles only register-sized
    // frames (hours x 64 rows). Head/tail windows are partial by the
    // same rule in both engines
    QuerySpec("events_sliding_distinct",
      raw"""WITH u AS (SELECT epoch_ms(ts) // 3600000 AS unit,
           |             CAST(user_id AS VARCHAR) AS v FROM events),
           |hh AS (SELECT unit, ('0x' || substr(md5(v), 1, 15))::BIGINT AS h FROM u),
           |rr AS (SELECT unit, h % 64 AS bucket,
           |         CASE WHEN h // 64 = 0 THEN 55 ELSE 55 - length(bin(h // 64)) END AS rho
           |       FROM hh),
           |reg AS (SELECT unit, bucket, max(rho) AS rho FROM rr GROUP BY 1, 2),
           |fan AS (SELECT unit + gg AS window_end, bucket, rho
           |        FROM reg, (SELECT unnest(range(0, 3)) AS gg)),
           |mg AS (SELECT window_end, bucket, max(rho) AS rho FROM fan GROUP BY 1, 2),
           |agg AS (SELECT window_end,
           |          64 - count(*) AS n_zero_registers,
           |          CAST(sum(CAST(1 AS BIGINT) << CAST(55 - rho AS INTEGER))
           |               + (64 - count(*)) * (CAST(1 AS BIGINT) << 55) AS BIGINT) AS s_scaled
           |        FROM mg GROUP BY 1)
           |SELECT window_end, n_zero_registers, s_scaled,
           |  ${Sketches.EstimateNumerator} / CAST(s_scaled AS DOUBLE) AS raw_estimate
           |FROM agg""".stripMargin) { (s, d) =>
      Sketches.hllSliding(events(s, d),
        expr("unix_millis(ts) div 3600000"), col("user_id").cast("string"), width = 3)
    },

    // bloom-pre-filtered semi-join: all events of users who ever had a
    // high-value error. The bloom bit-test drops non-candidate probe rows
    // at the scan before the only shuffle; the exact semi-join removes
    // false positives, so the oracle is the PLAIN semi-join — bloom
    // internals never surface in the result
    QuerySpec("events_bloom_semi",
      raw"""SELECT e.event_id, e.user_id, e.event_type, e.value FROM events e
           |WHERE EXISTS (SELECT 1 FROM events b
           |  WHERE b.user_id = e.user_id AND b.event_type = 'error' AND b.value > 200)""".stripMargin) {
      (s, d) =>
        val ev = events(s, d)
        val flagged = ev.where(col("event_type") === "error" && col("value") > 200.0)
          .select(col("user_id"))
        Bloom.semiJoin(ev.select(col("event_id"), col("user_id"), col("event_type"), col("value")),
          flagged, "user_id")
    },

    // Gopher/C4-style heuristic filter bundle: structural prose signals +
    // one conjunctive keep verdict, every float a ratio of exact integers
    QuerySpec("text_gopher_filters",
      raw"""WITH w AS (
           |  SELECT doc_id,
           |    CASE WHEN length(trim(text)) = 0 THEN []
           |         ELSE string_split_regex(trim(lower(text)), '\s+') END AS words,
           |    list_transform(string_split(text, chr(10)), l -> trim(l)) AS lines,
           |    CAST(length(text) - length(regexp_replace(text, '[#…]', '', 'g')) AS BIGINT) AS n_sym
           |  FROM documents),
           |f AS (
           |  SELECT doc_id,
           |    CAST(len(words) AS BIGINT) AS n_words,
           |    CASE WHEN len(words) = 0 THEN 0.0
           |         ELSE CAST(list_sum(list_transform(words, x -> length(x))) AS DOUBLE)
           |              / CAST(len(words) AS DOUBLE) END AS mean_word_len,
           |    CAST(list_sum(list_transform(lines, l ->
           |      CASE WHEN starts_with(l, '-') OR starts_with(l, '*') OR starts_with(l, '•')
           |           THEN 1 ELSE 0 END)) AS DOUBLE) / CAST(len(lines) AS DOUBLE) AS bullet_line_frac,
           |    CAST(list_sum(list_transform(lines, l ->
           |      CASE WHEN ends_with(l, '...') OR ends_with(l, '…')
           |           THEN 1 ELSE 0 END)) AS DOUBLE) / CAST(len(lines) AS DOUBLE) AS ellipsis_line_frac,
           |    CASE WHEN len(words) = 0 THEN 0.0
           |         ELSE CAST(n_sym AS DOUBLE) / CAST(len(words) AS DOUBLE) END AS symbol_word_ratio,
           |    ${TextAnalysis.GopherStopwords
             .map(sw => s"CASE WHEN list_contains(words, '$sw') THEN 1 ELSE 0 END")
             .mkString(" + ")} AS n_stopword_hits
           |  FROM w)
           |SELECT doc_id, n_words, mean_word_len, bullet_line_frac, ellipsis_line_frac,
           |  symbol_word_ratio, CAST(n_stopword_hits AS INTEGER) AS n_stopword_hits,
           |  (n_words >= 10 AND n_words <= 1000000
           |   AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
           |   AND bullet_line_frac <= 0.9 AND ellipsis_line_frac <= 0.3
           |   AND symbol_word_ratio <= 0.1 AND n_stopword_hits >= 2) AS keep
           |FROM f""".stripMargin) { (s, d) =>
      TextAnalysis.gopherFilters(docs(s, d), "text", "doc_id")
    },

    // Gopher repetition-filter family: per-doc top/duplicated n-gram
    // occurrence fractions for bigrams + trigrams, computed per row
    // with ZERO shuffle (sort the doc's n-grams, read duplicate counts
    // off adjacent-run lengths) — vs the explode+groupBy(doc,gram)
    // formulation whose shuffle carries every token position. Exact
    // integers; fractions are one exact-int division in both engines
    QuerySpec("text_gopher_repetition", {
      def gramSql(n: Int, name: String) =
        raw"""g_$name AS (SELECT doc_id,
             |  CASE WHEN len(t) < $n THEN []
             |       ELSE list_sort(list_transform(range(1, len(t) - ${n - 2}),
             |              i -> ${(0 until n).map(o => s"t[i+$o]").mkString(" || ' ' || ")})) END AS g
             |  FROM tt),
             |st_$name AS (SELECT doc_id, len(g) AS m,
             |  CASE WHEN len(g) = 0 THEN []
             |       ELSE list_filter(range(1, len(g)+1), i -> i = 1 OR g[i] <> g[i-1]) END AS starts
             |  FROM g_$name),
             |runs_$name AS (SELECT doc_id, m,
             |  CASE WHEN m = 0 THEN []
             |       ELSE list_transform(range(1, len(starts)+1),
             |              j -> CASE WHEN j = len(starts) THEN m + 1 - starts[j]
             |                        ELSE starts[j+1] - starts[j] END) END AS r
             |  FROM st_$name),
             |s_$name AS (SELECT doc_id, CAST(m AS BIGINT) AS n_${name}s,
             |  CAST(CASE WHEN m = 0 THEN 0 ELSE list_max(r) END AS BIGINT) AS top_${name}_count,
             |  CAST(CASE WHEN m = 0 THEN 0
             |            ELSE m - len(list_filter(r, x -> x = 1)) END AS BIGINT) AS dup_${name}_count,
             |  CASE WHEN m = 0 THEN 0.0
             |       ELSE CAST(list_max(r) AS DOUBLE) / CAST(m AS DOUBLE) END AS top_${name}_frac,
             |  CASE WHEN m = 0 THEN 0.0
             |       ELSE CAST(m - len(list_filter(r, x -> x = 1)) AS DOUBLE) / CAST(m AS DOUBLE)
             |       END AS dup_${name}_frac
             |  FROM runs_$name)""".stripMargin
      raw"""WITH tt AS (SELECT doc_id, CASE WHEN length(trim(text)) = 0 THEN []
           |          ELSE string_split_regex(trim(lower(text)), '\s+') END AS t FROM documents),
           |${gramSql(2, "bigram")},
           |${gramSql(3, "trigram")}
           |SELECT b.doc_id, b.n_bigrams, b.top_bigram_count, b.dup_bigram_count,
           |  b.top_bigram_frac, b.dup_bigram_frac,
           |  t.n_trigrams, t.top_trigram_count, t.dup_trigram_count,
           |  t.top_trigram_frac, t.dup_trigram_frac,
           |  (b.top_bigram_frac <= 0.20 AND t.top_trigram_frac <= 0.18
           |   AND b.dup_bigram_frac <= 0.40) AS keep
           |FROM s_bigram b JOIN s_trigram t USING (doc_id)""".stripMargin
    }) { (s, d) =>
      TextAnalysis.repetitionStats(docs(s, d), "text", "doc_id")
    },

    // count-min sketch heavy-hitter estimation: the top-20 true-count
    // tokens probed against a d=4 × w=256 CMS of the whole token stream.
    // The sketch shuffle is bounded by d·w, never by vocabulary size; the
    // top-k is TakeOrderedAndProject (no single-partition window).
    // est ≥ true by construction — `overcount` shows the collision error
    QuerySpec("text_cms_topk",
      raw"""WITH tok AS (SELECT unnest(CASE WHEN length(trim(text)) = 0 THEN []
           |    ELSE string_split_regex(trim(lower(text)), '\s+') END) AS token FROM documents),
           |c AS (SELECT token, count(*) AS true_count FROM tok GROUP BY 1),
           |top AS (SELECT token, true_count FROM c ORDER BY true_count DESC, token LIMIT 20),
           |rb AS (SELECT t.r AS r,
           |         ('0x' || substr(md5(CAST(t.r AS VARCHAR) || ':' || token), 1, 15))::BIGINT % 256 AS bucket
           |       FROM tok CROSS JOIN range(0, 4) t(r)),
           |sk AS (SELECT r, bucket, count(*) AS cnt FROM rb GROUP BY 1, 2),
           |pe AS (SELECT token, t.r AS r,
           |         ('0x' || substr(md5(CAST(t.r AS VARCHAR) || ':' || token), 1, 15))::BIGINT % 256 AS bucket
           |       FROM top CROSS JOIN range(0, 4) t(r)),
           |est AS (SELECT token, min(COALESCE(sk.cnt, 0)) AS est_count
           |        FROM pe LEFT JOIN sk USING (r, bucket) GROUP BY 1)
           |SELECT t.token, t.true_count, e.est_count, e.est_count - t.true_count AS overcount
           |FROM top t JOIN est e USING (token)""".stripMargin) { (s, d) =>
      val toks = docs(s, d).select(explode(TextAnalysis.tokens(col("text"))).as("token"))
      val top = toks.groupBy("token").agg(count(lit(1)).as("true_count"))
        .orderBy(col("true_count").desc, col("token").asc).limit(20)
      val est = Sketches.cmsEstimate(toks, col("token"), top.select("token"), "token")
      top.join(est, Seq("token"))
        .select(col("token"), col("true_count"), col("est_count"),
          (col("est_count") - col("true_count")).as("overcount"))
    },

    // CMS's shard-merge story, the linear-count twin of
    // text_distinct_hll_merged: sketch each doc_id-parity half
    // separately, merge by per-(r,bucket) SUM (counts are linear, so
    // merge(sketch A, sketch B) == sketch(A ⊎ B) exactly), then probe
    // the same top-20. Each shard ships ≤ d·w count rows, never tokens;
    // identical estimates to the one-pass sketch by construction
    QuerySpec("text_cms_topk_merged",
      raw"""WITH tok AS (SELECT doc_id, unnest(CASE WHEN length(trim(text)) = 0 THEN []
           |    ELSE string_split_regex(trim(lower(text)), '\s+') END) AS token FROM documents),
           |c AS (SELECT token, count(*) AS true_count FROM tok GROUP BY 1),
           |top AS (SELECT token, true_count FROM c ORDER BY true_count DESC, token LIMIT 20),
           |rb AS (SELECT doc_id, t.r AS r,
           |         ('0x' || substr(md5(CAST(t.r AS VARCHAR) || ':' || token), 1, 15))::BIGINT % 256 AS bucket
           |       FROM tok CROSS JOIN range(0, 4) t(r)),
           |sk0 AS (SELECT r, bucket, count(*) AS cnt FROM rb WHERE doc_id % 2 = 0 GROUP BY 1, 2),
           |sk1 AS (SELECT r, bucket, count(*) AS cnt FROM rb WHERE doc_id % 2 = 1 GROUP BY 1, 2),
           |sk AS (SELECT r, bucket, CAST(sum(cnt) AS BIGINT) AS cnt FROM
           |         (SELECT * FROM sk0 UNION ALL SELECT * FROM sk1) GROUP BY 1, 2),
           |pe AS (SELECT token, t.r AS r,
           |         ('0x' || substr(md5(CAST(t.r AS VARCHAR) || ':' || token), 1, 15))::BIGINT % 256 AS bucket
           |       FROM top CROSS JOIN range(0, 4) t(r)),
           |est AS (SELECT token, min(COALESCE(sk.cnt, 0)) AS est_count
           |        FROM pe LEFT JOIN sk USING (r, bucket) GROUP BY 1)
           |SELECT t.token, t.true_count, e.est_count, e.est_count - t.true_count AS overcount
           |FROM top t JOIN est e USING (token)""".stripMargin) { (s, d) =>
      val toks = docs(s, d)
        .select(col("doc_id"), explode(TextAnalysis.tokens(col("text"))).as("token"))
      val top = toks.groupBy("token").agg(count(lit(1)).as("true_count"))
        .orderBy(col("true_count").desc, col("token").asc).limit(20)
      val half = (par: Int) =>
        Sketches.cmsSketch(toks.where(pmod(col("doc_id"), lit(2)) === par), col("token"))
      val est = Sketches.cmsEstimateFromSketch(
        Sketches.cmsMerge(Seq(half(0), half(1))), top.select("token"), "token")
      top.join(est, Seq("token"))
        .select(col("token"), col("true_count"), col("est_count"),
          (col("est_count") - col("true_count")).as("overcount"))
    },

    // boolean token gate in the exact shape SizeFilterToExists rewrites:
    // size(filter(tokens, p)) > 0 → exists(...) — installed idempotently
    // on the session here so the rule fires in every driver run
    // (Verify/Bench/PlanAudit), not just its spec. The gate
    // short-circuits on the first long token instead of materializing
    // the filtered token array per row; ExtensionsSpec asserts the
    // optimized plan holds ArrayExists and no ArrayFilter
    QuerySpec("text_token_gate",
      raw"""SELECT doc_id, lang FROM documents
           |WHERE len(list_filter(CASE WHEN length(trim(text)) = 0 THEN []
           |        ELSE string_split_regex(trim(lower(text)), '\s+') END,
           |      t -> length(t) >= 8)) > 0""".stripMargin) {
      (s, d) =>
        if (!s.experimental.extraOptimizations.contains(graft.plans.SizeFilterToExists))
          s.experimental.extraOptimizations =
            s.experimental.extraOptimizations :+ graft.plans.SizeFilterToExists
        docs(s, d)
          .where(TextAnalysis.hasTokenMatching(col("text"), t => length(t) >= 8))
          .select(col("doc_id"), col("lang"))
    },

    // Morton (z-order) curve over (customer, order-day): the layout key
    // that keeps rows close in BOTH filter dimensions in the same files,
    // so footer min/max prune 2-D range scans. Pure bit arithmetic,
    // mirrored term for term
    QuerySpec("layout_zorder",
      s"""SELECT o_orderkey,
         |  ${Layout.zValue2Sql("(o_custkey % 65536)",
            "((epoch_ms(o_orderdate) // 86400000) % 65536)", 16)} AS zval
         |FROM orders""".stripMargin) { (s, d) =>
      val orders = s.read.parquet(s"$d/orders.parquet")
      // o_orderdate is TIMESTAMP_NTZ; session tz is UTC, so the cast is
      // the same naive-epoch read DuckDB's epoch_ms performs
      val day = expr("unix_millis(CAST(o_orderdate AS TIMESTAMP)) div 86400000")
      orders.select(col("o_orderkey"),
        Layout.zValue2(pmod(col("o_custkey"), lit(65536L)),
          pmod(day, lit(65536L)), 16).as("zval"))
    },

    // the 3-D generalization over (partkey, suppkey, order-bucket):
    // bit b of dimension j lands at position 3b+j, so all three filter
    // dimensions cluster jointly — the layout for a fact table queried
    // by part AND supplier AND time. Same loop generates both engines'
    // bit terms
    QuerySpec("layout_zorder3",
      s"""SELECT l_orderkey, l_linenumber,
         |  ${Layout.zValueNSql(Seq("(l_partkey % 2048)", "(l_suppkey % 2048)",
            "((l_orderkey // 32) % 2048)"), 11)} AS zval
         |FROM lineitem""".stripMargin) { (s, d) =>
      s.read.parquet(s"$d/lineitem.parquet").select(col("l_orderkey"), col("l_linenumber"),
        Layout.zValueN(Seq(pmod(col("l_partkey"), lit(2048L)),
          pmod(col("l_suppkey"), lit(2048L)),
          pmod(expr("l_orderkey div 32"), lit(2048L))), 11).as("zval"))
    },

    // fixed-memory histogram quantiles: 128 equi-width bins per lang,
    // quantile = lower edge of the first bin reaching rank ceil(n·q).
    // Integer bin/rank math end to end (the exact-sort percentile twin is
    // text_len_quantiles — this is the shape that survives 100 TB)
    QuerySpec("text_len_hist_quantiles",
      raw"""WITH b AS (SELECT lang, min(n_chars) AS lo, max(n_chars) AS hi, count(*) AS n
           |           FROM documents GROUP BY 1),
           |bi AS (SELECT d.lang,
           |         CASE WHEN b.hi = b.lo THEN 0
           |              ELSE least(127, ((d.n_chars - b.lo) * 128) // (b.hi - b.lo)) END AS bin
           |       FROM documents d JOIN b USING (lang)),
           |c AS (SELECT lang, bin, count(*) AS cnt FROM bi GROUP BY 1, 2),
           |cu AS (SELECT lang, bin, sum(cnt) OVER (PARTITION BY lang ORDER BY bin) AS cum FROM c),
           |qs AS (SELECT unnest([1, 2, 3]) AS qn, 4 AS qd),
           |sel AS (SELECT cu.lang, qs.qn, qs.qd, min(cu.bin) AS bin
           |        FROM cu CROSS JOIN qs JOIN b ON b.lang = cu.lang
           |        WHERE cu.cum >= (b.n * qs.qn + qs.qd - 1) // qs.qd
           |        GROUP BY 1, 2, 3)
           |SELECT s.lang, CAST(s.qn AS DOUBLE) / s.qd AS q, b.n AS n_rows, s.bin,
           |  CAST(b.lo * 128 + s.bin * (b.hi - b.lo) AS DOUBLE) / 128 AS est
           |FROM sel s JOIN b ON b.lang = s.lang""".stripMargin) { (s, d) =>
      Sketches.histQuantiles(docs(s, d), "lang", "n_chars",
        nBins = 128, qs = Seq(1 -> 4, 2 -> 4, 3 -> 4))
    },

    // the sketch APPLIED to a curation decision: per-lang keep gate at
    // the 25th-percentile quality threshold, where the threshold comes
    // from the bounded histogram sketch (≤ 64 counts per stratum on the
    // wire) instead of a per-stratum exact sort — the way a 100 TB
    // pipeline picks data-dependent thresholds. Quality rides as exact
    // milli-units (the cents discipline), one broadcast threshold join
    QuerySpec("text_quality_gate_sketch",
      raw"""WITH f AS (
           |  SELECT doc_id, lang,
           |    CAST(length(text) AS DOUBLE) AS n,
           |    CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE) AS alpha,
           |    CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE) AS digits,
           |    CAST(length(regexp_replace(text, '[^.,;:!?''"()]', '', 'g')) AS DOUBLE) AS puncts,
           |    CASE WHEN length(trim(text)) = 0 THEN 0
           |         ELSE len(string_split_regex(trim(text), '\s+')) END AS n_tokens
           |  FROM documents),
           |qq AS (SELECT doc_id, lang,
           |    CAST(floor(1000 * greatest(0.0, least(1.0,
           |      0.5 * (CASE WHEN n = 0 THEN 0.0 ELSE alpha / n END)
           |      + 0.3 * least(CAST(n_tokens AS DOUBLE) / 20.0, 1.0)
           |      + 0.2 * (1.0 - (CASE WHEN n = 0 THEN 0.0 ELSE digits / n END)
           |                   - (CASE WHEN n = 0 THEN 0.0 ELSE puncts / n END)))) + 0.5)
           |      AS BIGINT) AS qm
           |  FROM f),
           |b AS (SELECT lang, min(qm) AS lo, max(qm) AS hi, count(*) AS n FROM qq GROUP BY 1),
           |bi AS (SELECT q.lang,
           |         CASE WHEN b.hi = b.lo THEN 0
           |              ELSE least(63, ((q.qm - b.lo) * 64) // (b.hi - b.lo)) END AS bin
           |       FROM qq q JOIN b USING (lang)),
           |c AS (SELECT lang, bin, count(*) AS cnt FROM bi GROUP BY 1, 2),
           |cu AS (SELECT lang, bin, sum(cnt) OVER (PARTITION BY lang ORDER BY bin) AS cum FROM c),
           |sel AS (SELECT cu.lang, min(cu.bin) AS bin
           |        FROM cu JOIN b ON b.lang = cu.lang
           |        WHERE cu.cum >= (b.n * 1 + 4 - 1) // 4
           |        GROUP BY 1),
           |th AS (SELECT s.lang,
           |         CAST(b.lo * 64 + s.bin * (b.hi - b.lo) AS DOUBLE) / 64 AS est
           |       FROM sel s JOIN b ON b.lang = s.lang)
           |SELECT q.lang, count(*) AS n_docs,
           |  CAST(sum(CASE WHEN CAST(q.qm AS DOUBLE) >= t.est THEN 1 ELSE 0 END) AS BIGINT)
           |    AS n_kept,
           |  min(t.est) AS threshold
           |FROM qq q JOIN th t ON q.lang = t.lang GROUP BY 1""".stripMargin) { (s, d) =>
      val qm = TextAnalysis.qualityScore(docs(s, d), "text")
        .select(col("doc_id"), col("lang"),
          floor(lit(1000.0d) * col("quality_score") + 0.5d).cast("long").as("qm"))
      val th = Sketches.histQuantiles(qm, "lang", "qm", nBins = 64, qs = Seq(1 -> 4))
        .select(col("lang"), col("est"))
      qm.join(broadcast(th), Seq("lang"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("qm").cast("double") >= col("est"), 1L).otherwise(0L))
            .as("n_kept"),
          min(col("est")).as("threshold"))
    },

    // the histogram's shard-merge story, completing the trilogy with
    // text_distinct_hll_merged (max) and text_cms_topk_merged (sum):
    // one tiny global bounds pass FIXES the bin edges, each doc_id-parity
    // half bins against them, and the merged per-(lang,bin) count sums
    // reproduce the whole-corpus histogram — so the quantile estimates
    // are identical to text_len_hist_quantiles without any shard ever
    // shipping more than nBins counts per stratum
    QuerySpec("text_len_hist_merged",
      raw"""WITH b AS (SELECT lang, min(n_chars) AS lo, max(n_chars) AS hi, count(*) AS n
           |           FROM documents GROUP BY 1),
           |bi AS (SELECT d.lang, d.doc_id,
           |         CASE WHEN b.hi = b.lo THEN 0
           |              ELSE least(127, ((d.n_chars - b.lo) * 128) // (b.hi - b.lo)) END AS bin
           |       FROM documents d JOIN b USING (lang)),
           |c0 AS (SELECT lang, bin, count(*) AS cnt FROM bi WHERE doc_id % 2 = 0 GROUP BY 1, 2),
           |c1 AS (SELECT lang, bin, count(*) AS cnt FROM bi WHERE doc_id % 2 = 1 GROUP BY 1, 2),
           |c AS (SELECT lang, bin, CAST(sum(cnt) AS BIGINT) AS cnt FROM
           |        (SELECT * FROM c0 UNION ALL SELECT * FROM c1) GROUP BY 1, 2),
           |cu AS (SELECT lang, bin, sum(cnt) OVER (PARTITION BY lang ORDER BY bin) AS cum FROM c),
           |qs AS (SELECT unnest([1, 2, 3]) AS qn, 4 AS qd),
           |sel AS (SELECT cu.lang, qs.qn, qs.qd, min(cu.bin) AS bin
           |        FROM cu CROSS JOIN qs JOIN b ON b.lang = cu.lang
           |        WHERE cu.cum >= (b.n * qs.qn + qs.qd - 1) // qs.qd
           |        GROUP BY 1, 2, 3)
           |SELECT s.lang, CAST(s.qn AS DOUBLE) / s.qd AS q, b.n AS n_rows, s.bin,
           |  CAST(b.lo * 128 + s.bin * (b.hi - b.lo) AS DOUBLE) / 128 AS est
           |FROM sel s JOIN b ON b.lang = s.lang""".stripMargin) { (s, d) =>
      val all = docs(s, d)
      val bounds = Sketches.histBounds(all, "lang", "n_chars")
      val half = (par: Int) =>
        Sketches.histBinCounts(all.where(pmod(col("doc_id"), lit(2)) === par),
          "lang", "n_chars", nBins = 128, bounds)
      Sketches.histQuantilesFromCounts(
        Sketches.histMerge(Seq(half(0), half(1)), "lang"),
        bounds, "lang", nBins = 128, qs = Seq(1 -> 4, 2 -> 4, 3 -> 4))
    },

    // time-bounded funnel: signup → first click within 24h → first
    // purchase within 24h of that click. Anchored conditional mins
    // (aggregate + user_id equi-join), never a per-user pair expansion
    // — the global-first-touch funnel below can't express the deadline
    QuerySpec("events_funnel_windowed",
      raw"""WITH a AS (SELECT user_id,
           |    min(CASE WHEN event_type = 'signup' THEN epoch_ms(ts) END) AS t_signup
           |  FROM events GROUP BY 1),
           |c AS (SELECT e.user_id, min(epoch_ms(e.ts)) AS t_click
           |      FROM events e JOIN a ON e.user_id = a.user_id
           |      WHERE e.event_type = 'click' AND epoch_ms(e.ts) > a.t_signup
           |        AND epoch_ms(e.ts) <= a.t_signup + 86400000
           |      GROUP BY 1),
           |p AS (SELECT e.user_id, min(epoch_ms(e.ts)) AS t_purchase
           |      FROM events e JOIN c ON e.user_id = c.user_id
           |      WHERE e.event_type = 'purchase' AND epoch_ms(e.ts) > c.t_click
           |        AND epoch_ms(e.ts) <= c.t_click + 86400000
           |      GROUP BY 1)
           |SELECT count(*) AS n_users,
           |  CAST(sum(CASE WHEN a.t_signup IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_signed_up,
           |  CAST(sum(CASE WHEN c.t_click IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_clicked_in_window,
           |  CAST(sum(CASE WHEN p.t_purchase IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_converted
           |FROM a LEFT JOIN c ON a.user_id = c.user_id
           |       LEFT JOIN p ON a.user_id = p.user_id""".stripMargin) { (s, d) =>
      graft.streaming.EventPipeline.funnelWindowed(events(s, d), windowMs = 86400000L)
    },

    // conversion funnel: per-user first-touch timestamps per stage, then
    // one global count row — min(CASE) aggregates, a single shuffle on
    // user_id, and timestamp comparison for stage ordering
    QuerySpec("events_funnel",
      raw"""WITH u AS (
           |  SELECT user_id,
           |    min(CASE WHEN event_type = 'signup' THEN ts END) AS t_signup,
           |    min(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
           |    min(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
           |  FROM events GROUP BY 1)
           |SELECT count(*) AS n_users,
           |  CAST(sum(CASE WHEN t_signup IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_signed_up,
           |  CAST(sum(CASE WHEN t_signup IS NOT NULL AND t_click > t_signup
           |                THEN 1 ELSE 0 END) AS BIGINT) AS n_clicked_after,
           |  CAST(sum(CASE WHEN t_signup IS NOT NULL AND t_click > t_signup
           |                 AND t_purchase > t_click
           |                THEN 1 ELSE 0 END) AS BIGINT) AS n_converted
           |FROM u""".stripMargin) { (s, d) =>
      val u = events(s, d).groupBy(col("user_id")).agg(
        min(when(col("event_type") === "signup", col("ts"))).as("t_signup"),
        min(when(col("event_type") === "click", col("ts"))).as("t_click"),
        min(when(col("event_type") === "purchase", col("ts"))).as("t_purchase"))
      u.agg(
        count(lit(1)).as("n_users"),
        sum(when(col("t_signup").isNotNull, 1L).otherwise(0L)).as("n_signed_up"),
        sum(when(col("t_signup").isNotNull && col("t_click") > col("t_signup"), 1L)
          .otherwise(0L)).as("n_clicked_after"),
        sum(when(col("t_signup").isNotNull && col("t_click") > col("t_signup")
          && col("t_purchase") > col("t_click"), 1L).otherwise(0L)).as("n_converted"))
    },

    // per-user value outliers with EXACT integer arithmetic: cents =
    // floor(100·v + 0.5), z² test as (c·n − S)² > 9·(n·Q − S²) — no
    // float mean/stddev whose summation order could differ between
    // engines. The test terms are computed in DECIMAL(38,0) in BOTH
    // arms: in BIGINT, S² alone overflows at realistic scale (n≈1e6
    // events of ~$1000 → S≈1e11, S²≈1e22), where DuckDB raises and
    // non-ANSI Spark wraps silently — engine/oracle divergence exactly
    // at the 100 TB tier. 38 digits hold every term up to n·cents ≈
    // 1e19 per user. One shuffle on user_id; flags events > 3σ
    QuerySpec("events_value_outliers",
      raw"""WITH c AS (SELECT event_id, user_id,
           |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents FROM events),
           |st AS (SELECT user_id, count(*) AS n,
           |         CAST(sum(cents) AS BIGINT) AS s,
           |         CAST(sum(cents * cents) AS BIGINT) AS q
           |       FROM c GROUP BY 1),
           |w AS (SELECT c.event_id, c.user_id, c.cents, st.n,
           |        CAST(c.cents AS DECIMAL(38,0)) AS cd,
           |        CAST(st.n AS DECIMAL(38,0)) AS nd,
           |        CAST(st.s AS DECIMAL(38,0)) AS sd,
           |        CAST(st.q AS DECIMAL(38,0)) AS qd
           |      FROM c JOIN st USING (user_id))
           |SELECT event_id, user_id, cents FROM w
           |WHERE n >= 10
           |  AND (cd * nd - sd) * (cd * nd - sd) > 9 * (nd * qd - sd * sd)""".stripMargin) {
      (s, d) =>
      val cents = events(s, d).select(col("event_id"), col("user_id"),
        floor(col("value") * 100 + 0.5).cast("long").as("cents"))
      val stats = cents.groupBy(col("user_id")).agg(
        count(lit(1)).as("n"), sum(col("cents")).as("s"),
        sum(col("cents") * col("cents")).as("q"))
      def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(38,0)")
      val (cd, nd, sd, qd) = (dec(col("cents")), dec(col("n")), dec(col("s")), dec(col("q")))
      cents.join(stats, Seq("user_id"))
        .where(col("n") >= 10 &&
          (cd * nd - sd) * (cd * nd - sd) > lit(9) * (nd * qd - sd * sd))
        .select(col("event_id"), col("user_id"), col("cents"))
    },

    // inverted-index build: per-term document frequency + a BOUNDED
    // posting list (16 lowest doc ids) — the df count is a plain
    // aggregate, the postings collect only ever sees rows that survived
    // a term-partitioned rank ≤ 16, so hub terms can't blow an
    // aggregation buffer. REGISTRY RULE: no array/struct columns in
    // query outputs (the driver's pandas hash check can't sort them) —
    // the posting list is serialized to a comma-joined string here; the
    // library operator (Retrieval.invertedIndex) keeps the typed array
    QuerySpec("text_inverted_index",
      raw"""WITH tt AS (SELECT doc_id, CASE WHEN length(trim(text)) = 0 THEN []
           |                ELSE string_split_regex(trim(lower(text)), '\s+') END AS t FROM documents),
           |td AS (SELECT DISTINCT doc, term FROM
           |         (SELECT doc_id AS doc, unnest(t) AS term FROM tt)),
           |dfq AS (SELECT term, count(*) AS doc_freq FROM td GROUP BY 1),
           |cap AS (SELECT term, doc FROM (
           |          SELECT term, doc, row_number() OVER (PARTITION BY term ORDER BY doc) AS rn
           |          FROM td) WHERE rn <= 16),
           |pl AS (SELECT term, array_to_string(list_sort(list(doc)), ',') AS postings
           |       FROM cap GROUP BY 1)
           |SELECT d.term, d.doc_freq, p.postings FROM dfq d JOIN pl p USING (term)""".stripMargin) {
      (s, d) =>
        Retrieval.invertedIndex(docs(s, d), "text", "doc_id", maxPostings = 16)
          .withColumn("postings", array_join(col("postings"), ","))
    },

    // per-window leaderboard: hourly tumbling windows (exact pmod floor
    // alignment), decimal-exact spend per user, top-3 per window via the
    // group-partitioned streaming rank — windows + ranking composed
    QuerySpec("events_window_topk",
      raw"""WITH e AS (SELECT epoch_ms(ts) AS ms, user_id, value FROM events),
           |sp AS (SELECT (ms // 3600000) * 3600000 AS win_start, user_id,
           |         CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS spend,
           |         count(*) AS n_events
           |       FROM e GROUP BY 1, 2)
           |SELECT win_start, user_id, spend, n_events, rank FROM (
           |  SELECT *, row_number() OVER (PARTITION BY win_start
           |    ORDER BY spend DESC, user_id) AS rank FROM sp)
           |WHERE rank <= 3""".stripMargin) { (s, d) =>
      val ms = unix_millis(col("ts").cast("timestamp"))
      val spend = events(s, d)
        .select((ms - pmod(ms, lit(3600000L))).as("win_start"), col("user_id"), col("value"))
        .groupBy(col("win_start"), col("user_id"))
        .agg(sum(col("value").cast("decimal(18,2)")).cast("double").as("spend"),
          count(lit(1)).as("n_events"))
      Ranking.topKPerGroup(spend, Seq("win_start"),
        Seq(col("spend").desc, col("user_id")), k = 3)
    },

    // multi-dimensional corpus accounting: ROLLUP(lang, source) — per
    // (lang, source), per lang, and grand-total rows from ONE aggregation
    // pass (Spark expands the grouping sets before the single shuffle);
    // NULL group keys mark the subtotal levels identically in both engines
    QuerySpec("text_stats_rollup",
      raw"""SELECT lang, source, count(*) AS n_docs,
           |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
           |  CAST(grouping(lang) AS INTEGER) AS g_lang,
           |  CAST(grouping(source) AS INTEGER) AS g_source
           |FROM documents GROUP BY ROLLUP(lang, source)""".stripMargin) { (s, d) =>
      docs(s, d).rollup(col("lang"), col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("total_chars"),
          grouping(col("lang")).cast("int").as("g_lang"),
          grouping(col("source")).cast("int").as("g_source"))
        .select(col("lang"), col("source"), col("n_docs"), col("total_chars"),
          col("g_lang"), col("g_source"))
    },

    // weekly cohort retention: users bucketed by first-seen week, then
    // (cohort_week, active_week, n_users) — two aggregations, both
    // shuffling on user_id/cohort keys; week ids are exact integer floor
    // divisions of epoch-ms
    QuerySpec("events_retention",
      raw"""WITH e AS (SELECT user_id, epoch_ms(ts) // 604800000 AS week FROM events),
           |c AS (SELECT user_id, min(week) AS cohort_week FROM e GROUP BY 1),
           |a AS (SELECT DISTINCT user_id, week FROM e)
           |SELECT c.cohort_week, a.week, count(*) AS n_users
           |FROM a JOIN c USING (user_id)
           |GROUP BY 1, 2""".stripMargin) { (s, d) =>
      val ev = events(s, d)
        .select(col("user_id"),
          expr("unix_millis(CAST(ts AS TIMESTAMP)) div 604800000").as("week"))
      val cohorts = ev.groupBy(col("user_id")).agg(min(col("week")).as("cohort_week"))
      ev.distinct().join(cohorts, Seq("user_id"))
        .groupBy(col("cohort_week"), col("week"))
        .agg(count(lit(1)).as("n_users"))
    },

    // curriculum binning: per-lang length quartiles FROM THE HISTOGRAM
    // SKETCH (not an exact sort), broadcast back as 3 edge rows per lang,
    // bin = number of edges ≤ the doc's length (0..3). The whole
    // threshold derivation stays in-plan and integer-exact, so both
    // engines assign every doc the same bin
    QuerySpec("text_quality_bins",
      raw"""WITH b AS (SELECT lang, min(n_chars) AS lo, max(n_chars) AS hi, count(*) AS n
           |           FROM documents GROUP BY 1),
           |bi AS (SELECT d.lang,
           |         CASE WHEN b.hi = b.lo THEN 0
           |              ELSE least(127, ((d.n_chars - b.lo) * 128) // (b.hi - b.lo)) END AS bin
           |       FROM documents d JOIN b USING (lang)),
           |c AS (SELECT lang, bin, count(*) AS cnt FROM bi GROUP BY 1, 2),
           |cu AS (SELECT lang, bin, sum(cnt) OVER (PARTITION BY lang ORDER BY bin) AS cum FROM c),
           |qs AS (SELECT unnest([1, 2, 3]) AS qn, 4 AS qd),
           |sel AS (SELECT cu.lang, qs.qn, min(cu.bin) AS bin
           |        FROM cu CROSS JOIN qs JOIN b ON b.lang = cu.lang
           |        WHERE cu.cum >= (b.n * qs.qn + qs.qd - 1) // qs.qd
           |        GROUP BY 1, 2),
           |edges AS (SELECT s.lang,
           |            CAST(b.lo * 128 + s.bin * (b.hi - b.lo) AS DOUBLE) / 128 AS est
           |          FROM sel s JOIN b ON b.lang = s.lang)
           |SELECT d.doc_id, d.lang,
           |  CAST(sum(CASE WHEN CAST(d.n_chars AS DOUBLE) >= e.est THEN 1 ELSE 0 END)
           |       AS INTEGER) AS bin
           |FROM documents d JOIN edges e USING (lang)
           |GROUP BY 1, 2""".stripMargin) { (s, d) =>
      val dd = docs(s, d)
      val edges = Sketches.histQuantiles(dd, "lang", "n_chars",
        nBins = 128, qs = Seq(1 -> 4, 2 -> 4, 3 -> 4))
        .select(col("lang"), col("est"))
      dd.join(broadcast(edges), Seq("lang"))
        .groupBy(col("doc_id"), col("lang"))
        .agg(sum(when(col("n_chars").cast("double") >= col("est"), 1).otherwise(0))
          .cast("int").as("bin"))
    },

    // context-window chunking: 32-token chunks, 8-token overlap (stride
    // 24) — the pre-embedding segmentation step. Chunk text itself is
    // value-checked, so tokenization, stride math, and the tail clamp
    // all have to agree
    QuerySpec("text_chunks",
      raw"""WITH tt AS (SELECT doc_id, CASE WHEN length(trim(text)) = 0 THEN []
           |                ELSE string_split_regex(trim(lower(text)), '\s+') END AS t FROM documents),
           |p AS (SELECT doc_id, t, len(t) AS n FROM tt WHERE len(t) > 0),
           |nc AS (SELECT doc_id, t, n,
           |         greatest(1, CAST(ceil(CAST(n - 8 AS DOUBLE) / 24) AS INTEGER)) AS m
           |       FROM p),
           |ch AS (SELECT doc_id, t, n, unnest(range(0, m)) AS i FROM nc)
           |SELECT doc_id, i AS chunk_idx,
           |  array_to_string(t[i*24 + 1 : i*24 + 32], ' ') AS chunk_text,
           |  least(32, n - i*24) AS chunk_tokens
           |FROM ch""".stripMargin) { (s, d) =>
      TextAnalysis.chunkTokens(docs(s, d), "text", "doc_id",
        chunkTokens = 32, overlap = 8)
    },

    // per-lang quality percentile: percent_rank over the total order
    // (score, doc_id) — the relative-quality signal curriculum samplers
    // consume; the window is lang-partitioned, never global
    QuerySpec("text_quality_pct",
      raw"""WITH f AS (
           |  SELECT doc_id, lang,
           |    CAST(length(text) AS DOUBLE) AS n,
           |    CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE) AS alpha,
           |    CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE) AS digits,
           |    CAST(length(regexp_replace(text, '[^.,;:!?''"()]', '', 'g')) AS DOUBLE) AS puncts,
           |    CASE WHEN length(trim(text)) = 0 THEN 0
           |         ELSE len(string_split_regex(trim(text), '\s+')) END AS n_tokens
           |  FROM documents),
           |q AS (
           |  SELECT doc_id, lang, greatest(0.0, least(1.0,
           |    0.5 * (CASE WHEN n = 0 THEN 0.0 ELSE alpha / n END)
           |    + 0.3 * least(CAST(n_tokens AS DOUBLE) / 20.0, 1.0)
           |    + 0.2 * (1.0 - (CASE WHEN n = 0 THEN 0.0 ELSE digits / n END)
           |                 - (CASE WHEN n = 0 THEN 0.0 ELSE puncts / n END)))) AS quality_score
           |  FROM f)
           |SELECT doc_id, lang, quality_score,
           |  percent_rank() OVER (PARTITION BY lang ORDER BY quality_score, doc_id) AS pct
           |FROM q""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val q = TextAnalysis.qualityScore(docs(s, d), "text")
        .select(col("doc_id"), col("lang"), col("quality_score"))
      q.withColumn("pct", percent_rank().over(
        Window.partitionBy(col("lang")).orderBy(col("quality_score"), col("doc_id"))))
    },

    // ANN quality evaluation: per-query recall of the LSH top-5 against
    // the brute-force ground truth — the harness that tells you whether
    // an approximate index is trustworthy BEFORE you run it over 100 TB.
    // Both arms are the already-value-checked paths; recall is an exact
    // per-row integer ratio
    QuerySpec("sim_ann_recall", {
      val lshSql = LshOracleSql.topkSqlAuto(OpsQueries.HMax, OpsQueries.LshTargetBucket,
        k = 5, maxBucket = 4096)
      raw"""WITH brute AS (
           |  WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id % 100 = 0),
           |  scored AS (SELECT query_id, e.vec_id AS neighbor_id,
           |               list_dot_product(qv, e.embedding) AS score
           |             FROM q JOIN embeddings e ON e.vec_id <> query_id)
           |  SELECT query_id, neighbor_id FROM (
           |    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rank
           |    FROM scored)
           |  WHERE rank <= 5),
           |lsh AS (SELECT query_id, neighbor_id FROM ($lshSql))
           |SELECT b.query_id, count(*) AS k,
           |  CAST(sum(CASE WHEN l.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
           |  CAST(sum(CASE WHEN l.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
           |    / CAST(count(*) AS DOUBLE) AS recall
           |FROM brute b LEFT JOIN lsh l
           |  ON l.query_id = b.query_id AND l.neighbor_id = b.neighbor_id
           |GROUP BY 1""".stripMargin
    }) { (s, d) =>
      val e = s.read.parquet(s"$d/embeddings.parquet")
      val brute = Similarity.bruteForceTopK(e, e.where(col("vec_id") % 100 === 0),
        "vec_id", "embedding", k = 5)
        .select(col("query_id"), col("neighbor_id"))
      val lsh = Similarity.lshTopK(e, "vec_id", "embedding",
        k = 5, h = OpsQueries.autoH(e), maxBucket = 4096)
        .select(col("query_id"), col("neighbor_id"), lit(1).as("__hit"))
      brute.join(lsh, Seq("query_id", "neighbor_id"), "left")
        .groupBy(col("query_id"))
        .agg(count(lit(1)).as("k"),
          sum(coalesce(col("__hit"), lit(0))).cast("long").as("n_hit"))
        .withColumn("recall", col("n_hit").cast("double") / col("k").cast("double"))
    },

    // recall of the MULTI-PROBE LSH (self bucket + h one-bit-flip
    // probes) against the same brute-force truth: quantifies what the
    // (h+1)× probe volume buys over sim_ann_recall's single probe.
    // SimilarityTextSpec pins the floor — the improvement is a tested
    // property, not a comment
    QuerySpec("sim_ann_multiprobe_recall", {
      val lshSql = LshOracleSql.multiProbeTopkSqlAuto(OpsQueries.HMax,
        OpsQueries.LshTargetBucket, k = 5, maxBucket = 4096)
      raw"""WITH brute AS (
           |  WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id % 100 = 0),
           |  scored AS (SELECT query_id, e.vec_id AS neighbor_id,
           |               list_dot_product(qv, e.embedding) AS score
           |             FROM q JOIN embeddings e ON e.vec_id <> query_id)
           |  SELECT query_id, neighbor_id FROM (
           |    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rank
           |    FROM scored)
           |  WHERE rank <= 5),
           |lsh AS (SELECT query_id, neighbor_id FROM ($lshSql))
           |SELECT b.query_id, count(*) AS k,
           |  CAST(sum(CASE WHEN l.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
           |  CAST(sum(CASE WHEN l.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
           |    / CAST(count(*) AS DOUBLE) AS recall
           |FROM brute b LEFT JOIN lsh l
           |  ON l.query_id = b.query_id AND l.neighbor_id = b.neighbor_id
           |GROUP BY 1""".stripMargin
    }) { (s, d) =>
      val e = s.read.parquet(s"$d/embeddings.parquet")
      val brute = Similarity.bruteForceTopK(e, e.where(col("vec_id") % 100 === 0),
        "vec_id", "embedding", k = 5)
        .select(col("query_id"), col("neighbor_id"))
      val lsh = Similarity.lshTopKMultiProbe(e, "vec_id", "embedding",
        k = 5, h = OpsQueries.autoH(e), maxBucket = 4096)
        .select(col("query_id"), col("neighbor_id"), lit(1).as("__hit"))
      brute.join(lsh, Seq("query_id", "neighbor_id"), "left")
        .groupBy(col("query_id"))
        .agg(count(lit(1)).as("k"),
          sum(coalesce(col("__hit"), lit(0))).cast("long").as("n_hit"))
        .withColumn("recall", col("n_hit").cast("double") / col("k").cast("double"))
    },

    // the IVF twin of sim_ann_recall: nprobe=4 over 16 sampled centroids
    // vs the brute-force truth — together the two recall harnesses cover
    // both approximate index families this engine ships
    QuerySpec("sim_ivf_recall",
      raw"""WITH brute AS (
           |  WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id % 100 = 0),
           |  scored AS (SELECT query_id, e.vec_id AS neighbor_id,
           |               list_dot_product(qv, e.embedding) AS score
           |             FROM q JOIN embeddings e ON e.vec_id <> query_id)
           |  SELECT query_id, neighbor_id FROM (
           |    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rank
           |    FROM scored)
           |  WHERE rank <= 5),
           |ivf AS (
           |  WITH cents AS (
           |    SELECT vec_id AS centroid_id, embedding AS cv FROM embeddings
           |    WHERE vec_id % 50 = 0 ORDER BY vec_id LIMIT 16),
           |  assigned AS (
           |    SELECT vec_id, embedding, centroid_id FROM (
           |      SELECT e.vec_id, e.embedding, c.centroid_id,
           |        row_number() OVER (PARTITION BY e.vec_id
           |          ORDER BY list_dot_product(e.embedding, c.cv) DESC, c.centroid_id) AS rn
           |      FROM embeddings e CROSS JOIN cents c) WHERE rn = 1),
           |  probes AS (
           |    SELECT query_id, qv, centroid_id FROM (
           |      SELECT q.vec_id AS query_id, q.embedding AS qv, c.centroid_id,
           |        row_number() OVER (PARTITION BY q.vec_id
           |          ORDER BY list_dot_product(q.embedding, c.cv) DESC, c.centroid_id) AS pr
           |      FROM embeddings q CROSS JOIN cents c WHERE q.vec_id % 100 = 0) WHERE pr <= 4),
           |  scored AS (
           |    SELECT p.query_id, a.vec_id AS neighbor_id,
           |      list_dot_product(p.qv, a.embedding) AS score
           |    FROM probes p JOIN assigned a
           |      ON p.centroid_id = a.centroid_id AND p.query_id <> a.vec_id)
           |  SELECT query_id, neighbor_id FROM (
           |    SELECT *, row_number() OVER (PARTITION BY query_id
           |      ORDER BY score DESC, neighbor_id) AS rank FROM scored)
           |  WHERE rank <= 5)
           |SELECT b.query_id, count(*) AS k,
           |  CAST(sum(CASE WHEN i.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
           |  CAST(sum(CASE WHEN i.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
           |    / CAST(count(*) AS DOUBLE) AS recall
           |FROM brute b LEFT JOIN ivf i
           |  ON i.query_id = b.query_id AND i.neighbor_id = b.neighbor_id
           |GROUP BY 1""".stripMargin) { (s, d) =>
      val e = s.read.parquet(s"$d/embeddings.parquet")
      val queries = e.where(col("vec_id") % 100 === 0)
      val brute = Similarity.bruteForceTopK(e, queries, "vec_id", "embedding", k = 5)
        .select(col("query_id"), col("neighbor_id"))
      val ivf = Similarity.ivfTopK(e, queries, "vec_id", "embedding",
        k = 5, nCentroids = 16, modulus = 50, nprobe = 4)
        .select(col("query_id"), col("neighbor_id"), lit(1).as("__hit"))
      brute.join(ivf, Seq("query_id", "neighbor_id"), "left")
        .groupBy(col("query_id"))
        .agg(count(lit(1)).as("k"),
          sum(coalesce(col("__hit"), lit(0))).cast("long").as("n_hit"))
        .withColumn("recall", col("n_hit").cast("double") / col("k").cast("double"))
    },

    // recall of the PQ index against the same brute-force truth — the
    // third leg of the ANN recall family (LSH, IVF, PQ): what the
    // 16-32× at-rest compression costs in top-5 agreement, measured in
    // exact integers per query
    QuerySpec("sim_pq_recall",
      raw"""WITH brute AS (
           |  WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id % 100 = 0),
           |  scored AS (SELECT query_id, e.vec_id AS neighbor_id,
           |               list_dot_product(qv, e.embedding) AS score
           |             FROM q JOIN embeddings e ON e.vec_id <> query_id)
           |  SELECT query_id, neighbor_id FROM (
           |    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rank
           |    FROM scored)
           |  WHERE rank <= 5),
           |pq AS (SELECT query_id, neighbor_id FROM (${OpsQueries.PqTopkSql}))
           |SELECT b.query_id, count(*) AS k,
           |  CAST(sum(CASE WHEN p.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
           |  CAST(sum(CASE WHEN p.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
           |    / CAST(count(*) AS DOUBLE) AS recall
           |FROM brute b LEFT JOIN pq p
           |  ON p.query_id = b.query_id AND p.neighbor_id = b.neighbor_id
           |GROUP BY 1""".stripMargin) { (s, d) =>
      val e = s.read.parquet(s"$d/embeddings.parquet")
      val queries = e.where(col("vec_id") % 100 === 0)
      val brute = Similarity.bruteForceTopK(e, queries, "vec_id", "embedding", k = 5)
        .select(col("query_id"), col("neighbor_id"))
      val pq = Similarity.pqTopK(e, queries, "vec_id", "embedding",
        k = 5, m = 8, subDim = 8, nCentroids = 16, modulus = 5L)
        .select(col("query_id"), col("neighbor_id"), lit(1).as("__hit"))
      brute.join(pq, Seq("query_id", "neighbor_id"), "left")
        .groupBy(col("query_id"))
        .agg(count(lit(1)).as("k"),
          sum(coalesce(col("__hit"), lit(0))).cast("long").as("n_hit"))
        .withColumn("recall", col("n_hit").cast("double") / col("k").cast("double"))
    },

    // language-ID quality audit: confusion matrix of the declared lang
    // against the stopword predictor — the check that tells you how far
    // to trust metadata labels before using them as sampling strata.
    // The predictor's distinct-hit scoring and its DESC/DESC tie-break
    // are mirrored exactly (list_intersect dedups like array_intersect)
    QuerySpec("text_lang_confusion", {
      val cands = TextAnalysis.stopwords.toSeq.sortBy(_._1)
        .map { case (l, ws) =>
          s"('$l', [${ws.map(w => s"'$w'").mkString(", ")}])" }
        .mkString(",\n|      ")
      raw"""WITH tt AS (SELECT doc_id, CASE WHEN length(trim(text)) = 0 THEN []
           |                ELSE string_split_regex(trim(lower(text)), '\s+') END AS t FROM documents),
           |s AS (
           |  SELECT doc_id, l.cand, len(list_intersect(t, l.words)) AS score
           |  FROM tt CROSS JOIN (VALUES
           |      $cands) l(cand, words)),
           |best AS (SELECT doc_id, cand, score,
           |           row_number() OVER (PARTITION BY doc_id
           |             ORDER BY score DESC, cand DESC) AS rn
           |         FROM s),
           |p AS (SELECT doc_id, CASE WHEN score <= 0 THEN 'und' ELSE cand END AS lang_pred
           |      FROM best WHERE rn = 1)
           |SELECT d.lang, p.lang_pred, count(*) AS n_docs
           |FROM documents d JOIN p USING (doc_id)
           |GROUP BY 1, 2""".stripMargin
    }) { (s, d) =>
      TextAnalysis.languageId(docs(s, d), "text")
        .groupBy(col("lang"), col("lang_pred"))
        .agg(count(lit(1)).as("n_docs"))
    },

    // PII exposure report per source: email / long-digit-run counts from
    // the redaction pass rolled up to the governance view — which feeds
    // decide-before-train ("which sources need scrubbing"). Counts are
    // exact integers from the same regexes the redactor applies
    QuerySpec("text_pii_stats",
      raw"""WITH c AS (
           |  SELECT source,
           |    len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_emails,
           |    len(regexp_extract_all(
           |      regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
           |      '[0-9]{7,}')) AS n_digit_runs
           |  FROM documents)
           |SELECT source,
           |  CAST(sum(n_emails) AS BIGINT) AS total_emails,
           |  CAST(sum(n_digit_runs) AS BIGINT) AS total_digit_runs,
           |  CAST(sum(CASE WHEN n_emails + n_digit_runs > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_docs_with_pii,
           |  count(*) AS n_docs
           |FROM c GROUP BY 1""".stripMargin) { (s, d) =>
      TextAnalysis.redactPii(docs(s, d), "text")
        .groupBy(col("source"))
        .agg(
          sum(col("n_emails")).cast("long").as("total_emails"),
          sum(col("n_digit_runs")).cast("long").as("total_digit_runs"),
          sum(when(col("n_emails") + col("n_digit_runs") > 0, 1L).otherwise(0L))
            .as("n_docs_with_pii"),
          count(lit(1)).as("n_docs"))
    },

    // KMV bottom-k distinct-token estimate per language: unlike HLL the
    // sketch is a uniform sample of the distinct-hash space, so the same
    // k rows also support set algebra (see text_kmv_jaccard). Sketch
    // rows, the k-th hash, and the estimator's single division are all
    // cross-engine exact; strata smaller than k are exact counts
    QuerySpec("text_kmv_distinct",
      raw"""WITH $TokensCte,
           |hh AS (SELECT DISTINCT lang, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h FROM tok),
           |sk AS (SELECT lang, h FROM (
           |         SELECT lang, h, row_number() OVER (PARTITION BY lang ORDER BY h) AS pos FROM hh)
           |       WHERE pos <= 48),
           |agg AS (SELECT lang, count(*) AS n_sketch, max(h) AS hmax FROM sk GROUP BY 1)
           |SELECT lang, n_sketch,
           |  CASE WHEN n_sketch = 48 THEN hmax END AS kth_hash,
           |  CASE WHEN n_sketch = 48 THEN (47 * 1152921504606846976.0) / CAST(hmax AS DOUBLE)
           |       ELSE CAST(n_sketch AS DOUBLE) END AS est
           |FROM agg""".stripMargin) { (s, d) =>
      val toks = docs(s, d)
        .select(col("lang"), explode(TextAnalysis.tokens(col("text"))).as("tok"))
      Sketches.kmvEstimate(Sketches.kmvSketch(toks, "lang", col("tok"), k = 48), "lang", k = 48)
    },

    // the KMV set-algebra payoff: token-set Jaccard between two corpus
    // halves (doc_id parity — stand-in for two crawls) per language,
    // estimated from the MERGED bottom-k sketch. Each side ships k
    // hashes; no distinct-intersection of full corpora ever runs —
    // "how much does crawl A overlap crawl B" at sketch cost
    QuerySpec("text_kmv_jaccard",
      raw"""WITH tt AS (SELECT doc_id, lang, CASE WHEN length(trim(text)) = 0 THEN []
           |          ELSE string_split_regex(trim(lower(text)), '\s+') END AS t FROM documents),
           |tok AS (SELECT doc_id, lang, unnest(t) AS tok FROM tt),
           |hh AS (SELECT doc_id % 2 AS par, lang, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h FROM tok),
           |ska AS (SELECT lang, h FROM (
           |          SELECT lang, h, row_number() OVER (PARTITION BY lang ORDER BY h) AS pos
           |          FROM (SELECT DISTINCT lang, h FROM hh WHERE par = 0))
           |        WHERE pos <= 48),
           |skb AS (SELECT lang, h FROM (
           |          SELECT lang, h, row_number() OVER (PARTITION BY lang ORDER BY h) AS pos
           |          FROM (SELECT DISTINCT lang, h FROM hh WHERE par = 1))
           |        WHERE pos <= 48),
           |u AS (SELECT lang, h FROM (
           |        SELECT lang, h, row_number() OVER (PARTITION BY lang ORDER BY h) AS pos
           |        FROM (SELECT DISTINCT lang, h FROM
           |               (SELECT * FROM ska UNION ALL SELECT * FROM skb)))
           |      WHERE pos <= 48)
           |SELECT u.lang, count(*) AS k_union,
           |  CAST(sum(CASE WHEN a.h IS NOT NULL AND b.h IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
           |    AS n_both,
           |  CAST(sum(CASE WHEN a.h IS NOT NULL AND b.h IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
           |    / CAST(count(*) AS DOUBLE) AS jaccard_est
           |FROM u LEFT JOIN ska a ON u.lang = a.lang AND u.h = a.h
           |       LEFT JOIN skb b ON u.lang = b.lang AND u.h = b.h
           |GROUP BY 1""".stripMargin) { (s, d) =>
      val toks = docs(s, d)
        .select(col("doc_id"), col("lang"), explode(TextAnalysis.tokens(col("text"))).as("tok"))
      val half = (p: Int) =>
        Sketches.kmvSketch(toks.where(pmod(col("doc_id"), lit(2)) === p),
          "lang", col("tok"), k = 48)
      Sketches.kmvJaccard(half(0), half(1), "lang", k = 48)
    },

    // DIRECTIONAL overlap from the same KMV sketches: what fraction of
    // the odd half's ("new crawl") distinct tokens the even half ("seen
    // corpus") already covers — the contamination direction Jaccard
    // can't answer (a tiny corpus fully inside a huge one has ~0
    // Jaccard, containment 1). Same k-row frames, exact counts
    QuerySpec("text_kmv_containment",
      raw"""WITH tt AS (SELECT doc_id, lang, CASE WHEN length(trim(text)) = 0 THEN []
           |          ELSE string_split_regex(trim(lower(text)), '\s+') END AS t FROM documents),
           |tok AS (SELECT doc_id, lang, unnest(t) AS tok FROM tt),
           |hh AS (SELECT doc_id % 2 AS par, lang, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h FROM tok),
           |ska AS (SELECT lang, h FROM (
           |          SELECT lang, h, row_number() OVER (PARTITION BY lang ORDER BY h) AS pos
           |          FROM (SELECT DISTINCT lang, h FROM hh WHERE par = 1))
           |        WHERE pos <= 48),
           |skb AS (SELECT lang, h FROM (
           |          SELECT lang, h, row_number() OVER (PARTITION BY lang ORDER BY h) AS pos
           |          FROM (SELECT DISTINCT lang, h FROM hh WHERE par = 0))
           |        WHERE pos <= 48),
           |u AS (SELECT lang, h FROM (
           |        SELECT lang, h, row_number() OVER (PARTITION BY lang ORDER BY h) AS pos
           |        FROM (SELECT DISTINCT lang, h FROM
           |               (SELECT * FROM ska UNION ALL SELECT * FROM skb)))
           |      WHERE pos <= 48)
           |SELECT u.lang,
           |  CAST(sum(CASE WHEN a.h IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_a_sample,
           |  CAST(sum(CASE WHEN a.h IS NOT NULL AND b.h IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
           |    AS n_both,
           |  CASE WHEN sum(CASE WHEN a.h IS NOT NULL THEN 1 ELSE 0 END) > 0 THEN
           |    CAST(sum(CASE WHEN a.h IS NOT NULL AND b.h IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
           |      / CAST(sum(CASE WHEN a.h IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE) END
           |    AS containment_est
           |FROM u LEFT JOIN ska a ON u.lang = a.lang AND u.h = a.h
           |       LEFT JOIN skb b ON u.lang = b.lang AND u.h = b.h
           |GROUP BY 1""".stripMargin) { (s, d) =>
      val toks = docs(s, d)
        .select(col("doc_id"), col("lang"), explode(TextAnalysis.tokens(col("text"))).as("tok"))
      val half = (p: Int) =>
        Sketches.kmvSketch(toks.where(pmod(col("doc_id"), lit(2)) === p),
          "lang", col("tok"), k = 48)
      Sketches.kmvContainment(half(1), half(0), "lang", k = 48)
    },

    // quality-aware canonicalization: near-dup clusters (simhash pairs →
    // connected components) each elect the member with the highest
    // quality score (tie → lowest id) — detect → cluster → CHOOSE, the
    // step plain dedupByComponents (min-id survivor) skips
    QuerySpec("dedup_canonical",
      SketchOracleSql.simHashCanonicalSql(maxHamming = 3, maxBucket = 1000)) { (s, d) =>
      val dd = docs(s, d)
      Dedup.canonicalByQuality(
        Dedup.simHashNearDups(dd, "text", "doc_id", maxHamming = 3, maxBucket = 1000),
        TextAnalysis.qualityScore(dd, "text").select(col("doc_id"), col("quality_score")),
        "doc_id")
    }
  )
}
