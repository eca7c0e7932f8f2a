package graft.demo

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.QuerySpec

/**
 * Round-10 entity-resolution and event-history queries: fuzzy identifier
 * matching, slowly-changing-dimension intervals, and behavior-transition
 * statistics. Same contract as [[OpsQueries]]: every entry pairs the
 * Spark implementation with its exact DuckDB mirror — all arithmetic is
 * integer/decimal-exact so both engines compute identical bits.
 */
object EntityQueries {

  private def customer(s: SparkSession, d: String) =
    s.read.parquet(s"$d/customer.parquet")
  private def docs(s: SparkSession, d: String) =
    s.read.parquet(s"$d/documents.parquet")
  private def lineitem(s: SparkSession, d: String) =
    s.read.parquet(s"$d/lineitem.parquet")
  private def events(s: SparkSession, d: String) = OpsQueries.events(s, d)

  /** Shared oracle CTE: the winnowed fingerprint set at k=5, w=4 (see
    * [[graft.ops.Winnowing]] — key encoding folds the rightmost-min
    * tie-break into one window min). */
  private val winnowFpCte =
    raw"""WITH tt AS (SELECT doc_id, CASE WHEN length(trim(text)) = 0 THEN []
         |              ELSE string_split_regex(trim(lower(text)), '\s+') END AS t FROM documents),
         |gr AS (SELECT doc_id AS doc, unnest(CASE WHEN len(t) < 5 THEN []
         |         ELSE [{'pos': i, 'g': array_to_string(t[i:i+4], ' ')}
         |               FOR i IN range(1, len(t) - 3)] END) AS u FROM tt),
         |ky AS (SELECT doc, u.pos AS pos,
         |         (('0x' || substr(md5(u.g), 1, 15))::BIGINT % 1048576) * 1048576
         |           + (1048575 - u.pos) AS key FROM gr),
         |wn AS (SELECT doc, pos,
         |         count(*) OVER (PARTITION BY doc) AS n_grams,
         |         min(key) OVER (PARTITION BY doc ORDER BY pos
         |           ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS mk
         |       FROM ky),
         |fp AS (SELECT DISTINCT doc, n_grams, mk // 1048576 AS fp_hash,
         |         1048575 - (mk % 1048576) AS fp_pos
         |       FROM wn WHERE pos >= 4 OR pos = n_grams)""".stripMargin

  /** Shared oracle CTE: the water-filling token-budget allocation at
    * budget = 600 milli over `source` (see [[graft.ops.Sampling
    * .tokenBudget]]); terminal CTE `al` has
    * (source, n_tokens, alloc_tokens, capped). */
  private val tokenBudgetCte =
    raw"""WITH c AS (SELECT source, CAST(sum(CASE WHEN length(trim(text)) = 0 THEN 0
         |             ELSE len(string_split_regex(trim(text), '\s+')) END) AS BIGINT) AS n_tokens
         |           FROM documents GROUP BY 1),
         |t AS (SELECT sum(n_tokens) AS tot, count(*) AS s FROM c),
         |sc AS (SELECT c.*, CAST(row_number() OVER (ORDER BY n_tokens, source) AS BIGINT) AS i,
         |         sum(n_tokens) OVER (ORDER BY n_tokens, source
         |           ROWS UNBOUNDED PRECEDING) AS p
         |       FROM c),
         |f AS (SELECT sc.*, t.s AS s, (t.tot * 600) // 1000 AS b,
         |        (n_tokens * (t.s - i + 1) <= (t.tot * 600) // 1000 - (p - n_tokens)) AS is_full
         |      FROM sc, t),
         |w AS (SELECT COALESCE(max(CASE WHEN is_full THEN i END), 0) AS istar,
         |        COALESCE(max(CASE WHEN is_full THEN p END), 0) AS pstar FROM f),
         |al AS (SELECT f.source, f.n_tokens,
         |        CAST(CASE WHEN f.is_full THEN f.n_tokens
         |          ELSE (f.b - w.pstar) // (f.s - w.istar)
         |             + CASE WHEN f.s - f.i + 1 <= (f.b - w.pstar) % (f.s - w.istar)
         |               THEN 1 ELSE 0 END END AS BIGINT) AS alloc_tokens,
         |        CAST(CASE WHEN f.is_full THEN 0 ELSE 1 END AS BIGINT) AS capped
         |      FROM f, w)""".stripMargin

  /** Shared oracle CTE chain: exact 3-shingle Jaccard pairs at
    * `tMilli` via prefix filtering (mirrors [[graft.ops.SetSimilarity
    * .jaccardPrefixJoin]]); terminal CTE `pr` has
    * (id_a, id_b, jac_milli). */
  private def jaccardPairsCte(tMilli: Int): String =
    raw"""WITH tt AS (SELECT doc_id, CASE WHEN length(trim(text)) = 0 THEN []
         |              ELSE string_split_regex(trim(lower(text)), '\s+') END AS t FROM documents),
         |sh AS (SELECT DISTINCT doc_id AS doc, unnest(CASE WHEN len(t) < 3 THEN []
         |         ELSE [array_to_string(t[i:i+2], ' ') FOR i IN range(1, len(t) - 1)] END) AS tok
         |       FROM tt),
         |sz AS (SELECT doc, count(*) AS n FROM sh GROUP BY 1),
         |dfq AS (SELECT tok, count(*) AS df FROM sh GROUP BY 1),
         |rk AS (SELECT s.doc, s.tok,
         |         row_number() OVER (PARTITION BY s.doc ORDER BY d.df, s.tok) AS r, z.n
         |       FROM sh s JOIN dfq d USING (tok) JOIN sz z USING (doc)),
         |pf AS (SELECT doc, tok FROM rk WHERE r <= n - (($tMilli * n + 999) // 1000) + 1),
         |cand AS (SELECT DISTINCT a.doc AS id_a, b.doc AS id_b
         |         FROM pf a JOIN pf b ON a.tok = b.tok AND a.doc < b.doc),
         |i AS (SELECT c.id_a, c.id_b, count(*) AS inter
         |      FROM cand c JOIN sh sa ON sa.doc = c.id_a
         |                  JOIN sh sb ON sb.doc = c.id_b AND sb.tok = sa.tok
         |      GROUP BY 1, 2),
         |pr AS (SELECT i.id_a, i.id_b,
         |         CAST((i.inter * 1000) // (za.n + zb.n - i.inter) AS BIGINT) AS jac_milli
         |       FROM i JOIN sz za ON za.doc = i.id_a JOIN sz zb ON zb.doc = i.id_b
         |       WHERE i.inter * 1000 >= (za.n + zb.n - i.inter) * $tMilli)""".stripMargin

  /** Shared field rules of the `recon_linkage_*` family: configured
    * milli log-odds over name / segment (missing-aware) / balance. */
  private def linkageRules: Seq[graft.ops.Linkage.FieldRule] = {
    import graft.ops.Linkage.FieldRule
    Seq(
      FieldRule("name", col("a_nm") === col("b_nm"), None, 2400L, -800L),
      FieldRule("seg", col("a_seg") === col("b_seg"),
        Some(col("b_seg").isNull), 1600L, -600L),
      FieldRule("bal", abs(col("a_cents") - col("b_cents")) <= 10L,
        None, 1200L, -400L))
  }

  /** MULTI-PASS blocked customer pairs against a deterministically-
    * perturbed twin — the candidate set every `recon_linkage_*` query
    * works from. Blocking is the linkage capacity knob, and a bare
    * 25-value nation key made candidate pairs grow quadratically with
    * data (the one super-linear shape r13's headroom tier measured), so
    * the flagship now runs the production pattern: pass 1 blocks on the
    * COMPOSITE (nation, $100 balance band) — pair count per 10× data
    * grows ~10× slower than nation alone — and pass 2 backstops recall
    * with an exact-name block (a drifted balance crosses its band, but
    * 16/17 of twins keep their name). Both passes run under an in-plan
    * forecast budget ([[graft.ops.Linkage.blockPairsBudgeted]]) that
    * refuses to materialize an exploding pair table. */
  private def linkagePairs(s: SparkSession, d: String): DataFrame = {
    import graft.ops.Linkage
    val (cb, bb) = linkageSides(s, d)
    Linkage.blockPairsMulti(cb, bb,
      Seq(Seq("nat", "band"), Seq("nm")), "k", "k", maxPairs = 50000000L)
  }

  /** The two BANDED linkage sides (base customers + perturbed twin),
    * each carrying the composite-blocking band column — shared by
    * [[linkagePairs]] and the `recon_linkage_forecast` capacity audit. */
  private def linkageSides(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val c = customer(s, d).select(
      col("c_custkey").as("k"), col("c_name").as("nm"),
      col("c_nationkey").as("nat"), col("c_mktsegment").as("seg"),
      floor(col("c_acctbal") * lit(100) + lit(0.5)).cast("long").as("cents"))
    val b = c.select(col("k"),
      when(col("k") % 17 === 0, concat(col("nm"), lit("~"))).otherwise(col("nm")).as("nm"),
      col("nat"),
      when(col("k") % 29 === 0, lit(null).cast("string"))
        .when(col("k") % 13 === 0, lit("UNKNOWN")).otherwise(col("seg")).as("seg"),
      (col("cents") + when(col("k") % 11 === 0, 7L).otherwise(0L)
        + when(col("k") % 23 === 0, 50000L).otherwise(0L)).as("cents"))
    // cents ≥ −99999, so the +100000 shift keeps the band div non-negative
    // (Spark `div` truncates toward zero, DuckDB `//` floors — they only
    // agree on non-negative operands)
    def banded(df: DataFrame) =
      df.withColumn("band", expr("(cents + 100000) div 10000"))
    (banded(c), banded(b))
  }

  /** Shared oracle CTE chain of the `recon_linkage_*` family: the
    * perturbed twin + the multi-pass blocked pair set — mirrors
    * [[linkagePairs]] exactly (composite pass, then the name pass minus
    * the pairs the composite already co-located — disjoint by
    * construction, so UNION ALL with no dedup shuffle). */
  private val linkageOracleCtes: String =
    raw"""WITH c AS (SELECT c_custkey AS k, c_name AS nm, c_nationkey AS nat,
         |    c_mktsegment AS seg,
         |    CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) AS cents FROM customer),
         |b AS (SELECT k, CASE WHEN k % 17 = 0 THEN nm || '~' ELSE nm END AS nm, nat,
         |    CASE WHEN k % 29 = 0 THEN NULL
         |         WHEN k % 13 = 0 THEN 'UNKNOWN' ELSE seg END AS seg,
         |    cents + CASE WHEN k % 11 = 0 THEN 7 ELSE 0 END
         |          + CASE WHEN k % 23 = 0 THEN 50000 ELSE 0 END AS cents
         |  FROM c),
         |cb AS (SELECT k, nm, nat, seg, cents,
         |    (cents + 100000) // 10000 AS band FROM c),
         |bb AS (SELECT k, nm, nat, seg, cents,
         |    (cents + 100000) // 10000 AS band FROM b),
         |pr AS MATERIALIZED (
         |  SELECT a.k AS ak, b.k AS bk, a.nm AS anm, b.nm AS bnm,
         |         a.seg AS aseg, b.seg AS bseg, a.cents AS ac, b.cents AS bc,
         |         a.nat AS anat, b.nat AS bnat, a.band AS aband, b.band AS bband
         |  FROM cb a JOIN bb b ON a.nat = b.nat AND a.band = b.band
         |  UNION ALL
         |  SELECT a.k, b.k, a.nm, b.nm, a.seg, b.seg, a.cents, b.cents,
         |         a.nat, b.nat, a.band, b.band
         |  FROM cb a JOIN bb b ON a.nm = b.nm
         |  WHERE NOT COALESCE(a.nat = b.nat AND a.band = b.band, FALSE))""".stripMargin

  /** Shared Spark arm of the scoring queries: [[linkagePairs]] scored
    * with [[linkageRules]] and banded. */
  private def linkageScored(s: SparkSession, d: String): DataFrame = {
    import graft.ops.Linkage
    Linkage.score(linkagePairs(s, d), linkageRules)
      .withColumn("band", Linkage.band(col("score_milli"),
        Seq("match" -> 3000L, "possible" -> 1000L), "nonmatch"))
  }

  val all: Seq[QuerySpec] = Seq(

    // fuzzy entity matching at join scale: every customer-name pair
    // within edit distance 1, found by deletion-neighborhood blocking
    // (ops/Fuzzy.scala) instead of an O(n²) cartesian levenshtein scan.
    // TPC-H names are zero-padded digit strings, so single-digit
    // substitutions give a dense planted answer set. The oracle mirrors
    // the same blocking scheme — a cross-join levenshtein filter would
    // take DuckDB quadratic time too
    QuerySpec("recon_fuzzy_names",
      raw"""WITH c AS (SELECT c_custkey AS id, c_name AS s FROM customer),
           |v AS (SELECT id, s, unnest(list_append(
           |        [substr(s, 1, i-1) || substr(s, i+1, length(s))
           |         FOR i IN range(1, length(s)+1)], s)) AS v
           |      FROM c),
           |cand AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b,
           |                a.s AS s_a, b.s AS s_b
           |         FROM v a JOIN v b ON a.v = b.v AND a.id < b.id)
           |SELECT id_a, id_b, s_a, s_b,
           |  CAST(levenshtein(s_a, s_b) AS BIGINT) AS dist
           |FROM cand WHERE levenshtein(s_a, s_b) <= 1""".stripMargin) { (s, d) =>
      graft.ops.Fuzzy.pairsWithin1(customer(s, d), "c_name", "c_custkey")
    },

    // Fellegi–Sunter probabilistic linkage, banded: customers linked to a
    // deterministically-perturbed twin (typo'd names 1-in-17, segment
    // rewritten 1-in-13 / missing 1-in-29, balance drifted 1-in-11 and
    // 1-in-23) through MULTI-PASS blocking — (nation, $100 balance band)
    // composite ∪ exact name, each pass one equi shuffle under an in-plan
    // pair-budget forecast, never a cartesian compare. Field agreements
    // carry configured milli log-odds; missing fields contribute 0. The
    // per-band truth counts (same custkey = true link) audit the
    // threshold choice end-to-end
    QuerySpec("recon_linkage_bands",
      linkageOracleCtes + raw""",
           |p AS (SELECT ak, bk,
           |    CASE WHEN anm = bnm THEN 2400 ELSE -800 END
           |    + CASE WHEN bseg IS NULL THEN 0
           |           WHEN aseg = bseg THEN 1600 ELSE -600 END
           |    + CASE WHEN abs(ac - bc) <= 10 THEN 1200 ELSE -400 END AS score
           |  FROM pr)
           |SELECT CASE WHEN score >= 3000 THEN 'match'
           |            WHEN score >= 1000 THEN 'possible'
           |            ELSE 'nonmatch' END AS band,
           |  count(*) AS n_pairs,
           |  CAST(sum(CASE WHEN ak = bk THEN 1 ELSE 0 END) AS BIGINT) AS n_true,
           |  CAST((1000 * sum(CASE WHEN ak = bk THEN 1 ELSE 0 END)) // count(*)
           |    AS BIGINT) AS precision_milli,
           |  CAST(min(score) AS BIGINT) AS min_score_milli,
           |  CAST(max(score) AS BIGINT) AS max_score_milli
           |FROM p GROUP BY 1""".stripMargin) { (s, d) =>
      val scored = linkageScored(s, d)
      scored.groupBy(col("band"))
        .agg(count(lit(1)).as("n_pairs"),
          sum(when(col("a_k") === col("b_k"), 1L).otherwise(0L)).as("n_true"),
          expr("(1000 * sum(CASE WHEN a_k = b_k THEN 1 ELSE 0 END)) div count(*)")
            .as("precision_milli"),
          min(col("score_milli")).as("min_score_milli"),
          max(col("score_milli")).as("max_score_milli"))
    },

    // the CAPACITY AUDIT the budget guard runs, as a first-class query:
    // per blocking pass, the EXACT candidate-pair forecast
    // Σ_k |A_k|·|B_k| from the two per-key count frames — keys shuffle,
    // data never does. This is the number an operator reads BEFORE
    // committing a cluster to the block join (the nm pass forecasts its
    // pre-exclusion upper bound, exactly what blockPairsBudgeted gates)
    QuerySpec("recon_linkage_forecast",
      linkageOracleCtes + raw""",
           |fa1 AS (SELECT nat, band, count(*) AS c FROM cb GROUP BY 1, 2),
           |fb1 AS (SELECT nat, band, count(*) AS c FROM bb GROUP BY 1, 2),
           |j1 AS (SELECT count(*) AS k, COALESCE(sum(fa1.c * fb1.c), 0) AS p
           |       FROM fa1 JOIN fb1 USING (nat, band)),
           |fa2 AS (SELECT nm, count(*) AS c FROM cb GROUP BY 1),
           |fb2 AS (SELECT nm, count(*) AS c FROM bb GROUP BY 1),
           |j2 AS (SELECT count(*) AS k, COALESCE(sum(fa2.c * fb2.c), 0) AS p
           |       FROM fa2 JOIN fb2 USING (nm)),
           |tot AS (SELECT (SELECT count(*) FROM cb) AS nl,
           |               (SELECT count(*) FROM bb) AS nr)
           |SELECT 'nat_band' AS pass, CAST(nl AS BIGINT) AS n_left,
           |  CAST(nr AS BIGINT) AS n_right, CAST(k AS BIGINT) AS n_overlap_keys,
           |  CAST(p AS VARCHAR) AS n_output_rows FROM j1 CROSS JOIN tot
           |UNION ALL
           |SELECT 'nm', CAST(nl AS BIGINT), CAST(nr AS BIGINT),
           |  CAST(k AS BIGINT), CAST(p AS VARCHAR) FROM j2 CROSS JOIN tot""".stripMargin) { (s, d) =>
      import graft.ops.JoinForecast
      val (cb, bb) = linkageSides(s, d)
      // the forecast rides DECIMAL(38,0) inside the operator (a hub key
      // past 2^63 must not wrap); across the compare boundary it travels
      // as exact digit STRINGS — decimal renderings differ between engines
      Seq(("nat_band", Seq("nat", "band")), ("nm", Seq("nm"))).map { case (tag, keys) =>
        JoinForecast.joinSizeEstimate(cb, bb, keys)
          .select(lit(tag).as("pass"), col("n_left"), col("n_right"),
            col("n_overlap_keys"), col("n_output_rows").cast("string").as("n_output_rows"))
      }.reduce(_ unionByName _)
    },

    // the pair-level arm of the same linkage: every match/possible pair
    // with its exact milli score — the reviewer queue a linkage deploy
    // actually ships (nonmatch pairs never leave the block join)
    QuerySpec("recon_linkage_pairs",
      linkageOracleCtes + raw""",
           |p AS (SELECT ak AS custkey_a, bk AS custkey_b,
           |    CASE WHEN anm = bnm THEN 2400 ELSE -800 END
           |    + CASE WHEN bseg IS NULL THEN 0
           |           WHEN aseg = bseg THEN 1600 ELSE -600 END
           |    + CASE WHEN abs(ac - bc) <= 10 THEN 1200 ELSE -400 END AS score
           |  FROM pr)
           |SELECT custkey_a, custkey_b, CAST(score AS BIGINT) AS score_milli,
           |  CASE WHEN score >= 3000 THEN 'match' ELSE 'possible' END AS band
           |FROM p WHERE score >= 1000""".stripMargin) { (s, d) =>
      linkageScored(s, d).where(col("score_milli") >= 1000L)
        .select(col("a_k").as("custkey_a"), col("b_k").as("custkey_b"),
          col("score_milli"), col("band"))
    },

    // the estimation arm of the same linkage: per-field m/u agreement
    // rates from the truth-labeled pair sample (m = P(agree | true link),
    // u = P(agree | non-link), exact milli; missing fields excluded from
    // both denominators) — the measured inputs the configured log-odds
    // weights come from. One pass over the blocked pairs
    QuerySpec("recon_linkage_weights",
      linkageOracleCtes + raw""",
           |p AS (SELECT ak = bk AS t,
           |    anm = bnm AS ag_name,
           |    bseg IS NULL AS ms_seg, aseg = bseg AS ag_seg,
           |    abs(ac - bc) <= 10 AS ag_bal
           |  FROM pr),
           |g AS (SELECT
           |    sum(CASE WHEN t THEN 1 ELSE 0 END) AS t_all,
           |    sum(CASE WHEN NOT t THEN 1 ELSE 0 END) AS f_all,
           |    sum(CASE WHEN t AND NOT ms_seg THEN 1 ELSE 0 END) AS t_seg,
           |    sum(CASE WHEN NOT t AND NOT ms_seg THEN 1 ELSE 0 END) AS f_seg,
           |    sum(CASE WHEN t AND ag_name THEN 1 ELSE 0 END) AS ta_name,
           |    sum(CASE WHEN NOT t AND ag_name THEN 1 ELSE 0 END) AS fa_name,
           |    sum(CASE WHEN t AND NOT ms_seg AND ag_seg THEN 1 ELSE 0 END) AS ta_seg,
           |    sum(CASE WHEN NOT t AND NOT ms_seg AND ag_seg THEN 1 ELSE 0 END) AS fa_seg,
           |    sum(CASE WHEN t AND ag_bal THEN 1 ELSE 0 END) AS ta_bal,
           |    sum(CASE WHEN NOT t AND ag_bal THEN 1 ELSE 0 END) AS fa_bal
           |  FROM p)
           |SELECT 'name' AS field, CAST(t_all AS BIGINT) AS n_true,
           |  CAST(f_all AS BIGINT) AS n_false,
           |  CAST((1000 * ta_name) // t_all AS BIGINT) AS m_milli,
           |  CAST((1000 * fa_name) // f_all AS BIGINT) AS u_milli FROM g
           |UNION ALL SELECT 'seg', CAST(t_seg AS BIGINT), CAST(f_seg AS BIGINT),
           |  CAST((1000 * ta_seg) // t_seg AS BIGINT),
           |  CAST((1000 * fa_seg) // f_seg AS BIGINT) FROM g
           |UNION ALL SELECT 'bal', CAST(t_all AS BIGINT), CAST(f_all AS BIGINT),
           |  CAST((1000 * ta_bal) // t_all AS BIGINT),
           |  CAST((1000 * fa_bal) // f_all AS BIGINT) FROM g""".stripMargin) { (s, d) =>
      import graft.ops.Linkage
      val pairs = linkagePairs(s, d)
      Linkage.estimateWeights(pairs, col("a_k") === col("b_k"), linkageRules)
    },

    // UNSUPERVISED m/u fitting — one Winkler EM iteration over the same
    // blocked pairs, no truth labels anywhere: per-pair match
    // responsibilities from starting milli probabilities (missing fields
    // neutral at 1000), then the weighted M-step re-estimate. All
    // integer floor arithmetic, so the whole mixture fit is
    // value-checked bit for bit; responsibilities never materialize
    // (one aggregate pass, map-side combined)
    QuerySpec("recon_linkage_em",
      linkageOracleCtes + raw""",
           |p AS (SELECT anm = bnm AS agn,
           |    bseg IS NULL AS msg, aseg = bseg AS ags,
           |    abs(ac - bc) <= 10 AS agb
           |  FROM pr),
           |l AS (SELECT agn, msg, ags, agb,
           |    CAST(CASE WHEN agn THEN 900 ELSE 100 END AS BIGINT) AS lm1,
           |    CAST(CASE WHEN agn THEN 5 ELSE 995 END AS BIGINT) AS lu1,
           |    CAST(CASE WHEN msg THEN 1000 WHEN ags THEN 950 ELSE 50 END AS BIGINT) AS lm2,
           |    CAST(CASE WHEN msg THEN 1000 WHEN ags THEN 200 ELSE 800 END AS BIGINT) AS lu2,
           |    CAST(CASE WHEN agb THEN 900 ELSE 100 END AS BIGINT) AS lm3,
           |    CAST(CASE WHEN agb THEN 10 ELSE 990 END AS BIGINT) AS lu3
           |  FROM p),
           |e AS (SELECT *, 20 * lm1 * lm2 * lm3 AS num,
           |        980 * lu1 * lu2 * lu3 AS den2 FROM l),
           |w AS (SELECT *, (1000 * num) // (num + den2) AS w FROM e),
           |g AS (SELECT
           |    sum(w) AS sw_a, sum(1000 - w) AS swu_a,
           |    sum(CASE WHEN agn THEN w ELSE 0 END) AS swa_name,
           |    sum(CASE WHEN agn THEN 1000 - w ELSE 0 END) AS swua_name,
           |    sum(CASE WHEN NOT msg THEN w ELSE 0 END) AS sw_seg,
           |    sum(CASE WHEN NOT msg THEN 1000 - w ELSE 0 END) AS swu_seg,
           |    sum(CASE WHEN NOT msg AND ags THEN w ELSE 0 END) AS swa_seg,
           |    sum(CASE WHEN NOT msg AND ags THEN 1000 - w ELSE 0 END) AS swua_seg,
           |    sum(CASE WHEN agb THEN w ELSE 0 END) AS swa_bal,
           |    sum(CASE WHEN agb THEN 1000 - w ELSE 0 END) AS swua_bal
           |  FROM w)
           |SELECT 'name' AS field, CAST(900 AS BIGINT) AS m_milli,
           |  CAST(5 AS BIGINT) AS u_milli,
           |  CAST((1000 * swa_name) // sw_a AS BIGINT) AS m_next_milli,
           |  CAST((1000 * swua_name) // swu_a AS BIGINT) AS u_next_milli FROM g
           |UNION ALL SELECT 'seg', 950, 200,
           |  CAST((1000 * swa_seg) // sw_seg AS BIGINT),
           |  CAST((1000 * swua_seg) // swu_seg AS BIGINT) FROM g
           |UNION ALL SELECT 'bal', 900, 10,
           |  CAST((1000 * swa_bal) // sw_a AS BIGINT),
           |  CAST((1000 * swua_bal) // swu_a AS BIGINT) FROM g""".stripMargin) { (s, d) =>
      import graft.ops.Linkage
      Linkage.emStep(linkagePairs(s, d), linkageRules,
        Seq(("name", 900L, 5L), ("seg", 950L, 200L), ("bal", 900L, 10L)),
        pMilli = 20L)
    },

    // the DECIMAL arm of the same Winkler EM, at SIX fields — past the
    // Long path's hard cap (1000·p·Π lm reaches ~10²² here; int64 ends
    // at 9.2·10¹⁸). Spark runs emStepDecimal's DECIMAL(38,0) products;
    // the oracle runs the identical floor divisions in HUGEINT — both
    // exact to well past the six-field envelope, so every responsibility
    // and both M-step rates are value-checked bit for bit. Fields 4-6
    // (nation, balance band, exact balance) agree on every composite-
    // pass pair but split on the name-pass backstop, so the fit is
    // non-degenerate across passes
    QuerySpec("recon_linkage_em6",
      linkageOracleCtes + raw""",
           |p AS (SELECT anm = bnm AS f1, bseg IS NULL AS msg, aseg = bseg AS f2,
           |    abs(ac - bc) <= 10 AS f3, anat = bnat AS f4,
           |    aband = bband AS f5, ac = bc AS f6
           |  FROM pr),
           |l AS (SELECT f1, msg, f2, f3, f4, f5, f6,
           |    CAST(CASE WHEN f1 THEN 900 ELSE 100 END AS HUGEINT) AS lm1,
           |    CAST(CASE WHEN f1 THEN 5 ELSE 995 END AS HUGEINT) AS lu1,
           |    CAST(CASE WHEN msg THEN 1000 WHEN f2 THEN 950 ELSE 50 END AS HUGEINT) AS lm2,
           |    CAST(CASE WHEN msg THEN 1000 WHEN f2 THEN 200 ELSE 800 END AS HUGEINT) AS lu2,
           |    CAST(CASE WHEN f3 THEN 900 ELSE 100 END AS HUGEINT) AS lm3,
           |    CAST(CASE WHEN f3 THEN 10 ELSE 990 END AS HUGEINT) AS lu3,
           |    CAST(CASE WHEN f4 THEN 990 ELSE 10 END AS HUGEINT) AS lm4,
           |    CAST(CASE WHEN f4 THEN 700 ELSE 300 END AS HUGEINT) AS lu4,
           |    CAST(CASE WHEN f5 THEN 985 ELSE 15 END AS HUGEINT) AS lm5,
           |    CAST(CASE WHEN f5 THEN 650 ELSE 350 END AS HUGEINT) AS lu5,
           |    CAST(CASE WHEN f6 THEN 850 ELSE 150 END AS HUGEINT) AS lm6,
           |    CAST(CASE WHEN f6 THEN 5 ELSE 995 END AS HUGEINT) AS lu6
           |  FROM p),
           |e AS (SELECT *, 20 * lm1 * lm2 * lm3 * lm4 * lm5 * lm6 AS num,
           |        980 * lu1 * lu2 * lu3 * lu4 * lu5 * lu6 AS den2 FROM l),
           |w AS (SELECT *, CAST((1000 * num) // (num + den2) AS BIGINT) AS w FROM e),
           |g AS (SELECT
           |    sum(w) AS sw_a, sum(1000 - w) AS swu_a,
           |    sum(CASE WHEN f1 THEN w ELSE 0 END) AS swa1,
           |    sum(CASE WHEN f1 THEN 1000 - w ELSE 0 END) AS swua1,
           |    sum(CASE WHEN NOT msg THEN w ELSE 0 END) AS sw2,
           |    sum(CASE WHEN NOT msg THEN 1000 - w ELSE 0 END) AS swu2,
           |    sum(CASE WHEN NOT msg AND f2 THEN w ELSE 0 END) AS swa2,
           |    sum(CASE WHEN NOT msg AND f2 THEN 1000 - w ELSE 0 END) AS swua2,
           |    sum(CASE WHEN f3 THEN w ELSE 0 END) AS swa3,
           |    sum(CASE WHEN f3 THEN 1000 - w ELSE 0 END) AS swua3,
           |    sum(CASE WHEN f4 THEN w ELSE 0 END) AS swa4,
           |    sum(CASE WHEN f4 THEN 1000 - w ELSE 0 END) AS swua4,
           |    sum(CASE WHEN f5 THEN w ELSE 0 END) AS swa5,
           |    sum(CASE WHEN f5 THEN 1000 - w ELSE 0 END) AS swua5,
           |    sum(CASE WHEN f6 THEN w ELSE 0 END) AS swa6,
           |    sum(CASE WHEN f6 THEN 1000 - w ELSE 0 END) AS swua6
           |  FROM w)
           |SELECT 'name' AS field, CAST(900 AS BIGINT) AS m_milli,
           |  CAST(5 AS BIGINT) AS u_milli,
           |  CAST((1000 * swa1) // sw_a AS BIGINT) AS m_next_milli,
           |  CAST((1000 * swua1) // swu_a AS BIGINT) AS u_next_milli FROM g
           |UNION ALL SELECT 'seg', 950, 200,
           |  CAST((1000 * swa2) // sw2 AS BIGINT),
           |  CAST((1000 * swua2) // swu2 AS BIGINT) FROM g
           |UNION ALL SELECT 'bal10', 900, 10,
           |  CAST((1000 * swa3) // sw_a AS BIGINT),
           |  CAST((1000 * swua3) // swu_a AS BIGINT) FROM g
           |UNION ALL SELECT 'nat', 990, 700,
           |  CAST((1000 * swa4) // sw_a AS BIGINT),
           |  CAST((1000 * swua4) // swu_a AS BIGINT) FROM g
           |UNION ALL SELECT 'band', 985, 650,
           |  CAST((1000 * swa5) // sw_a AS BIGINT),
           |  CAST((1000 * swua5) // swu_a AS BIGINT) FROM g
           |UNION ALL SELECT 'bal0', 850, 5,
           |  CAST((1000 * swa6) // sw_a AS BIGINT),
           |  CAST((1000 * swua6) // swu_a AS BIGINT) FROM g""".stripMargin) { (s, d) =>
      import graft.ops.Linkage
      import graft.ops.Linkage.FieldRule
      val rules6 = Seq(
        FieldRule("name", col("a_nm") === col("b_nm"), None, 0L, 0L),
        FieldRule("seg", col("a_seg") === col("b_seg"),
          Some(col("b_seg").isNull), 0L, 0L),
        FieldRule("bal10", abs(col("a_cents") - col("b_cents")) <= 10L, None, 0L, 0L),
        FieldRule("nat", col("a_nat") === col("b_nat"), None, 0L, 0L),
        FieldRule("band", col("a_band") === col("b_band"), None, 0L, 0L),
        FieldRule("bal0", col("a_cents") === col("b_cents"), None, 0L, 0L))
      Linkage.emStepDecimal(linkagePairs(s, d), rules6,
        Seq(("name", 900L, 5L), ("seg", 950L, 200L), ("bal10", 900L, 10L),
          ("nat", 990L, 700L), ("band", 985L, 650L), ("bal0", 850L, 5L)),
        pMilli = 20L)
    },

    // SCD-2 dimension build from the raw event log: consecutive
    // same-type events per user collapse into half-open validity
    // intervals (gaps-and-islands over a per-user window; ops/History).
    // valid_to of the last run is NULL — the entity's current state
    QuerySpec("events_scd2",
      raw"""WITH o AS (SELECT user_id, event_type, ts, event_id,
           |        lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
           |      FROM events),
           |m AS (SELECT user_id, event_type, ts,
           |        CAST(sum(CASE WHEN prev IS NULL OR prev <> event_type THEN 1 ELSE 0 END)
           |          OVER (PARTITION BY user_id ORDER BY ts, event_id
           |                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS version
           |      FROM o),
           |g AS (SELECT user_id, version, min(event_type) AS state,
           |        min(ts) AS valid_from, count(*) AS n_events
           |      FROM m GROUP BY 1, 2)
           |SELECT user_id, state, valid_from,
           |  lead(valid_from) OVER (PARTITION BY user_id ORDER BY version) AS valid_to,
           |  n_events, version
           |FROM g""".stripMargin) { (s, d) =>
      graft.ops.History.scd2(events(s, d), "user_id", "event_type", "ts", "event_id")
    },

    // point-in-time dimension reconstruction: the SCD-2 interval table
    // filtered to the rows covering one instant — "who was in which
    // state on Jan 15". Entities born later are absent; open intervals
    // cover the instant
    QuerySpec("events_scd2_asof",
      raw"""WITH o AS (SELECT user_id, event_type, ts, event_id,
           |        lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
           |      FROM events),
           |m AS (SELECT user_id, event_type, ts,
           |        CAST(sum(CASE WHEN prev IS NULL OR prev <> event_type THEN 1 ELSE 0 END)
           |          OVER (PARTITION BY user_id ORDER BY ts, event_id
           |                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS version
           |      FROM o),
           |g AS (SELECT user_id, version, min(event_type) AS state,
           |        min(ts) AS valid_from, count(*) AS n_events
           |      FROM m GROUP BY 1, 2),
           |s AS (SELECT user_id, state, valid_from,
           |        lead(valid_from) OVER (PARTITION BY user_id ORDER BY version) AS valid_to,
           |        n_events, version
           |      FROM g)
           |SELECT * FROM s
           |WHERE valid_from <= TIMESTAMP '2024-01-15 00:00:00'
           |  AND (valid_to IS NULL OR valid_to > TIMESTAMP '2024-01-15 00:00:00')"""
        .stripMargin) { (s, d) =>
      graft.ops.History.stateAsOf(
        graft.ops.History.scd2(events(s, d), "user_id", "event_type", "ts", "event_id"),
        lit("2024-01-15 00:00:00").cast("timestamp"))
    },

    // point-in-time fact enrichment: each event joined to the SCD-2
    // state valid 1ms BEFORE it — run-opening events see the previous
    // run, each entity's first event sees null. Equi key carries the
    // shuffle; containment only filters within an entity's intervals
    QuerySpec("events_enriched_asof",
      raw"""WITH o AS (SELECT user_id, event_type, ts, event_id,
           |        lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
           |      FROM events),
           |m AS (SELECT user_id, event_type, ts,
           |        CAST(sum(CASE WHEN prev IS NULL OR prev <> event_type THEN 1 ELSE 0 END)
           |          OVER (PARTITION BY user_id ORDER BY ts, event_id
           |                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS version
           |      FROM o),
           |g AS (SELECT user_id, version, min(event_type) AS state,
           |        min(ts) AS valid_from FROM m GROUP BY 1, 2),
           |sc AS (SELECT user_id, version, state, valid_from,
           |        lead(valid_from) OVER (PARTITION BY user_id ORDER BY version) AS valid_to
           |      FROM g)
           |SELECT e.event_id, e.user_id, e.event_type,
           |  sc.state AS asof_state, sc.version AS asof_version
           |FROM events e LEFT JOIN sc ON sc.user_id = e.user_id
           |  AND e.ts - INTERVAL 1 MILLISECOND >= sc.valid_from
           |  AND (sc.valid_to IS NULL OR e.ts - INTERVAL 1 MILLISECOND < sc.valid_to)"""
        .stripMargin) { (s, d) =>
      val ev = events(s, d)
      val dim = graft.ops.History.scd2(ev, "user_id", "event_type", "ts", "event_id")
      graft.ops.History.enrichAsOf(
          ev.select("event_id", "user_id", "event_type", "ts")
            .withColumn("probe", col("ts") - expr("INTERVAL 1 MILLISECOND")),
          dim, "user_id", "probe")
        .select("event_id", "user_id", "event_type", "asof_state", "asof_version")
    },

    // functional-dependency audit (g3 error, Kivinen & Mannila 1995):
    // does o_custkey determine o_orderpriority (no — measured), does
    // o_orderkey determine o_orderstatus (yes — key). Two grouped
    // counts per FD; nothing data-sized survives the first shuffle
    QuerySpec("quality_fd_audit",
      raw"""WITH p1 AS (SELECT o_custkey, o_orderpriority, count(*) AS n
           |            FROM orders GROUP BY 1, 2),
           |l1 AS (SELECT o_custkey, sum(n) AS rws, max(n) AS modal, count(*) AS nrhs
           |       FROM p1 GROUP BY 1),
           |s1 AS (SELECT 'o_custkey->o_orderpriority' AS fd_name,
           |         CAST(sum(rws) AS BIGINT) AS n_rows,
           |         CAST(count(*) AS BIGINT) AS n_lhs,
           |         CAST(sum(CASE WHEN nrhs > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_violating_lhs,
           |         CAST(sum(rws - modal) AS BIGINT) AS n_violations,
           |         CAST((sum(rws - modal) * 1000) // sum(rws) AS BIGINT) AS g3_milli
           |       FROM l1),
           |p2 AS (SELECT o_orderkey, o_orderstatus, count(*) AS n
           |       FROM orders GROUP BY 1, 2),
           |l2 AS (SELECT o_orderkey, sum(n) AS rws, max(n) AS modal, count(*) AS nrhs
           |       FROM p2 GROUP BY 1),
           |s2 AS (SELECT 'o_orderkey->o_orderstatus' AS fd_name,
           |         CAST(sum(rws) AS BIGINT) AS n_rows,
           |         CAST(count(*) AS BIGINT) AS n_lhs,
           |         CAST(sum(CASE WHEN nrhs > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_violating_lhs,
           |         CAST(sum(rws - modal) AS BIGINT) AS n_violations,
           |         CAST((sum(rws - modal) * 1000) // sum(rws) AS BIGINT) AS g3_milli
           |       FROM l2)
           |SELECT * FROM s1 UNION ALL SELECT * FROM s2""".stripMargin) { (s, d) =>
      val orders = s.read.parquet(s"$d/orders.parquet")
      graft.ops.Contracts.fdAudit(orders, "o_custkey->o_orderpriority",
          Seq("o_custkey"), "o_orderpriority")
        .unionByName(graft.ops.Contracts.fdAudit(orders, "o_orderkey->o_orderstatus",
          Seq("o_orderkey"), "o_orderstatus"))
    },

    // row-normalized Markov transition matrix of user behavior, exact to
    // the milli-unit: integer `div`, never float division, so both
    // engines emit identical probabilities. The normalizing window is
    // bounded by the event-type alphabet
    QuerySpec("events_transitions",
      raw"""WITH o AS (SELECT event_type AS to_type,
           |        lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS from_type
           |      FROM events),
           |c AS (SELECT from_type, to_type, count(*) AS n
           |      FROM o WHERE from_type IS NOT NULL GROUP BY 1, 2)
           |SELECT from_type, to_type, n,
           |  CAST((n * 1000) // CAST(sum(n) OVER (PARTITION BY from_type) AS BIGINT)
           |       AS BIGINT) AS p_milli
           |FROM c""".stripMargin) { (s, d) =>
      graft.ops.History.transitionCounts(events(s, d), "user_id", "event_type", "ts", "event_id")
    },

    // EXACT Jaccard near-dup pairs (no MinHash false negatives) via
    // prefix filtering over 3-shingle sets at t = 0.8: sets order by
    // ascending corpus frequency, only the short rarest-first prefixes
    // join, and one exact intersection count per candidate settles the
    // pair. Measured at sf0.01: 25 candidates → 25 true pairs — the
    // filter passes essentially nothing it shouldn't (ops/SetSimilarity)
    QuerySpec("dedup_jaccard_prefix",
      raw"""WITH tt AS (SELECT doc_id, CASE WHEN length(trim(text)) = 0 THEN []
           |              ELSE string_split_regex(trim(lower(text)), '\s+') END AS t FROM documents),
           |sh AS (SELECT DISTINCT doc_id AS doc, unnest(CASE WHEN len(t) < 3 THEN []
           |         ELSE [array_to_string(t[i:i+2], ' ') FOR i IN range(1, len(t) - 1)] END) AS tok
           |       FROM tt),
           |sz AS (SELECT doc, count(*) AS n FROM sh GROUP BY 1),
           |df AS (SELECT tok, count(*) AS df FROM sh GROUP BY 1),
           |rk AS (SELECT s.doc, s.tok,
           |         row_number() OVER (PARTITION BY s.doc ORDER BY d.df, s.tok) AS r, z.n
           |       FROM sh s JOIN df d USING (tok) JOIN sz z USING (doc)),
           |pf AS (SELECT doc, tok FROM rk WHERE r <= n - ((800 * n + 999) // 1000) + 1),
           |cand AS (SELECT DISTINCT a.doc AS id_a, b.doc AS id_b
           |         FROM pf a JOIN pf b ON a.tok = b.tok AND a.doc < b.doc),
           |i AS (SELECT c.id_a, c.id_b, count(*) AS inter
           |      FROM cand c JOIN sh sa ON sa.doc = c.id_a
           |                  JOIN sh sb ON sb.doc = c.id_b AND sb.tok = sa.tok
           |      GROUP BY 1, 2)
           |SELECT i.id_a, i.id_b, i.inter, za.n + zb.n - i.inter AS uni,
           |  CAST((i.inter * 1000) // (za.n + zb.n - i.inter) AS BIGINT) AS jac_milli
           |FROM i JOIN sz za ON za.doc = i.id_a JOIN sz zb ON zb.doc = i.id_b
           |WHERE i.inter * 1000 >= (za.n + zb.n - i.inter) * 800""".stripMargin) { (s, d) =>
      graft.ops.SetSimilarity.jaccardPrefixJoin(docs(s, d), "text", "doc_id",
        shingleN = 3, tMilli = 800)
    },

    // Pearson correlation from exact integer moments: value-cents vs
    // hour-of-day per event type. The five sums are DECIMAL/HUGEINT
    // exact; the coefficient is ONE fixed double expression whose only
    // libm call is the correctly-rounded sqrt — engine-identical bits,
    // where a float corr() would drift on summation order alone
    QuerySpec("events_value_hour_corr",
      raw"""WITH p AS (SELECT event_type,
           |    CAST(floor(value * 100) AS HUGEINT) AS x,
           |    CAST((epoch_ms(ts) // 3600000) % 24 AS HUGEINT) AS y
           |  FROM events WHERE value IS NOT NULL AND ts IS NOT NULL),
           |m AS (SELECT event_type, count(*) AS n, sum(x) AS sx, sum(y) AS sy,
           |        sum(x * y) AS sxy, sum(x * x) AS sx2, sum(y * y) AS sy2
           |      FROM p GROUP BY 1)
           |SELECT event_type, CAST(n AS BIGINT) AS n,
           |  CAST(sx AS VARCHAR) AS sum_x, CAST(sy AS VARCHAR) AS sum_y,
           |  CAST(sxy AS VARCHAR) AS sum_xy, CAST(sx2 AS VARCHAR) AS sum_x2,
           |  CAST(sy2 AS VARCHAR) AS sum_y2,
           |  CAST(n * sxy - sx * sy AS DOUBLE) /
           |    (sqrt(CAST(n * sx2 - sx * sx AS DOUBLE)) *
           |     sqrt(CAST(n * sy2 - sy * sy AS DOUBLE))) AS corr
           |FROM m""".stripMargin) { (s, d) =>
      graft.ops.RobustStats.corrExact(
        events(s, d).where(col("value").isNotNull && col("ts").isNotNull)
          .select(col("event_type"),
            floor(col("value") * 100).as("x"),
            expr("(unix_millis(ts) div 3600000) % 24").as("y")),
        "event_type", "x", "y")
    },

    // characteristic terms per source (c-TF-IDF's job with an exact
    // integer lift): a token scores 1000*(group share) div (corpus
    // share); top-3 over-represented terms label each source. Numerator
    // runs in DECIMAL(38,0) — int64 headroom runs out at corpus scale
    QuerySpec("text_characteristic_terms",
      raw"""WITH tt AS (SELECT source, CASE WHEN length(trim(text)) = 0 THEN []
           |              ELSE string_split_regex(trim(lower(text)), '\s+') END AS t
           |            FROM documents),
           |tok AS (SELECT source, unnest(t) AS token FROM tt),
           |grp AS (SELECT source, token, count(*) AS n FROM tok GROUP BY 1, 2
           |        HAVING count(*) >= 10),
           |gt AS (SELECT source, count(*) AS g FROM tok GROUP BY 1),
           |cn AS (SELECT token, count(*) AS c FROM tok GROUP BY 1),
           |ct AS (SELECT count(*) AS a FROM tok),
           |sc AS (SELECT grp.source, grp.token, grp.n,
           |         CAST((CAST(grp.n AS HUGEINT) * ct.a * 1000) //
           |           (CAST(gt.g AS HUGEINT) * cn.c) AS BIGINT) AS lift_milli
           |       FROM grp JOIN gt USING (source) JOIN cn USING (token) CROSS JOIN ct),
           |rk AS (SELECT *, row_number() OVER (PARTITION BY source
           |         ORDER BY lift_milli DESC, n DESC, token) AS rank FROM sc)
           |SELECT source, token, CAST(n AS BIGINT) AS n, lift_milli,
           |  CAST(rank AS BIGINT) AS rank
           |FROM rk WHERE rank <= 3""".stripMargin) { (s, d) =>
      graft.ops.TextAnalysis.characteristicTerms(docs(s, d), "source", "text",
        k = 3, minCount = 10L)
    },

    // embedding ingest gate: per label, null / wrong-dim / non-finite /
    // zero-norm vector counts — one NaN silently empties a top-k, a
    // zero norm "matches" everything at 0; catch both before any index
    // build. One columnar pass; a corrupted shadow copy is planted so
    // every counter is exercised
    QuerySpec("quality_embedding_audit",
      raw"""WITH em AS (
           |  SELECT label, embedding FROM embeddings
           |  UNION ALL
           |  SELECT label + 100,
           |    CASE WHEN vec_id % 3 = 0 THEN NULL
           |         WHEN vec_id % 3 = 1 THEN embedding[1:10]
           |         ELSE list_transform(embedding, x -> x * 0) END
           |  FROM embeddings WHERE vec_id % 10 = 0)
           |SELECT label, CAST(count(*) AS BIGINT) AS n_vecs,
           |  CAST(sum(CASE WHEN embedding IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
           |  CAST(sum(CASE WHEN embedding IS NOT NULL AND len(embedding) <> 64
           |        THEN 1 ELSE 0 END) AS BIGINT) AS n_wrong_dim,
           |  CAST(sum(CASE WHEN embedding IS NOT NULL AND len(list_filter(embedding,
           |        x -> isnan(x) OR isinf(x))) > 0 THEN 1 ELSE 0 END) AS BIGINT)
           |    AS n_nonfinite,
           |  CAST(sum(CASE WHEN embedding IS NOT NULL AND len(list_filter(embedding,
           |        x -> x <> 0)) = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero_norm
           |FROM em GROUP BY 1""".stripMargin) { (s, d) =>
      val em = s.read.parquet(s"$d/embeddings.parquet")
      val planted = em.where(col("vec_id") % 10 === 0)
        .select((col("label") + 100).as("label"),
          when(col("vec_id") % 3 === 0, lit(null).cast("array<float>"))
            .when(col("vec_id") % 3 === 1, slice(col("embedding"), 1, 10))
            .otherwise(transform(col("embedding"), x => x * 0.0f))
            .as("embedding"))
      graft.ops.Drift.embeddingAudit(
        em.select("label", "embedding").unionAll(planted),
        "label", "embedding", expectedDim = 64)
    },

    // exact per-lang CDF transform of n_chars: tie-aware max rank over
    // the stratum window so equal lengths get equal features; both
    // engines compute the same RANGE-frame count
    QuerySpec("text_len_cdf",
      raw"""SELECT lang, n_chars,
           |  CAST((count(*) OVER (PARTITION BY lang ORDER BY n_chars
           |          RANGE UNBOUNDED PRECEDING) * 1000)
           |    // (count(*) OVER (PARTITION BY lang)) AS BIGINT) AS cdf_milli
           |FROM documents""".stripMargin) { (s, d) =>
      graft.ops.Ranking.cdfMilli(docs(s, d), "lang", "n_chars")
    },

    // churn cohorts between the two halves of the month: retained /
    // churned / new / total user counts from one distinct-user frame
    // per half, full-outer joined — audience math without rescans
    QuerySpec("events_churn",
      raw"""WITH a AS (SELECT DISTINCT user_id FROM events
           |           WHERE ts < TIMESTAMP '2024-01-16 00:00:00'),
           |b AS (SELECT DISTINCT user_id FROM events
           |      WHERE ts >= TIMESTAMP '2024-01-16 00:00:00')
           |SELECT
           |  CAST(count(CASE WHEN a.user_id IS NOT NULL AND b.user_id IS NOT NULL
           |        THEN 1 END) AS BIGINT) AS retained,
           |  CAST(count(CASE WHEN b.user_id IS NULL THEN 1 END) AS BIGINT) AS churned,
           |  CAST(count(CASE WHEN a.user_id IS NULL THEN 1 END) AS BIGINT) AS new_users
           |FROM a FULL OUTER JOIN b ON a.user_id = b.user_id""".stripMargin) { (s, d) =>
      val ev = events(s, d)
      val cut = lit("2024-01-16 00:00:00").cast("timestamp")
      val a = ev.where(col("ts") < cut).select(col("user_id").as("ua")).distinct()
      val b = ev.where(col("ts") >= cut).select(col("user_id").as("ub")).distinct()
      a.join(b, col("ua") === col("ub"), "full_outer")
        .agg(
          count(when(col("ua").isNotNull && col("ub").isNotNull, 1)).as("retained"),
          count(when(col("ub").isNull, 1)).as("churned"),
          count(when(col("ua").isNull, 1)).as("new_users"))
    },

    // time-to-conversion with right-censoring: per user, first signup ->
    // first purchase at-or-after it; users who signed up but never
    // purchased are censored=1 (their deltas are unbounded — downstream
    // takes medians, never means), users who never signed up are absent
    QuerySpec("events_time_to_convert",
      raw"""WITH t0 AS (SELECT user_id, min(ts) AS t_start FROM events
           |            WHERE event_type = 'signup' GROUP BY 1),
           |t1 AS (SELECT e.user_id, min(e.ts) AS t_convert
           |       FROM events e JOIN t0 ON t0.user_id = e.user_id
           |       WHERE e.event_type = 'purchase' AND e.ts >= t0.t_start
           |       GROUP BY 1)
           |SELECT t0.user_id, t0.t_start, t1.t_convert,
           |  epoch_ms(t1.t_convert) - epoch_ms(t0.t_start) AS delta_ms,
           |  CAST(CASE WHEN t1.t_convert IS NULL THEN 1 ELSE 0 END AS BIGINT)
           |    AS censored
           |FROM t0 LEFT JOIN t1 ON t1.user_id = t0.user_id""".stripMargin) { (s, d) =>
      graft.ops.History.timeToEvent(events(s, d), "user_id", "ts", "event_type",
        fromVal = "signup", toVal = "purchase")
    },

    // CUBE rollup over (event_type, day): every grouping-set combination
    // plus grouping flags in one operator — Catalyst expands the sets
    // and the partial aggregation is shared across them, which is the
    // reason to use CUBE instead of four unioned group-bys at scale
    QuerySpec("events_cube",
      raw"""SELECT event_type, epoch_ms(ts) // 86400000 AS day,
           |  CAST(count(*) AS BIGINT) AS n,
           |  CAST(GROUPING(event_type) AS BIGINT) AS g_type,
           |  CAST(GROUPING(epoch_ms(ts) // 86400000) AS BIGINT) AS g_day
           |FROM events
           |GROUP BY CUBE (event_type, epoch_ms(ts) // 86400000)""".stripMargin) { (s, d) =>
      events(s, d)
        .select(col("event_type"), expr("unix_millis(ts) div 86400000").as("day"))
        .cube(col("event_type"), col("day"))
        .agg(count(lit(1)).as("n"),
          grouping(col("event_type")).cast("long").as("g_type"),
          grouping(col("day")).cast("long").as("g_day"))
    },

    // PIVOT the event-type alphabet into per-user count columns — the
    // reshape feeding feature stores. The pivot list is EXPLICIT (an
    // inferred list is a whole extra distinct pass at 100 TB, and
    // nondeterministic column order besides); oracle = conditional sums
    QuerySpec("events_pivot",
      raw"""SELECT user_id,
           |  CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS click,
           |  CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS error,
           |  CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase,
           |  CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS signup,
           |  CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS view
           |FROM events GROUP BY 1""".stripMargin) { (s, d) =>
      events(s, d).groupBy(col("user_id"))
        .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
        .agg(coalesce(count(lit(1)), lit(0L)))
        .na.fill(0L, Seq("click", "error", "purchase", "signup", "view"))
    },

    // dictionary encoding: dense value-ordered codes for the source
    // column (strings shuffle as integers downstream). Spark assigns
    // codes via the ranged two-phase row index — no global window over
    // the distinct set; the oracle's one-task row_number is fine at
    // oracle scale and must agree exactly
    QuerySpec("layout_dict_encode",
      raw"""WITH dict AS (SELECT source, row_number() OVER (ORDER BY source) - 1 AS code
           |              FROM (SELECT DISTINCT source FROM documents
           |                    WHERE source IS NOT NULL))
           |SELECT d.doc_id, d.source, CAST(dict.code AS BIGINT) AS source_code
           |FROM documents d LEFT JOIN dict USING (source)""".stripMargin) { (s, d) =>
      val dict = graft.ops.Encode.dictionary(docs(s, d), "source")
      graft.ops.Encode.dictionaryEncode(docs(s, d), "source", dict)
        .select(col("doc_id"), col("source"), col("source_code"))
    },

    // evidence for the flagged near-dup pairs: exact shared-shingle
    // counts plus the 5 globally rarest shared shingles per pair — the
    // audit trail reviewed before a deletion wave. Pairs come from the
    // exact prefix-filter join; evidence order (df, shingle) is
    // deterministic in both engines
    QuerySpec("dedup_explain_pairs",
      raw"""WITH tt AS (SELECT doc_id, CASE WHEN length(trim(text)) = 0 THEN []
           |              ELSE string_split_regex(trim(lower(text)), '\s+') END AS t FROM documents),
           |sh AS (SELECT DISTINCT doc_id AS doc, unnest(CASE WHEN len(t) < 3 THEN []
           |         ELSE [array_to_string(t[i:i+2], ' ') FOR i IN range(1, len(t) - 1)] END) AS tok
           |       FROM tt),
           |sz AS (SELECT doc, count(*) AS n FROM sh GROUP BY 1),
           |dfr AS (SELECT tok, count(*) AS df FROM sh GROUP BY 1),
           |rk AS (SELECT s.doc, s.tok,
           |         row_number() OVER (PARTITION BY s.doc ORDER BY d.df, s.tok) AS r, z.n
           |       FROM sh s JOIN dfr d USING (tok) JOIN sz z USING (doc)),
           |pf AS (SELECT doc, tok FROM rk WHERE r <= n - ((800 * n + 999) // 1000) + 1),
           |cand AS (SELECT DISTINCT a.doc AS id_a, b.doc AS id_b
           |         FROM pf a JOIN pf b ON a.tok = b.tok AND a.doc < b.doc),
           |i AS (SELECT c.id_a, c.id_b, count(*) AS inter
           |      FROM cand c JOIN sh sa ON sa.doc = c.id_a
           |                  JOIN sh sb ON sb.doc = c.id_b AND sb.tok = sa.tok
           |      GROUP BY 1, 2),
           |pairs AS (SELECT i.id_a, i.id_b
           |          FROM i JOIN sz za ON za.doc = i.id_a JOIN sz zb ON zb.doc = i.id_b
           |          WHERE i.inter * 1000 >= (za.n + zb.n - i.inter) * 800),
           |shared AS (SELECT p.id_a, p.id_b, sa.tok, d.df
           |           FROM pairs p JOIN sh sa ON sa.doc = p.id_a
           |                JOIN sh sb ON sb.doc = p.id_b AND sb.tok = sa.tok
           |                JOIN dfr d ON d.tok = sa.tok),
           |rr AS (SELECT *, row_number() OVER (PARTITION BY id_a, id_b
           |         ORDER BY df, tok) AS r FROM shared)
           |SELECT id_a, id_b, CAST(count(*) AS BIGINT) AS n_shared,
           |  array_to_string(list(tok ORDER BY df, tok) FILTER (WHERE r <= 5), '|') AS evidence
           |FROM rr GROUP BY 1, 2""".stripMargin) { (s, d) =>
      val pairs = graft.ops.SetSimilarity.jaccardPrefixJoin(
        docs(s, d), "text", "doc_id", shingleN = 3, tMilli = 800)
      graft.ops.SetSimilarity.explainPairs(docs(s, d), "text", "doc_id",
        shingleN = 3, pairs, k = 5)
    },

    // JSON-Lines round-trip (the recon_csv_roundtrip twin for the LLM
    // interchange format): documents → jsonl files → read back with the
    // WRITER's schema (no inference pass), value-identical to the source
    // table. Eager cut before the temp files are deleted
    QuerySpec("text_jsonl_roundtrip",
      "SELECT doc_id, text, lang, source, n_chars FROM documents") { (s, d) =>
      val src = docs(s, d).select("doc_id", "text", "lang", "source", "n_chars")
      val tmp = CurationQueries.runTmpDir(s, "graft_jsonl_roundtrip")
      graft.recon.Sinks.writeJsonl(src, tmp.getAbsolutePath)
      val back = graft.recon.Sources.readJsonl(s, tmp.getAbsolutePath, src.schema)
      // EAGER: the frame's input files are deleted on the next line
      val out = graft.recon.Checkpoints.cut(back, eager = true)
      CurationQueries.deleteRecursively(tmp)
      out
    },

    // content-defined chunk duplication (the storage-dedup angle the
    // fixed n-gram spans miss): rolling-hash boundaries (w=4 grams,
    // divisor 8 → ~8-token chunks) re-align after an insertion, so a doc
    // that copies a region with an extra word up front still shares every
    // chunk past the first boundary. Per doc: chunks, corpus-duplicated
    // chunks, exact milli-fraction
    QuerySpec("dedup_cdc_chunks", {
      def h60(e: String) = s"('0x' || substr(md5($e), 1, 15))::BIGINT"
      raw"""WITH tt AS (SELECT doc_id, CASE WHEN length(trim(text)) = 0 THEN []
           |              ELSE string_split_regex(trim(lower(text)), '\s+') END AS t FROM documents),
           |tk AS (SELECT doc_id AS doc, unnest(CASE WHEN len(t) = 0 THEN []
           |         ELSE [{'tp': i, 'tok': t[i]} FOR i IN range(1, len(t) + 1)] END) AS u FROM tt),
           |tok AS (SELECT doc, u.tp AS tp, u.tok AS tok FROM tk),
           |gr AS (SELECT doc_id AS doc, unnest(CASE WHEN len(t) < 4 THEN []
           |         ELSE [{'tp': i, 'g': array_to_string(t[i:i+3], ' ')}
           |               FOR i IN range(1, len(t) - 2)] END) AS u FROM tt),
           |bd AS (SELECT doc, u.tp AS tp, (${h60("u.g")} % 8 = 0) AS cut FROM gr),
           |mk AS (SELECT tok.doc, tok.tp, tok.tok,
           |         CASE WHEN tok.tp = 1 OR COALESCE(bd.cut, false) THEN tok.tp END AS bnd
           |       FROM tok LEFT JOIN bd ON bd.doc = tok.doc AND bd.tp = tok.tp),
           |asg AS (SELECT doc, tp, tok,
           |          max(bnd) OVER (PARTITION BY doc ORDER BY tp ROWS UNBOUNDED PRECEDING) AS chunk_start
           |        FROM mk),
           |ch AS (SELECT doc, chunk_start,
           |         ${h60("array_to_string(list(tok ORDER BY tp), ' ')")} AS chunk_hash
           |       FROM asg GROUP BY 1, 2),
           |fq AS (SELECT chunk_hash, count(*) AS n FROM ch GROUP BY 1)
           |SELECT ch.doc AS doc_id, count(*) AS n_chunks,
           |  CAST(sum(CASE WHEN fq.n >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_chunks,
           |  CAST((sum(CASE WHEN fq.n >= 2 THEN 1 ELSE 0 END) * 1000) // count(*) AS BIGINT) AS dup_milli
           |FROM ch JOIN fq USING (chunk_hash) GROUP BY 1""".stripMargin
    }) { (s, d) =>
      graft.ops.Dedup.cdcChunkStats(docs(s, d), "text", "doc_id", w = 4, divisor = 8)
    },

    // click→purchase attribution pairs within a 1 h band: an equi-join
    // on the user key plus the time-band condition
    QuerySpec("stream_attribution",
      raw"""WITH e AS (SELECT user_id, event_id, event_type, epoch_ms(ts) AS ms FROM events),
           |c AS (SELECT user_id, event_id AS click_id, ms AS click_ms
           |      FROM e WHERE event_type = 'click'),
           |p AS (SELECT user_id, event_id AS purchase_id, ms AS purchase_ms
           |      FROM e WHERE event_type = 'purchase')
           |SELECT c.user_id, c.click_id, p.purchase_id, c.click_ms, p.purchase_ms
           |FROM c JOIN p ON c.user_id = p.user_id
           |  AND p.purchase_ms >= c.click_ms
           |  AND p.purchase_ms <= c.click_ms + 3600000""".stripMargin) { (s, d) =>
      graft.streaming.EventPipeline.attribution(events(s, d), windowMs = 3600000L)
    },

    // k-anonymity with a generalization ladder over the TPC-H geography
    // hierarchy: release nation when the (nation, segment) class has
    // >= 12 members, else region when the generalized class does, else
    // suppress. The hierarchy lookup is a broadcast dim join; both class
    // counts are plain windows on quasi tuples (ops/Privacy.scala)
    QuerySpec("privacy_k_anon",
      raw"""WITH c AS (SELECT c_custkey, n.n_name AS geo, r.r_name AS parent,
           |             c_mktsegment AS cat
           |           FROM customer JOIN nation n ON c_nationkey = n_nationkey
           |                         JOIN region r ON n.n_regionkey = r_regionkey),
           |s1 AS (SELECT *, count(*) OVER (PARTITION BY geo, cat) AS n1 FROM c),
           |s2 AS (SELECT *, count(CASE WHEN n1 < 12 THEN 1 END)
           |         OVER (PARTITION BY parent, cat) AS n2 FROM s1)
           |SELECT c_custkey,
           |  CASE WHEN n1 >= 12 THEN geo WHEN n2 >= 12 THEN parent END AS quasi_geo,
           |  CASE WHEN n1 >= 12 OR n2 >= 12 THEN cat END AS quasi_cat,
           |  CAST(CASE WHEN n1 >= 12 THEN 0 WHEN n2 >= 12 THEN 1 ELSE 2 END AS BIGINT) AS anon_level,
           |  CAST(CASE WHEN n1 >= 12 THEN n1 WHEN n2 >= 12 THEN n2 END AS BIGINT) AS group_n
           |FROM s2""".stripMargin) { (s, d) =>
      val n = broadcast(s.read.parquet(s"$d/nation.parquet"))
      val r = broadcast(s.read.parquet(s"$d/region.parquet"))
      val c = customer(s, d)
        .join(n, col("c_nationkey") === col("n_nationkey"))
        .join(r, col("n_regionkey") === col("r_regionkey"))
        .select(col("c_custkey"), col("n_name").as("geo"),
          col("r_name").as("parent"), col("c_mktsegment").as("cat"))
      graft.ops.Privacy.kAnonymize(c, "c_custkey", "geo", "parent", "cat", k = 12)
    },

    // distinct l-diversity audit at l=3 over (nation, acctbal-band)
    // classes with mktsegment as the sensitive attribute: class size,
    // distinct sensitive values, the homogeneity-attack share of the
    // top value in exact milli-units, and the 0/1 verdict. Two grouped
    // counts, no data-sized windows; null sensitive values form their
    // own group in BOTH engines (the oracle mirrors the grouping rather
    // than using count(DISTINCT), which would drop nulls)
    QuerySpec("privacy_l_diversity",
      raw"""WITH v AS (SELECT c_nationkey,
           |             CAST(floor(c_acctbal / 1000) AS BIGINT) AS band,
           |             c_mktsegment AS sv FROM customer),
           |g AS (SELECT c_nationkey, band, sv, count(*) AS nv
           |      FROM v GROUP BY 1, 2, 3)
           |SELECT c_nationkey, band,
           |  CAST(sum(nv) AS BIGINT) AS group_n,
           |  CAST(count(*) AS BIGINT) AS n_sensitive,
           |  CAST((max(nv) * 1000) // sum(nv) AS BIGINT) AS top_share_milli,
           |  CAST(CASE WHEN count(*) >= 3 THEN 1 ELSE 0 END AS BIGINT) AS diverse
           |FROM g GROUP BY 1, 2""".stripMargin) { (s, d) =>
      graft.ops.Privacy.lDiversityAudit(
        customer(s, d).withColumn("band", floor(col("c_acctbal") / 1000)),
        Seq("c_nationkey", "band"), "c_mktsegment", l = 3)
    },

    // winnowing fingerprint selection (Schleimer et al. SIGMOD'03, the
    // MOSS algorithm): per document, the ~2/(w+1)-density set of k-gram
    // hashes a window-min keeps. The rightmost-min tie-break is folded
    // into ONE window min by the key encoding h·2^20 + (2^20−1−pos) —
    // no argmin pass; both engines reproduce every selection bit-for-bit
    QuerySpec("text_winnow_profile",
      raw"""$winnowFpCte
           |SELECT doc AS doc_id, n_grams, count(*) AS n_fp,
           |  CAST((count(*) * 1000) // n_grams AS BIGINT) AS fp_milli
           |FROM fp GROUP BY 1, 2""".stripMargin) { (s, d) =>
      graft.ops.Winnowing.profile(docs(s, d), "text", "doc_id", k = 5, w = 4)
    },

    // cross-document overlap on winnowed fingerprints — the MOSS
    // containment check at a 2/(w+1) fraction of the full span-table
    // cost. Hub fingerprints (selected in > 64 docs) are dropped via
    // grouped counts BEFORE pairing, the SetSimilarity cap rationale
    QuerySpec("dedup_winnow_pairs",
      raw"""$winnowFpCte,
           |fph AS (SELECT DISTINCT doc, fp_hash FROM fp),
           |fq AS (SELECT fp_hash, count(*) AS df FROM fph GROUP BY 1),
           |kp AS (SELECT f.doc, f.fp_hash FROM fph f JOIN fq USING (fp_hash)
           |       WHERE fq.df <= 64)
           |SELECT a.doc AS id_a, b.doc AS id_b, count(*) AS n_shared
           |FROM kp a JOIN kp b ON a.fp_hash = b.fp_hash AND a.doc < b.doc
           |GROUP BY 1, 2 HAVING count(*) >= 2""".stripMargin) { (s, d) =>
      graft.ops.Winnowing.overlapPairs(docs(s, d), "text", "doc_id",
        k = 5, w = 4, minShared = 2, maxDf = 64)
    },

    // water-filling token-budget allocation across sources: serve small
    // domains in full, share the rest at a common level, remainder
    // units one each to the largest capped domains — all integer, so
    // Σ alloc = min(budget, total) EXACTLY in both engines
    QuerySpec("text_token_budget",
      raw"""$tokenBudgetCte
           |SELECT source, n_tokens, alloc_tokens, capped FROM al""".stripMargin) { (s, d) =>
      graft.ops.Sampling.tokenBudget(docs(s, d), "source",
        graft.ops.TextAnalysis.tokenCount(col("text")), budgetMilli = 600)
    },

    // the execution step of the water-fill: downsample each source to
    // ~its allocation with the deterministic 60-bit hash gate (fully
    // served strata keep everything; capped strata keep ~alloc/n).
    // Thresholds are the identical floor(alloc/n·2^60) double
    // expression in both engines, so the kept SET matches row for row
    QuerySpec("text_budget_sample",
      raw"""$tokenBudgetCte,
           |thr AS (SELECT source,
           |          CAST(floor(CAST(alloc_tokens AS DOUBLE) / CAST(n_tokens AS DOUBLE)
           |            * 1152921504606846976.0) AS BIGINT) AS t
           |        FROM al)
           |SELECT d.doc_id, d.source FROM documents d JOIN thr USING (source)
           |WHERE ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 15))::BIGINT < thr.t""".stripMargin) { (s, d) =>
      graft.ops.Sampling.budgetSample(docs(s, d), "source", "doc_id",
        graft.ops.TextAnalysis.tokenCount(col("text")), budgetMilli = 600)
        .select(col("doc_id"), col("source"))
    },

    // per-user temporal split: each user's first 80% of events (by time)
    // train, the rest eval — the leakage rule for sequence models, where
    // a random split would let the model peek at each user's future.
    // Exact-integer cut: rn·1000 <= cnt·800
    QuerySpec("events_temporal_split",
      raw"""SELECT user_id, event_id, ts,
           |  CASE WHEN CAST(row_number() OVER w AS BIGINT) * 1000
           |         <= count(*) OVER (PARTITION BY user_id) * 800
           |       THEN 'train' ELSE 'eval' END AS split
           |FROM events
           |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)""".stripMargin) { (s, d) =>
      graft.ops.History.temporalSplit(events(s, d), "user_id", "ts", "event_id",
        trainMilli = 800)
    },

    // bounded rolling features per user (lag / 4-event rolling sum /
    // inter-event gap / sequence index) — the feature block a training
    // pipeline materializes before modeling. Integer cents, exact
    QuerySpec("events_rolling",
      raw"""SELECT user_id, event_id, ts,
           |  CAST(floor(value * 100) AS BIGINT) AS value_cents,
           |  lag(CAST(floor(value * 100) AS BIGINT)) OVER w AS prev_cents,
           |  CAST(sum(CAST(floor(value * 100) AS BIGINT)) OVER (PARTITION BY user_id
           |    ORDER BY ts, event_id ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS BIGINT) AS roll_cents,
           |  epoch_ms(ts) - lag(epoch_ms(ts)) OVER w AS gap_ms,
           |  CAST(row_number() OVER w AS BIGINT) AS seq
           |FROM events
           |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)""".stripMargin) { (s, d) =>
      graft.ops.History.rollingFeatures(events(s, d), "user_id", "value", "ts", "event_id",
        window = 4)
    },

    // winnow-based contamination audit: both corpus and benchmark sides
    // shrink to winnowed fingerprints (~2/(w+1) of the gram stream)
    // BEFORE the broadcast join — the cheap arm of text_contamination,
    // with the winnowing guarantee bounding what can hide (any shared
    // run >= w+k-1 tokens is detected). Benchmark = every 97th doc,
    // matching text_contamination's convention
    QuerySpec("text_winnow_contamination",
      raw"""$winnowFpCte,
           |cf AS (SELECT DISTINCT doc, fp_hash FROM fp),
           |bf AS (SELECT DISTINCT fp_hash FROM cf WHERE doc % 97 = 0)
           |SELECT c.doc AS doc_id, count(*) AS n_fp,
           |  CAST(sum(CASE WHEN b.fp_hash IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit_fp,
           |  CAST((sum(CASE WHEN b.fp_hash IS NOT NULL THEN 1 ELSE 0 END) * 1000)
           |    // count(*) AS BIGINT) AS hit_milli
           |FROM cf c LEFT JOIN bf b USING (fp_hash) GROUP BY 1""".stripMargin) { (s, d) =>
      val corpus = docs(s, d)
      graft.ops.Winnowing.contaminationStats(corpus,
        corpus.where(col("doc_id") % 97 === 0), "text", "doc_id", k = 5, w = 4)
    },

    // collocation mining: top-20 adjacent pairs by PMI lift with a
    // min-support floor (Church & Hanks). DECIMAL(38,0)/HUGEINT integer
    // division — n(ab)·N·1000 overflows BIGINT at real corpus scale
    QuerySpec("text_collocations",
      raw"""WITH tt AS (SELECT CASE WHEN length(trim(text)) = 0 THEN []
           |              ELSE string_split_regex(trim(lower(text)), '\s+') END AS t FROM documents),
           |un AS (SELECT unnest(t) AS tok FROM tt),
           |uc AS (SELECT tok, count(*) AS n_tok FROM un GROUP BY 1),
           |bg AS (SELECT unnest(CASE WHEN len(t) < 2 THEN []
           |         ELSE [array_to_string(t[i:i+1], ' ') FOR i IN range(1, len(t))] END) AS bigram
           |       FROM tt),
           |bc AS (SELECT bigram, count(*) AS n_ab FROM bg GROUP BY 1 HAVING count(*) >= 5),
           |t2 AS (SELECT sum(n_tok) AS n_total FROM uc)
           |SELECT b.bigram, b.n_ab, ua.n_tok AS n_a, ub.n_tok AS n_b,
           |  CAST(CAST(b.n_ab AS HUGEINT) * t2.n_total * 1000
           |    // (CAST(ua.n_tok AS HUGEINT) * ub.n_tok) AS BIGINT) AS lift_milli
           |FROM bc b JOIN uc ua ON ua.tok = split_part(b.bigram, ' ', 1)
           |          JOIN uc ub ON ub.tok = split_part(b.bigram, ' ', 2), t2
           |ORDER BY lift_milli DESC, bigram LIMIT 20""".stripMargin) { (s, d) =>
      graft.ops.TextAnalysis.collocations(docs(s, d), "text", minCount = 5L, topK = 20)
    },

    // sketch-quality harness: banding recall measured against EXACT
    // ground truth — the prefix-filter join (no false negatives) is the
    // truth set at Jaccard >= 0.8, the registered k=16/bands=4 MinHash
    // the sketch under test; both pipelines are verified ops, so this
    // is pure composition. Precision is 1.0 by construction (candidates
    // are exact-verified); the measured number is what banding MISSES
    QuerySpec("dedup_sketch_recall", {
      val exactSql =
        raw"""WITH tt AS (SELECT doc_id, CASE WHEN length(trim(text)) = 0 THEN []
             |              ELSE string_split_regex(trim(lower(text)), '\s+') END AS t FROM documents),
             |sh AS (SELECT DISTINCT doc_id AS doc, unnest(CASE WHEN len(t) < 3 THEN []
             |         ELSE [array_to_string(t[i:i+2], ' ') FOR i IN range(1, len(t) - 1)] END) AS tok
             |       FROM tt),
             |sz AS (SELECT doc, count(*) AS n FROM sh GROUP BY 1),
             |df AS (SELECT tok, count(*) AS df FROM sh GROUP BY 1),
             |rk AS (SELECT s.doc, s.tok,
             |         row_number() OVER (PARTITION BY s.doc ORDER BY d.df, s.tok) AS r, z.n
             |       FROM sh s JOIN df d USING (tok) JOIN sz z USING (doc)),
             |pf AS (SELECT doc, tok FROM rk WHERE r <= n - ((800 * n + 999) // 1000) + 1),
             |cand AS (SELECT DISTINCT a.doc AS id_a, b.doc AS id_b
             |         FROM pf a JOIN pf b ON a.tok = b.tok AND a.doc < b.doc),
             |i AS (SELECT c.id_a, c.id_b, count(*) AS inter
             |      FROM cand c JOIN sh sa ON sa.doc = c.id_a
             |                  JOIN sh sb ON sb.doc = c.id_b AND sb.tok = sa.tok
             |      GROUP BY 1, 2)
             |SELECT i.id_a, i.id_b
             |FROM i JOIN sz za ON za.doc = i.id_a JOIN sz zb ON zb.doc = i.id_b
             |WHERE i.inter * 1000 >= (za.n + zb.n - i.inter) * 800""".stripMargin
      val mhSql = SketchOracleSql.minHashSql(k = 16, bands = 4, threshold = 0.8d,
        maxBucket = 100)
      raw"""WITH ex AS ($exactSql),
           |mh AS ($mhSql),
           |nb AS (SELECT count(*) AS n_both FROM ex
           |       JOIN mh ON ex.id_a = mh.doc1 AND ex.id_b = mh.doc2)
           |SELECT (SELECT count(*) FROM ex) AS n_exact,
           |  (SELECT count(*) FROM mh) AS n_lsh,
           |  nb.n_both,
           |  CAST(CASE WHEN (SELECT count(*) FROM ex) = 0 THEN 1000
           |    ELSE (nb.n_both * 1000) // (SELECT count(*) FROM ex) END AS BIGINT) AS recall_milli
           |FROM nb""".stripMargin
    }) { (s, d) =>
      val dd = docs(s, d)
      // ONE consumption of each (expensive) pair pipeline: a full outer
      // join on the pair key carries both membership flags, so all three
      // counts fall out of one aggregate — the previous three-agg
      // crossJoin form consumed each side twice and needed a lineage cut
      // per side (2 extra plan+codegen charges and a second execution of
      // both sketch pipelines' tails; guide §1.2 step 1: don't compute
      // things twice). Each side is reduced to one row per pair first: a
      // duplicate pair on one side would otherwise inflate the OTHER
      // side's count through the join
      def flagged(pairs: DataFrame, flag: String): DataFrame =
        pairs.groupBy(col("id_a"), col("id_b")).agg(max(lit(1L)).as(flag))
      val ex = flagged(graft.ops.SetSimilarity
        .jaccardPrefixJoin(dd, "text", "doc_id", shingleN = 3, tMilli = 800), "__ex")
      val ls = flagged(graft.ops.Dedup
        .minHashNearDups(dd, "text", "doc_id", shingleN = 3, k = 16, bands = 4,
          threshold = 0.8d, maxBucket = 100)
        .select(col("doc1").as("id_a"), col("doc2").as("id_b")), "__ls")
      ex.join(ls, Seq("id_a", "id_b"), "full_outer")
        .agg(coalesce(sum(col("__ex")), lit(0L)).as("n_exact"),
          coalesce(sum(col("__ls")), lit(0L)).as("n_lsh"),
          coalesce(sum(col("__ex") * col("__ls")), lit(0L)).as("n_both"))
        .withColumn("recall_milli",
          expr("CASE WHEN n_exact = 0 THEN 1000 ELSE (n_both * 1000) div n_exact END"))
    },

    // session PATH mining: each session's time-ordered event-type
    // sequence as one string, top-50 journeys by frequency — the
    // sequence-extraction step of a behavior-model pipeline. Path order
    // is struct-sorted, never collect_list arrival order
    QuerySpec("events_session_paths",
      raw"""WITH e AS (SELECT user_id, event_id, event_type, epoch_ms(ts) AS ms FROM events),
           |o AS (SELECT *, lag(ms) OVER (PARTITION BY user_id ORDER BY ms, event_id) AS prev
           |      FROM e),
           |m AS (SELECT *, CAST(sum(CASE WHEN prev IS NULL OR ms - prev > 600000
           |          THEN 1 ELSE 0 END)
           |        OVER (PARTITION BY user_id ORDER BY ms, event_id
           |              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sess
           |      FROM o),
           |p AS (SELECT user_id, sess,
           |        string_agg(event_type, '>' ORDER BY ms, event_id) AS path
           |      FROM m GROUP BY 1, 2)
           |SELECT path, count(*) AS n_sessions FROM p GROUP BY 1
           |ORDER BY n_sessions DESC, path LIMIT 50""".stripMargin) { (s, d) =>
      graft.streaming.EventPipeline.pathCounts(events(s, d), gapMs = 600000L, k = 50)
    },

    // right-to-erasure audit: per fact table, total rows vs rows the
    // deletion list (every 50th customer) claims — the compliance
    // evidence BEFORE the destructive anti-join runs. The subject set
    // rides a broadcast hit-flag join; exact integers
    QuerySpec("privacy_erasure",
      raw"""WITH subj AS (SELECT DISTINCT c_custkey FROM customer WHERE c_custkey % 50 = 0)
           |SELECT 'events' AS table_name, count(*) AS n_rows,
           |  CAST(sum(CASE WHEN user_id IN (SELECT c_custkey FROM subj)
           |    THEN 1 ELSE 0 END) AS BIGINT) AS n_erased
           |FROM events
           |UNION ALL
           |SELECT 'orders', count(*),
           |  CAST(sum(CASE WHEN o_custkey IN (SELECT c_custkey FROM subj)
           |    THEN 1 ELSE 0 END) AS BIGINT)
           |FROM orders""".stripMargin) { (s, d) =>
      val subjects = customer(s, d).where(col("c_custkey") % 50 === 0)
      graft.ops.Privacy.erasureReport(Seq(
        ("events", events(s, d), "user_id"),
        ("orders", s.read.parquet(s"$d/orders.parquet"), "o_custkey")),
        subjects, "c_custkey")
    },

    // bucketed co-located join: both sides persisted hash-bucketed on
    // the join key (Layout.writeBucketed), so the sort-merge join runs
    // with ZERO exchanges — the pay-the-shuffle-once-at-write-time
    // layout that a 100 TB fact table lives by. The oracle is the plain
    // join (bucketing must never change values); the no-Exchange plan
    // shape is spec-asserted
    QuerySpec("layout_bucketed_join",
      raw"""SELECT o_orderstatus, count(*) AS n,
           |  CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS total_qty
           |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
           |GROUP BY 1""".stripMargin) { (s, d) =>
      import graft.ops.Layout
      val li = s.read.parquet(s"$d/lineitem.parquet").select("l_orderkey", "l_quantity")
      val ord = s.read.parquet(s"$d/orders.parquet")
        .select(col("o_orderkey").as("l_orderkey"), col("o_orderstatus"))
      Layout.writeBucketed(li, "graft_bkt_lineitem", Seq("l_orderkey"), buckets = 16)
      Layout.writeBucketed(ord, "graft_bkt_orders", Seq("l_orderkey"), buckets = 16)
      Layout.bucketedJoin(s, "graft_bkt_lineitem", "graft_bkt_orders", Seq("l_orderkey"))
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast("long")).as("total_qty"))
    },

    // data contracts: the whole dbt-style check suite for lineitem in
    // ONE scan (conditional sums stacked to a long report) plus a
    // uniqueness aggregate and a referential-integrity anti-join —
    // never one job per check. Exact violation counts both engines
    QuerySpec("quality_contracts",
      raw"""WITH row_checks AS (
           |  SELECT * FROM (
           |    SELECT 'quantity_range' AS check_name,
           |      CAST(sum(CASE WHEN NOT COALESCE(l_quantity >= 1 AND l_quantity <= 50, false)
           |        THEN 1 ELSE 0 END) AS BIGINT) AS n_violations FROM lineitem
           |    UNION ALL
           |    SELECT 'price_positive',
           |      CAST(sum(CASE WHEN NOT COALESCE(l_extendedprice > 0, false)
           |        THEN 1 ELSE 0 END) AS BIGINT) FROM lineitem
           |    UNION ALL
           |    SELECT 'discount_band',
           |      CAST(sum(CASE WHEN NOT COALESCE(l_discount >= 0 AND l_discount <= 0.1, false)
           |        THEN 1 ELSE 0 END) AS BIGINT) FROM lineitem
           |    UNION ALL
           |    SELECT 'keys_nonnull',
           |      CAST(sum(CASE WHEN NOT (l_orderkey IS NOT NULL AND l_linenumber IS NOT NULL)
           |        THEN 1 ELSE 0 END) AS BIGINT) FROM lineitem)),
           |uniq AS (SELECT 'line_unique' AS check_name,
           |  CAST(COALESCE(sum(n - 1), 0) AS BIGINT) AS n_violations
           |  FROM (SELECT count(*) AS n FROM lineitem GROUP BY l_orderkey, l_linenumber)),
           |ref AS (SELECT 'order_exists' AS check_name,
           |  CAST(count(*) AS BIGINT) AS n_violations
           |  FROM lineitem l LEFT JOIN (SELECT DISTINCT o_orderkey FROM orders) o
           |    ON l.l_orderkey = o.o_orderkey
           |  WHERE l.l_orderkey IS NOT NULL AND o.o_orderkey IS NULL)
           |SELECT check_name, n_violations,
           |  CAST(CASE WHEN n_violations = 0 THEN 1 ELSE 0 END AS BIGINT) AS pass
           |FROM (SELECT * FROM row_checks UNION ALL SELECT * FROM uniq
           |      UNION ALL SELECT * FROM ref)""".stripMargin) { (s, d) =>
      import graft.ops.Contracts
      val li = s.read.parquet(s"$d/lineitem.parquet")
      val ord = s.read.parquet(s"$d/orders.parquet")
      Contracts.report(li, Seq(
        Contracts.Check("quantity_range", col("l_quantity") >= 1 && col("l_quantity") <= 50),
        Contracts.Check("price_positive", col("l_extendedprice") > 0),
        Contracts.Check("discount_band", col("l_discount") >= 0 && col("l_discount") <= 0.1),
        Contracts.Check("keys_nonnull",
          col("l_orderkey").isNotNull && col("l_linenumber").isNotNull)),
        Seq(
          Contracts.uniqueCheck(li, "line_unique", Seq("l_orderkey", "l_linenumber")),
          Contracts.referenceCheck(li, "order_exists", "l_orderkey",
            broadcast(ord), "o_orderkey")))
    },

    // per-node triangle counts over the part co-order graph: the
    // clustering-cohesion companion to graph_pagerank. Degree-ordered
    // forward orientation (Schank–Wagner; Suri & Vassilvitskii WWW'11)
    // bounds wedge volume O(m^1.5) under any skew; the oracle mirrors
    // the orientation and wedge-close joins term for term
    QuerySpec("graph_triangles",
      raw"""WITH e AS (SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
           |           FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
           |            AND a.l_partkey <> b.l_partkey),
           |dg AS (SELECT src, count(*) AS deg FROM e GROUP BY 1),
           |f AS (SELECT e.src AS a, e.dst AS b FROM e
           |      JOIN dg da ON da.src = e.src JOIN dg db ON db.src = e.dst
           |      WHERE da.deg < db.deg OR (da.deg = db.deg AND e.src < e.dst)),
           |t AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
           |      FROM f e1 JOIN f e2 ON e2.a = e1.a AND e1.b <> e2.b
           |      JOIN f e3 ON e3.a = e1.b AND e3.b = e2.b),
           |m AS (SELECT x AS node FROM t UNION ALL SELECT y FROM t
           |      UNION ALL SELECT z FROM t),
           |c AS (SELECT node, count(*) AS n FROM m GROUP BY 1)
           |SELECT dg.src AS node, CAST(COALESCE(c.n, 0) AS BIGINT) AS n_triangles
           |FROM dg LEFT JOIN c ON c.node = dg.src""".stripMargin) { (s, d) =>
      // symmetric form: a paired in-session A/B (quiet 32c mins) measured
      // a canonical half-list variant 1.08× slower here at sf0.1 (1.22 vs
      // 1.13 s) — the halved degree-join volume doesn't pay for the extra
      // orientation swap until the dedup shuffle is data-bound
      graft.ops.Graph.triangleCounts(
        graft.ops.Graph.coOccurrenceEdges(lineitem(s, d),
          "l_orderkey", "l_partkey"))
    },

    // small-file compaction planning: per-(source, lang) byte inventories
    // packed into ~16 KiB output bins by cumulative quota in key order
    // (order-preserving, so range/z-order layouts survive compaction).
    // The Spark side computes the prefix sum via the distributed
    // partition-offset scheme — no whole-inventory single-task window;
    // the oracle is the plain window form over the same ordering
    QuerySpec("layout_compaction_plan",
      raw"""WITH u AS (SELECT source, lang, CAST(sum(n_chars) AS BIGINT) AS bytes
           |           FROM documents GROUP BY 1, 2)
           |SELECT source, lang, bytes,
           |  CAST((sum(bytes) OVER (ORDER BY source, lang
           |          ROWS UNBOUNDED PRECEDING) - bytes) // 16384 AS BIGINT) AS bin
           |FROM u""".stripMargin) { (s, d) =>
      val units = docs(s, d).groupBy(col("source"), col("lang"))
        .agg(sum(col("n_chars")).cast("long").as("bytes"))
      graft.ops.Layout.compactionPlan(units,
        Seq(col("source"), col("lang")), "bytes", targetBytes = 16384L)
    },

    // per-source boilerplate strip (CCNet-style, token-df variant):
    // tokens in >= 95% of a source's docs are that source's template
    // residue; the strip is a codegen'd array filter against ONE
    // broadcast vocabulary array per source — no explode/rebuild
    // shuffle on the data path
    QuerySpec("text_strip_boilerplate",
      raw"""WITH tt AS (SELECT doc_id, source, CASE WHEN length(trim(text)) = 0 THEN []
           |              ELSE string_split_regex(trim(lower(text)), '\s+') END AS t
           |            FROM documents),
           |dtok AS (SELECT DISTINCT source, doc_id, unnest(t) AS token FROM tt),
           |nd AS (SELECT source, count(DISTINCT doc_id) AS n FROM documents GROUP BY 1),
           |dfq AS (SELECT d.source, d.token, (count(*) * 1000) // nd.n AS dfm
           |        FROM dtok d JOIN nd ON nd.source = d.source
           |        GROUP BY d.source, d.token, nd.n),
           |bp AS (SELECT source, list(token ORDER BY token) AS bl
           |       FROM dfq WHERE dfm >= 950 GROUP BY 1)
           |SELECT tt.doc_id, tt.source,
           |  CAST(len(tt.t) AS BIGINT) AS n_tokens_before,
           |  CAST(len(list_filter(tt.t,
           |    x -> NOT COALESCE(list_contains(bp.bl, x), FALSE))) AS BIGINT)
           |    AS n_tokens_after,
           |  COALESCE(array_to_string(list_filter(tt.t,
           |    x -> NOT COALESCE(list_contains(bp.bl, x), FALSE)), ' '), '') AS stripped_text
           |FROM tt LEFT JOIN bp USING (source)""".stripMargin) { (s, d) =>
      graft.ops.TextAnalysis.stripBoilerplate(docs(s, d), "source", "text",
        "doc_id", dfMilli = 950)
    },

    // distribution drift: both snapshots binned against the BEFORE
    // snapshot's per-lang bounds (after-values outside clamp to edge
    // bins — the range-moved signal), per-bin counts and exact milli
    // proportions; planted drift = n_chars+50 on doc_id%3=0 PLUS a
    // stratum rename de→xx, so the added ('xx', after-only, binned
    // against its own bounds) and removed ('de', proportions coalesced
    // to 0) status paths are cross-engine value-checked too
    QuerySpec("quality_dist_drift",
      raw"""WITH bef AS (SELECT lang, n_chars FROM documents),
           |aft AS (SELECT CASE WHEN lang = 'de' THEN 'xx' ELSE lang END AS lang,
           |               CASE WHEN doc_id % 3 = 0 THEN n_chars + 50
           |                    ELSE n_chars END AS v FROM documents),
           |bndb AS (SELECT lang, min(n_chars) AS lo, max(n_chars) AS hi FROM bef GROUP BY 1),
           |bnda AS (SELECT lang, min(v) AS lo, max(v) AS hi FROM aft GROUP BY 1),
           |bnd AS (SELECT COALESCE(b.lang, a.lang) AS lang,
           |          COALESCE(b.lo, a.lo) AS lo, COALESCE(b.hi, a.hi) AS hi
           |        FROM bndb b FULL OUTER JOIN bnda a ON b.lang = a.lang),
           |bb AS (SELECT d.lang, CASE WHEN b.hi = b.lo THEN 0
           |         ELSE greatest(0, least(15, ((d.n_chars - b.lo) * 16) // (b.hi - b.lo)))
           |         END AS bin
           |       FROM bef d JOIN bnd b USING (lang)),
           |cb AS (SELECT lang, bin, count(*) AS n_before FROM bb GROUP BY 1, 2),
           |ba AS (SELECT a.lang, CASE WHEN b.hi = b.lo THEN 0
           |         ELSE greatest(0, least(15, ((a.v - b.lo) * 16) // (b.hi - b.lo)))
           |         END AS bin
           |       FROM aft a JOIN bnd b USING (lang)),
           |ca AS (SELECT lang, bin, count(*) AS n_after FROM ba GROUP BY 1, 2),
           |j AS (SELECT COALESCE(cb.lang, ca.lang) AS lang,
           |        COALESCE(cb.bin, ca.bin) AS bin,
           |        COALESCE(n_before, 0) AS n_before, COALESCE(n_after, 0) AS n_after
           |      FROM cb FULL OUTER JOIN ca ON cb.lang = ca.lang AND cb.bin = ca.bin),
           |t AS (SELECT lang, bin, n_before, n_after,
           |        sum(n_before) OVER (PARTITION BY lang) AS tb,
           |        sum(n_after) OVER (PARTITION BY lang) AS ta FROM j)
           |SELECT lang, bin, CAST(n_before AS BIGINT) AS n_before,
           |  CAST(n_after AS BIGINT) AS n_after,
           |  CASE WHEN tb = 0 THEN 'added' WHEN ta = 0 THEN 'removed'
           |       ELSE 'common' END AS status,
           |  CAST(COALESCE((n_before * 1000) // NULLIF(tb, 0), 0) AS BIGINT) AS p_before_milli,
           |  CAST(COALESCE((n_after * 1000) // NULLIF(ta, 0), 0) AS BIGINT) AS p_after_milli,
           |  CAST(COALESCE((n_after * 1000) // NULLIF(ta, 0), 0)
           |     - COALESCE((n_before * 1000) // NULLIF(tb, 0), 0) AS BIGINT) AS delta_milli
           |FROM t""".stripMargin) { (s, d) =>
      val before = docs(s, d)
      val after = before.select(
        when(col("lang") === "de", "xx").otherwise(col("lang")).as("lang"),
        when(col("doc_id") % 3 === 0, col("n_chars") + 50L)
          .otherwise(col("n_chars")).as("n_chars"))
      graft.ops.Drift.histDrift(before, after, "lang", "n_chars", nBins = 16)
    },

    // association rules over order baskets: part pairs co-ordered more
    // than popularity predicts. support/confidence exact milli; lift is
    // the one IEEE double, same literal expression order both engines.
    // Pairs pruned at minPairCount=3 BEFORE the measure joins
    QuerySpec("graph_association_rules",
      raw"""WITH bk AS (SELECT DISTINCT l_orderkey AS b, l_partkey AS i FROM lineitem),
           |n AS (SELECT count(DISTINCT b) AS nb FROM bk),
           |it AS (SELECT i, count(*) AS ni FROM bk GROUP BY 1),
           |pr AS (SELECT a.i AS ante, c.i AS cons, count(*) AS n_ab
           |       FROM bk a JOIN bk c ON a.b = c.b AND a.i <> c.i
           |       GROUP BY 1, 2 HAVING count(*) >= 3)
           |SELECT pr.ante, pr.cons, CAST(pr.n_ab AS BIGINT) AS n_ab,
           |  CAST(ia.ni AS BIGINT) AS n_a, CAST(ic.ni AS BIGINT) AS n_b,
           |  CAST(n.nb AS BIGINT) AS n_baskets,
           |  CAST((pr.n_ab * 1000) // n.nb AS BIGINT) AS support_milli,
           |  CAST((pr.n_ab * 1000) // ia.ni AS BIGINT) AS confidence_milli,
           |  CAST(pr.n_ab AS DOUBLE) * n.nb / ia.ni / ic.ni AS lift
           |FROM pr JOIN it ia ON ia.i = pr.ante
           |        JOIN it ic ON ic.i = pr.cons
           |        CROSS JOIN n""".stripMargin) { (s, d) =>
      graft.ops.Association.pairRules(lineitem(s, d), "l_orderkey", "l_partkey",
        minPairCount = 3L)
    },

    // winsorization with sketch thresholds: per-lang n_chars clipped to
    // the p05/p95 histogram-bin edges (<= 64 counts per stratum on the
    // wire — never a per-group exact sort). Decision path is integer
    // end to end; both engines clip identical rows identically
    QuerySpec("text_len_winsorized",
      raw"""WITH b AS (SELECT lang, min(n_chars) AS lo, max(n_chars) AS hi,
           |             count(*) AS n FROM documents GROUP BY 1),
           |bi AS (SELECT d.lang, d.n_chars,
           |         CASE WHEN b.hi = b.lo THEN 0
           |              ELSE least(63, ((d.n_chars - b.lo) * 64) // (b.hi - b.lo)) END AS bin
           |       FROM documents d JOIN b USING (lang)),
           |c AS (SELECT lang, bin, count(*) AS cnt FROM bi GROUP BY 1, 2),
           |cu AS (SELECT lang, bin,
           |         sum(cnt) OVER (PARTITION BY lang ORDER BY bin) AS cum FROM c),
           |blo AS (SELECT cu.lang, min(cu.bin) AS bin FROM cu JOIN b USING (lang)
           |        WHERE cu.cum >= (b.n * 1 + 20 - 1) // 20 GROUP BY 1),
           |bhi AS (SELECT cu.lang, min(cu.bin) AS bin FROM cu JOIN b USING (lang)
           |        WHERE cu.cum >= (b.n * 19 + 20 - 1) // 20 GROUP BY 1),
           |th AS (SELECT b.lang, b.lo + (blo.bin * (b.hi - b.lo)) // 64 AS elo,
           |              b.lo + (bhi.bin * (b.hi - b.lo)) // 64 AS ehi
           |       FROM b JOIN blo USING (lang) JOIN bhi USING (lang))
           |SELECT d.lang, d.n_chars,
           |  CAST(greatest(th.elo, least(th.ehi, d.n_chars)) AS BIGINT) AS clipped,
           |  CAST(CASE WHEN d.n_chars < th.elo THEN -1
           |            WHEN d.n_chars > th.ehi THEN 1 ELSE 0 END AS BIGINT) AS clip_dir
           |FROM documents d JOIN th USING (lang)""".stripMargin) { (s, d) =>
      graft.ops.RobustStats.winsorize(docs(s, d), "lang", "n_chars",
        nBins = 64, qLo = 1 -> 20, qHi = 19 -> 20)
    },

    // anti-entropy digests: a corrupted orders replica (one key dropped
    // per 97, one priority rewritten per 89) localized to hash buckets
    // by comparing per-bucket digest sums — bucket-count-sized frames;
    // only disagreeing buckets would ever be re-read for row repair.
    // Digests are sums of 60-bit row hashes in DECIMAL(38,0), exact and
    // commutative in both engines; NULLs are sentineled so (a,NULL) and
    // (a||'',''-shift) cannot collide
    QuerySpec("recon_anti_entropy", {
      // mirror of AntiEntropy.field: N for NULL, else V<charlen>:<value>
      // (length-prefixed — injective even when values contain a
      // would-be separator)
      def enc(e: String) =
        s"(CASE WHEN $e IS NULL THEN 'N' ELSE 'V' || CAST(length($e) AS VARCHAR) || ':' || $e END)"
      val keyCanon = enc("CAST(o_orderkey AS VARCHAR)")
      val rowCanon = s"${enc("CAST(o_orderkey AS VARCHAR)")} || ${enc("o_orderstatus")} || ${enc("o_orderpriority")}"
      def h60(e: String) = s"('0x' || substr(md5($e), 1, 15))::BIGINT"
      raw"""WITH a0 AS (SELECT o_orderkey, o_orderstatus, o_orderpriority FROM orders),
           |b0 AS (SELECT o_orderkey, o_orderstatus,
           |         CASE WHEN o_orderkey % 89 = 0 THEN '9-CORRUPT'
           |              ELSE o_orderpriority END AS o_orderpriority
           |       FROM orders WHERE o_orderkey % 97 <> 0),
           |da AS (SELECT ${h60(keyCanon)} % 64 AS bucket,
           |         count(*) AS n_rows,
           |         sum(CAST(${h60(rowCanon)} AS DECIMAL(38,0))) AS digest
           |       FROM a0 GROUP BY 1),
           |db AS (SELECT ${h60(keyCanon)} % 64 AS bucket,
           |         count(*) AS n_rows,
           |         sum(CAST(${h60(rowCanon)} AS DECIMAL(38,0))) AS digest
           |       FROM b0 GROUP BY 1)
           |SELECT COALESCE(da.bucket, db.bucket) AS bucket,
           |  CAST(da.n_rows AS BIGINT) AS n_a, CAST(db.n_rows AS BIGINT) AS n_b,
           |  CASE WHEN da.bucket IS NULL THEN 'missing_a'
           |       WHEN db.bucket IS NULL THEN 'missing_b'
           |       WHEN da.digest <> db.digest OR da.n_rows <> db.n_rows
           |         THEN 'mismatch' END AS status
           |FROM da FULL OUTER JOIN db ON da.bucket = db.bucket
           |WHERE da.bucket IS NULL OR db.bucket IS NULL
           |   OR da.digest <> db.digest OR da.n_rows <> db.n_rows""".stripMargin
    }) { (s, d) =>
      val base = s.read.parquet(s"$d/orders.parquet")
        .select("o_orderkey", "o_orderstatus", "o_orderpriority")
      val replica = base.where(col("o_orderkey") % 97 =!= 0)
        .withColumn("o_orderpriority",
          when(col("o_orderkey") % 89 === 0, lit("9-CORRUPT"))
            .otherwise(col("o_orderpriority")))
      val cols = Seq("o_orderkey", "o_orderstatus", "o_orderpriority")
      graft.ops.AntiEntropy.diffDigests(
        graft.ops.AntiEntropy.bucketDigests(base, Seq("o_orderkey"), cols, 64),
        graft.ops.AntiEntropy.bucketDigests(replica, Seq("o_orderkey"), cols, 64))
    },

    // join-size forecast WITHOUT running the join: |orders ⋈ lineitem|
    // from the two per-key count frames — count-table join shuffles
    // keys, not rows, and prices the real join before a cluster
    // commits to it. The oracle is free to just count; the Spark side
    // must never touch row pairs
    QuerySpec("recon_join_forecast",
      raw"""WITH ca AS (SELECT o_orderkey AS k, count(*) AS fa FROM orders GROUP BY 1),
           |cb AS (SELECT l_orderkey AS k, count(*) AS fb FROM lineitem GROUP BY 1),
           |j AS (SELECT fa * fb AS pairs FROM ca JOIN cb USING (k))
           |SELECT (SELECT CAST(count(*) AS BIGINT) FROM orders) AS n_left,
           |  (SELECT CAST(count(*) AS BIGINT) FROM lineitem) AS n_right,
           |  CAST(count(*) AS BIGINT) AS n_overlap_keys,
           |  CAST(CAST(COALESCE(sum(pairs), 0) AS HUGEINT) AS VARCHAR) AS n_output_rows
           |FROM j""".stripMargin) { (s, d) =>
      graft.ops.JoinForecast.joinSizeEstimate(
        s.read.parquet(s"$d/orders.parquet").select(col("o_orderkey").as("k")),
        lineitem(s, d).select(col("l_orderkey").as("k")), Seq("k"))
        .withColumn("n_output_rows", col("n_output_rows").cast("string"))
    },

    // the skew companion: which keys dominate a SELF-join of events on
    // user_id — the salting / AQE-skew-hint candidate list with exact
    // milli shares of the forecast output. Two-phase top-k (partition-
    // local prune, then a global window over <= k x partitions rows)
    QuerySpec("recon_join_skew",
      raw"""WITH c AS (SELECT user_id, count(*) AS f FROM events GROUP BY 1),
           |p AS (SELECT user_id, CAST(f AS HUGEINT) * f AS n_pairs FROM c),
           |t AS (SELECT sum(n_pairs) AS tot FROM p),
           |r AS (SELECT user_id, n_pairs,
           |        row_number() OVER (ORDER BY n_pairs DESC, user_id) AS rank FROM p)
           |SELECT user_id, CAST(n_pairs AS VARCHAR) AS n_pairs,
           |  CAST((n_pairs * 1000) // t.tot AS BIGINT) AS share_milli,
           |  CAST(rank AS BIGINT) AS rank
           |FROM r, t WHERE rank <= 10""".stripMargin) { (s, d) =>
      // pair counts ride DECIMAL(38,0) in the operator and exact digit
      // STRINGS across the compare boundary; the oracle's shares divide
      // in HUGEINT (DuckDB's `//` over DECIMAL detours through DOUBLE)
      val ev = events(s, d).select("user_id")
      graft.ops.JoinForecast.skewTopK(ev, ev, Seq("user_id"), k = 10)
        .withColumn("n_pairs", col("n_pairs").cast("string"))
    },

    // one-pass column profiling: null rates (exact milli) + portable
    // HLL distinct estimates for four documents columns from ONE
    // generator + two aggregations — per-column jobs don't scale to
    // wide tables. Values profile through their canonical string form
    QuerySpec("quality_column_profile",
      raw"""WITH st AS (
           |  SELECT 'doc_id' AS col_name, CAST(doc_id AS VARCHAR) AS v FROM documents
           |  UNION ALL SELECT 'lang', lang FROM documents
           |  UNION ALL SELECT 'source', source FROM documents
           |  UNION ALL SELECT 'n_chars', CAST(n_chars AS VARCHAR) FROM documents),
           |n AS (SELECT col_name, count(*) AS n_rows,
           |        sum(CASE WHEN v IS NULL THEN 1 ELSE 0 END) AS n_null
           |      FROM st GROUP BY 1),
           |hh AS (SELECT col_name, ('0x' || substr(md5(v), 1, 15))::BIGINT AS h
           |       FROM st WHERE v IS NOT NULL),
           |rr AS (SELECT col_name, h % 64 AS bucket,
           |         CASE WHEN h // 64 = 0 THEN 55 ELSE 55 - length(bin(h // 64)) END AS rho
           |       FROM hh),
           |reg AS (SELECT col_name, bucket, max(rho) AS rho FROM rr GROUP BY 1, 2),
           |agg AS (SELECT col_name,
           |          CAST(sum(CAST(1 AS BIGINT) << CAST(55 - rho AS INTEGER))
           |               + (64 - count(*)) * (CAST(1 AS BIGINT) << 55) AS BIGINT) AS s_scaled
           |        FROM reg GROUP BY 1)
           |SELECT n.col_name, CAST(n_rows AS BIGINT) AS n_rows,
           |  CAST(n_null AS BIGINT) AS n_null,
           |  CAST((n_null * 1000) // n_rows AS BIGINT) AS null_milli,
           |  CAST(COALESCE(s_scaled, 0) AS BIGINT) AS s_scaled,
           |  COALESCE(${graft.ops.Sketches.EstimateNumerator} / CAST(s_scaled AS DOUBLE), 0.0)
           |    AS raw_estimate
           |FROM n LEFT JOIN agg USING (col_name)""".stripMargin) { (s, d) =>
      graft.ops.Drift.profile(docs(s, d), Seq("doc_id", "lang", "source", "n_chars"))
    },

    // profile drift between yesterday's documents and a mutated today:
    // source dropped, a flag column added, lang nulled on doc_id%5=0 —
    // the added/removed/null-rate-shift report is computed from two
    // profile frames, so the drift step itself is profile-sized
    QuerySpec("quality_schema_drift",
      raw"""WITH stb AS (
           |  SELECT 'doc_id' AS col_name, CAST(doc_id AS VARCHAR) AS v FROM documents
           |  UNION ALL SELECT 'lang', lang FROM documents
           |  UNION ALL SELECT 'source', source FROM documents
           |  UNION ALL SELECT 'n_chars', CAST(n_chars AS VARCHAR) FROM documents),
           |sta AS (
           |  SELECT 'doc_id' AS col_name, CAST(doc_id AS VARCHAR) AS v FROM documents
           |  UNION ALL SELECT 'lang', CASE WHEN doc_id % 5 <> 0 THEN lang END FROM documents
           |  UNION ALL SELECT 'n_chars', CAST(n_chars AS VARCHAR) FROM documents
           |  UNION ALL SELECT 'flag', CAST(doc_id % 2 AS VARCHAR) FROM documents),
           |nb AS (SELECT col_name, count(*) AS n_rows,
           |         sum(CASE WHEN v IS NULL THEN 1 ELSE 0 END) AS n_null
           |       FROM stb GROUP BY 1),
           |na AS (SELECT col_name, count(*) AS n_rows,
           |         sum(CASE WHEN v IS NULL THEN 1 ELSE 0 END) AS n_null
           |       FROM sta GROUP BY 1),
           |hb AS (SELECT col_name, ('0x' || substr(md5(v), 1, 15))::BIGINT AS h
           |       FROM stb WHERE v IS NOT NULL),
           |ha AS (SELECT col_name, ('0x' || substr(md5(v), 1, 15))::BIGINT AS h
           |       FROM sta WHERE v IS NOT NULL),
           |rb AS (SELECT col_name, h % 64 AS bucket,
           |         CASE WHEN h // 64 = 0 THEN 55 ELSE 55 - length(bin(h // 64)) END AS rho
           |       FROM hb),
           |ra AS (SELECT col_name, h % 64 AS bucket,
           |         CASE WHEN h // 64 = 0 THEN 55 ELSE 55 - length(bin(h // 64)) END AS rho
           |       FROM ha),
           |gb AS (SELECT col_name, bucket, max(rho) AS rho FROM rb GROUP BY 1, 2),
           |ga AS (SELECT col_name, bucket, max(rho) AS rho FROM ra GROUP BY 1, 2),
           |ab AS (SELECT col_name,
           |         CAST(sum(CAST(1 AS BIGINT) << CAST(55 - rho AS INTEGER))
           |              + (64 - count(*)) * (CAST(1 AS BIGINT) << 55) AS BIGINT) AS s_scaled
           |       FROM gb GROUP BY 1),
           |aa AS (SELECT col_name,
           |         CAST(sum(CAST(1 AS BIGINT) << CAST(55 - rho AS INTEGER))
           |              + (64 - count(*)) * (CAST(1 AS BIGINT) << 55) AS BIGINT) AS s_scaled
           |       FROM ga GROUP BY 1),
           |pb AS (SELECT nb.col_name, (n_null * 1000) // n_rows AS null_milli,
           |         COALESCE(s_scaled, 0) AS s_scaled
           |       FROM nb LEFT JOIN ab USING (col_name)),
           |pa AS (SELECT na.col_name, (n_null * 1000) // n_rows AS null_milli,
           |         COALESCE(s_scaled, 0) AS s_scaled
           |       FROM na LEFT JOIN aa USING (col_name))
           |SELECT COALESCE(pb.col_name, pa.col_name) AS col_name,
           |  CASE WHEN pb.col_name IS NULL THEN 'added'
           |       WHEN pa.col_name IS NULL THEN 'removed'
           |       ELSE 'common' END AS status,
           |  CAST(pb.null_milli AS BIGINT) AS null_milli_before,
           |  CAST(pa.null_milli AS BIGINT) AS null_milli_after,
           |  CAST(COALESCE(pa.null_milli, 0) - COALESCE(pb.null_milli, 0) AS BIGINT)
           |    AS null_milli_delta,
           |  CAST(pb.s_scaled AS BIGINT) AS s_scaled_before,
           |  CAST(pa.s_scaled AS BIGINT) AS s_scaled_after
           |FROM pb FULL OUTER JOIN pa ON pb.col_name = pa.col_name""".stripMargin) { (s, d) =>
      val before = docs(s, d)
      val after = before.select(col("doc_id"),
        when(col("doc_id") % 5 =!= 0, col("lang")).as("lang"),
        col("n_chars"), (col("doc_id") % 2).as("flag"))
      graft.ops.Drift.drift(
        graft.ops.Drift.profile(before, Seq("doc_id", "lang", "source", "n_chars")),
        graft.ops.Drift.profile(after, Seq("doc_id", "lang", "n_chars", "flag")))
    },

    // offline changepoint per event type: hourly counts (gap-filled so
    // silent hours weigh in as zeros) scored by the max-|CUSUM|
    // statistic with n-scaled integer deviations — both engines sum the
    // same longs. Composes Resample (grid) with Changepoint (statistic)
    QuerySpec("events_changepoint",
      raw"""WITH b AS (SELECT event_type, epoch_ms(ts) // 3600000 AS bucket,
           |             CAST(count(*) AS BIGINT) AS x
           |           FROM events GROUP BY 1, 2),
           |bounds AS (SELECT event_type, min(bucket) AS mn, max(bucket) AS mx
           |           FROM b GROUP BY 1),
           |grid AS (SELECT event_type, unnest(range(mn, mx + 1)) AS bucket FROM bounds),
           |g AS (SELECT grid.event_type, grid.bucket, COALESCE(b.x, 0) AS x
           |      FROM grid LEFT JOIN b ON b.event_type = grid.event_type
           |                           AND b.bucket = grid.bucket),
           |t AS (SELECT event_type, sum(x) AS tot, count(*) AS nn FROM g GROUP BY 1),
           |c AS (SELECT g.event_type, g.bucket, t.nn, t.tot,
           |        sum(g.x * t.nn - t.tot) OVER (PARTITION BY g.event_type
           |          ORDER BY g.bucket ROWS UNBOUNDED PRECEDING) AS cusum
           |      FROM g JOIN t USING (event_type)),
           |r AS (SELECT *, row_number() OVER (PARTITION BY event_type
           |        ORDER BY abs(cusum) DESC, bucket) AS rk FROM c)
           |SELECT event_type, bucket AS cp_bucket,
           |  CAST(cusum AS BIGINT) AS cusum_scaled,
           |  CAST(nn AS BIGINT) AS n_points, CAST(tot AS BIGINT) AS total
           |FROM r WHERE rk = 1""".stripMargin) { (s, d) =>
      val hourly = graft.ops.Resample.gapFill(
        graft.ops.Resample.resample(events(s, d), "event_type", "ts", "value",
          intervalMs = 3600000L), "event_type")
      graft.ops.Changepoint.maxCusum(hourly, "event_type", "bucket", "n_events")
    },

    // rank-based changepoint beside the CUSUM one: Pettitt's
    // prefix-vs-suffix Mann–Whitney statistic over the same hourly
    // series — distribution-free, one outlier bounded at ±1 per pair.
    // The O(n²) pair sum collapses to one rank pass + a prefix sum via
    // U_t = Σ_{i≤t}(n+1−2·avgrank); mid-ranks keep ties exact by
    // doubling. Both engines compute the identical longs
    QuerySpec("events_pettitt",
      raw"""WITH b AS (SELECT event_type, epoch_ms(ts) // 3600000 AS bucket,
           |             CAST(count(*) AS BIGINT) AS x
           |           FROM events GROUP BY 1, 2),
           |bounds AS (SELECT event_type, min(bucket) AS mn, max(bucket) AS mx
           |           FROM b GROUP BY 1),
           |grid AS (SELECT event_type, unnest(range(mn, mx + 1)) AS bucket FROM bounds),
           |g AS (SELECT grid.event_type, grid.bucket, COALESCE(b.x, 0) AS x
           |      FROM grid LEFT JOIN b ON b.event_type = grid.event_type
           |                           AND b.bucket = grid.bucket),
           |rk AS (SELECT event_type, bucket, x,
           |         count(*) OVER (PARTITION BY event_type) AS n,
           |         2 * rank() OVER (PARTITION BY event_type ORDER BY x)
           |           + count(*) OVER (PARTITION BY event_type, x) - 1 AS r2
           |       FROM g),
           |u AS (SELECT event_type, bucket, n,
           |        sum(2 * n + 2 - 2 * r2) OVER (PARTITION BY event_type
           |          ORDER BY bucket ROWS UNBOUNDED PRECEDING) AS u_doubled
           |      FROM rk),
           |p AS (SELECT *, row_number() OVER (PARTITION BY event_type
           |        ORDER BY abs(u_doubled) DESC, bucket) AS pk FROM u)
           |SELECT event_type, bucket AS cp_bucket,
           |  CAST(u_doubled AS BIGINT) AS u_doubled,
           |  CAST(n AS BIGINT) AS n_points
           |FROM p WHERE pk = 1""".stripMargin) { (s, d) =>
      val hourly = graft.ops.Resample.gapFill(
        graft.ops.Resample.resample(events(s, d), "event_type", "ts", "value",
          intervalMs = 3600000L), "event_type")
      graft.ops.Changepoint.pettitt(hourly, "event_type", "bucket", "n_events")
    },

    // time-series regularization to a 4-hour grid per user: silent
    // buckets PRESENT as zero-count filled rows, with the decimal sum
    // carried forward (LOCF). The grid is generated per entity in-plan
    // (sequence+explode off a bounds row — no driver loop, no cross
    // join); the LOCF window is entity-partitioned, never data-global
    QuerySpec("events_resampled",
      raw"""WITH b AS (SELECT user_id, epoch_ms(ts) // 14400000 AS bucket,
           |             CAST(count(*) AS BIGINT) AS n_events,
           |             sum(CAST(value AS DECIMAL(38,9))) AS sv
           |           FROM events GROUP BY 1, 2),
           |bounds AS (SELECT user_id, min(bucket) AS mn, max(bucket) AS mx
           |           FROM b GROUP BY 1),
           |grid AS (SELECT user_id, unnest(range(mn, mx + 1)) AS bucket FROM bounds),
           |j AS (SELECT g.user_id, g.bucket,
           |        COALESCE(b.n_events, 0) AS n_events, b.sv,
           |        CAST(CASE WHEN b.n_events IS NULL THEN 1 ELSE 0 END AS BIGINT) AS filled
           |      FROM grid g LEFT JOIN b ON b.user_id = g.user_id AND b.bucket = g.bucket)
           |SELECT user_id, bucket, n_events,
           |  CAST(sv AS VARCHAR) AS sum_val, filled,
           |  CAST(last_value(sv IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY bucket
           |         ROWS UNBOUNDED PRECEDING) AS VARCHAR) AS locf_sum
           |FROM j""".stripMargin) { (s, d) =>
      graft.ops.Resample.regularize(events(s, d), "user_id", "ts", "value",
          intervalMs = 14400000L)
        // compare-harness projection: fixed-scale string form of the
        // decimals (pandas renders DuckDB decimals via float64)
        .withColumn("sum_val", col("sum_val").cast("string"))
        .withColumn("locf_sum", col("locf_sum").cast("string"))
    },

    // incremental aggregation maintenance: the rollup state of events
    // before Jan 20 merged with the state of the later "ingest batch"
    // must equal a full recompute bit-for-bit — sums run in
    // DECIMAL(38,9) so the split point cannot change a digit (double
    // addition would). At 100 TB the left state is a persisted artifact
    // and only the delta is ever aggregated; the oracle IS the full
    // recompute the merge exists to avoid
    QuerySpec("events_incremental_state",
      raw"""SELECT user_id, event_type,
           |  CAST(count(*) AS BIGINT) AS n_rows,
           |  CAST(count(value) AS BIGINT) AS n_vals,
           |  CAST(sum(CAST(value AS DECIMAL(38,9))) AS VARCHAR) AS sum_val,
           |  min(value) AS min_val, max(value) AS max_val
           |FROM events GROUP BY 1, 2""".stripMargin) { (s, d) =>
      val ev = events(s, d)
      val cut = lit("2024-01-20").cast("timestamp")
      val keys = Seq("user_id", "event_type")
      graft.ops.IncrementalAgg.merge(keys, Seq(
          graft.ops.IncrementalAgg.state(ev.where(col("ts") < cut), keys, "value"),
          graft.ops.IncrementalAgg.state(ev.where(col("ts") >= cut), keys, "value")))
        // compare-harness projection only: pandas renders a DECIMAL
        // column through float64 on the DuckDB side, losing the scale;
        // the fixed-scale string form is identical in both engines
        .withColumn("sum_val", col("sum_val").cast("string"))
    },

    // golden-record survivorship over two simulated customer feeds: the
    // higher-priority "update" feed rewrites segments for custkey%3=0 but
    // carries names only for custkey%6=0 — per FIELD the best non-null
    // contributor wins, with provenance columns naming the winning feed.
    // One hash aggregation (max_by with null-gated rank); the oracle is
    // DuckDB's arg_max with a FILTER clause over the same rank key
    QuerySpec("recon_survivorship",
      raw"""WITH f AS (
           |  SELECT c_custkey AS entity, 'base' AS src, 1 AS prio,
           |    c_name AS name, c_mktsegment AS segment FROM customer
           |  UNION ALL
           |  SELECT c_custkey, 'update', 2,
           |    CASE WHEN c_custkey % 6 = 0 THEN upper(c_name) END,
           |    'U-' || c_mktsegment
           |  FROM customer WHERE c_custkey % 3 = 0)
           |SELECT entity,
           |  arg_max(name, prio) FILTER (WHERE name IS NOT NULL) AS name,
           |  arg_max(src, prio) FILTER (WHERE name IS NOT NULL) AS name_src,
           |  arg_max(segment, prio) FILTER (WHERE segment IS NOT NULL) AS segment,
           |  arg_max(src, prio) FILTER (WHERE segment IS NOT NULL) AS segment_src,
           |  CAST(count(*) AS BIGINT) AS n_records
           |FROM f GROUP BY 1""".stripMargin) { (s, d) =>
      val c = customer(s, d)
      val base = c.select(col("c_custkey").as("entity"), lit("base").as("src"),
        lit(1L).as("prio"), col("c_name").as("name"), col("c_mktsegment").as("segment"))
      val upd = c.where(col("c_custkey") % 3 === 0)
        .select(col("c_custkey").as("entity"), lit("update").as("src"),
          lit(2L).as("prio"),
          when(col("c_custkey") % 6 === 0, upper(col("c_name"))).as("name"),
          concat(lit("U-"), col("c_mktsegment")).as("segment"))
      graft.ops.Survivorship.goldenWithProvenance(base.unionAll(upd), "entity",
        graft.ops.Survivorship.rankKey(col("prio"), lit(0L), col("prio")),
        Seq("name", "segment"), "src")
    },

    // data-skipping skip-scan: write a range-clustered multi-file copy
    // of documents, build a per-file min/max manifest (one distributed
    // pass), then answer a doc_id range query by opening ONLY the files
    // whose stats envelope overlaps — at 100 TB this is the difference
    // between ~200k footer opens and a few hundred. Result must equal
    // the plain filtered scan exactly (the oracle never sees the layout)
    QuerySpec("layout_skip_scan",
      raw"""SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
           |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
           |FROM documents WHERE doc_id BETWEEN 120 AND 220
           |GROUP BY 1""".stripMargin) { (s, d) =>
      val dir = java.nio.file.Files.createTempDirectory("graft_skipscan").toString
      docs(s, d).select("doc_id", "lang", "n_chars")
        .repartitionByRange(8, col("doc_id"))
        .write.mode("overwrite").parquet(dir)
      val m = graft.ops.Manifest.build(s, dir, Seq("doc_id"))
      graft.ops.Manifest.prunedRead(s, dir, m, "doc_id", lit(120L), lit(220L))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).cast("long").as("sum_chars"))
    },

    // keyed snapshot diff (the CDC generalization of two-ledger recon):
    // "today" plants deterministic changes against the documents table —
    // doc_id%97=0 dropped, lang rewritten on doc_id%53=0, doc_id%101=0
    // cloned under a shifted id — and the diff must recover EXACTLY the
    // planted set with per-row changed-column counts
    QuerySpec("recon_snapshot_diff",
      raw"""WITH b AS (
           |  SELECT doc_id, text, lang, source, n_chars FROM documents
           |  WHERE doc_id % 97 <> 0),
           |bm AS (
           |  SELECT doc_id, text,
           |    CASE WHEN doc_id % 53 = 0 THEN 'xx' ELSE lang END AS lang,
           |    source, n_chars FROM b
           |  UNION ALL
           |  SELECT doc_id + 10000000, text, lang, source, n_chars
           |  FROM documents WHERE doc_id % 101 = 0),
           |j AS (
           |  SELECT a.doc_id AS ak, bm.doc_id AS bk,
           |    coalesce(a.doc_id, bm.doc_id) AS doc_id,
           |    (CASE WHEN a.text IS NOT DISTINCT FROM bm.text THEN 0 ELSE 1 END
           |     + CASE WHEN a.lang IS NOT DISTINCT FROM bm.lang THEN 0 ELSE 1 END
           |     + CASE WHEN a.source IS NOT DISTINCT FROM bm.source THEN 0 ELSE 1 END
           |     + CASE WHEN a.n_chars IS NOT DISTINCT FROM bm.n_chars THEN 0 ELSE 1 END
           |    ) AS nc
           |  FROM documents a FULL OUTER JOIN bm ON a.doc_id = bm.doc_id)
           |SELECT doc_id,
           |  CASE WHEN ak IS NULL THEN 'added'
           |       WHEN bk IS NULL THEN 'removed'
           |       ELSE 'changed' END AS change_type,
           |  CAST(CASE WHEN ak IS NULL OR bk IS NULL THEN 0 ELSE nc END
           |    AS BIGINT) AS n_cols_changed
           |FROM j WHERE ak IS NULL OR bk IS NULL OR nc > 0""".stripMargin) { (s, d) =>
      val before = docs(s, d).select("doc_id", "text", "lang", "source", "n_chars")
      val after = before.where(col("doc_id") % 97 =!= 0)
        .withColumn("lang",
          when(col("doc_id") % 53 === 0, lit("xx")).otherwise(col("lang")))
        .unionAll(before.where(col("doc_id") % 101 === 0)
          .withColumn("doc_id", col("doc_id") + 10000000L))
      graft.ops.SnapshotDiff.diff(before, after, Seq("doc_id"))
    },

    // local clustering coefficient in exact milli-units over the same
    // co-order graph: how clique-like each part's neighborhood is —
    // 1000·2T/(d(d−1)) with integer floor division in both engines
    QuerySpec("graph_clustering",
      raw"""WITH e AS (SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
           |           FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
           |            AND a.l_partkey <> b.l_partkey),
           |dg AS (SELECT src, count(*) AS deg FROM e GROUP BY 1),
           |f AS (SELECT e.src AS a, e.dst AS b FROM e
           |      JOIN dg da ON da.src = e.src JOIN dg db ON db.src = e.dst
           |      WHERE da.deg < db.deg OR (da.deg = db.deg AND e.src < e.dst)),
           |t AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
           |      FROM f e1 JOIN f e2 ON e2.a = e1.a AND e1.b <> e2.b
           |      JOIN f e3 ON e3.a = e1.b AND e3.b = e2.b),
           |m AS (SELECT x AS node FROM t UNION ALL SELECT y FROM t
           |      UNION ALL SELECT z FROM t),
           |c AS (SELECT node, count(*) AS n FROM m GROUP BY 1)
           |SELECT dg.src AS node, CAST(dg.deg AS BIGINT) AS deg,
           |  CAST(COALESCE(c.n, 0) AS BIGINT) AS n_triangles,
           |  CAST(CASE WHEN dg.deg >= 2
           |    THEN (2000 * COALESCE(c.n, 0)) // (dg.deg * (dg.deg - 1))
           |    ELSE 0 END AS BIGINT) AS coeff_milli
           |FROM dg LEFT JOIN c ON c.node = dg.src""".stripMargin) { (s, d) =>
      // symmetric form, same adjudication as graph_triangles (paired
      // mins: canonical 1.14× slower at sf0.1)
      graft.ops.Graph.clusteringCoefficients(
        graft.ops.Graph.coOccurrenceEdges(lineitem(s, d),
          "l_orderkey", "l_partkey"))
    },

    // deterministic synchronous label propagation (2 rounds) over the
    // part co-order graph: most-frequent neighbor label, smallest-label
    // tie-break — run-order-independent, so both engines compute the
    // same communities bit for bit (async LPA would not be mirrorable)
    QuerySpec("graph_communities", {
      def round(n: Int) =
        raw"""v$n AS (SELECT e.dst, l${n - 1}.label, count(*) AS cnt
             |      FROM e JOIN l${n - 1} ON l${n - 1}.node = e.src GROUP BY 1, 2),
             |l$n AS (SELECT dst AS node, label FROM (
             |        SELECT dst, label, row_number() OVER (PARTITION BY dst
             |          ORDER BY cnt DESC, label ASC) AS r FROM v$n) WHERE r = 1)""".stripMargin
      raw"""WITH e AS (SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
           |           FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
           |            AND a.l_partkey <> b.l_partkey),
           |l0 AS (SELECT DISTINCT src AS node, src AS label FROM e),
           |${round(1)},
           |${round(2)}
           |SELECT node, CAST(label AS BIGINT) AS label FROM l2""".stripMargin
    }) { (s, d) =>
      val edges = graft.ops.Graph.coOccurrenceEdges(lineitem(s, d), "l_orderkey", "l_partkey")
      graft.ops.Graph.labelPropagation(edges, iters = 2)
    },

    // outlier-ROBUST per-type value telemetry: median and MAD from exact
    // order statistics, all integer (median doubled / MAD quadrupled in
    // cents, so no division ever happens — the mean/stddev twin is
    // events_value_outliers, which one fat-finger order can drag; these
    // cannot). Windows are all partitioned by event_type
    QuerySpec("events_robust_stats",
      raw"""WITH c AS (SELECT event_type,
           |        CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents FROM events),
           |r AS (SELECT event_type, cents,
           |        row_number() OVER (PARTITION BY event_type ORDER BY cents) AS rn,
           |        count(*) OVER (PARTITION BY event_type) AS n FROM c),
           |m AS (SELECT event_type, max(n) AS n,
           |        sum(CASE WHEN rn IN ((n + 1) // 2, (n + 2) // 2) THEN cents END)
           |          * (CASE WHEN max(n) % 2 = 1 THEN 2 ELSE 1 END) AS med_x2
           |      FROM r GROUP BY 1),
           |dv AS (SELECT c.event_type, abs(2 * c.cents - m.med_x2) AS dev2
           |       FROM c JOIN m USING (event_type)),
           |dr AS (SELECT event_type, dev2,
           |        row_number() OVER (PARTITION BY event_type ORDER BY dev2) AS rn,
           |        count(*) OVER (PARTITION BY event_type) AS n FROM dv)
           |SELECT m.event_type, CAST(m.n AS BIGINT) AS n,
           |  CAST(m.med_x2 AS BIGINT) AS med_x2_cents,
           |  CAST(x.mad_x4 AS BIGINT) AS mad_x4_cents
           |FROM m JOIN (
           |  SELECT event_type,
           |    sum(CASE WHEN rn IN ((n + 1) // 2, (n + 2) // 2) THEN dev2 END)
           |      * (CASE WHEN max(n) % 2 = 1 THEN 2 ELSE 1 END) AS mad_x4
           |  FROM dr GROUP BY 1) x USING (event_type)""".stripMargin) { (s, d) =>
      val c = events(s, d).select(col("event_type"),
        floor(col("value") * 100 + 0.5).cast("long").as("cents"))
      graft.ops.RobustStats.medianMad(c, "event_type", "cents")
        .select(col("event_type"), col("n").cast("long").as("n"),
          col("med_x2").cast("long").as("med_x2_cents"),
          col("mad_x4").cast("long").as("mad_x4_cents"))
    },

    // integer PageRank over the part co-order graph (3 damped rounds,
    // micro-unit ranks, div/floor arithmetic — float PageRank would
    // diverge between engines on summation order alone). Edges: parts
    // sharing an order, both directions, distinct
    QuerySpec("graph_pagerank", {
      def iter(n: Int) =
        raw"""i$n AS (SELECT e.dst, sum(r${n - 1}.r // dg.deg) AS s
             |      FROM e JOIN dg USING (src) JOIN r${n - 1} ON r${n - 1}.node = e.src
             |      GROUP BY 1),
             |r$n AS (SELECT dg.src AS node,
             |        150000 + (850 * COALESCE(i$n.s, 0)) // 1000 AS r
             |      FROM dg LEFT JOIN i$n ON i$n.dst = dg.src)""".stripMargin
      raw"""WITH e AS (SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
           |           FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
           |            AND a.l_partkey <> b.l_partkey),
           |dg AS (SELECT src, count(*) AS deg FROM e GROUP BY 1),
           |r0 AS (SELECT src AS node, CAST(1000000 AS BIGINT) AS r FROM dg),
           |${iter(1)},
           |${iter(2)},
           |${iter(3)}
           |SELECT node, CAST(r AS BIGINT) AS rank_micro FROM r3""".stripMargin
    }) { (s, d) =>
      val edges = graft.ops.Graph.coOccurrenceEdges(lineitem(s, d), "l_orderkey", "l_partkey")
      graft.ops.Graph.pageRank(edges, iters = 3, dampMilli = 850)
    },

    // time-RANGE rolling window: each event's count + exact cent-sum of
    // the same user's events in the trailing 24 h — the "last-N-days
    // activity" feature the ROWS-frame rollingFeatures can't express
    // (a burst is N rows deep here, `window` rows there). Tied
    // timestamps are frame peers in both engines
    QuerySpec("events_rolling_window",
      raw"""SELECT user_id, epoch_ms(ts) AS ts_ms,
           |  CAST(floor(value * 100) AS BIGINT) AS value_cents,
           |  CAST(count(*) OVER w AS BIGINT) AS n_window,
           |  CAST(sum(CAST(floor(value * 100) AS BIGINT)) OVER w AS BIGINT) AS sum_window_cents
           |FROM events
           |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ms(ts)
           |  RANGE BETWEEN 86399999 PRECEDING AND CURRENT ROW)""".stripMargin) { (s, d) =>
      graft.ops.History.rollingTimeWindow(events(s, d), "user_id", "value",
        "ts", windowMs = 86400000L)
    },

    // per-file Bloom skip-scan: point lookups on a column the write
    // layout does NOT cluster (range layout on n_chars, probes on
    // doc_id — min/max envelopes would prune nothing). Bloom pruning
    // has no false negatives, so pruned-read ≡ full-table IN filter;
    // the absent probe key prunes to nothing instead of scanning
    QuerySpec("layout_bloom_skip",
      "SELECT doc_id, lang, n_chars FROM documents WHERE doc_id IN (42, 137, 233, 424242424242)") { (s, d) =>
      val dir = java.nio.file.Files.createTempDirectory("graft_bloomskip").toString
      docs(s, d).select("doc_id", "lang", "n_chars")
        .repartitionByRange(8, col("n_chars"))
        .write.mode("overwrite").parquet(dir)
      val m = graft.ops.Manifest.bloomManifest(s, dir, "doc_id",
        mBits = 4096, nHashes = 4)
      graft.ops.Manifest.bloomPrunedRead(s, dir, m, "doc_id",
        Seq(42L, 137L, 233L, 424242424242L), mBits = 4096, nHashes = 4)
    },

    // mixture-plan epochs: the training run says "en 50%, zh 20%, ..."
    // over a 1M-token budget; per language: available tokens (n_chars
    // as the proxy), target tokens, exact milli repetition factor, and
    // the status ladder — 'pt' is weighted but absent (unavailable),
    // 'es' present but unweighted
    QuerySpec("text_mix_epochs",
      raw"""WITH av AS (SELECT lang, CAST(sum(n_chars) AS BIGINT) AS n_tokens
           |            FROM documents GROUP BY 1),
           |w(lang, weight_milli) AS (VALUES ('en', 500), ('zh', 200),
           |  ('de', 150), ('fr', 100), ('pt', 50)),
           |j AS (SELECT COALESCE(av.lang, w.lang) AS lang,
           |        COALESCE(av.n_tokens, 0) AS n_tokens,
           |        COALESCE(w.weight_milli, 0) AS weight_milli
           |      FROM av FULL OUTER JOIN w ON av.lang = w.lang)
           |SELECT lang, CAST(n_tokens AS BIGINT) AS n_tokens,
           |  CAST(weight_milli AS BIGINT) AS weight_milli,
           |  CAST((1000000 * weight_milli) // 1000 AS BIGINT) AS target_tokens,
           |  CAST(CASE WHEN n_tokens > 0
           |       THEN (((1000000 * weight_milli) // 1000) * 1000) // n_tokens
           |       END AS BIGINT) AS epochs_milli,
           |  CASE WHEN (1000000 * weight_milli) // 1000 = 0 THEN 'unweighted'
           |       WHEN n_tokens = 0 THEN 'unavailable'
           |       WHEN (((1000000 * weight_milli) // 1000) * 1000) // n_tokens > 1000
           |         THEN 'repeats'
           |       ELSE 'ok' END AS status
           |FROM j""".stripMargin) { (s, d) =>
      graft.ops.Sampling.mixEpochs(docs(s, d), "lang", col("n_chars"),
        Seq("en" -> 500L, "zh" -> 200L, "de" -> 150L, "fr" -> 100L, "pt" -> 50L),
        budgetTokens = 1000000L)
    },

    // incremental join maintenance: the DELTA of orders ⋈ lineitem
    // under insert batches (ΔA⋈B ∪ A⋈ΔB ∪ ΔA⋈ΔB) — never re-joins the
    // two base tables; the batch sides broadcast. Oracle mirrors the
    // three-way union; the delta ∪ old ≡ full-recompute identity is
    // spec-pinned
    QuerySpec("recon_incremental_join",
      raw"""WITH a AS (SELECT o_orderkey AS k, o_custkey, o_orderstatus
           |           FROM orders WHERE o_orderkey % 10 <> 0),
           |da AS (SELECT o_orderkey AS k, o_custkey, o_orderstatus
           |       FROM orders WHERE o_orderkey % 10 = 0),
           |b AS (SELECT l_orderkey AS k, CAST(l_linenumber AS BIGINT) AS linenumber,
           |        CAST(l_quantity AS BIGINT) AS qty
           |      FROM lineitem WHERE l_orderkey % 7 <> 0),
           |db AS (SELECT l_orderkey AS k, CAST(l_linenumber AS BIGINT) AS linenumber,
           |        CAST(l_quantity AS BIGINT) AS qty
           |      FROM lineitem WHERE l_orderkey % 7 = 0)
           |SELECT da.k, da.o_custkey, da.o_orderstatus, b.linenumber, b.qty
           |  FROM da JOIN b ON da.k = b.k
           |UNION ALL
           |SELECT a.k, a.o_custkey, a.o_orderstatus, db.linenumber, db.qty
           |  FROM a JOIN db ON a.k = db.k
           |UNION ALL
           |SELECT da.k, da.o_custkey, da.o_orderstatus, db.linenumber, db.qty
           |  FROM da JOIN db ON da.k = db.k""".stripMargin) { (s, d) =>
      val orders = s.read.parquet(s"$d/orders.parquet")
        .select(col("o_orderkey").as("k"), col("o_custkey"), col("o_orderstatus"))
      val li = s.read.parquet(s"$d/lineitem.parquet")
        .select(col("l_orderkey").as("k"),
          col("l_linenumber").cast("long").as("linenumber"),
          col("l_quantity").cast("long").as("qty"))
      graft.ops.IncrementalJoin.joinDelta(
        orders.where(col("k") % 10 =!= 0), orders.where(col("k") % 10 === 0),
        li.where(col("k") % 7 =!= 0), li.where(col("k") % 7 === 0),
        Seq("k"))
    },

    // bounded-hop BFS from a seed set over the part co-order graph:
    // min hop distance out to 3, depth final the round a node first
    // appears (frontier + anti-join — no re-visits), unreached parts
    // absent. The blast-radius query behind contamination spread
    QuerySpec("graph_bfs_depth", {
      def hop(n: Int) =
        raw"""f$n AS (SELECT DISTINCT e.dst AS node
             |      FROM e JOIN d${n - 1} ON e.src = d${n - 1}.node
             |       AND d${n - 1}.depth = ${n - 1}
             |      WHERE e.dst NOT IN (SELECT node FROM d${n - 1})),
             |d$n AS (SELECT node, depth FROM d${n - 1}
             |        UNION ALL SELECT node, $n FROM f$n)""".stripMargin
      raw"""WITH e AS (SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
           |           FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
           |            AND a.l_partkey <> b.l_partkey),
           |d0 AS (SELECT DISTINCT src AS node, 0 AS depth FROM e WHERE src % 97 = 0),
           |${hop(1)},
           |${hop(2)},
           |${hop(3)}
           |SELECT node, CAST(depth AS BIGINT) AS depth FROM d3""".stripMargin
    }) { (s, d) =>
      val edges = graft.ops.Graph.coOccurrenceEdges(lineitem(s, d), "l_orderkey", "l_partkey")
      val seeds = edges.select(col("src").as("node")).distinct()
        .where(col("node") % 97 === 0)
      graft.ops.Graph.bfsDepth(edges, seeds, maxHops = 3)
    },

    // Matryoshka truncation recall: top-5 over the FIRST 32 of 64
    // dims vs the full-dim truth — measures what the 2× cheaper
    // first-stage scan costs on THESE vectors (Kusupati et al. 2022).
    // Both arms are the already-value-checked brute path
    QuerySpec("sim_matryoshka_recall",
      raw"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv
           |           FROM embeddings WHERE vec_id % 100 = 0),
           |brute AS (
           |  SELECT query_id, neighbor_id FROM (
           |    SELECT query_id, e.vec_id AS neighbor_id,
           |      row_number() OVER (PARTITION BY query_id
           |        ORDER BY list_dot_product(qv, e.embedding) DESC, e.vec_id) AS rank
           |    FROM q JOIN embeddings e ON e.vec_id <> query_id)
           |  WHERE rank <= 5),
           |mat AS (
           |  SELECT query_id, neighbor_id FROM (
           |    SELECT query_id, e.vec_id AS neighbor_id,
           |      row_number() OVER (PARTITION BY query_id
           |        ORDER BY list_dot_product(qv[1:32], e.embedding[1:32]) DESC, e.vec_id) AS rank
           |    FROM q JOIN embeddings e ON e.vec_id <> query_id)
           |  WHERE rank <= 5)
           |SELECT b.query_id, count(*) AS k,
           |  CAST(sum(CASE WHEN m.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
           |  CAST(sum(CASE WHEN m.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
           |    / CAST(count(*) AS DOUBLE) AS recall
           |FROM brute b LEFT JOIN mat m
           |  ON m.query_id = b.query_id AND m.neighbor_id = b.neighbor_id
           |GROUP BY 1""".stripMargin) { (s, d) =>
      val e = s.read.parquet(s"$d/embeddings.parquet")
      val qs = e.where(col("vec_id") % 100 === 0)
      val brute = graft.ops.Similarity.bruteForceTopK(e, qs,
        "vec_id", "embedding", k = 5)
        .select(col("query_id"), col("neighbor_id"))
      val mat = graft.ops.Similarity.matryoshkaTopK(e, qs,
        "vec_id", "embedding", dims = 32, k = 5)
        .select(col("query_id"), col("neighbor_id"), lit(1).as("__hit"))
      brute.join(mat, Seq("query_id", "neighbor_id"), "left")
        .groupBy(col("query_id"))
        .agg(count(lit(1)).as("k"),
          sum(coalesce(col("__hit"), lit(0))).cast("long").as("n_hit"))
        .withColumn("recall", col("n_hit").cast("double") / col("k").cast("double"))
    },

    // rank-biased overlap (Webber 2010) between the full-dim ranking
    // and the 32-dim Matryoshka ranking, top-10 at patience p=0.9 —
    // the ORDER-aware upgrade of sim_matryoshka_recall's set recall
    // (a cascade nominator that finds the right docs in the wrong
    // order still costs re-rank budget). Weights are exact rational
    // (1−p)p^(d−1)/(1−p^k) floored to micro in BigInt and interpolated
    // into BOTH engines — no pow/libm anywhere; per-depth floors mirror
    QuerySpec("retrieval_rbo", {
      val w = graft.ops.Retrieval.rboWeightsMicro(pMilli = 900, k = 10)
      val values = w.zipWithIndex.map { case (wd, i) => s"(${i + 1}, $wd)" }
        .mkString(", ")
      raw"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv
           |           FROM embeddings WHERE vec_id % 100 = 0),
           |br AS (SELECT query_id, neighbor_id, rank FROM (
           |    SELECT query_id, e.vec_id AS neighbor_id,
           |      row_number() OVER (PARTITION BY query_id
           |        ORDER BY list_dot_product(qv, e.embedding) DESC, e.vec_id) AS rank
           |    FROM q JOIN embeddings e ON e.vec_id <> query_id)
           |  WHERE rank <= 10),
           |mt AS (SELECT query_id, neighbor_id, rank FROM (
           |    SELECT query_id, e.vec_id AS neighbor_id,
           |      row_number() OVER (PARTITION BY query_id
           |        ORDER BY list_dot_product(qv[1:32], e.embedding[1:32]) DESC, e.vec_id) AS rank
           |    FROM q JOIN embeddings e ON e.vec_id <> query_id)
           |  WHERE rank <= 10),
           |wt(d, wv) AS (SELECT * FROM (VALUES $values)),
           |pr AS (SELECT br.query_id, greatest(br.rank, mt.rank) AS m
           |       FROM br JOIN mt USING (query_id, neighbor_id)),
           |cd AS (SELECT query_id, wt.d, wt.wv, count(*) AS c
           |       FROM pr JOIN wt ON pr.m <= wt.d GROUP BY 1, 2, 3),
           |per AS (SELECT query_id, sum((wv * c) // d) AS rbo,
           |          max(CASE WHEN d = 10 THEN c END) AS ok
           |        FROM cd GROUP BY 1)
           |SELECT qq.query_id,
           |  CAST(coalesce(per.ok, 0) AS BIGINT) AS overlap_k,
           |  CAST(coalesce(per.rbo, 0) AS BIGINT) AS rbo_micro
           |FROM (SELECT DISTINCT query_id FROM br) qq
           |LEFT JOIN per USING (query_id)""".stripMargin
    }) { (s, d) =>
      val e = s.read.parquet(s"$d/embeddings.parquet")
      val qs = e.where(col("vec_id") % 100 === 0)
      val brute = graft.ops.Similarity.bruteForceTopK(e, qs,
        "vec_id", "embedding", k = 10)
      val mat = graft.ops.Similarity.matryoshkaTopK(e, qs,
        "vec_id", "embedding", dims = 32, k = 10)
      graft.ops.Retrieval.rboMicro(brute, mat, "query_id", "neighbor_id",
        "rank", pMilli = 900, k = 10)
    },

    // t-closeness audit (quasi = market segment, sensitive = acctbal
    // k$-band, ordered): per class, exact-integer EMD-milli between
    // the class and global band distributions — the skew l-diversity
    // can't see. Cross-multiplied CDF diffs, floored once at the end
    QuerySpec("privacy_t_closeness",
      raw"""WITH base AS (SELECT c_mktsegment AS seg,
           |        CAST(floor(c_acctbal / 1000.0) AS BIGINT) AS sv
           |      FROM customer WHERE c_acctbal IS NOT NULL),
           |r AS (SELECT sv, CAST(row_number() OVER (ORDER BY sv) AS BIGINT) AS rk
           |      FROM (SELECT DISTINCT sv FROM base)),
           |wr AS (SELECT seg, rk FROM base JOIN r USING (sv)),
           |g AS (SELECT rk, count(*) AS nv FROM wr GROUP BY 1),
           |gc AS (SELECT rk, sum(nv) OVER (ORDER BY rk) AS cumg FROM g),
           |tot AS (SELECT count(*) AS m FROM r),
           |gt AS (SELECT max(cumg) AS ng FROM gc),
           |cl AS (SELECT seg, rk, count(*) AS ncv FROM wr GROUP BY 1, 2),
           |cls AS (SELECT DISTINCT seg FROM base),
           |grid AS (SELECT cls.seg, gc.rk, gc.cumg,
           |           sum(COALESCE(cl.ncv, 0)) OVER (PARTITION BY cls.seg
           |             ORDER BY gc.rk) AS cumc
           |         FROM cls CROSS JOIN gc
           |         LEFT JOIN cl ON cl.seg = cls.seg AND cl.rk = gc.rk),
           |pc AS (SELECT seg, max(cumc) AS nc FROM grid GROUP BY 1),
           |agg AS (SELECT g2.seg, max(pc.nc) AS group_n, max(gt.ng) AS ng,
           |          max(tot.m) AS m,
           |          sum(abs(g2.cumc * gt.ng - g2.cumg * pc.nc)) AS num
           |        FROM grid g2 JOIN pc ON pc.seg = g2.seg
           |        CROSS JOIN gt CROSS JOIN tot
           |        GROUP BY 1)
           |SELECT seg, CAST(group_n AS BIGINT) AS group_n,
           |  CAST(CASE WHEN m <= 1 THEN 0
           |       ELSE (1000 * num) // ((m - 1) * group_n * ng) END AS BIGINT) AS emd_milli,
           |  CAST(CASE WHEN (CASE WHEN m <= 1 THEN 0
           |       ELSE (1000 * num) // ((m - 1) * group_n * ng) END) <= 150
           |    THEN 1 ELSE 0 END AS BIGINT) AS pass
           |FROM agg""".stripMargin) { (s, d) =>
      val c = s.read.parquet(s"$d/customer.parquet")
        .select(col("c_mktsegment").as("seg"),
          floor(col("c_acctbal") / 1000.0).cast("long").as("sv"))
      graft.ops.Privacy.tClosenessAudit(c, Seq("seg"), "sv", tMilli = 150)
    },

    // suppression-cost curve: how much of the corpus a k-anonymity
    // release on (nation, segment) would suppress, for k across the
    // ladder — the BEFORE-choosing-k planning readout. One grouped
    // count reused by every k via a broadcast ladder cross join
    QuerySpec("privacy_suppression_curve",
      raw"""WITH cls AS (SELECT c_nationkey, c_mktsegment, count(*) AS n
           |             FROM customer GROUP BY 1, 2),
           |lad AS (SELECT unnest([2, 5, 10, 20, 50]) AS k)
           |SELECT CAST(k AS BIGINT) AS k, count(*) AS n_classes,
           |  CAST(sum(n) AS BIGINT) AS n_rows,
           |  CAST(sum(CASE WHEN n < k THEN 1 ELSE 0 END) AS BIGINT) AS n_small_classes,
           |  CAST(sum(CASE WHEN n < k THEN n ELSE 0 END) AS BIGINT) AS n_suppressed_rows,
           |  CAST((1000 * sum(CASE WHEN n < k THEN n ELSE 0 END)) // sum(n) AS BIGINT)
           |    AS suppressed_milli
           |FROM cls CROSS JOIN lad GROUP BY 1""".stripMargin) { (s, d) =>
      graft.ops.Privacy.suppressionCurve(
        s.read.parquet(s"$d/customer.parquet"),
        Seq("c_nationkey", "c_mktsegment"), ks = Seq(2, 5, 10, 20, 50))
    },


    // clustering-depth audit of two layouts of the SAME table: per
    // file, how many files a range query stabbing it must also open.
    // The doc_id//20 ledger scatters n_chars (depth ≈ file count); the
    // n_chars-ordered ledger tiles it (depth ≈ 1 + tie spill) — the
    // measurement that justifies a re-layout before a 100 TB rewrite.
    // Global rank via the ranged two-phase row index, never one task
    QuerySpec("layout_clustering_depth",
      raw"""WITH v AS (SELECT doc_id, n_chars AS v FROM documents),
           |sc AS (SELECT doc_id // 20 AS file_id, min(v) AS lo, max(v) AS hi
           |       FROM v GROUP BY 1),
           |rk AS (SELECT v, row_number() OVER (ORDER BY v, doc_id) AS rn FROM v),
           |cl AS (SELECT (rn - 1) // 20 AS file_id, min(v) AS lo, max(v) AS hi
           |       FROM rk GROUP BY 1),
           |so AS (SELECT a.file_id, count(*) AS n_overlaps
           |       FROM sc a JOIN sc b ON a.lo <= b.hi AND b.lo <= a.hi GROUP BY 1),
           |co AS (SELECT a.file_id, count(*) AS n_overlaps
           |       FROM cl a JOIN cl b ON a.lo <= b.hi AND b.lo <= a.hi GROUP BY 1)
           |SELECT file_id, CAST(n_overlaps AS BIGINT) AS n_overlaps,
           |  'scattered' AS layout FROM so
           |UNION ALL
           |SELECT file_id, CAST(n_overlaps AS BIGINT) AS n_overlaps,
           |  'clustered' AS layout FROM co""".stripMargin) { (s, d) =>
      val v = docs(s, d).select(col("doc_id"), col("n_chars").as("v"))
      val scat = v.select(expr("doc_id div 20").as("file_id"), col("v"))
        .groupBy("file_id")
        .agg(min("v").as("min_v"), max("v").as("max_v")).limit(100000)
      val ranked = graft.recon.Sources.withRowIndexRanged(v, "__rn",
        Seq(col("v"), col("doc_id")))
      val clus = ranked.select(expr("(__rn - 1) div 20").as("file_id"), col("v"))
        .groupBy("file_id")
        .agg(min("v").as("min_v"), max("v").as("max_v")).limit(100000)
      graft.ops.Manifest.overlapDepth(scat, "file_id", "v")
        .withColumn("layout", lit("scattered"))
        .unionByName(graft.ops.Manifest.overlapDepth(clus, "file_id", "v")
          .withColumn("layout", lit("clustered")))
    },

    // categorical mix drift: the event-TYPE distribution compared
    // between the even- and odd-day halves of the stream — the traffic
    // composition monitor (numeric histDrift can't see categories).
    // Exact milli shares, signed deltas; types absent from a half keep
    // 0, not null
    QuerySpec("quality_mix_drift",
      raw"""WITH ev AS (SELECT event_type,
           |        (epoch_ms(ts) // 86400000) % 2 AS half FROM events),
           |c AS (SELECT event_type, half, count(*) AS n FROM ev GROUP BY 1, 2),
           |t AS (SELECT half, sum(n) AS tot FROM c GROUP BY 1),
           |types AS (SELECT DISTINCT event_type FROM ev),
           |g AS (SELECT ty.event_type,
           |        COALESCE(a.n, 0) AS n_a, COALESCE(b.n, 0) AS n_b,
           |        (SELECT tot FROM t WHERE half = 0) AS ta,
           |        (SELECT tot FROM t WHERE half = 1) AS tb
           |      FROM types ty
           |      LEFT JOIN c a ON a.event_type = ty.event_type AND a.half = 0
           |      LEFT JOIN c b ON b.event_type = ty.event_type AND b.half = 1)
           |SELECT event_type, CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
           |  CAST((n_a * 1000) // ta AS BIGINT) AS p_a_milli,
           |  CAST((n_b * 1000) // tb AS BIGINT) AS p_b_milli,
           |  CAST((n_b * 1000) // tb - (n_a * 1000) // ta AS BIGINT) AS delta_milli
           |FROM g""".stripMargin) { (s, d) =>
      val ev = events(s, d).select(col("event_type"),
        (expr("unix_millis(ts) div 86400000") % 2).as("half"))
      val c = ev.groupBy(col("event_type"), col("half")).agg(count(lit(1)).as("n"))
      val tots = ev.groupBy(col("half")).agg(count(lit(1)).as("tot"))
      val types = ev.select(col("event_type")).distinct()
      val a = c.where(col("half") === 0).select(col("event_type"), col("n").as("n_a"))
      val b = c.where(col("half") === 1).select(col("event_type"), col("n").as("n_b"))
      types.join(a, Seq("event_type"), "left").join(b, Seq("event_type"), "left")
        .select(col("event_type"),
          coalesce(col("n_a"), lit(0L)).as("n_a"),
          coalesce(col("n_b"), lit(0L)).as("n_b"))
        .crossJoin(broadcast(tots.where(col("half") === 0).select(col("tot").as("ta"))))
        .crossJoin(broadcast(tots.where(col("half") === 1).select(col("tot").as("tb"))))
        .select(col("event_type"), col("n_a"), col("n_b"),
          expr("(n_a * 1000) div ta").as("p_a_milli"),
          expr("(n_b * 1000) div tb").as("p_b_milli"),
          (expr("(n_b * 1000) div tb") - expr("(n_a * 1000) div ta")).as("delta_milli"))
    },

    // degree distribution of the part co-order graph: the shape number
    // behind every graph-op cost estimate here (bucketed joins, wedge
    // volume, k-core viability) — (degree, n_nodes)
    QuerySpec("graph_degree_distribution",
      raw"""WITH e AS (SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
           |           FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
           |            AND a.l_partkey <> b.l_partkey),
           |dg AS (SELECT src, count(*) AS degree FROM e GROUP BY 1)
           |SELECT CAST(degree AS BIGINT) AS degree,
           |  CAST(count(*) AS BIGINT) AS n_nodes
           |FROM dg GROUP BY 1""".stripMargin) { (s, d) =>
      graft.ops.Graph.coOccurrenceEdges(lineitem(s, d), "l_orderkey", "l_partkey")
        .groupBy(col("src")).agg(count(lit(1)).as("degree"))
        .groupBy(col("degree")).agg(count(lit(1)).as("n_nodes"))
    },

    // near-dup cluster-size distribution: how duplication mass is
    // shaped (many pairs vs a few giant template families decide
    // whether dedup is a trim or a rewrite). Multi-doc cluster sizes
    // from the simhash components, plus the singleton row
    QuerySpec("dedup_component_sizes",
      SketchOracleSql.simHashComponentSizesSql(maxHamming = 3, maxBucket = 1000)) { (s, d) =>
      val comps = graft.ops.Dedup.connectedComponents(
        graft.ops.Dedup.simHashNearDups(docs(s, d), "text", "doc_id",
          maxHamming = 3, maxBucket = 1000))
      val sizes = comps.groupBy(col("component")).agg(count(lit(1)).as("sz"))
      val dist = sizes.groupBy(col("sz")).agg(count(lit(1)).as("n_clusters"))
        .select(col("sz").as("cluster_size"), col("n_clusters"))
      val singletons = docs(s, d).agg(count(lit(1)).as("__nd"))
        .crossJoin(broadcast(comps.agg(count(lit(1)).as("__nc"))))
        .select(lit(1L).as("cluster_size"), (col("__nd") - col("__nc")).as("n_clusters"))
      dist.unionByName(singletons)
    },

    // vocabulary coverage: OOV rate per language against the global
    // top-500 token vocabulary — the tokenizer-planning number next to
    // vocab_bpe_fertility (what fraction of each language's token
    // stream a fixed vocab budget fails to cover). Top-k is a
    // TakeOrdered heap; the vocab joins back broadcast
    QuerySpec("vocab_oov_rate",
      raw"""WITH tt AS (SELECT lang, CASE WHEN length(trim(text)) = 0 THEN []
           |          ELSE string_split_regex(trim(lower(text)), '\s+') END AS t FROM documents),
           |tok AS (SELECT lang, unnest(t) AS tok FROM tt),
           |tc AS (SELECT tok, count(*) AS n FROM tok GROUP BY 1),
           |v AS (SELECT tok FROM (
           |    SELECT tok, row_number() OVER (ORDER BY n DESC, tok) AS r FROM tc)
           |  WHERE r <= 500),
           |m AS (SELECT t.lang, CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END AS is_oov
           |      FROM tok t LEFT JOIN v ON v.tok = t.tok)
           |SELECT lang, CAST(count(*) AS BIGINT) AS n_tokens,
           |  CAST(sum(is_oov) AS BIGINT) AS n_oov,
           |  CAST((sum(is_oov) * 1000) // count(*) AS BIGINT) AS oov_milli
           |FROM m GROUP BY 1""".stripMargin) { (s, d) =>
      val toks = docs(s, d)
        .select(col("lang"),
          explode(graft.ops.TextAnalysis.tokens(col("text"))).as("tok"))
      val vocab = toks.groupBy(col("tok")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("tok")).limit(500)
        .select(col("tok"), lit(1).as("__in"))
      toks.join(broadcast(vocab), Seq("tok"), "left")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_tokens"),
          sum(when(col("__in").isNull, 1L).otherwise(0L)).as("n_oov"))
        .select(col("lang"), col("n_tokens"), col("n_oov"),
          expr("(n_oov * 1000) div n_tokens").as("oov_milli"))
    },

    // DAU / trailing-WAU / stickiness per day: distinct users that day,
    // distinct users over the trailing 7 days, and DAU·1000 div WAU.
    // WAU is computed from the (day, user) DISTINCT pairs fanned out to
    // the ≤ 7 windows each day serves — the hllSliding register trick
    // applied to exact distinct at day granularity (pairs × 7, never
    // events × 7)
    QuerySpec("events_dau_wau",
      raw"""WITH du AS (SELECT DISTINCT epoch_ms(ts) // 86400000 AS day, user_id
           |            FROM events),
           |dau AS (SELECT day, count(*) AS dau FROM du GROUP BY 1),
           |fan AS (SELECT du.day + t.i AS wday, du.user_id
           |        FROM du CROSS JOIN range(0, 7) t(i)),
           |wau AS (SELECT wday AS day, count(DISTINCT user_id) AS wau
           |        FROM fan GROUP BY 1),
           |j AS (SELECT d.day, d.dau, w.wau FROM dau d JOIN wau w USING (day))
           |SELECT day, CAST(dau AS BIGINT) AS dau, CAST(wau AS BIGINT) AS wau,
           |  CAST((dau * 1000) // wau AS BIGINT) AS stickiness_milli
           |FROM j""".stripMargin) { (s, d) =>
      val du = events(s, d)
        .select(expr("unix_millis(ts) div 86400000").as("day"), col("user_id"))
        .distinct()
      val dau = du.groupBy(col("day")).agg(count(lit(1)).as("dau"))
      val fan = du.select(explode(sequence(col("day"), col("day") + 6)).as("day"),
        col("user_id"))
      val wau = fan.groupBy(col("day"))
        .agg(countDistinct(col("user_id")).as("wau"))
      dau.join(wau, Seq("day"))
        .select(col("day"), col("dau"), col("wau"),
          expr("(dau * 1000) div wau").as("stickiness_milli"))
    },

    // data-completeness calendar: the full day grid from first to last
    // event with per-day counts — missing days surface as rows, not as
    // silent absences (planted outage: day%7=3 filtered out upstream).
    // The grid generates from one bounds row; nothing data-sized joins
    // against anything but the per-day aggregate
    QuerySpec("events_missing_days",
      raw"""WITH ev AS (SELECT epoch_ms(ts) // 86400000 AS day FROM events
           |            WHERE (epoch_ms(ts) // 86400000) % 7 <> 3),
           |b AS (SELECT min(day) AS lo, max(day) AS hi FROM ev),
           |g AS (SELECT unnest(range(lo, hi + 1)) AS day FROM b),
           |c AS (SELECT day, count(*) AS n FROM ev GROUP BY 1)
           |SELECT g.day, CAST(COALESCE(c.n, 0) AS BIGINT) AS n_events,
           |  CAST(CASE WHEN c.day IS NULL THEN 1 ELSE 0 END AS BIGINT) AS missing
           |FROM g LEFT JOIN c USING (day)""".stripMargin) { (s, d) =>
      val ev = events(s, d)
        .select(expr("unix_millis(ts) div 86400000").as("day"))
        .where(col("day") % 7 =!= 3)
      val bounds = ev.agg(min(col("day")).as("lo"), max(col("day")).as("hi"))
      val grid = bounds.select(explode(sequence(col("lo"), col("hi"))).as("day"))
      val counts = ev.groupBy(col("day")).agg(count(lit(1)).as("n"))
      grid.join(counts, Seq("day"), "left")
        .select(col("day"), coalesce(col("n"), lit(0L)).as("n_events"),
          when(col("n").isNull, 1L).otherwise(0L).as("missing"))
    },

    // embedding drift between two snapshot halves: cosine of the
    // per-label MEAN embeddings, computed from exact scaled-integer
    // component sums (cosine is scale-invariant, so the division by n
    // never happens and the only doubles are the final fixed-shape
    // num/sqrt expression — same recipe as corrExact). cos ≈ 1 means
    // the label's centroid is stable across halves; a drop is the
    // re-embed alarm
    QuerySpec("quality_embedding_drift",
      raw"""WITH s AS (SELECT label, vec_id % 2 AS half, i AS dim,
           |    CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000000) AS HUGEINT) AS q
           |  FROM embeddings CROSS JOIN range(1, 65) r(i)),
           |a AS (SELECT label, dim, sum(q) AS sa FROM s WHERE half = 0 GROUP BY 1, 2),
           |b AS (SELECT label, dim, sum(q) AS sb FROM s WHERE half = 1 GROUP BY 1, 2),
           |j AS (SELECT a.label, a.sa, b.sb
           |      FROM a JOIN b ON a.label = b.label AND a.dim = b.dim),
           |g AS (SELECT label, sum(sa * sb) AS num, sum(sa * sa) AS na2,
           |        sum(sb * sb) AS nb2 FROM j GROUP BY 1),
           |n AS (SELECT label,
           |        sum(CASE WHEN vec_id % 2 = 0 THEN 1 ELSE 0 END) AS n_a,
           |        sum(CASE WHEN vec_id % 2 = 1 THEN 1 ELSE 0 END) AS n_b
           |      FROM embeddings GROUP BY 1)
           |SELECT g.label, CAST(n.n_a AS BIGINT) AS n_a, CAST(n.n_b AS BIGINT) AS n_b,
           |  CAST(num AS DOUBLE) / (sqrt(CAST(na2 AS DOUBLE)) * sqrt(CAST(nb2 AS DOUBLE)))
           |    AS cos_drift
           |FROM g JOIN n USING (label)""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.types.DecimalType
      val e = s.read.parquet(s"$d/embeddings.parquet")
      val scaled = e.select(col("label"), (col("vec_id") % 2).as("half"),
          posexplode(col("embedding")).as(Seq("dim", "x")))
        .select(col("label"), col("half"), col("dim"),
          floor(col("x").cast("double") * 1000000d)
            .cast(DecimalType(38, 0)).as("q"))
      val sums = scaled.groupBy(col("label"), col("half"), col("dim"))
        .agg(sum(col("q")).as("sq"))
      val aH = sums.where(col("half") === 0)
        .select(col("label"), col("dim"), col("sq").as("sa"))
      val bH = sums.where(col("half") === 1)
        .select(col("label"), col("dim"), col("sq").as("sb"))
      val g = aH.join(bH, Seq("label", "dim"))
        .groupBy(col("label"))
        .agg(sum(col("sa") * col("sb")).as("num"),
          sum(col("sa") * col("sa")).as("na2"),
          sum(col("sb") * col("sb")).as("nb2"))
      val n = e.groupBy(col("label"))
        .agg(sum(when(col("vec_id") % 2 === 0, 1L).otherwise(0L)).as("n_a"),
          sum(when(col("vec_id") % 2 === 1, 1L).otherwise(0L)).as("n_b"))
      g.join(n, Seq("label"))
        .select(col("label"), col("n_a"), col("n_b"),
          (col("num").cast("double") /
            (sqrt(col("na2").cast("double")) * sqrt(col("nb2").cast("double"))))
            .as("cos_drift"))
    },

    // sketch-fidelity harness: per LSH candidate pair, the k=16
    // slot-agreement ESTIMATE of Jaccard vs the exact value, both in
    // milli, plus the absolute error — whether the sketch is
    // trustworthy on THIS corpus, measured instead of assumed
    QuerySpec("dedup_minhash_fidelity",
      SketchOracleSql.minHashFidelitySql(k = 16, bands = 4, maxBucket = 100)) { (s, d) =>
      val sets = graft.recon.Checkpoints.cut(
        graft.ops.Dedup.shingleSets(docs(s, d), "text", "doc_id", 3))
      val shingled = sets.select(col("doc"), explode(col("sh")).as("shingle"))
      val sig = graft.ops.Dedup.minHashSignaturesOf(shingled, 16)
      val cands = graft.ops.Dedup.minHashCandidatesOf(shingled, 16, 4, 100)
      val a = sig.select(col("doc").as("doc1") +:
        (0 until 16).map(i => col(s"h$i").as(s"a_h$i")): _*)
      val b = sig.select(col("doc").as("doc2") +:
        (0 until 16).map(i => col(s"h$i").as(s"b_h$i")): _*)
      val nMatch = (0 until 16)
        .map(i => when(col(s"a_h$i") === col(s"b_h$i"), 1L).otherwise(0L))
        .reduce(_ + _)
      cands.join(a, Seq("doc1")).join(b, Seq("doc2"))
        .join(sets.select(col("doc").as("doc1"), col("sh").as("sh1")), Seq("doc1"))
        .join(sets.select(col("doc").as("doc2"), col("sh").as("sh2")), Seq("doc2"))
        .withColumn("__nm", nMatch)
        .withColumn("est_milli", expr("(__nm * 1000) div 16"))
        .withColumn("exact_milli",
          expr("(size(array_intersect(sh1, sh2)) * 1000) div " +
            "(size(array_union(sh1, sh2)))"))
        .select(col("doc1"), col("doc2"), col("est_milli"), col("exact_milli"),
          abs(col("est_milli") - col("exact_milli")).as("err_milli"))
    },

    // leakage-safe training matrix: per click anchor, features from the
    // STRICTLY-BEFORE trailing 7 days (range frame ending at -1 ms) and
    // the label from the following 24 h — the point-in-time-correct
    // feature/label construction every supervised pipeline needs; a
    // careless inclusive frame would leak the anchor into its own
    // features and the label window into the past
    QuerySpec("events_training_matrix",
      raw"""WITH ev AS (SELECT event_id, user_id, event_type, epoch_ms(ts) AS ms,
           |    CAST(floor(value * 100) AS BIGINT) AS cents FROM events),
           |f AS (SELECT event_id, user_id, event_type, ms,
           |    CAST(count(*) OVER w AS BIGINT) AS n_7d,
           |    CAST(COALESCE(sum(cents) OVER w, 0) AS BIGINT) AS spend_7d_cents
           |  FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY ms
           |    RANGE BETWEEN 604800000 PRECEDING AND 1 PRECEDING)),
           |a AS (SELECT event_id, user_id, ms, n_7d, spend_7d_cents FROM f
           |      WHERE event_type = 'click'),
           |l AS (SELECT a.*, (SELECT min(p.ms) FROM ev p
           |        WHERE p.user_id = a.user_id AND p.event_type = 'purchase'
           |          AND p.ms >= a.ms) AS next_p
           |      FROM a)
           |SELECT event_id, user_id, ms, n_7d, spend_7d_cents,
           |  CAST(CASE WHEN next_p IS NOT NULL AND next_p - ms <= 86400000
           |       THEN 1 ELSE 0 END AS BIGINT) AS label
           |FROM l""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val ev = events(s, d).select(col("event_id"), col("user_id"),
        col("event_type"),
        unix_millis(col("ts").cast("timestamp")).as("ms"),
        floor(col("value") * 100).cast("long").as("cents"))
      val w = Window.partitionBy(col("user_id")).orderBy(col("ms"))
        .rangeBetween(-604800000L, -1L)
      val anchors = ev
        .withColumn("n_7d", count(lit(1)).over(w))
        .withColumn("spend_7d_cents", coalesce(sum(col("cents")).over(w), lit(0L)))
        .where(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ms"),
          col("n_7d"), col("spend_7d_cents"))
      val purchases = ev.where(col("event_type") === "purchase")
        .select(col("user_id"), col("ms").as("p_ms"),
          col("ms").as("next_ms"))
      graft.ops.AsOfJoin.asOfForward(anchors, purchases, Seq("user_id"),
          "ms", "p_ms", Seq("next_ms"), tiebreak = col("next_ms"))
        .select(col("event_id"), col("user_id"), col("ms"),
          col("n_7d"), col("spend_7d_cents"),
          when(col("asof_next_ms").isNotNull &&
            col("asof_next_ms") - col("ms") <= 86400000L, 1L)
            .otherwise(0L).as("label"))
    },

    // label-based retrieval eval on the embeddings table: for each
    // query, precision@5 (top-5 sharing the query's label) and
    // recall@5 against ALL same-label vectors — the eval the recall-
    // vs-brute harnesses can't give (they measure index fidelity,
    // this measures whether the EMBEDDING clusters its labels)
    QuerySpec("sim_label_precision",
      raw"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv, label AS ql
           |           FROM embeddings WHERE vec_id % 100 = 0),
           |top AS (SELECT query_id, ql, nl FROM (
           |    SELECT query_id, ql, e.label AS nl,
           |      row_number() OVER (PARTITION BY query_id
           |        ORDER BY list_dot_product(qv, e.embedding) DESC, e.vec_id) AS rank
           |    FROM q JOIN embeddings e ON e.vec_id <> query_id)
           |  WHERE rank <= 5),
           |rel AS (SELECT q.query_id,
           |         (SELECT count(*) FROM embeddings e WHERE e.label = q.ql) - 1 AS n_rel
           |       FROM q)
           |SELECT t.query_id, CAST(count(*) AS BIGINT) AS k,
           |  CAST(sum(CASE WHEN nl = ql THEN 1 ELSE 0 END) AS BIGINT) AS n_same_label,
           |  CAST((sum(CASE WHEN nl = ql THEN 1 ELSE 0 END) * 1000) // count(*)
           |    AS BIGINT) AS precision_milli,
           |  CAST((sum(CASE WHEN nl = ql THEN 1 ELSE 0 END) * 1000)
           |    // NULLIF(max(r.n_rel), 0) AS BIGINT) AS recall_milli
           |FROM top t JOIN rel r USING (query_id) GROUP BY 1""".stripMargin) { (s, d) =>
      val e = s.read.parquet(s"$d/embeddings.parquet")
      val qs = e.where(col("vec_id") % 100 === 0)
      val top = graft.ops.Similarity.bruteForceTopK(e, qs, "vec_id", "embedding", k = 5)
        .join(qs.select(col("vec_id").as("query_id"), col("label").as("ql")), Seq("query_id"))
        .join(e.select(col("vec_id").as("neighbor_id"), col("label").as("nl")), Seq("neighbor_id"))
      val rel = broadcast(qs.select(col("vec_id").as("query_id"), col("label").as("ql"))
        .join(e.groupBy(col("label").as("ql")).agg(count(lit(1)).as("__lc")), Seq("ql"))
        .select(col("query_id"), (col("__lc") - 1L).as("n_rel")))
      top.groupBy(col("query_id"))
        .agg(count(lit(1)).as("k"),
          sum(when(col("nl") === col("ql"), 1L).otherwise(0L)).as("n_same_label"))
        .join(rel, Seq("query_id"))
        .select(col("query_id"), col("k"), col("n_same_label"),
          expr("(n_same_label * 1000) div k").as("precision_milli"),
          expr("(n_same_label * 1000) div nullif(n_rel, 0)").as("recall_milli"))
    },

    // language-ID confusion matrix: declared lang × predicted lang with
    // per-declared milli shares — the quality dashboard for the langid
    // heuristic itself (which declared languages it mistakes for what)
    QuerySpec("text_langid_confusion",
      raw"""WITH sc AS (
           |  SELECT doc_id, lang,
           |    len(list_intersect(t, ['der','die','das','und','zu','in','ein','eine','ist','nicht'])) AS s_de,
           |    len(list_intersect(t, ['the','a','of','and','to','in','is','that','it','for'])) AS s_en,
           |    len(list_intersect(t, ['el','la','de','y','que','en','un','una','los','es'])) AS s_es,
           |    len(list_intersect(t, ['le','la','de','et','que','en','un','une','les','est'])) AS s_fr,
           |    len(list_intersect(t, ['的','是','了','在','和','有','我','不','人','这'])) AS s_zh
           |  FROM (SELECT doc_id, lang, CASE WHEN length(trim(text)) = 0 THEN []
           |                           ELSE string_split_regex(trim(lower(text)), '\s+') END AS t
           |        FROM documents)),
           |p AS (SELECT lang AS declared,
           |  CASE WHEN greatest(s_de, s_en, s_es, s_fr, s_zh) <= 0 THEN 'und'
           |       WHEN s_zh = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'zh'
           |       WHEN s_fr = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'fr'
           |       WHEN s_es = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'es'
           |       WHEN s_en = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'en'
           |       ELSE 'de' END AS predicted
           |  FROM sc),
           |c AS (SELECT declared, predicted, count(*) AS n FROM p GROUP BY 1, 2),
           |t AS (SELECT declared, sum(n) AS tot FROM c GROUP BY 1)
           |SELECT c.declared, c.predicted, CAST(c.n AS BIGINT) AS n,
           |  CAST((c.n * 1000) // t.tot AS BIGINT) AS share_milli
           |FROM c JOIN t USING (declared)""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val pred = graft.ops.TextAnalysis.languageId(docs(s, d), "text")
        .select(col("lang").as("declared"), col("lang_pred").as("predicted"))
      val c = pred.groupBy(col("declared"), col("predicted"))
        .agg(count(lit(1)).as("n"))
      c.withColumn("__tot", sum(col("n")).over(
          Window.partitionBy(col("declared"))))
        .select(col("declared"), col("predicted"), col("n"),
          expr("(n * 1000) div __tot").as("share_milli"))
    },

    // forward as-of: for every click, the NEXT purchase at-or-after
    // per user (earliest ts, smallest event id at ties) and the wait —
    // the time-to-conversion lookup the backward as-of can't answer.
    // Clicks with no later purchase keep nulls
    QuerySpec("events_next_purchase",
      raw"""WITH c AS (SELECT event_id, user_id, ts FROM events
           |           WHERE event_type = 'click'),
           |p AS (SELECT event_id, user_id, ts FROM events
           |      WHERE event_type = 'purchase'),
           |nx AS (SELECT c.event_id, c.user_id, epoch_ms(c.ts) AS ms,
           |        (SELECT min(epoch_ms(p.ts)) FROM p
           |         WHERE p.user_id = c.user_id AND p.ts >= c.ts) AS next_ms
           |      FROM c)
           |SELECT event_id, user_id, ms,
           |  (SELECT min(p.event_id) FROM p
           |   WHERE p.user_id = nx.user_id AND epoch_ms(p.ts) = nx.next_ms)
           |    AS next_event_id,
           |  CAST(next_ms - ms AS BIGINT) AS wait_ms
           |FROM nx""".stripMargin) { (s, d) =>
      val ev = events(s, d)
      val clicks = ev.where(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts"))
      val purchases = ev.where(col("event_type") === "purchase")
        .select(col("user_id"), col("ts").as("p_ts"),
          col("event_id").as("next_event_id"),
          unix_millis(col("ts").cast("timestamp")).as("next_ms"))
      graft.ops.AsOfJoin.asOfForward(clicks, purchases, Seq("user_id"),
          "ts", "p_ts", Seq("next_event_id", "next_ms"),
          tiebreak = col("next_event_id"))
        .select(col("event_id"), col("user_id"),
          unix_millis(col("ts").cast("timestamp")).as("ms"),
          col("asof_next_event_id").as("next_event_id"),
          (col("asof_next_ms") - unix_millis(col("ts").cast("timestamp")))
            .as("wait_ms"))
    },

    // inter-arrival hygiene per event type: median and MAD of the
    // per-(user, type) gap, exact order statistics (bursts and dead
    // streams both surface; a mean would hide bimodality). Pure
    // composition: lag gaps -> medianMad
    QuerySpec("events_iat_robust",
      raw"""WITH g AS (SELECT event_type,
           |    epoch_ms(ts) - lag(epoch_ms(ts)) OVER (PARTITION BY user_id, event_type
           |      ORDER BY ts, event_id) AS gap
           |  FROM events),
           |c AS (SELECT event_type, gap FROM g WHERE gap IS NOT NULL),
           |r AS (SELECT event_type, gap,
           |        row_number() OVER (PARTITION BY event_type ORDER BY gap) AS rn,
           |        count(*) OVER (PARTITION BY event_type) AS n FROM c),
           |m AS (SELECT event_type, max(n) AS n,
           |        sum(CASE WHEN rn IN ((n + 1) // 2, (n + 2) // 2) THEN gap END)
           |          * (CASE WHEN max(n) % 2 = 1 THEN 2 ELSE 1 END) AS med_x2
           |      FROM r GROUP BY 1),
           |dv AS (SELECT c.event_type, abs(2 * c.gap - m.med_x2) AS dev2
           |       FROM c JOIN m USING (event_type)),
           |dr AS (SELECT event_type, dev2,
           |        row_number() OVER (PARTITION BY event_type ORDER BY dev2) AS rn,
           |        count(*) OVER (PARTITION BY event_type) AS n FROM dv)
           |SELECT m.event_type, CAST(m.n AS BIGINT) AS n,
           |  CAST(m.med_x2 AS BIGINT) AS med_gap_x2_ms,
           |  CAST(x.mad_x4 AS BIGINT) AS mad_gap_x4_ms
           |FROM m JOIN (
           |  SELECT event_type,
           |    sum(CASE WHEN rn IN ((n + 1) // 2, (n + 2) // 2) THEN dev2 END)
           |      * (CASE WHEN max(n) % 2 = 1 THEN 2 ELSE 1 END) AS mad_x4
           |  FROM dr GROUP BY 1) x USING (event_type)""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id"), col("event_type"))
        .orderBy(col("ts"), col("event_id"))
      val ms = unix_millis(col("ts").cast("timestamp"))
      val gaps = events(s, d)
        .withColumn("gap", ms - lag(ms, 1).over(w))
        .where(col("gap").isNotNull)
        .select(col("event_type"), col("gap"))
      graft.ops.RobustStats.medianMad(gaps, "event_type", "gap")
        .select(col("event_type"), col("n").cast("long").as("n"),
          col("med_x2").cast("long").as("med_gap_x2_ms"),
          col("mad_x4").cast("long").as("mad_gap_x4_ms"))
    },

    // KS drift companion to quality_dist_drift: the sharpest CDF
    // divergence point per stratum (max |cumulative delta|) — a small
    // shift applied to EVERY value screams here while TV stays mild.
    // Same planted scenario: +50 shift on doc_id%3=0, de→xx rename
    QuerySpec("quality_ks_drift",
      raw"""WITH bef AS (SELECT lang, n_chars FROM documents),
           |aft AS (SELECT CASE WHEN lang = 'de' THEN 'xx' ELSE lang END AS lang,
           |               CASE WHEN doc_id % 3 = 0 THEN n_chars + 50
           |                    ELSE n_chars END AS v FROM documents),
           |bndb AS (SELECT lang, min(n_chars) AS lo, max(n_chars) AS hi FROM bef GROUP BY 1),
           |bnda AS (SELECT lang, min(v) AS lo, max(v) AS hi FROM aft GROUP BY 1),
           |bnd AS (SELECT COALESCE(b.lang, a.lang) AS lang,
           |          COALESCE(b.lo, a.lo) AS lo, COALESCE(b.hi, a.hi) AS hi
           |        FROM bndb b FULL OUTER JOIN bnda a ON b.lang = a.lang),
           |bb AS (SELECT d.lang, CASE WHEN b.hi = b.lo THEN 0
           |         ELSE greatest(0, least(15, ((d.n_chars - b.lo) * 16) // (b.hi - b.lo)))
           |         END AS bin
           |       FROM bef d JOIN bnd b USING (lang)),
           |cb AS (SELECT lang, bin, count(*) AS n_before FROM bb GROUP BY 1, 2),
           |ba AS (SELECT a.lang, CASE WHEN b.hi = b.lo THEN 0
           |         ELSE greatest(0, least(15, ((a.v - b.lo) * 16) // (b.hi - b.lo)))
           |         END AS bin
           |       FROM aft a JOIN bnd b USING (lang)),
           |ca AS (SELECT lang, bin, count(*) AS n_after FROM ba GROUP BY 1, 2),
           |j AS (SELECT COALESCE(cb.lang, ca.lang) AS lang,
           |        COALESCE(cb.bin, ca.bin) AS bin,
           |        COALESCE(n_before, 0) AS n_before, COALESCE(n_after, 0) AS n_after
           |      FROM cb FULL OUTER JOIN ca ON cb.lang = ca.lang AND cb.bin = ca.bin),
           |t AS (SELECT lang, bin, n_before, n_after,
           |        sum(n_before) OVER (PARTITION BY lang) AS tb,
           |        sum(n_after) OVER (PARTITION BY lang) AS ta FROM j),
           |dd AS (SELECT lang, bin,
           |        CASE WHEN tb = 0 THEN 'added' WHEN ta = 0 THEN 'removed'
           |             ELSE 'common' END AS status,
           |        COALESCE((n_after * 1000) // NULLIF(ta, 0), 0)
           |          - COALESCE((n_before * 1000) // NULLIF(tb, 0), 0) AS delta
           |      FROM t),
           |c AS (SELECT lang, status,
           |        sum(delta) OVER (PARTITION BY lang ORDER BY bin
           |          ROWS UNBOUNDED PRECEDING) AS cum FROM dd)
           |SELECT lang,
           |  CAST(CASE WHEN max(CASE WHEN status <> 'common' THEN 1 ELSE 0 END) = 1
           |    THEN 1000 ELSE max(abs(cum)) END AS BIGINT) AS ks_milli
           |FROM c GROUP BY 1""".stripMargin) { (s, d) =>
      val before = docs(s, d)
      val after = before.select(
        when(col("lang") === "de", "xx").otherwise(col("lang")).as("lang"),
        when(col("doc_id") % 3 === 0, col("n_chars") + 50L)
          .otherwise(col("n_chars")).as("n_chars"))
      graft.ops.Drift.ksMilli(
        graft.ops.Drift.histDrift(before, after, "lang", "n_chars", nBins = 16),
        "lang")
    },

    // bounded-round k-core of the part co-order graph (k=8, 3 peels):
    // the dense co-purchase nucleus; hub-and-spoke stars collapse when
    // their one-off neighbors peel away
    QuerySpec("graph_kcore", {
      def peel(n: Int) =
        raw"""kp$n AS (SELECT src FROM e${n - 1} GROUP BY 1 HAVING count(*) >= 8),
             |e$n AS (SELECT e.src, e.dst FROM e${n - 1} e
             |        JOIN kp$n a ON a.src = e.src
             |        JOIN kp$n b ON b.src = e.dst)""".stripMargin
      raw"""WITH e0 AS (SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
           |           FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
           |            AND a.l_partkey <> b.l_partkey),
           |${peel(1)},
           |${peel(2)},
           |${peel(3)}
           |SELECT src AS node, CAST(count(*) AS BIGINT) AS degree
           |FROM e3 GROUP BY 1""".stripMargin
    }) { (s, d) =>
      val edges = graft.ops.Graph.coOccurrenceEdges(lineitem(s, d), "l_orderkey", "l_partkey")
      graft.ops.Graph.kCore(edges, k = 8, rounds = 3)
    },

    // 4-truss of the co-order subgraph: every surviving EDGE sits in
    // >= 2 triangles — the edge-grain cohesion screen (a bridge edge
    // between dense communities peels immediately even when k-core
    // keeps it). Two peel rounds, (degree, id)-oriented triangle
    // enumeration per round mirrored CTE-for-CTE; hot CTEs
    // MATERIALIZED (DuckDB re-inlines iterative graph chains
    // exponentially otherwise — the louvain oracle lesson)
    QuerySpec("graph_ktruss", {
      def round(i: Int, prev: String) =
        raw"""dg$i AS MATERIALIZED (SELECT src, count(*) AS deg FROM $prev GROUP BY 1),
             |f$i AS MATERIALIZED (SELECT e.src AS a, e.dst AS b FROM $prev e
             |  JOIN dg$i da ON da.src = e.src JOIN dg$i db ON db.src = e.dst
             |  WHERE da.deg < db.deg OR (da.deg = db.deg AND e.src < e.dst)),
             |tri$i AS MATERIALIZED (SELECT p.a AS x, p.b AS y, q.b AS z
             |  FROM f$i p JOIN f$i q ON p.a = q.a AND p.b <> q.b
             |  JOIN f$i r ON r.a = p.b AND r.b = q.b),
             |sup$i AS (SELECT a, b, count(*) AS s FROM (
             |  SELECT x AS a, y AS b FROM tri$i UNION ALL SELECT x, z FROM tri$i
             |  UNION ALL SELECT y, z FROM tri$i) GROUP BY 1, 2),
             |keep$i AS MATERIALIZED (SELECT f$i.a, f$i.b,
             |    coalesce(sup$i.s, 0) AS support
             |  FROM f$i LEFT JOIN sup$i ON sup$i.a = f$i.a AND sup$i.b = f$i.b
             |  WHERE coalesce(sup$i.s, 0) >= 2),
             |sym$i AS (SELECT a AS src, b AS dst FROM keep$i
             |  UNION ALL SELECT b, a FROM keep$i)""".stripMargin
      raw"""WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
           |            WHERE l_partkey % 20 = 0),
           |sym0 AS (SELECT a.l_partkey AS src, b.l_partkey AS dst
           |      FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
           |       AND a.l_partkey <> b.l_partkey
           |      GROUP BY 1, 2),
           |${round(1, "sym0")},
           |${round(2, "sym1")}
           |SELECT least(a, b) AS src, greatest(a, b) AS dst,
           |  CAST(support AS BIGINT) AS support
           |FROM keep2""".stripMargin
    }) { (s, d) =>
      val li = s.read.parquet(s"$d/lineitem.parquet")
        .where(col("l_partkey") % 20 === 0)
      graft.ops.Graph.kTruss(
        graft.ops.Graph.coOccurrenceEdges(li, "l_orderkey", "l_partkey"),
        k = 4, rounds = 2)
    },

    // exactly-100 deterministic global sample (smallest key hashes) —
    // the eval-set contract a binomial fraction gate can't give;
    // plans as distributed top-n heaps, never a global sort
    QuerySpec("text_sample_exact_n",
      raw"""SELECT doc_id, lang FROM (
           |  SELECT doc_id, lang, row_number() OVER (
           |    ORDER BY ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT,
           |             doc_id) AS rn
           |  FROM documents)
           |WHERE rn <= 100""".stripMargin) { (s, d) =>
      graft.ops.Sampling.exactN(
        docs(s, d).select(col("doc_id"), col("lang")), "doc_id", n = 100)
    },

    // value trend per event type: least-squares slope of cents against
    // the absolute hour index, exact DECIMAL moments, one IEEE division
    // at the end — "is this metric drifting over time" as a number
    QuerySpec("events_value_trend",
      raw"""WITH p AS (SELECT event_type,
           |    CAST(epoch_ms(ts) // 3600000 AS HUGEINT) AS x,
           |    CAST(floor(value * 100) AS HUGEINT) AS y
           |  FROM events WHERE value IS NOT NULL AND ts IS NOT NULL),
           |m AS (SELECT event_type, count(*) AS n, sum(x) AS sx, sum(y) AS sy,
           |        sum(x * y) AS sxy, sum(x * x) AS sx2
           |      FROM p GROUP BY 1)
           |SELECT event_type, CAST(n AS BIGINT) AS n,
           |  CAST(sx AS VARCHAR) AS sum_x, CAST(sy AS VARCHAR) AS sum_y,
           |  CAST(sxy AS VARCHAR) AS sum_xy, CAST(sx2 AS VARCHAR) AS sum_x2,
           |  CAST(n * sxy - sx * sy AS DOUBLE) /
           |    CAST(n * sx2 - sx * sx AS DOUBLE) AS slope
           |FROM m""".stripMargin) { (s, d) =>
      graft.ops.RobustStats.slopeExact(
        events(s, d).where(col("value").isNotNull && col("ts").isNotNull)
          .select(col("event_type"),
            expr("unix_millis(ts) div 3600000").as("x"),
            floor(col("value") * 100).as("y")),
        "event_type", "x", "y")
    },

    // personalized PageRank: all teleport mass restarts at the seed
    // parts (partkey%97=0) — rank = influence relative to the seeds,
    // the proximity score behind seed-based curation. Same integer
    // div/floor iteration as graph_pagerank; unreachable nodes stay 0
    QuerySpec("graph_ppr", {
      def iter(n: Int) =
        raw"""i$n AS (SELECT e.dst, sum(r${n - 1}.r // dg.deg) AS s
             |      FROM e JOIN dg USING (src) JOIN r${n - 1} ON r${n - 1}.node = e.src
             |      GROUP BY 1),
             |r$n AS (SELECT nd.node,
             |        nd.isSeed * ((150000 * sz.N) // sz.S)
             |          + (850 * COALESCE(i$n.s, 0)) // 1000 AS r
             |      FROM nd CROSS JOIN sz LEFT JOIN i$n ON i$n.dst = nd.node)""".stripMargin
      raw"""WITH e AS (SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
           |           FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
           |            AND a.l_partkey <> b.l_partkey),
           |dg AS (SELECT src, count(*) AS deg FROM e GROUP BY 1),
           |sz AS (SELECT (SELECT count(*) FROM dg) AS N,
           |              (SELECT count(*) FROM dg WHERE src % 97 = 0) AS S),
           |nd AS (SELECT src AS node,
           |         CASE WHEN src % 97 = 0 THEN 1 ELSE 0 END AS isSeed FROM dg),
           |r0 AS (SELECT nd.node,
           |         CAST(nd.isSeed * ((1000000 * sz.N) // sz.S) AS BIGINT) AS r
           |       FROM nd CROSS JOIN sz),
           |${iter(1)},
           |${iter(2)},
           |${iter(3)}
           |SELECT node, CAST(r AS BIGINT) AS rank_micro FROM r3""".stripMargin
    }) { (s, d) =>
      val edges = graft.ops.Graph.coOccurrenceEdges(lineitem(s, d), "l_orderkey", "l_partkey")
      val seeds = edges.select(col("src").as("node")).distinct()
        .where(col("node") % 97 === 0)
      graft.ops.Graph.personalizedPageRank(edges, seeds, iters = 3, dampMilli = 850)
    },

    // Benford first-digit audit of extended prices per return flag:
    // observed vs log-uniform expected milli shares, the fabricated-/
    // degenerate-numbers screen. Digits a stratum never produces still
    // emit rows (delta = -benford)
    QuerySpec("quality_benford",
      raw"""WITH c AS (SELECT l_returnflag AS flag,
           |    CAST(substr(CAST(CAST(floor(l_extendedprice) AS BIGINT) AS VARCHAR), 1, 1)
           |      AS BIGINT) AS digit,
           |    count(*) AS n
           |  FROM lineitem WHERE l_extendedprice >= 1 GROUP BY 1, 2),
           |t AS (SELECT flag, sum(n) AS tot FROM c GROUP BY 1),
           |b(digit, benford_milli) AS (VALUES (1, 301), (2, 176), (3, 125),
           |  (4, 97), (5, 79), (6, 67), (7, 58), (8, 51), (9, 46)),
           |g AS (SELECT t.flag, b.digit, b.benford_milli, COALESCE(c.n, 0) AS n, t.tot
           |      FROM t CROSS JOIN b
           |      LEFT JOIN c ON c.flag = t.flag AND c.digit = b.digit)
           |SELECT flag, CAST(digit AS BIGINT) AS digit, CAST(n AS BIGINT) AS n,
           |  CAST((n * 1000) // tot AS BIGINT) AS p_milli,
           |  CAST(benford_milli AS BIGINT) AS benford_milli,
           |  CAST((n * 1000) // tot - benford_milli AS BIGINT) AS delta_milli
           |FROM g""".stripMargin) { (s, d) =>
      val li = s.read.parquet(s"$d/lineitem.parquet")
        .select(col("l_returnflag").as("flag"), col("l_extendedprice"))
      graft.ops.Drift.benfordAudit(li, "flag", "l_extendedprice")
    },

    // debounce: first event of each (user, type) burst survives
    // (gaps-and-islands at 60 s) — double-fires and retry storms
    // collapse to one event, isolated events always pass
    QuerySpec("events_debounce",
      raw"""WITH g AS (SELECT event_id, user_id, event_type, ts,
           |    epoch_ms(ts) - lag(epoch_ms(ts)) OVER (PARTITION BY user_id, event_type
           |      ORDER BY ts, event_id) AS gap
           |  FROM events)
           |SELECT event_id, user_id, event_type, epoch_ms(ts) AS ms
           |FROM g WHERE gap IS NULL OR gap > 60000""".stripMargin) { (s, d) =>
      graft.ops.History.debounceFirst(
          events(s, d).select(col("event_id"), col("user_id"),
            col("event_type"), col("ts")),
          Seq("user_id", "event_type"), "ts", "event_id", gapMs = 60000L)
        .select(col("event_id"), col("user_id"), col("event_type"),
          unix_millis(col("ts").cast("timestamp")).as("ms"))
    },

    // MMR diversification of a 15-candidate retrieval list (λ=0.7,
    // k=5): each greedy pick trades relevance against max similarity
    // to what's already picked — the de-redundancy between retrieval
    // and a context window. Both engines walk the identical greedy
    // trajectory (fp32 dots cast to double, integer-literal λ blend,
    // id tie-breaks), so the picked ids and ranks hash-match
    QuerySpec("retrieval_mmr", {
      def round(n: Int) = {
        val selUnion = (1 until n)
          .map(i => s"SELECT query_id, neighbor_id, cv FROM s$i")
          .mkString(" UNION ALL ")
        raw"""sel$n AS ($selUnion),
             |s$n AS (
             |  SELECT query_id, neighbor_id, cv, $n AS mmr_rank FROM (
             |    SELECT c.query_id, c.neighbor_id, c.cv,
             |      row_number() OVER (PARTITION BY c.query_id
             |        ORDER BY 700.0 * CAST(c.score AS DOUBLE) - 300.0 * c.mx DESC,
             |                 c.neighbor_id) AS r
             |    FROM (
             |      SELECT c0.query_id, c0.neighbor_id, c0.score, c0.cv,
             |        max(CAST(list_dot_product(c0.cv, s.cv) AS DOUBLE)) AS mx
             |      FROM cand c0 JOIN sel$n s ON s.query_id = c0.query_id
             |      WHERE NOT EXISTS (SELECT 1 FROM sel$n x
             |        WHERE x.query_id = c0.query_id AND x.neighbor_id = c0.neighbor_id)
             |      GROUP BY 1, 2, 3, 4) c)
             |  WHERE r = 1)""".stripMargin
      }
      raw"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv
           |           FROM embeddings WHERE vec_id % 100 = 0),
           |cand AS (
           |  SELECT query_id, neighbor_id, s AS score, cv FROM (
           |    SELECT query_id, e.vec_id AS neighbor_id,
           |      list_dot_product(qv, e.embedding) AS s, e.embedding AS cv,
           |      row_number() OVER (PARTITION BY query_id
           |        ORDER BY list_dot_product(qv, e.embedding) DESC, e.vec_id) AS rank
           |    FROM q JOIN embeddings e ON e.vec_id <> query_id)
           |  WHERE rank <= 15),
           |s1 AS (SELECT query_id, neighbor_id, cv, 1 AS mmr_rank FROM (
           |    SELECT query_id, neighbor_id, cv,
           |      row_number() OVER (PARTITION BY query_id
           |        ORDER BY score DESC, neighbor_id) AS r
           |    FROM cand) WHERE r = 1),
           |${round(2)},
           |${round(3)},
           |${round(4)},
           |${round(5)}
           |SELECT query_id, neighbor_id, CAST(mmr_rank AS BIGINT) AS mmr_rank
           |FROM (SELECT query_id, neighbor_id, mmr_rank FROM s1
           |  UNION ALL SELECT query_id, neighbor_id, mmr_rank FROM s2
           |  UNION ALL SELECT query_id, neighbor_id, mmr_rank FROM s3
           |  UNION ALL SELECT query_id, neighbor_id, mmr_rank FROM s4
           |  UNION ALL SELECT query_id, neighbor_id, mmr_rank FROM s5)""".stripMargin
    }) { (s, d) =>
      val e = s.read.parquet(s"$d/embeddings.parquet")
      val qs = e.where(col("vec_id") % 100 === 0)
      val cands = graft.ops.Similarity.bruteForceTopK(e, qs,
        "vec_id", "embedding", k = 15)
      graft.ops.Retrieval.mmrDiversify(cands, e, "vec_id", "embedding",
        k = 5, lambdaMilli = 700)
    },

    // per-user event cap (keep the EARLIEST 20 per user — the
    // ingestion quota against runaway producers)
    QuerySpec("stream_user_cap",
      raw"""WITH r AS (SELECT user_id, event_id, epoch_ms(ts) AS ms,
           |    row_number() OVER (PARTITION BY user_id
           |      ORDER BY ts, event_id) AS keep_rank
           |  FROM events)
           |SELECT user_id, event_id, ms, CAST(keep_rank AS BIGINT) AS keep_rank
           |FROM r WHERE keep_rank <= 20""".stripMargin) { (s, d) =>
      graft.streaming.EventPipeline.userCap(events(s, d), cap = 20)
    },

    // per-source quota cap (the Common-Crawl per-domain clip): keep at
    // most 60 docs per source in deterministic HASH order — unbiased,
    // unlike first-by-id (crawl-time-correlated) or quality-ranked
    // text_source_topk (which is a different, intentional bias)
    QuerySpec("text_source_quota",
      raw"""WITH r AS (SELECT doc_id, source,
           |    row_number() OVER (PARTITION BY source
           |      ORDER BY ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT,
           |               doc_id) AS keep_rank
           |  FROM documents)
           |SELECT doc_id, source, CAST(keep_rank AS BIGINT) AS keep_rank
           |FROM r WHERE keep_rank <= 60""".stripMargin) { (s, d) =>
      graft.ops.Sampling.capPerStratum(
        docs(s, d).select(col("doc_id"), col("source")),
        "source", "doc_id", cap = 60)
    },

    // coarse-to-fine ANN cascade: prefix-dim (32 of 64) scan nominates
    // 20 candidates, full-dim re-rank keeps 5 — recall vs the brute
    // truth measures what the cheap first stage costs AFTER the
    // re-rank buys back the near-misses (compare sim_matryoshka_recall,
    // the nomination stage alone)
    QuerySpec("sim_cascade_recall",
      raw"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv
           |           FROM embeddings WHERE vec_id % 100 = 0),
           |brute AS (
           |  SELECT query_id, neighbor_id FROM (
           |    SELECT query_id, e.vec_id AS neighbor_id,
           |      row_number() OVER (PARTITION BY query_id
           |        ORDER BY list_dot_product(qv, e.embedding) DESC, e.vec_id) AS rank
           |    FROM q JOIN embeddings e ON e.vec_id <> query_id)
           |  WHERE rank <= 5),
           |cand AS (
           |  SELECT query_id, neighbor_id FROM (
           |    SELECT query_id, e.vec_id AS neighbor_id,
           |      row_number() OVER (PARTITION BY query_id
           |        ORDER BY list_dot_product(qv[1:32], e.embedding[1:32]) DESC, e.vec_id) AS rank
           |    FROM q JOIN embeddings e ON e.vec_id <> query_id)
           |  WHERE rank <= 20),
           |casc AS (
           |  SELECT query_id, neighbor_id FROM (
           |    SELECT c.query_id, c.neighbor_id,
           |      row_number() OVER (PARTITION BY c.query_id
           |        ORDER BY list_dot_product(q.qv, e.embedding) DESC, c.neighbor_id) AS rank
           |    FROM cand c JOIN q USING (query_id)
           |    JOIN embeddings e ON e.vec_id = c.neighbor_id)
           |  WHERE rank <= 5)
           |SELECT b.query_id, count(*) AS k,
           |  CAST(sum(CASE WHEN m.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
           |  CAST(sum(CASE WHEN m.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
           |    / CAST(count(*) AS DOUBLE) AS recall
           |FROM brute b LEFT JOIN casc m
           |  ON m.query_id = b.query_id AND m.neighbor_id = b.neighbor_id
           |GROUP BY 1""".stripMargin) { (s, d) =>
      val e = s.read.parquet(s"$d/embeddings.parquet")
      val qs = e.where(col("vec_id") % 100 === 0)
      val brute = graft.ops.Similarity.bruteForceTopK(e, qs,
        "vec_id", "embedding", k = 5)
        .select(col("query_id"), col("neighbor_id"))
      val casc = graft.ops.Similarity.cascadeTopK(e, qs,
        "vec_id", "embedding", dims = 32, candidates = 20, k = 5)
        .select(col("query_id"), col("neighbor_id"), lit(1).as("__hit"))
      brute.join(casc, Seq("query_id", "neighbor_id"), "left")
        .groupBy(col("query_id"))
        .agg(count(lit(1)).as("k"),
          sum(coalesce(col("__hit"), lit(0))).cast("long").as("n_hit"))
        .withColumn("recall", col("n_hit").cast("double") / col("k").cast("double"))
    },

    // whole-distribution concentration of per-user event volume: exact
    // Gini + top-decile + max-key shares in milli units — the number
    // that decides between plain hash partitioning, AQE skew splitting,
    // and salting BEFORE a 100 TB job runs (events_key_skew lists the
    // heavy keys; this says how heavy the distribution is overall).
    // Ranks via the range-partitioned row-index scheme, never a global
    // window; ties totally ordered by (n, user_id) so both engines rank
    // identically
    QuerySpec("events_user_gini",
      raw"""WITH c AS (SELECT user_id, count(*) AS n FROM events GROUP BY 1),
           |t AS (SELECT count(*) AS nu, sum(n) AS s FROM c),
           |r AS (SELECT n, row_number() OVER (ORDER BY n, user_id) AS i FROM c),
           |a AS (SELECT sum(n * i) AS s1, max(n) AS mx,
           |        sum(CASE WHEN i > (SELECT nu FROM t) - (SELECT nu FROM t) // 10
           |            THEN n ELSE 0 END) AS topd
           |      FROM r)
           |SELECT CAST(t.nu AS BIGINT) AS n_keys, CAST(t.s AS BIGINT) AS total_rows,
           |  CAST((2 * a.s1 - (t.nu + 1) * t.s) * 1000 // (t.nu * t.s) AS BIGINT) AS gini_milli,
           |  CAST(a.topd * 1000 // t.s AS BIGINT) AS top_decile_share_milli,
           |  CAST(a.mx * 1000 // t.s AS BIGINT) AS max_key_share_milli
           |FROM a, t""".stripMargin) { (s, d) =>
      graft.ops.Profiling.concentration(events(s, d), Seq("user_id"))
    },

    // behavior predictability per state: Gini impurity (1 − Σ p²) of the
    // next-event-type distribution — entropy's exactly-computable cousin
    // (no logs, so milli units hash-match cross-engine). impurity 0 =
    // deterministic next step, ~1 = anything can follow; n_branches is
    // the fan-out the transition model must store
    QuerySpec("events_transition_impurity",
      raw"""WITH o AS (SELECT event_type AS to_type,
           |        lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS from_type
           |      FROM events),
           |c AS (SELECT from_type, to_type, count(*) AS n
           |      FROM o WHERE from_type IS NOT NULL GROUP BY 1, 2),
           |g AS (SELECT from_type, sum(n) AS nt, sum(n * n) AS ssq, count(*) AS nb
           |      FROM c GROUP BY 1)
           |SELECT from_type, CAST(nt AS BIGINT) AS n_total,
           |  CAST(nb AS BIGINT) AS n_branches,
           |  CAST(1000 - (ssq * 1000) // (nt * nt) AS BIGINT) AS impurity_milli
           |FROM g""".stripMargin) { (s, d) =>
      graft.ops.History.transitionCounts(events(s, d),
          "user_id", "event_type", "ts", "event_id")
        .groupBy(col("from_type"))
        .agg(sum(col("n")).as("nt"),
          sum(col("n") * col("n")).as("ssq"),
          count(lit(1)).as("nb"))
        .select(col("from_type"), col("nt").as("n_total"),
          col("nb").as("n_branches"),
          expr("cast(1000 - ssq * 1000 div (nt * nt) as bigint)")
            .as("impurity_milli"))
    },

    // what exact dedup actually buys, per source: characters of removed
    // non-survivor copies over total characters — duplication RATE
    // (dedup_rate_by_source) counts docs, this weighs them, and the two
    // disagree exactly when duplication concentrates in long templates.
    // Survivor = min doc_id per md5 group, cross-source copies charge
    // their own source
    QuerySpec("dedup_savings",
      raw"""WITH h AS (SELECT doc_id, source, CAST(length(text) AS BIGINT) AS ch,
           |             md5(text) AS hh FROM documents),
           |m AS (SELECT hh, min(doc_id) AS keep FROM h GROUP BY 1),
           |j AS (SELECT h.source, h.ch,
           |        CASE WHEN h.doc_id = m.keep THEN 0 ELSE h.ch END AS rem
           |      FROM h JOIN m USING (hh))
           |SELECT source, CAST(sum(ch) AS BIGINT) AS total_chars,
           |  CAST(sum(rem) AS BIGINT) AS removed_chars,
           |  CAST(CASE WHEN sum(ch) = 0 THEN 0
           |       ELSE sum(rem) * 1000 // sum(ch) END AS BIGINT) AS saved_milli
           |FROM j GROUP BY 1""".stripMargin) { (s, d) =>
      val h = docs(s, d).select(col("doc_id"), col("source"),
        length(col("text")).cast("long").as("ch"), md5(col("text")).as("hh"))
      val keep = h.groupBy(col("hh")).agg(min(col("doc_id")).as("keep"))
      h.join(keep, "hh")
        .select(col("source"), col("ch"),
          when(col("doc_id") === col("keep"), lit(0L))
            .otherwise(col("ch")).as("rem"))
        .groupBy(col("source"))
        .agg(sum(col("ch")).as("total_chars"), sum(col("rem")).as("removed_chars"))
        .select(col("source"), col("total_chars"), col("removed_chars"),
          expr("cast(case when total_chars = 0 then 0 else removed_chars * 1000 div total_chars end as bigint)")
            .as("saved_milli"))
    },

    // interval-overlap join WITHOUT a theta join: user sessions (10-min
    // gap rule) × globally-busy hours (hourly volume above the hourly
    // mean), matched through ops/Intervals.overlapJoin's bucket
    // equi-join — Spark plans the naive inequality condition as a
    // BroadcastNestedLoopJoin, a 100 TB non-starter. Sessions keep their
    // half-open end at last-event + 1 ms so a session whose last event
    // sits exactly on an hour boundary still credits that hour
    QuerySpec("events_session_overlap",
      raw"""WITH e AS (SELECT user_id, event_id, epoch_ms(ts) AS ms FROM events),
           |f AS (SELECT *, CASE WHEN prev IS NULL OR ms - prev > 600000
           |          THEN 1 ELSE 0 END AS ns
           |      FROM (SELECT *, lag(ms) OVER (PARTITION BY user_id
           |              ORDER BY ms, event_id) AS prev FROM e)),
           |s AS (SELECT user_id, min(ms) AS session_start,
           |        max(ms) + 1 AS session_end_x
           |      FROM (SELECT *, SUM(ns) OVER (PARTITION BY user_id
           |              ORDER BY ms, event_id ROWS UNBOUNDED PRECEDING) AS sid
           |            FROM f)
           |      GROUP BY user_id, sid),
           |h AS (SELECT epoch_ms(ts) // 3600000 AS h, count(*) AS n
           |      FROM events GROUP BY 1),
           |t AS (SELECT count(*) AS nh, sum(n) AS te FROM h),
           |w AS (SELECT h * 3600000 AS w_start, (h + 1) * 3600000 AS w_end
           |      FROM h, t WHERE n * nh > te)
           |SELECT s.user_id, CAST(s.session_start AS BIGINT) AS session_start,
           |  CAST(count(*) AS BIGINT) AS n_busy,
           |  CAST(sum(least(s.session_end_x, w.w_end)
           |    - greatest(s.session_start, w.w_start)) AS BIGINT) AS overlap_ms
           |FROM s JOIN w ON s.session_start < w.w_end AND w.w_start < s.session_end_x
           |GROUP BY 1, 2""".stripMargin) { (s, d) =>
      val sess = graft.streaming.EventPipeline
        .sessionize(events(s, d), gapMs = 600000L)
        .select(col("user_id"), col("session_start"),
          (col("session_end") + lit(1L)).as("session_end_x"))
      val hours = events(s, d)
        .select(expr("unix_millis(ts) div 3600000").as("h"))
        .groupBy(col("h")).agg(count(lit(1)).as("n"))
      val tot = hours.agg(count(lit(1)).as("nh"), sum(col("n")).as("te"))
      val busy = hours.crossJoin(broadcast(tot))
        .where(col("n") * col("nh") > col("te"))
        .select((col("h") * 3600000L).as("w_start"),
          ((col("h") + 1L) * 3600000L).as("w_end"))
      graft.ops.Intervals.overlapJoin(sess, busy,
          "session_start", "session_end_x", "w_start", "w_end",
          bucketMs = 3600000L)
        .groupBy(col("user_id"), col("session_start"))
        .agg(count(lit(1)).as("n_busy"),
          sum(least(col("session_end_x"), col("w_end"))
            - greatest(col("session_start"), col("w_start"))).as("overlap_ms"))
    },

    // exact equi-depth range boundaries — the split points you hand
    // repartitionByRange (or a sort-merge bucketing layout) so each of
    // the 32 ranges holds the same row count regardless of value skew.
    // Total order (cents, orderkey, linenumber) makes boundary ranks
    // unique; ranks come from the range-partitioned row-index scheme,
    // never a single-partition global window; the 31-row target frame
    // broadcasts onto the ranked scan
    QuerySpec("layout_range_planner",
      raw"""WITH c AS (SELECT CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
           |             l_orderkey, l_linenumber FROM lineitem),
           |r AS (SELECT cents, row_number()
           |        OVER (ORDER BY cents, l_orderkey, l_linenumber) AS i FROM c),
           |t AS (SELECT count(*) AS n FROM c),
           |g AS (SELECT unnest(range(1, 32)) AS split_id)
           |SELECT CAST(g.split_id AS BIGINT) AS split_id,
           |  r.cents AS upper_cents, CAST(r.i AS BIGINT) AS rows_below
           |FROM g, t JOIN r ON r.i = (t.n * g.split_id) // 32""".stripMargin) { (s, d) =>
      val li = lineitem(s, d).select(
        (col("l_extendedprice").cast("decimal(18,2)") * 100).cast("long").as("cents"),
        col("l_orderkey"), col("l_linenumber"))
      val ranked = graft.recon.Sources.withRowIndexRanged(
        li, "i", Seq(col("cents"), col("l_orderkey"), col("l_linenumber")))
      val n = ranked.agg(count(lit(1)).as("n"))
      val targets = s.range(1, 32).toDF("split_id").crossJoin(broadcast(n))
        .select(col("split_id"), expr("(n * split_id) div 32").as("i"))
      ranked.join(broadcast(targets), "i")
        .select(col("split_id"), col("cents").as("upper_cents"),
          col("i").as("rows_below"))
    },

    // self-join blow-up forecast on l_partkey: Σ n² IS the exact output
    // cardinality of the part-to-part co-order join every graph query
    // here starts from — the number a shuffle planner needs BEFORE
    // launching a 100 TB join (decides broadcast vs salt vs walk away).
    // One groupBy + one reduce; the Σ n² moment rides DECIMAL(38,0) so
    // it cannot overflow at any real key cardinality
    QuerySpec("quality_join_blowup",
      raw"""WITH c AS (SELECT l_partkey, count(*) AS n FROM lineitem GROUP BY 1)
           |SELECT CAST(count(*) AS BIGINT) AS n_keys,
           |  CAST(sum(n) AS BIGINT) AS total_rows,
           |  CAST(sum(n * n) AS BIGINT) AS predicted_pairs,
           |  CAST(max(n) AS BIGINT) AS max_key_rows,
           |  CAST(max(n) * max(n) * 1000 // sum(n * n) AS BIGINT) AS top1_share_milli
           |FROM c""".stripMargin) { (s, d) =>
      lineitem(s, d).groupBy(col("l_partkey")).agg(count(lit(1)).as("n"))
        .agg(count(lit(1)).as("n_keys"), sum(col("n")).as("total_rows"),
          sum((col("n") * col("n")).cast("decimal(38,0)")).as("pp"),
          max(col("n")).as("mx"))
        .select(col("n_keys"), col("total_rows"),
          col("pp").cast("long").as("predicted_pairs"),
          col("mx").as("max_key_rows"),
          expr("cast((cast(mx as decimal(38,0)) * mx * 1000) div pp as bigint)")
            .as("top1_share_milli"))
    },

    // top principal direction of the embedding cloud by matrix-free
    // power iteration (ops/Spectral.scala): C·v = Σ x(x·v), two hash
    // aggregations per step, never materializing the d×d moment matrix.
    // Exact DECIMAL(38,0) moments with an adaptive integer renormalizer
    // make every step bit-identical cross-engine; the ONE double
    // (Rayleigh/trace energy share) is a fixed-shape expression over
    // those exact integers. The anisotropy dashboard: a dominant
    // direction with high explained_share says the embedding space is
    // collapsing (bad for retrieval) or carries a strong nuisance
    // component worth projecting out
    QuerySpec("quality_embedding_pca",
      raw"""WITH xs AS (SELECT vec_id AS id, CAST(i - 1 AS BIGINT) AS dim,
           |    CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000000) AS HUGEINT) AS q
           |  FROM embeddings CROSS JOIN range(1, 65) r(i)),
           |d0 AS (SELECT id, sum(q) AS dt FROM xs GROUP BY 1),
           |u1 AS (SELECT dim, sum(q * dt) AS u FROM xs JOIN d0 USING (id) GROUP BY 1),
           |s1 AS (SELECT max(abs(u)) // 100000000 + 1 AS sc FROM u1),
           |v1 AS (SELECT dim, CASE WHEN u >= 0 THEN u // sc
           |         ELSE -((-u) // sc) END AS v FROM u1, s1),
           |d1 AS (SELECT id, sum(q * v) AS dt FROM xs JOIN v1 USING (dim) GROUP BY 1),
           |u2 AS (SELECT dim, sum(q * dt) AS u FROM xs JOIN d1 USING (id) GROUP BY 1),
           |uv AS (SELECT sum(u2.u * v1.v) AS num, sum(v1.v * v1.v) AS den,
           |         sum(abs(u2.u)) AS sabs
           |       FROM u2 JOIN v1 USING (dim)),
           |tr AS (SELECT sum(q * q) AS tr FROM xs)
           |SELECT u2.dim,
           |  CAST(CASE WHEN uv.sabs = 0 THEN 0
           |    WHEN u2.u >= 0 THEN (u2.u * 1000) // uv.sabs
           |    ELSE -(((-u2.u) * 1000) // uv.sabs) END AS BIGINT) AS loading_milli,
           |  CAST(uv.num AS DOUBLE) / CAST(NULLIF(uv.den, 0) AS DOUBLE)
           |    / CAST(NULLIF(tr.tr, 0) AS DOUBLE) AS explained_share
           |FROM u2, uv, tr""".stripMargin) { (s, d) =>
      graft.ops.Spectral.topDirection(
        s.read.parquet(s"$d/embeddings.parquet"), "vec_id", "embedding",
        iters = 2)
    },

    // second principal direction by exact-integer deflation: power
    // iteration on T = (v'v)C - v(v'C) — the projector multiplied
    // through by v'v so no rational eigenvalue ever appears and every
    // step stays integral (ops/Spectral.secondDirection). cos_to_top is
    // the orthogonality self-check; explained_share is the energy
    // fraction along the SECOND axis. Together with
    // quality_embedding_pca this bounds the spectrum's top-2 mass —
    // the collapse test for an embedding space
    QuerySpec("quality_embedding_pca2",
      raw"""WITH xs AS MATERIALIZED (SELECT vec_id AS id, CAST(i - 1 AS BIGINT) AS dim,
           |    CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000000) AS HUGEINT) AS q
           |  FROM embeddings CROSS JOIN range(1, 65) r(i)),
           |d0 AS MATERIALIZED (SELECT id, sum(q) AS dt FROM xs GROUP BY 1),
           |u1 AS MATERIALIZED (SELECT dim, sum(q * dt) AS u FROM xs JOIN d0 USING (id) GROUP BY 1),
           |s1 AS MATERIALIZED (SELECT max(abs(u)) // 100000000 + 1 AS sc FROM u1),
           |v1 AS MATERIALIZED (SELECT dim, CASE WHEN u >= 0 THEN u // sc
           |         ELSE -((-u) // sc) END AS v FROM u1, s1),
           |d1 AS MATERIALIZED (SELECT id, sum(q * v) AS dt FROM xs JOIN v1 USING (dim) GROUP BY 1),
           |u2 AS MATERIALIZED (SELECT dim, sum(q * dt) AS u FROM xs JOIN d1 USING (id) GROUP BY 1),
           |sv0 AS MATERIALIZED (SELECT max(abs(u)) // 10000 + 1 AS sc FROM u2),
           |vs AS MATERIALIZED (SELECT dim, CASE WHEN u >= 0 THEN u // sc
           |         ELSE -((-u) // sc) END AS v FROM u2, sv0),
           |vst AS MATERIALIZED (SELECT sum(v * v) AS vv, sum(v) AS sv FROM vs),
           |w0 AS MATERIALIZED (SELECT dim, vv - v * sv AS tw FROM vs, vst),
           |s0 AS MATERIALIZED (SELECT max(abs(tw)) // 10000 + 1 AS sc FROM w0),
           |wa AS MATERIALIZED (SELECT dim, CASE WHEN tw >= 0 THEN tw // sc
           |         ELSE -((-tw) // sc) END AS w FROM w0, s0),
           |da AS MATERIALIZED (SELECT id, sum(q * w) AS dt FROM xs JOIN wa USING (dim) GROUP BY 1),
           |ca AS MATERIALIZED (SELECT dim, sum(q * dt) AS cw FROM xs JOIN da USING (id) GROUP BY 1),
           |va AS MATERIALIZED (SELECT sum(v * cw) AS vc FROM vs JOIN ca USING (dim)),
           |ta AS MATERIALIZED (SELECT ca.dim, vst.vv * ca.cw - vs.v * va.vc AS tw
           |       FROM ca JOIN vs USING (dim), vst, va),
           |sa AS MATERIALIZED (SELECT max(abs(tw)) // 10000 + 1 AS sc FROM ta),
           |wb AS MATERIALIZED (SELECT dim, CASE WHEN tw >= 0 THEN tw // sc
           |         ELSE -((-tw) // sc) END AS w FROM ta, sa),
           |db AS MATERIALIZED (SELECT id, sum(q * w) AS dt FROM xs JOIN wb USING (dim) GROUP BY 1),
           |cb AS MATERIALIZED (SELECT dim, sum(q * dt) AS cw FROM xs JOIN db USING (id) GROUP BY 1),
           |vb AS MATERIALIZED (SELECT sum(v * cw) AS vc FROM vs JOIN cb USING (dim)),
           |tb AS MATERIALIZED (SELECT cb.dim, vst.vv * cb.cw - vs.v * vb.vc AS tw
           |       FROM cb JOIN vs USING (dim), vst, vb),
           |sb AS MATERIALIZED (SELECT max(abs(tw)) // 10000 + 1 AS sc FROM tb),
           |wc AS MATERIALIZED (SELECT dim, CASE WHEN tw >= 0 THEN tw // sc
           |         ELSE -((-tw) // sc) END AS w FROM tb, sb),
           |dfi AS MATERIALIZED (SELECT id, sum(q * w) AS dt FROM xs JOIN wc USING (dim) GROUP BY 1),
           |cf AS MATERIALIZED (SELECT dim, sum(q * dt) AS cw FROM xs JOIN dfi USING (id) GROUP BY 1),
           |st AS MATERIALIZED (SELECT sum(w.w * cf.cw) AS num, sum(w.w * w.w) AS den,
           |         sum(abs(w.w)) AS sabs, sum(vs.v * w.w) AS vw
           |       FROM wc w JOIN cf USING (dim) JOIN vs USING (dim)),
           |tr AS MATERIALIZED (SELECT sum(q * q) AS tr FROM xs)
           |SELECT wc.dim,
           |  CAST(CASE WHEN st.sabs = 0 THEN 0
           |    WHEN wc.w >= 0 THEN (wc.w * 1000) // st.sabs
           |    ELSE -(((-wc.w) * 1000) // st.sabs) END AS BIGINT) AS loading_milli,
           |  CAST(st.num AS DOUBLE) / CAST(NULLIF(st.den, 0) AS DOUBLE)
           |    / CAST(NULLIF(tr.tr, 0) AS DOUBLE) AS explained_share,
           |  CAST(st.vw AS DOUBLE) / (sqrt(CAST(NULLIF(vst.vv, 0) AS DOUBLE))
           |    * sqrt(CAST(NULLIF(st.den, 0) AS DOUBLE))) AS cos_to_top
           |FROM wc, st, tr, vst""".stripMargin) { (s, d) =>
      graft.ops.Spectral.secondDirection(
        s.read.parquet(s"$d/embeddings.parquet"), "vec_id", "embedding",
        itersTop = 2, itersDeflate = 2)
    },

    // hive-style partition pruning end-to-end: write a day-partitioned
    // copy (the layout every event lake lands in), read it back with a
    // one-week day filter, and let Catalyst prune to 7 of ~30 partition
    // directories BEFORE any file opens — at 100 TB the difference
    // between listing a week and listing three years. The oracle never
    // sees the layout; values must equal the plain filtered scan.
    // PartitionPruneSpec pins the plan-level guarantee (PartitionCount
    // in the scan = days selected, not days written)
    QuerySpec("layout_partition_prune",
      raw"""WITH e AS (SELECT event_type,
           |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
           |    epoch_ms(ts) // 86400000 AS day FROM events)
           |SELECT CAST(day AS BIGINT) AS day, event_type,
           |  CAST(count(*) AS BIGINT) AS n_events,
           |  CAST(sum(cents) AS BIGINT) AS sum_cents
           |FROM e WHERE day BETWEEN 19730 AND 19736
           |GROUP BY 1, 2""".stripMargin) { (s, d) =>
      val dir = java.nio.file.Files.createTempDirectory("graft_partprune").toString
      events(s, d).select(col("event_id"), col("event_type"),
          expr("cast(cast(value as decimal(18,2)) * 100 as bigint)").as("cents"),
          expr("unix_millis(ts) div 86400000").as("day"))
        .write.mode("overwrite").partitionBy("day").parquet(dir)
      s.read.parquet(dir)
        .where(col("day").between(19730, 19736))
        .groupBy(col("day").cast("long").as("day"), col("event_type"))
        .agg(count(lit(1)).as("n_events"), sum(col("cents")).as("sum_cents"))
    },

    // the partitioned-sink RESTATEMENT lifecycle: write events
    // partitioned by day, then land a corrected feed for ONE day via
    // dynamic partition overwrite (a writer OPTION, not a session-conf
    // mutation) — only that day's partition is replaced; every other
    // day's files survive untouched, which the read-back per-day
    // aggregate proves value-for-value. This is how a 100 TB events
    // lake takes late corrections: rewrite one day, never the table
    QuerySpec("layout_dynamic_overwrite",
      raw"""WITH e AS (SELECT epoch_ms(ts) // 86400000 AS day,
           |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
           |      + CASE WHEN epoch_ms(ts) // 86400000 = 19732
           |             THEN 100 ELSE 0 END AS cents
           |  FROM events)
           |SELECT CAST(day AS BIGINT) AS day,
           |  CAST(count(*) AS BIGINT) AS n_events,
           |  CAST(sum(cents) AS BIGINT) AS sum_cents
           |FROM e GROUP BY 1""".stripMargin) { (s, d) =>
      val dir = java.nio.file.Files.createTempDirectory("graft_dynover").toString
      val base = events(s, d).select(col("event_id"), col("event_type"),
        expr("cast(cast(value as decimal(18,2)) * 100 as bigint)").as("cents"),
        expr("unix_millis(ts) div 86400000").as("day"))
      base.write.mode("overwrite").partitionBy("day").parquet(dir)
      base.where(col("day") === 19732L)
        .withColumn("cents", col("cents") + 100L)
        .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
        .partitionBy("day").parquet(dir)
      s.read.parquet(dir)
        .groupBy(col("day").cast("long").as("day"))
        .agg(count(lit(1)).as("n_events"), sum(col("cents")).as("sum_cents"))
    },

    // binary-content exact dedup over the multimodal payload column:
    // per media type, unique-asset counts and the bytes a
    // keep-first-copy pass reclaims — the md5-manifest step that runs
    // before any expensive perceptual hashing, on payloads Spark never
    // parses (opaque binary + typed metadata)
    QuerySpec("mm_dedup",
      raw"""WITH m AS (SELECT doc_id AS media_id,
           |    CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
           |      ELSE 'video' END AS media_type,
           |    md5(text) AS h, strlen(text) AS n_bytes FROM documents),
           |k AS (SELECT h, min(media_id) AS keep FROM m GROUP BY 1)
           |SELECT media_type, CAST(count(*) AS BIGINT) AS n_assets,
           |  CAST(count(DISTINCT m.h) AS BIGINT) AS n_unique,
           |  CAST(sum(n_bytes) AS BIGINT) AS total_bytes,
           |  CAST(sum(CASE WHEN m.media_id = k.keep THEN 0 ELSE n_bytes END)
           |    AS BIGINT) AS removed_bytes
           |FROM m JOIN k USING (h) GROUP BY 1""".stripMargin) { (s, d) =>
      val m = graft.ops.Multimodal.syntheticMedia(docs(s, d), "doc_id", "text")
        .select(col("media_id"), col("media_type"),
          md5(col("payload")).as("h"), col("n_bytes"))
      val keep = m.groupBy(col("h")).agg(min(col("media_id")).as("keep"))
      m.join(keep, "h")
        .groupBy(col("media_type"))
        .agg(count(lit(1)).as("n_assets"),
          countDistinct(col("h")).as("n_unique"),
          sum(col("n_bytes")).cast("long").as("total_bytes"),
          sum(when(col("media_id") === col("keep"), lit(0L))
            .otherwise(col("n_bytes"))).cast("long").as("removed_bytes"))
    },

    // measured Bloom false-positive rate vs the uniform-bits model —
    // the sketch-fidelity harness for the skip-index family: build the
    // bit set from present doc ids (portable md5 positions, k=4,
    // m=2^16), probe guaranteed-absent ids, and report the measured FPR
    // next to bits_set^4*1000 div m^4 (the exact-integer uniform
    // model). A measured rate far above the model means clustered
    // hashes — the failure mode that silently turns a skip index into
    // a full scan
    QuerySpec("layout_bloom_fpr",
      raw"""WITH ks AS (SELECT unnest(['0','1','2','3']) AS i),
           |ids AS (SELECT doc_id FROM documents),
           |bits AS (SELECT DISTINCT ('0x' || substr(md5(ks.i || ':' ||
           |      CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 65536 AS pos
           |    FROM ids CROSS JOIN ks),
           |pr AS (SELECT doc_id + 10000000 AS pk FROM ids),
           |pp AS (SELECT pk, ('0x' || substr(md5(ks.i || ':' ||
           |      CAST(pk AS VARCHAR)), 1, 15))::BIGINT % 65536 AS pos
           |    FROM pr CROSS JOIN ks),
           |h AS (SELECT pk, count(*) AS nh FROM pp
           |      WHERE pos IN (SELECT pos FROM bits) GROUP BY 1),
           |fp AS (SELECT count(*) AS n_probes,
           |         sum(CASE WHEN h.nh = 4 THEN 1 ELSE 0 END) AS n_false_pos
           |       FROM pr LEFT JOIN h USING (pk)),
           |nb AS (SELECT count(*) AS n_bits_set FROM bits)
           |SELECT CAST(65536 AS BIGINT) AS m_bits, CAST(4 AS BIGINT) AS k_hashes,
           |  CAST(nb.n_bits_set AS BIGINT) AS n_bits_set,
           |  CAST(fp.n_probes AS BIGINT) AS n_probes,
           |  CAST(fp.n_false_pos AS BIGINT) AS n_false_pos,
           |  CAST(fp.n_false_pos * 1000 // fp.n_probes AS BIGINT) AS fpr_milli,
           |  CAST(CAST(nb.n_bits_set AS HUGEINT) * nb.n_bits_set * nb.n_bits_set
           |    * nb.n_bits_set * 1000
           |    // (CAST(65536 AS HUGEINT) * 65536 * 65536 * 65536) AS BIGINT)
           |    AS uniform_model_fpr_milli
           |FROM fp, nb""".stripMargin) { (s, d) =>
      val m = 65536L
      def pos(key: org.apache.spark.sql.Column, i: Int) =
        conv(substring(md5(concat(lit(i.toString), lit(":"),
          key.cast("string"))), 1, 15), 16, 10).cast("long") % m
      def kpos(key: org.apache.spark.sql.Column) =
        explode(array((0 until 4).map(i => pos(key, i)): _*)).as("pos")
      val ids = docs(s, d).select(col("doc_id"))
      val bits = ids.select(kpos(col("doc_id"))).distinct()
      val probes = ids.select((col("doc_id") + 10000000L).as("pk"))
      val hits = probes.select(col("pk"), kpos(col("pk")))
        .join(bits, Seq("pos"), "left_semi")
        .groupBy(col("pk")).agg(count(lit(1)).as("nh"))
      val fp = probes.join(hits, Seq("pk"), "left")
        .agg(count(lit(1)).as("n_probes"),
          sum(when(col("nh") === 4, 1L).otherwise(0L)).as("n_false_pos"))
      val nb = bits.agg(count(lit(1)).as("n_bits_set"))
      fp.crossJoin(broadcast(nb))
        .select(lit(m).as("m_bits"), lit(4L).as("k_hashes"),
          col("n_bits_set"), col("n_probes"), col("n_false_pos"),
          expr("(n_false_pos * 1000) div n_probes").as("fpr_milli"),
          expr("""cast((cast(n_bits_set as decimal(38,0)) * n_bits_set
                 |  * n_bits_set * n_bits_set * 1000)
                 |  div (cast(65536 as decimal(38,0)) * 65536 * 65536 * 65536)
                 |  as bigint)""".stripMargin).as("uniform_model_fpr_milli"))
    },

    // schema evolution across parquet versions: week one lands without
    // event_type, week two adds it; a mergeSchema read over both
    // version directories must surface one unified schema with NULLs
    // exactly where the old files have no column — the audit that
    // catches a writer dropping columns vs a reader misaligning them.
    // The oracle derives the same numbers from the source table, never
    // seeing the layout
    QuerySpec("layout_schema_evolution",
      raw"""WITH e AS (SELECT event_id, event_type,
           |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
           |    CASE WHEN epoch_ms(ts) // 86400000 < 19738 THEN 1 ELSE 2 END AS v
           |  FROM events)
           |SELECT CAST(v AS BIGINT) AS v, CAST(count(*) AS BIGINT) AS n_rows,
           |  CAST(sum(CASE WHEN v = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_missing_type,
           |  CAST(count(DISTINCT CASE WHEN v = 2 THEN event_type END) AS BIGINT)
           |    AS n_types,
           |  CAST(sum(cents) AS BIGINT) AS sum_cents
           |FROM e GROUP BY 1""".stripMargin) { (s, d) =>
      val dir = java.nio.file.Files.createTempDirectory("graft_schemaevo").toString
      val base = events(s, d).select(col("event_id"), col("event_type"),
        expr("cast(cast(value as decimal(18,2)) * 100 as bigint)").as("cents"),
        expr("unix_millis(ts) div 86400000").as("day"))
      base.where(col("day") < 19738).select("event_id", "cents")
        .write.mode("overwrite").parquet(dir + "/v=1")
      base.where(col("day") >= 19738).select("event_id", "event_type", "cents")
        .write.mode("overwrite").parquet(dir + "/v=2")
      s.read.option("mergeSchema", "true").parquet(dir)
        .groupBy(col("v").cast("long").as("v"))
        .agg(count(lit(1)).as("n_rows"),
          sum(when(col("event_type").isNull, 1L).otherwise(0L)).as("n_missing_type"),
          countDistinct(col("event_type")).as("n_types"),
          sum(col("cents")).as("sum_cents"))
    },

    // ingestion outage windows at minute grain: collapse the stream to
    // its DISTINCT minutes, then every silence longer than 3 minutes
    // becomes a row with exact start/end/duration. Adjacency rides the
    // distributed row index + a shifted self-equi-join — no global lag
    // window anywhere in the plan (the minute frame is span-bounded
    // today, but the plan shape should not bet on it).
    // events_missing_days sees day-size holes; this is the pager-duty
    // view of the same signal
    QuerySpec("events_outage_windows",
      raw"""WITH m AS (SELECT DISTINCT epoch_ms(ts) // 60000 AS mn FROM events),
           |g AS (SELECT mn, lag(mn) OVER (ORDER BY mn) AS prev FROM m)
           |SELECT CAST((prev + 1) * 60000 AS BIGINT) AS outage_start_ms,
           |  CAST(mn * 60000 AS BIGINT) AS outage_end_ms,
           |  CAST((mn - prev - 1) * 60000 AS BIGINT) AS duration_ms
           |FROM g WHERE mn - prev > 3""".stripMargin) { (s, d) =>
      val m = events(s, d)
        .select(expr("unix_millis(ts) div 60000").as("mn")).distinct()
      // pin ONE index assignment for both join sides
      val idx = graft.recon.Checkpoints.cut(
        graft.recon.Sources.withRowIndexRanged(m, "__idx", Seq(col("mn"))))
      val prev = idx.select((col("__idx") + 1).as("__idx"), col("mn").as("prev"))
      idx.join(prev, Seq("__idx")) // inner: the first minute has no prev, like lag
        .where(col("mn") - col("prev") > 3)
        .select(((col("prev") + 1) * 60000L).as("outage_start_ms"),
          (col("mn") * 60000L).as("outage_end_ms"),
          ((col("mn") - col("prev") - 1) * 60000L).as("duration_ms"))
    },

    // stylometric source similarity: each source's function-word
    // profile (counts over the corpus's top-30 tokens — overwhelmingly
    // stopwords, the words that fingerprint STYLE rather than topic),
    // compared pairwise by fixed-shape cosine over exact integer
    // counts. Sources that write alike cluster; a crawl masquerading
    // as two sources shows up as cos ~ 1
    QuerySpec("text_style_fingerprint",
      raw"""WITH tok AS (SELECT source, unnest(CASE WHEN length(trim(text)) = 0 THEN []
           |    ELSE string_split_regex(trim(lower(text)), '\s+') END) AS token
           |  FROM documents),
           |c AS (SELECT token, count(*) AS n FROM tok GROUP BY 1),
           |top AS (SELECT token FROM (SELECT token,
           |    row_number() OVER (ORDER BY n DESC, token) AS r FROM c) WHERE r <= 30),
           |f AS (SELECT source, token, count(*) AS c FROM tok
           |      WHERE token IN (SELECT token FROM top) GROUP BY 1, 2),
           |nrm AS (SELECT source, sum(c * c) AS n2 FROM f GROUP BY 1),
           |px AS (SELECT a.source AS source_a, b.source AS source_b,
           |         sum(a.c * b.c) AS dot
           |       FROM f a JOIN f b ON a.token = b.token AND a.source < b.source
           |       GROUP BY 1, 2)
           |SELECT px.source_a, px.source_b,
           |  CAST(px.dot AS DOUBLE)
           |    / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE)))
           |    AS cos_style
           |FROM px JOIN nrm na ON na.source = px.source_a
           |        JOIN nrm nb ON nb.source = px.source_b""".stripMargin) { (s, d) =>
      val tok = docs(s, d).select(col("source"),
        explode(graft.ops.TextAnalysis.tokens(col("text"))).as("token"))
      val counts = tok.groupBy(col("token")).agg(count(lit(1)).as("n"))
      val top = graft.recon.Sources.withRowIndexRanged(
          counts, "r", Seq(col("n").desc, col("token")))
        .where(col("r") <= 30).select(col("token"))
      val f = tok.join(broadcast(top), "token")
        .groupBy(col("source"), col("token")).agg(count(lit(1)).as("c"))
      val nrm = f.groupBy(col("source"))
        .agg(sum(col("c") * col("c")).as("n2"))
      val px = f.alias("fa")
        .join(f.alias("fb"),
          col("fa.token") === col("fb.token") &&
            col("fa.source") < col("fb.source"))
        .select(col("fa.source").as("source_a"),
          col("fb.source").as("source_b"),
          (col("fa.c") * col("fb.c")).as("p"))
        .groupBy(col("source_a"), col("source_b")).agg(sum(col("p")).as("dot"))
      px.join(broadcast(nrm.select(col("source").as("source_a"),
          col("n2").as("na"))), "source_a")
        .join(broadcast(nrm.select(col("source").as("source_b"),
          col("n2").as("nb"))), "source_b")
        .select(col("source_a"), col("source_b"),
          (col("dot").cast("double") /
            (sqrt(col("na").cast("double")) * sqrt(col("nb").cast("double"))))
            .as("cos_style"))
    },

    // readability card per source: Flesch reading-ease from exact
    // integer counts — words (whitespace tokens), sentences
    // ([.!?]+ runs, floored at 1 per doc), syllable proxy (vowel-group
    // runs; replacing each [aeiouy]+ run by '#' vs '' differs by
    // exactly the run count). The whole score stays in milli-integers:
    // 206835 - 1015*wps - 84600*spw, no float ever. The curation
    // feature the quality score lacks — length-ratio features can't
    // see sentence complexity
    QuerySpec("text_readability",
      raw"""WITH f AS (SELECT source,
           |    CASE WHEN length(trim(text)) = 0 THEN 0
           |      ELSE len(string_split_regex(trim(text), '\s+')) END AS w,
           |    greatest(1, length(regexp_replace(text, '[.!?]+', '#', 'g'))
           |      - length(regexp_replace(text, '[.!?]+', '', 'g'))) AS sent,
           |    length(regexp_replace(lower(text), '[aeiouy]+', '#', 'g'))
           |      - length(regexp_replace(lower(text), '[aeiouy]+', '', 'g')) AS syl
           |  FROM documents)
           |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
           |  CAST(sum(w) AS BIGINT) AS n_words,
           |  CAST(sum(sent) AS BIGINT) AS n_sentences,
           |  CAST(sum(syl) AS BIGINT) AS n_syllables,
           |  CAST(sum(w) * 1000 // sum(sent) AS BIGINT) AS wps_milli,
           |  CAST(CASE WHEN sum(w) = 0 THEN 0
           |    ELSE sum(syl) * 1000 // sum(w) END AS BIGINT) AS spw_milli,
           |  CAST(206835 - (1015 * (sum(w) * 1000 // sum(sent))) // 1000
           |    - (84600 * (CASE WHEN sum(w) = 0 THEN 0
           |        ELSE sum(syl) * 1000 // sum(w) END)) // 1000 AS BIGINT)
           |    AS flesch_milli
           |FROM f GROUP BY 1""".stripMargin) { (s, d) =>
      def runs(c: org.apache.spark.sql.Column, pat: String) =
        length(regexp_replace(c, pat, "#")) - length(regexp_replace(c, pat, ""))
      val f = docs(s, d).select(col("source"),
        size(graft.ops.TextAnalysis.tokens(col("text"))).cast("long").as("w"),
        greatest(lit(1L), runs(col("text"), "[.!?]+").cast("long")).as("sent"),
        runs(lower(col("text")), "[aeiouy]+").cast("long").as("syl"))
      f.groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(col("w")).as("n_words"),
          sum(col("sent")).as("n_sentences"), sum(col("syl")).as("n_syllables"))
        .select(col("source"), col("n_docs"), col("n_words"),
          col("n_sentences"), col("n_syllables"),
          expr("(n_words * 1000) div n_sentences").as("wps_milli"),
          expr("case when n_words = 0 then 0 else (n_syllables * 1000) div n_words end")
            .as("spw_milli"))
        .withColumn("flesch_milli",
          lit(206835L) - expr("(1015 * wps_milli) div 1000")
            - expr("(84600 * spw_milli) div 1000"))
    },

    // marginal novelty per document: the share of a doc's 3-gram
    // shingles appearing for the FIRST time in doc_id order — the
    // each-batch-adds-how-much curve behind every keep-crawling
    // decision. First occurrence is a min aggregate (no ordered scan);
    // exact milli shares; docs too short to shingle drop out of both
    // arms
    QuerySpec("text_ngram_novelty",
      raw"""WITH tt AS (SELECT doc_id, source, CASE WHEN length(trim(text)) = 0 THEN []
           |    ELSE string_split_regex(trim(lower(text)), '\s+') END AS t FROM documents),
           |sh AS (SELECT DISTINCT doc_id AS doc, source, unnest(CASE WHEN len(t) < 3 THEN []
           |         ELSE [array_to_string(t[i:i+2], ' ') FOR i IN range(1, len(t) - 1)] END) AS tok
           |       FROM tt),
           |fo AS (SELECT tok, min(doc) AS first_doc FROM sh GROUP BY 1)
           |SELECT sh.doc AS doc_id, sh.source,
           |  CAST(count(*) AS BIGINT) AS n_shingles,
           |  CAST(sum(CASE WHEN fo.first_doc = sh.doc THEN 1 ELSE 0 END) AS BIGINT)
           |    AS n_novel,
           |  CAST(sum(CASE WHEN fo.first_doc = sh.doc THEN 1 ELSE 0 END) * 1000
           |    // count(*) AS BIGINT) AS novelty_milli
           |FROM sh JOIN fo USING (tok) GROUP BY 1, 2""".stripMargin) { (s, d) =>
      val sh = graft.recon.Checkpoints.cut(
        graft.ops.Dedup.shingleTable(
            docs(s, d).select(col("doc_id"), col("text")), "text", "doc_id", 3)
          .join(docs(s, d).select(col("doc_id").as("doc"), col("source")), "doc"))
      val fo = sh.groupBy(col("shingle")).agg(min(col("doc")).as("first_doc"))
      sh.join(fo, "shingle")
        .groupBy(col("doc").as("doc_id"), col("source"))
        .agg(count(lit(1)).as("n_shingles"),
          sum(when(col("first_doc") === col("doc"), 1L).otherwise(0L))
            .as("n_novel"))
        .withColumn("novelty_milli", expr("(n_novel * 1000) div n_shingles"))
    },

    // variance decomposition of document length by language: how much
    // of the length spread the lang column EXPLAINS (eta-squared), from
    // exact integer moments — N*Q - S^2 for the total, per-group
    // Sg^2 div ng (deterministic floor, documented bias < n_groups /
    // SST) for the between part. The column-importance probe that says
    // whether stratifying by lang is worth a shuffle
    QuerySpec("quality_variance_decomposition",
      raw"""WITH x AS (SELECT lang, CAST(n_chars AS HUGEINT) AS v FROM documents),
           |g AS (SELECT lang, count(*) AS ng, sum(v) AS sg FROM x GROUP BY 1),
           |t AS (SELECT count(*) AS n, sum(v) AS s, sum(v * v) AS q FROM x),
           |b AS (SELECT sum(sg * sg // ng) AS bsum, count(*) AS n_groups FROM g)
           |SELECT CAST(t.n AS BIGINT) AS n_docs,
           |  CAST(b.n_groups AS BIGINT) AS n_groups,
           |  CAST(t.n * b.bsum - t.s * t.s AS BIGINT) AS ss_between_scaled,
           |  CAST(t.n * t.q - t.s * t.s AS BIGINT) AS ss_total_scaled,
           |  CAST(CASE WHEN t.n * t.q - t.s * t.s = 0 THEN 0
           |    ELSE (t.n * b.bsum - t.s * t.s) * 1000 // (t.n * t.q - t.s * t.s)
           |    END AS BIGINT) AS eta_milli
           |FROM t, b""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.types.DecimalType
      val x = docs(s, d).select(col("lang"),
        col("n_chars").cast(DecimalType(38, 0)).as("v"))
      val g = x.groupBy(col("lang"))
        .agg(count(lit(1)).as("ng"), sum(col("v")).as("sg"))
      val t = x.agg(count(lit(1)).cast(DecimalType(38, 0)).as("n"),
        sum(col("v")).as("s"), sum(col("v") * col("v")).as("q"))
      val b = g.agg(sum(expr("(sg * sg) div ng")).cast(DecimalType(38, 0))
          .as("bsum"), count(lit(1)).as("n_groups"))
      t.crossJoin(broadcast(b))
        .select(col("n").cast("long").as("n_docs"), col("n_groups"),
          expr("cast(n * bsum - s * s as bigint)").as("ss_between_scaled"),
          expr("cast(n * q - s * s as bigint)").as("ss_total_scaled"),
          expr("""cast(case when n * q - s * s = 0 then 0
                 |  else ((n * bsum - s * s) * 1000) div (n * q - s * s)
                 |  end as bigint)""".stripMargin).as("eta_milli"))
    },

    // U-shaped multi-touch attribution: every purchase credits the
    // clicks of the same user in the preceding 24 h — 1000 milli to a
    // solo click, else 400/400 to first and last with the middle 200
    // floor-split (remainder to the earliest middles, so credits sum to
    // EXACTLY 1000 per multi-touch path). The position-credit math
    // marketing mix models start from, all integer
    QuerySpec("events_attribution_credit",
      raw"""WITH e AS (SELECT user_id, event_id, event_type, epoch_ms(ts) AS ms
           |  FROM events),
           |pc AS (SELECT p.user_id, p.event_id AS purchase_id,
           |    c.event_id AS click_id, c.ms AS cms
           |  FROM e p JOIN e c ON c.user_id = p.user_id
           |    AND p.event_type = 'purchase' AND c.event_type = 'click'
           |    AND c.ms < p.ms AND c.ms >= p.ms - 86400000),
           |rk AS (SELECT *,
           |    row_number() OVER (PARTITION BY purchase_id ORDER BY cms, click_id) AS i,
           |    count(*) OVER (PARTITION BY purchase_id) AS np FROM pc),
           |cr AS (SELECT purchase_id, click_id,
           |    CASE WHEN np = 1 THEN 1000 WHEN np = 2 THEN 500
           |      WHEN i = 1 OR i = np THEN 400
           |      ELSE 200 // (np - 2)
           |        + CASE WHEN i - 1 <= 200 % (np - 2) THEN 1 ELSE 0 END
           |    END AS credit_milli,
           |    CASE WHEN np = 1 THEN 'solo' WHEN i = 1 THEN 'first'
           |      WHEN i = np THEN 'last' ELSE 'middle' END AS position
           |  FROM rk)
           |SELECT position, CAST(count(*) AS BIGINT) AS n_touches,
           |  CAST(sum(credit_milli) AS BIGINT) AS credit_milli_sum
           |FROM cr GROUP BY 1""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val e = events(s, d).select(col("user_id"), col("event_id"),
        col("event_type"), unix_millis(col("ts")).as("ms"))
      val p = e.where(col("event_type") === "purchase")
        .select(col("user_id").as("pu"), col("event_id").as("purchase_id"),
          col("ms").as("pms"))
      val c = e.where(col("event_type") === "click")
        .select(col("user_id"), col("event_id").as("click_id"),
          col("ms").as("cms"))
      val pc = p.join(c, col("user_id") === col("pu") &&
        col("cms") < col("pms") && col("cms") >= col("pms") - 86400000L)
      val w = Window.partitionBy(col("purchase_id"))
      val rk = pc
        .withColumn("i", row_number().over(w.orderBy(col("cms"), col("click_id"))))
        .withColumn("np", count(lit(1)).over(w))
      rk.select(
          when(col("np") === 1, "solo")
            .when(col("i") === 1, "first")
            .when(col("i") === col("np"), "last")
            .otherwise("middle").as("position"),
          when(col("np") === 1, lit(1000L))
            .when(col("np") === 2, lit(500L))
            .when(col("i") === 1 || col("i") === col("np"), lit(400L))
            .otherwise(expr("200 div (np - 2)")
              + when(col("i") - 1 <= expr("200 % (np - 2)"), 1L).otherwise(0L))
            .as("credit_milli"))
        .groupBy(col("position"))
        .agg(count(lit(1)).as("n_touches"),
          sum(col("credit_milli")).as("credit_milli_sum"))
    },

    // Markov stationary distribution of the event-type chain: three
    // exact power steps of v <- P'v in milli-integers (p_milli from the
    // transition counts, each step sums then floor-divides by 1000) —
    // the long-run traffic mix the transition matrix implies, readable
    // against the observed mix. Tiny frames are lineage-cut so the
    // transition window runs once, not once per unrolled step
    QuerySpec("events_markov_stationary",
      raw"""WITH o AS (SELECT event_type AS to_type,
           |    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           |      AS from_type FROM events),
           |c AS (SELECT from_type, to_type, count(*) AS n FROM o
           |      WHERE from_type IS NOT NULL GROUP BY 1, 2),
           |p AS (SELECT from_type, to_type,
           |    (n * 1000) // sum(n) OVER (PARTITION BY from_type) AS p_milli
           |  FROM c),
           |ty AS (SELECT DISTINCT event_type AS t FROM events),
           |v0 AS (SELECT t, CAST(1000 AS BIGINT) AS v FROM ty),
           |i1 AS (SELECT p.to_type AS t, sum(p.p_milli * v0.v) // 1000 AS nv
           |       FROM p JOIN v0 ON p.from_type = v0.t GROUP BY 1),
           |v1 AS (SELECT ty.t, COALESCE(i1.nv, 0) AS v FROM ty
           |       LEFT JOIN i1 ON i1.t = ty.t),
           |i2 AS (SELECT p.to_type AS t, sum(p.p_milli * v1.v) // 1000 AS nv
           |       FROM p JOIN v1 ON p.from_type = v1.t GROUP BY 1),
           |v2 AS (SELECT ty.t, COALESCE(i2.nv, 0) AS v FROM ty
           |       LEFT JOIN i2 ON i2.t = ty.t),
           |i3 AS (SELECT p.to_type AS t, sum(p.p_milli * v2.v) // 1000 AS nv
           |       FROM p JOIN v2 ON p.from_type = v2.t GROUP BY 1),
           |v3 AS (SELECT ty.t, COALESCE(i3.nv, 0) AS v FROM ty
           |       LEFT JOIN i3 ON i3.t = ty.t)
           |SELECT t AS event_type, CAST(v AS BIGINT) AS stationary_milli
           |FROM v3""".stripMargin) { (s, d) =>
      import graft.recon.Checkpoints.cut
      val tc = cut(graft.ops.History.transitionCounts(events(s, d),
          "user_id", "event_type", "ts", "event_id")
        .select(col("from_type"), col("to_type"), col("p_milli")))
      val types = cut(events(s, d).select(col("event_type").as("t")).distinct())
      var v = types.select(col("t"), lit(1000L).as("v"))
      for (_ <- 1 to 3) {
        val step = tc.join(v, col("from_type") === col("t"))
          .groupBy(col("to_type"))
          .agg(expr("sum(p_milli * v) div 1000").as("nv"))
        v = types.join(step, col("t") === col("to_type"), "left")
          .select(col("t"), coalesce(col("nv"), lit(0L)).as("v"))
      }
      v.select(col("t").as("event_type"), col("v").as("stationary_milli"))
    },

    // nearest-centroid label confusion over the embedding space — the
    // linear-probe-style eval: centroids from even vec_ids (exact
    // integer component sums; cosine of sums needs no mean), odd ids
    // classified by argmax cosine with the (score DESC, label) total
    // order, confusion counts with exact per-true-label milli shares.
    // The one double per candidate is the fixed-shape cosine
    QuerySpec("sim_centroid_confusion",
      raw"""WITH xs AS MATERIALIZED (SELECT vec_id, label, CAST(i - 1 AS BIGINT) AS dim,
           |    CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000000) AS HUGEINT) AS q
           |  FROM embeddings CROSS JOIN range(1, 65) r(i)),
           |cent AS MATERIALIZED (SELECT label AS cl, dim, sum(q) AS c
           |  FROM xs WHERE vec_id % 2 = 0 GROUP BY 1, 2),
           |cn AS (SELECT cl, sum(c * c) AS nc FROM cent GROUP BY 1),
           |te AS MATERIALIZED (SELECT * FROM xs WHERE vec_id % 2 = 1),
           |tn AS (SELECT vec_id, sum(q * q) AS nt FROM te GROUP BY 1),
           |dots AS (SELECT te.vec_id, te.label, cent.cl, sum(te.q * cent.c) AS dot
           |         FROM te JOIN cent USING (dim) GROUP BY 1, 2, 3),
           |sc AS (SELECT d.vec_id, d.label, d.cl,
           |    CASE WHEN tn.nt = 0 OR cn.nc = 0 THEN -2.0
           |      ELSE CAST(d.dot AS DOUBLE)
           |        / (sqrt(CAST(tn.nt AS DOUBLE)) * sqrt(CAST(cn.nc AS DOUBLE)))
           |      END AS score
           |  FROM dots d JOIN tn USING (vec_id) JOIN cn USING (cl)),
           |pr AS (SELECT vec_id, label, cl FROM (
           |    SELECT *, row_number() OVER (PARTITION BY vec_id
           |      ORDER BY score DESC, cl) AS rn FROM sc) WHERE rn = 1),
           |tt AS (SELECT label, count(*) AS ntrue FROM pr GROUP BY 1)
           |SELECT pr.label AS true_label, pr.cl AS pred_label,
           |  CAST(count(*) AS BIGINT) AS n,
           |  CAST(count(*) * 1000 // tt.ntrue AS BIGINT) AS row_milli
           |FROM pr JOIN tt USING (label) GROUP BY 1, 2, tt.ntrue""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.types.DecimalType
      import org.apache.spark.sql.expressions.Window
      val xs = graft.recon.Checkpoints.cut(
        s.read.parquet(s"$d/embeddings.parquet")
          .select(col("vec_id"), col("label"),
            posexplode(col("embedding")).as(Seq("dim", "__x")))
          .select(col("vec_id"), col("label"), col("dim").cast("long").as("dim"),
            floor(col("__x").cast("double") * 1000000d)
              .cast(DecimalType(38, 0)).as("q")))
      val cent = graft.recon.Checkpoints.cut(
        xs.where(col("vec_id") % 2 === 0)
          .groupBy(col("label").as("cl"), col("dim"))
          .agg(sum(col("q")).as("c")))
      val cn = cent.groupBy(col("cl")).agg(sum(col("c") * col("c")).as("nc"))
      val te = graft.recon.Checkpoints.cut(xs.where(col("vec_id") % 2 === 1))
      val tn = te.groupBy(col("vec_id")).agg(sum(col("q") * col("q")).as("nt"))
      val dots = te.join(broadcast(cent), "dim")
        .groupBy(col("vec_id"), col("label"), col("cl"))
        .agg(sum(col("q") * col("c")).as("dot"))
      val sc = dots.join(tn, "vec_id").join(broadcast(cn), "cl")
        .select(col("vec_id"), col("label"), col("cl"),
          when(col("nt") === 0 || col("nc") === 0, lit(-2.0d))
            .otherwise(col("dot").cast("double") /
              (sqrt(col("nt").cast("double")) * sqrt(col("nc").cast("double"))))
            .as("score"))
      val pr = sc.withColumn("rn", row_number().over(
          Window.partitionBy(col("vec_id"))
            .orderBy(col("score").desc, col("cl"))))
        .where(col("rn") === 1)
      val tt = pr.groupBy(col("label")).agg(count(lit(1)).as("ntrue"))
      pr.join(broadcast(tt), "label")
        .groupBy(col("label").as("true_label"), col("cl").as("pred_label"),
          col("ntrue"))
        .agg(count(lit(1)).as("n"))
        .select(col("true_label"), col("pred_label"), col("n"),
          expr("(n * 1000) div ntrue").as("row_milli"))
    },

    // Lorenz curve of per-user event volume: users ranked ascending by
    // activity, split into rank deciles, each decile's exact share and
    // cumulative share of all events in milli units — the curve whose
    // sagging bottom half IS the skew the Gini scalar
    // (events_user_gini) summarizes. Ranks and the cumulative mass both
    // ride the distributed two-pass schemes, never a global window over
    // raw rows
    QuerySpec("events_lorenz_curve",
      raw"""WITH c AS (SELECT user_id, count(*) AS n FROM events GROUP BY 1),
           |t AS (SELECT count(*) AS nu, sum(n) AS tot FROM c),
           |r AS (SELECT n, row_number() OVER (ORDER BY n, user_id) AS i FROM c),
           |d AS (SELECT ((i - 1) * 10) // (SELECT nu FROM t) AS decile, n FROM r),
           |g AS (SELECT decile, count(*) AS n_users, sum(n) AS n_events
           |      FROM d GROUP BY 1)
           |SELECT CAST(decile AS BIGINT) AS decile,
           |  CAST(n_users AS BIGINT) AS n_users,
           |  CAST(n_events AS BIGINT) AS n_events,
           |  CAST(n_events * 1000 // t.tot AS BIGINT) AS share_milli,
           |  CAST(sum(n_events) OVER (ORDER BY decile ROWS UNBOUNDED PRECEDING)
           |    * 1000 // t.tot AS BIGINT) AS cum_share_milli
           |FROM g, t""".stripMargin) { (s, d) =>
      val counts = events(s, d).groupBy(col("user_id"))
        .agg(count(lit(1)).as("n"))
      val ranked = graft.recon.Sources.withRowIndexRanged(
        counts, "i", Seq(col("n"), col("user_id")))
      val nu = ranked.agg(count(lit(1)).as("nu"), sum(col("n")).as("tot"))
      val byDec = ranked.crossJoin(broadcast(nu))
        .select(expr("((i - 1) * 10) div nu").as("decile"), col("n"), col("tot"))
        .groupBy(col("decile"))
        .agg(count(lit(1)).as("n_users"), sum(col("n")).as("n_events"),
          max(col("tot")).as("tot"))
      graft.recon.Sources.withRunningSumRanged(byDec, "cum_events",
          col("n_events"), Seq(col("decile")))
        .select(col("decile"), col("n_users"), col("n_events"),
          expr("(n_events * 1000) div tot").as("share_milli"),
          expr("(cum_events * 1000) div tot").as("cum_share_milli"))
    },

    // vocabulary coverage curve: how many distinct tokens (ranked by
    // frequency) cover 50/90/95/99% of all token occurrences — the
    // vocab-sizing dashboard behind every tokenizer budget decision.
    // The cumulative mass rides the distributed two-pass prefix-sum
    // (Sources.withRunningSumRanged), never a single-partition global
    // window; a token is needed at level p iff the mass BEFORE it
    // hasn't reached p, so the answer is a count, not a rank lookup
    QuerySpec("vocab_coverage_curve",
      raw"""WITH tok AS (SELECT unnest(CASE WHEN length(trim(text)) = 0 THEN []
           |    ELSE string_split_regex(trim(lower(text)), '\s+') END) AS token
           |  FROM documents),
           |c AS (SELECT token, count(*) AS n FROM tok GROUP BY 1),
           |t AS (SELECT sum(n) AS tot, count(*) AS vocab FROM c),
           |r AS (SELECT n, sum(n) OVER (ORDER BY n DESC, token
           |        ROWS UNBOUNDED PRECEDING) AS cum FROM c),
           |th AS (SELECT CAST(unnest([500, 900, 950, 990]) AS BIGINT) AS p_milli)
           |SELECT th.p_milli, CAST(count(*) AS BIGINT) AS n_tokens_needed,
           |  CAST(max(t.vocab) AS BIGINT) AS vocab_size,
           |  CAST(max(t.tot) AS BIGINT) AS total_tokens
           |FROM th CROSS JOIN t
           |JOIN r ON (r.cum - r.n) * 1000 < th.p_milli * t.tot
           |GROUP BY 1""".stripMargin) { (s, d) =>
      val counts = docs(s, d)
        .select(explode(graft.ops.TextAnalysis.tokens(col("text"))).as("token"))
        .groupBy(col("token")).agg(count(lit(1)).as("n"))
      val tot = counts.agg(sum(col("n")).as("tot"), count(lit(1)).as("vocab"))
      val cum = graft.recon.Sources.withRunningSumRanged(
        counts, "cum", col("n"), Seq(col("n").desc, col("token")))
      val th = s.createDataset(Seq(500L, 900L, 950L, 990L))(
        org.apache.spark.sql.Encoders.scalaLong).toDF("p_milli")
      broadcast(th)
        .join(cum.crossJoin(broadcast(tot)),
          (col("cum") - col("n")) * 1000 < col("p_milli") * col("tot"))
        .groupBy(col("p_milli"))
        .agg(count(lit(1)).as("n_tokens_needed"),
          max(col("vocab")).as("vocab_size"),
          max(col("tot")).as("total_tokens"))
    },

    // dedup threshold cost curve: how many pairs and how many distinct
    // docs a near-dup pass at Jaccard >= t would touch, for t = 0.50 ..
    // 1.00 in 0.05 steps from ONE prefix-filtered pair pass — the chart
    // that picks the threshold before a corpus-wide deletion wave. The
    // 11-row threshold frame broadcasts onto the candidate-sized pair
    // set; exploding both pair ends makes n_pairs = count div 2 and
    // n_docs one exact count-distinct in the same aggregate
    QuerySpec("dedup_cost_curve",
      jaccardPairsCte(500) + raw""",
           |ex AS (SELECT jac_milli, unnest([id_a, id_b]) AS doc FROM pr),
           |th AS (SELECT CAST(unnest(range(10, 21)) * 50 AS BIGINT) AS t_milli)
           |SELECT th.t_milli, CAST(count(ex.doc) // 2 AS BIGINT) AS n_pairs,
           |  CAST(count(DISTINCT ex.doc) AS BIGINT) AS n_docs
           |FROM th LEFT JOIN ex ON ex.jac_milli >= th.t_milli
           |GROUP BY 1""".stripMargin) { (s, d) =>
      val pairs = graft.ops.SetSimilarity.jaccardPrefixJoin(
        docs(s, d), "text", "doc_id", shingleN = 3, tMilli = 500)
      val ex = pairs.select(col("jac_milli"),
        explode(array(col("id_a"), col("id_b"))).as("doc"))
      val th = s.range(10, 21).select((col("id") * 50).as("t_milli"))
      broadcast(th).join(ex, col("jac_milli") >= col("t_milli"), "left")
        .groupBy(col("t_milli"))
        .agg(expr("count(doc) div 2").as("n_pairs"),
          countDistinct(col("doc")).as("n_docs"))
    },

    // near-dup cross-contamination matrix: which SOURCES copy from
    // which — per unordered source pair, the exact-Jaccard near-dup
    // pair count and its share of all flagged pairs. Off-diagonal mass
    // means templated content flows between crawls (dedup must run
    // globally, not per-source); diagonal mass stays fixable per-source
    QuerySpec("dedup_source_matrix",
      jaccardPairsCte(800) + raw""",
           |ds AS (SELECT doc_id, source FROM documents),
           |px AS (SELECT least(a.source, b.source) AS source_lo,
           |         greatest(a.source, b.source) AS source_hi
           |       FROM pr JOIN ds a ON a.doc_id = pr.id_a
           |               JOIN ds b ON b.doc_id = pr.id_b),
           |t AS (SELECT count(*) AS tot FROM px)
           |SELECT source_lo, source_hi, CAST(count(*) AS BIGINT) AS n_pairs,
           |  CAST(count(*) * 1000 // t.tot AS BIGINT) AS share_milli
           |FROM px, t GROUP BY 1, 2, t.tot""".stripMargin) { (s, d) =>
      val pairs = graft.ops.SetSimilarity.jaccardPrefixJoin(
        docs(s, d), "text", "doc_id", shingleN = 3, tMilli = 800)
      val src = docs(s, d).select(col("doc_id"), col("source"))
      val px = pairs
        .join(src.select(col("doc_id").as("id_a"), col("source").as("sa")), "id_a")
        .join(src.select(col("doc_id").as("id_b"), col("source").as("sb")), "id_b")
        .select(least(col("sa"), col("sb")).as("source_lo"),
          greatest(col("sa"), col("sb")).as("source_hi"))
      val tot = px.agg(count(lit(1)).as("tot"))
      px.groupBy(col("source_lo"), col("source_hi"))
        .agg(count(lit(1)).as("n_pairs"))
        .crossJoin(broadcast(tot))
        .select(col("source_lo"), col("source_hi"), col("n_pairs"),
          expr("(n_pairs * 1000) div tot").as("share_milli"))
    },

    // time-decayed user value: per-user spend with week-grain
    // half-life-one-week decay anchored at the corpus's newest day.
    // Weights are the exact powers of two 16/8/4/2/1 (floor 1 past four
    // weeks), so the decayed sum is an exact integer at scale 16 —
    // recency_milli = 1000 means all spend this week, 62 means all of
    // it four-plus weeks stale. The recency-weighted-LTV feature every
    // churn model starts from, with no float in sight
    QuerySpec("events_decayed_value",
      raw"""WITH e AS (SELECT user_id,
           |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
           |    epoch_ms(ts) // 86400000 AS day FROM events),
           |m AS (SELECT max(day) AS mxd FROM e),
           |w AS (SELECT user_id, cents,
           |    CASE greatest(0, least(4, (mxd - day) // 7))
           |      WHEN 0 THEN 16 WHEN 1 THEN 8 WHEN 2 THEN 4 WHEN 3 THEN 2
           |      ELSE 1 END AS w FROM e, m)
           |SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
           |  CAST(sum(cents) AS BIGINT) AS raw_cents,
           |  CAST(sum(cents * w) AS BIGINT) AS decayed_cents_x16,
           |  CAST(CASE WHEN sum(cents) = 0 THEN 0
           |    ELSE sum(cents * w) * 1000 // (sum(cents) * 16) END AS BIGINT)
           |    AS recency_milli
           |FROM w GROUP BY 1""".stripMargin) { (s, d) =>
      val ev = events(s, d).select(col("user_id"),
        expr("cast(cast(value as decimal(18,2)) * 100 as bigint)").as("cents"),
        expr("unix_millis(ts) div 86400000").as("day"))
      val mx = ev.agg(max(col("day")).as("mxd"))
      ev.crossJoin(broadcast(mx))
        .withColumn("w",
          expr("""case greatest(0L, least(4L, (mxd - day) div 7))
                 |  when 0 then 16L when 1 then 8L when 2 then 4L
                 |  when 3 then 2L else 1L end""".stripMargin))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_events"), sum(col("cents")).as("raw_cents"),
          sum(col("cents") * col("w")).as("decayed_cents_x16"))
        .select(col("user_id"), col("n_events"), col("raw_cents"),
          col("decayed_cents_x16"),
          expr("""cast(case when raw_cents = 0 then 0
                 |  else (decayed_cents_x16 * 1000) div (raw_cents * 16)
                 |  end as bigint)""".stripMargin).as("recency_milli"))
    },

    // Merkle drill-down over the recon_anti_entropy scenario: 16 coarse
    // × 16 fine buckets; the coarse level is DERIVED from the fine
    // digest table (parent digest = sum of child digests — one extra
    // bucket-sized aggregation, not a second scan), coarse digests are
    // compared first, and only fine buckets under divergent parents are
    // exchanged — O(coarse + divergence) rows on the wire where a flat
    // compare ships every bucket. Output: the divergent fine buckets
    QuerySpec("recon_merkle_localize", {
      def enc(e: String) =
        s"(CASE WHEN $e IS NULL THEN 'N' ELSE 'V' || CAST(length($e) AS VARCHAR) || ':' || $e END)"
      val keyCanon = enc("CAST(o_orderkey AS VARCHAR)")
      val rowCanon = s"${enc("CAST(o_orderkey AS VARCHAR)")} || ${enc("o_orderstatus")} || ${enc("o_orderpriority")}"
      def h60(e: String) = s"('0x' || substr(md5($e), 1, 15))::BIGINT"
      def fineCte(src: String, name: String) =
        s"""$name AS (SELECT ${h60(keyCanon)} % 256 AS fine,
           |         count(*) AS n_rows,
           |         sum(CAST(${h60(rowCanon)} AS DECIMAL(38,0))) AS digest
           |       FROM $src GROUP BY 1)""".stripMargin
      raw"""WITH a0 AS (SELECT o_orderkey, o_orderstatus, o_orderpriority FROM orders),
           |b0 AS (SELECT o_orderkey, o_orderstatus,
           |         CASE WHEN o_orderkey % 89 = 0 THEN '9-CORRUPT'
           |              ELSE o_orderpriority END AS o_orderpriority
           |       FROM orders WHERE o_orderkey % 97 <> 0),
           |${fineCte("a0", "fa")},
           |${fineCte("b0", "fb")},
           |ca AS (SELECT fine // 16 AS coarse, sum(n_rows) AS n_rows,
           |         sum(digest) AS digest FROM fa GROUP BY 1),
           |cb AS (SELECT fine // 16 AS coarse, sum(n_rows) AS n_rows,
           |         sum(digest) AS digest FROM fb GROUP BY 1),
           |divc AS (SELECT COALESCE(ca.coarse, cb.coarse) AS coarse
           |         FROM ca FULL OUTER JOIN cb ON ca.coarse = cb.coarse
           |         WHERE ca.coarse IS NULL OR cb.coarse IS NULL
           |            OR ca.digest <> cb.digest OR ca.n_rows <> cb.n_rows),
           |ra AS (SELECT fine // 16 AS coarse, fine, n_rows, digest FROM fa
           |       WHERE fine // 16 IN (SELECT coarse FROM divc)),
           |rb AS (SELECT fine // 16 AS coarse, fine, n_rows, digest FROM fb
           |       WHERE fine // 16 IN (SELECT coarse FROM divc))
           |SELECT COALESCE(ra.coarse, rb.coarse) AS coarse,
           |  COALESCE(ra.fine, rb.fine) AS fine,
           |  CAST(ra.n_rows AS BIGINT) AS n_a, CAST(rb.n_rows AS BIGINT) AS n_b,
           |  CASE WHEN ra.fine IS NULL THEN 'missing_a'
           |       WHEN rb.fine IS NULL THEN 'missing_b'
           |       WHEN ra.digest <> rb.digest OR ra.n_rows <> rb.n_rows
           |         THEN 'mismatch' END AS status
           |FROM ra FULL OUTER JOIN rb ON ra.fine = rb.fine
           |WHERE ra.fine IS NULL OR rb.fine IS NULL
           |   OR ra.digest <> rb.digest OR ra.n_rows <> rb.n_rows""".stripMargin
    }) { (s, d) =>
      val base = s.read.parquet(s"$d/orders.parquet")
        .select("o_orderkey", "o_orderstatus", "o_orderpriority")
      val replica = base.where(col("o_orderkey") % 97 =!= 0)
        .withColumn("o_orderpriority",
          when(col("o_orderkey") % 89 === 0, lit("9-CORRUPT"))
            .otherwise(col("o_orderpriority")))
      graft.ops.AntiEntropy.localizeTwoLevel(base, replica, Seq("o_orderkey"),
        Seq("o_orderkey", "o_orderstatus", "o_orderpriority"),
        nCoarse = 16, nFine = 16)
    },

    // LSH banding planner evaluated on the corpus's OWN near-dup
    // population: for each way of splitting a 16-slot MinHash signature
    // into (bands × rows), the expected number of the true Jaccard ≥
    // 0.5 pairs (from the exact prefix-filter join) the banding would
    // catch — Σ over pairs of the S-curve 1−(1−s^r)^b in exact
    // fixed-point milli (unrolled floor-multiplies, no pow). ONE pass
    // over the pair set computes all four configs' sums; the chart
    // picks the banding before anyone reshards a 100 TB signature table
    QuerySpec("dedup_lsh_planner", {
      def curve(r: Int, b: Int) =
        graft.ops.SetSimilarity.sCurveDetectMilliSql("jac_milli", r, b)
      jaccardPairsCte(500) + raw""",
           |agg AS (SELECT count(*) AS np,
           |          sum(${curve(2, 8)}) AS s1, sum(${curve(4, 4)}) AS s2,
           |          sum(${curve(8, 2)}) AS s3, sum(${curve(16, 1)}) AS s4
           |        FROM pr)
           |SELECT CAST(c.r AS BIGINT) AS rows_per_band,
           |  CAST(c.b AS BIGINT) AS bands,
           |  CAST(np AS BIGINT) AS n_pairs,
           |  CAST(CASE c.i WHEN 1 THEN s1 WHEN 2 THEN s2 WHEN 3 THEN s3
           |       ELSE s4 END AS BIGINT) AS detect_sum_milli,
           |  CAST((CASE c.i WHEN 1 THEN s1 WHEN 2 THEN s2 WHEN 3 THEN s3
           |       ELSE s4 END) // NULLIF(np, 0) AS BIGINT) AS detect_mean_milli
           |FROM agg CROSS JOIN (VALUES (1, 2, 8), (2, 4, 4), (3, 8, 2),
           |  (4, 16, 1)) AS c(i, r, b)""".stripMargin
    }) { (s, d) =>
      import graft.ops.SetSimilarity
      val pairs = SetSimilarity.jaccardPrefixJoin(
        docs(s, d), "text", "doc_id", shingleN = 3, tMilli = 500)
      val agg = pairs.agg(count(lit(1)).as("np"),
        sum(SetSimilarity.sCurveDetectMilli(col("jac_milli"), 2, 8)).as("s1"),
        sum(SetSimilarity.sCurveDetectMilli(col("jac_milli"), 4, 4)).as("s2"),
        sum(SetSimilarity.sCurveDetectMilli(col("jac_milli"), 8, 2)).as("s3"),
        sum(SetSimilarity.sCurveDetectMilli(col("jac_milli"), 16, 1)).as("s4"))
      agg.selectExpr("np",
          "stack(4, 2L, 8L, s1, 4L, 4L, s2, 8L, 2L, s3, 16L, 1L, s4) " +
            "as (rows_per_band, bands, detect_sum_milli)")
        .select(col("rows_per_band"), col("bands"), col("np").as("n_pairs"),
          col("detect_sum_milli"),
          when(col("np") === 0L, lit(null).cast("long"))
            .otherwise(expr("detect_sum_milli div np")).as("detect_mean_milli"))
    },

    // behavioral near-duplicate users — the bot/replay-fraud screen: a
    // user's event stream rendered as a (type@hour-of-day) token
    // sequence, users paired when their trigram fingerprints overlap
    // >= 0.9 Jaccard through the same prefix-filter join the document
    // dedup uses. The scenario plants replay accounts (every 29th user
    // cloned one week later under a new id — hour-of-day survives a
    // whole-day shift, ids and days all differ); organic pairs top out
    // at 15 milli on this corpus, so the screen must recover exactly
    // the plants. The (type, hour) alphabet is ~120 symbols, keeping
    // trigram sets discriminative where raw type trigrams (5 symbols)
    // would saturate
    QuerySpec("events_behavior_neardup",
      raw"""WITH ev AS (SELECT user_id, ts, event_id, event_type FROM events
           |      UNION ALL
           |      SELECT user_id + 1000, ts + INTERVAL 7 DAY,
           |        event_id + 10000000, event_type
           |      FROM events WHERE user_id % 29 = 0),
           |u AS (SELECT user_id AS doc_id,
           |        string_agg(event_type || '@' ||
           |          CAST(epoch_ms(ts) // 3600000 % 24 AS VARCHAR), ' '
           |          ORDER BY ts, event_id) AS text
           |      FROM ev GROUP BY 1),
           |tt AS (SELECT doc_id, CASE WHEN length(trim(text)) = 0 THEN []
           |         ELSE string_split_regex(trim(lower(text)), '\s+') END AS t FROM u),
           |sh AS (SELECT DISTINCT doc_id AS doc, unnest(CASE WHEN len(t) < 3 THEN []
           |         ELSE [array_to_string(t[i:i+2], ' ') FOR i IN range(1, len(t) - 1)] END) AS tok
           |       FROM tt),
           |sz AS (SELECT doc, count(*) AS n FROM sh GROUP BY 1),
           |dfq AS (SELECT tok, count(*) AS df FROM sh GROUP BY 1),
           |rk AS (SELECT s.doc, s.tok,
           |         row_number() OVER (PARTITION BY s.doc ORDER BY d.df, s.tok) AS r, z.n
           |       FROM sh s JOIN dfq d USING (tok) JOIN sz z USING (doc)),
           |pf AS (SELECT doc, tok FROM rk WHERE r <= n - ((900 * n + 999) // 1000) + 1),
           |cand AS (SELECT DISTINCT a.doc AS id_a, b.doc AS id_b
           |         FROM pf a JOIN pf b ON a.tok = b.tok AND a.doc < b.doc),
           |i AS (SELECT c.id_a, c.id_b, count(*) AS inter
           |      FROM cand c JOIN sh sa ON sa.doc = c.id_a
           |                  JOIN sh sb ON sb.doc = c.id_b AND sb.tok = sa.tok
           |      GROUP BY 1, 2)
           |SELECT i.id_a, i.id_b, i.inter, za.n + zb.n - i.inter AS uni,
           |  CAST((i.inter * 1000) // (za.n + zb.n - i.inter) AS BIGINT) AS jac_milli
           |FROM i JOIN sz za ON za.doc = i.id_a JOIN sz zb ON zb.doc = i.id_b
           |WHERE i.inter * 1000 >= (za.n + zb.n - i.inter) * 900""".stripMargin) { (s, d) =>
      val base = events(s, d)
        .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      val clones = base.where(col("user_id") % 29 === 0)
        .select((col("user_id") + 1000L).as("user_id"),
          expr("ts + INTERVAL 7 DAYS").as("ts"),
          (col("event_id") + 10000000L).as("event_id"), col("event_type"))
      val seqs = base.unionByName(clones)
        .select(col("user_id"), struct(col("ts"), col("event_id"),
          concat(col("event_type"), lit("@"),
            expr("unix_millis(ts) div 3600000 % 24").cast("string")).as("tok"))
          .as("ev"))
        .groupBy(col("user_id"))
        .agg(array_join(transform(array_sort(collect_list(col("ev"))),
          x => x.getField("tok")), " ").as("text"))
      graft.ops.SetSimilarity.jaccardPrefixJoin(
        seqs, "text", "user_id", shingleN = 3, tMilli = 900)
    },

    // k-anonymity GENERALIZATION ladder (Mondrian-style rung audit,
    // Sweeney 2002): for each coarsening of the quasi-identifier tuple
    // (nation, segment, account-balance band), the group count,
    // smallest group size, and rows living in groups under k = 10;
    // chosen = first rung that clears k >= 10 everywhere (fallback:
    // the coarsest). The decision table a release pipeline consults
    // BEFORE publishing — each rung is one aggregate, the pick rides a
    // broadcast. Balance bands floor-divide NEGATIVE balances via
    // floor(x/c) doubles so both engines agree (truncating div would
    // diverge below zero)
    QuerySpec("privacy_generalization_ladder",
      raw"""WITH c AS (SELECT c_nationkey AS nat, c_mktsegment AS seg,
           |    CAST(floor(c_acctbal * 100) AS BIGINT) AS cents FROM customer),
           |r0 AS (SELECT count(*) AS k FROM c
           |       GROUP BY nat, seg, CAST(floor(cents / 100000.0) AS BIGINT)),
           |r1 AS (SELECT count(*) AS k FROM c
           |       GROUP BY nat, seg, CAST(floor(cents / 500000.0) AS BIGINT)),
           |r2 AS (SELECT count(*) AS k FROM c GROUP BY nat, seg),
           |r3 AS (SELECT count(*) AS k FROM c GROUP BY seg),
           |m AS (SELECT 0 AS rung, count(*) AS n_groups, min(k) AS k_min,
           |        sum(CASE WHEN k < 10 THEN k ELSE 0 END) AS n_at_risk FROM r0
           |      UNION ALL SELECT 1, count(*), min(k),
           |        sum(CASE WHEN k < 10 THEN k ELSE 0 END) FROM r1
           |      UNION ALL SELECT 2, count(*), min(k),
           |        sum(CASE WHEN k < 10 THEN k ELSE 0 END) FROM r2
           |      UNION ALL SELECT 3, count(*), min(k),
           |        sum(CASE WHEN k < 10 THEN k ELSE 0 END) FROM r3),
           |pick AS (SELECT COALESCE(min(CASE WHEN k_min >= 10 THEN rung END), 3)
           |           AS chosen_rung FROM m)
           |SELECT CAST(m.rung AS BIGINT) AS rung,
           |  CAST(m.n_groups AS BIGINT) AS n_groups,
           |  CAST(m.k_min AS BIGINT) AS k_min,
           |  CAST(m.n_at_risk AS BIGINT) AS n_at_risk,
           |  CAST(CASE WHEN m.rung = pick.chosen_rung THEN 1 ELSE 0 END AS BIGINT)
           |    AS chosen
           |FROM m CROSS JOIN pick""".stripMargin) { (s, d) =>
      val c = s.read.parquet(s"$d/customer.parquet")
        .select(col("c_nationkey").as("nat"), col("c_mktsegment").as("seg"),
          floor(col("c_acctbal") * 100).cast("long").as("cents"))
      def rung(i: Long, cols: Seq[org.apache.spark.sql.Column]) =
        c.groupBy(cols: _*).agg(count(lit(1)).as("k"))
          .agg(count(lit(1)).as("n_groups"), min(col("k")).as("k_min"),
            sum(when(col("k") < 10, col("k")).otherwise(0L)).as("n_at_risk"))
          .select(lit(i).as("rung"), col("n_groups"), col("k_min"),
            col("n_at_risk"))
      val m = Seq(
          rung(0L, Seq(col("nat"), col("seg"),
            floor(col("cents") / lit(100000.0d)).cast("long"))),
          rung(1L, Seq(col("nat"), col("seg"),
            floor(col("cents") / lit(500000.0d)).cast("long"))),
          rung(2L, Seq(col("nat"), col("seg"))),
          rung(3L, Seq(col("seg"))))
        .reduce(_ unionByName _)
      val pick = m.agg(coalesce(
        min(when(col("k_min") >= 10, col("rung"))), lit(3L)).as("chosen_rung"))
      m.crossJoin(broadcast(pick))
        .select(col("rung"), col("n_groups"), col("k_min"), col("n_at_risk"),
          when(col("rung") === col("chosen_rung"), 1L).otherwise(0L).as("chosen"))
    },

    // quality_join_blowup's SKETCH twin: the same self-join cardinality
    // F2 = Σ n² estimated from the CMS inner product (AMS sketches;
    // Cormode & Muthukrishnan 2005 §4.2) — min over hash rows of
    // Σ_bucket cnt², a guaranteed OVER-estimate that needs only
    // d·w = 1024 counters where the exact answer needs the full
    // key-frequency table. At 100 TB the two join sides exchange
    // kilobytes and the planner decides broadcast/salt/walk-away
    // without scanning either table at decision time; the exact Σ n²
    // here prices the estimate's slack (over_milli ≥ 1000 always)
    // the near-dup class symmetric Jaccard structurally MISSES: pairs
    // where the smaller document is >= 80% contained in the other
    // (quotes, excerpt pages, header-wrapped copies). Prefix-filter on
    // the rarest shingles of the would-be-contained side against the
    // FULL shingle table — the asymmetric score can't prune the
    // container side, but the prefix is rare-by-construction so the
    // candidate join stays sparse. jac_milli rides along: rows with
    // high containment and low Jaccard are exactly the ones a
    // Jaccard-gated dedup wave would keep
    QuerySpec("dedup_containment_pairs",
      raw"""WITH tt AS (SELECT doc_id, CASE WHEN length(trim(text)) = 0 THEN []
           |              ELSE string_split_regex(trim(lower(text)), '\s+') END AS t FROM documents),
           |sh AS (SELECT DISTINCT doc_id AS doc, unnest(CASE WHEN len(t) < 3 THEN []
           |         ELSE [array_to_string(t[i:i+2], ' ') FOR i IN range(1, len(t) - 1)] END) AS tok
           |       FROM tt),
           |sz AS (SELECT doc, count(*) AS n FROM sh GROUP BY 1),
           |dfq AS (SELECT tok, count(*) AS df FROM sh GROUP BY 1),
           |rk AS (SELECT s.doc, s.tok,
           |         row_number() OVER (PARTITION BY s.doc ORDER BY d.df, s.tok) AS r, z.n
           |       FROM sh s JOIN dfq d USING (tok) JOIN sz z USING (doc)),
           |pf AS (SELECT doc, tok FROM rk WHERE r <= n - ((800 * n + 999) // 1000) + 1),
           |cand AS (SELECT DISTINCT least(a.doc, b.doc) AS id_a,
           |           greatest(a.doc, b.doc) AS id_b
           |         FROM pf a JOIN sh b ON a.tok = b.tok AND a.doc <> b.doc),
           |i AS (SELECT c.id_a, c.id_b, count(*) AS inter
           |      FROM cand c JOIN sh sa ON sa.doc = c.id_a
           |                  JOIN sh sb ON sb.doc = c.id_b AND sb.tok = sa.tok
           |      GROUP BY 1, 2)
           |SELECT i.id_a, i.id_b, i.inter,
           |  least(za.n, zb.n) AS n_small,
           |  CAST((i.inter * 1000) // least(za.n, zb.n) AS BIGINT) AS cont_milli,
           |  CAST((i.inter * 1000) // (za.n + zb.n - i.inter) AS BIGINT) AS jac_milli
           |FROM i JOIN sz za ON za.doc = i.id_a JOIN sz zb ON zb.doc = i.id_b
           |WHERE i.inter * 1000 >= least(za.n, zb.n) * 800""".stripMargin) { (s, d) =>
      graft.ops.SetSimilarity.containmentPrefixJoin(
        docs(s, d), "text", "doc_id", shingleN = 3, tMilli = 800)
    },

    QuerySpec("quality_join_size_sketch", {
      def h60(e: String) = s"('0x' || substr(md5($e), 1, 15))::BIGINT"
      raw"""WITH k AS (SELECT CAST(l_partkey AS VARCHAR) AS v FROM lineitem),
           |c AS (SELECT v, count(*) AS n FROM k GROUP BY 1),
           |ex AS (SELECT sum(CAST(n AS HUGEINT) * n) AS f2 FROM c),
           |sk AS (SELECT t.r AS r,
           |         ${h60("CAST(t.r AS VARCHAR) || ':' || v")} % 256 AS bucket,
           |         count(*) AS cnt
           |       FROM k CROSS JOIN range(0, 4) t(r) GROUP BY 1, 2),
           |dot AS (SELECT r, sum(CAST(cnt AS HUGEINT) * cnt) AS dot
           |        FROM sk GROUP BY 1),
           |est AS (SELECT min(dot) AS est FROM dot)
           |SELECT CAST(ex.f2 AS BIGINT) AS exact_f2,
           |  CAST(est.est AS BIGINT) AS est_f2,
           |  CAST(est.est * 1000 // ex.f2 AS BIGINT) AS over_milli
           |FROM ex CROSS JOIN est""".stripMargin
    }) { (s, d) =>
      import graft.ops.Sketches
      val keys = lineitem(s, d).select(col("l_partkey").cast("string").as("v"))
      val exact = keys.groupBy(col("v")).agg(count(lit(1)).as("n"))
        .agg(sum((col("n") * col("n"))
          .cast(org.apache.spark.sql.types.DecimalType(38, 0))).as("f2"))
      val sketch = Sketches.cmsSketch(keys, col("v"), d = 4, w = 256)
      exact.crossJoin(Sketches.cmsJoinSizeEstimate(sketch, sketch))
        .select(col("f2").cast("long").as("exact_f2"),
          col("est").cast("long").as("est_f2"),
          expr("cast((est * 1000) div f2 as bigint)").as("over_milli"))
    })
}
