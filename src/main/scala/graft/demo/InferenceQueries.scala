package graft.demo

import org.apache.spark.sql.functions._
import graft.QuerySpec

/**
 * Round-11 statistical-inference queries: uncertainty quantification
 * (distributed bootstrap) and graph link prediction. Same contract as
 * [[OpsQueries]]: every entry pairs the Spark implementation with its
 * exact DuckDB mirror — identical integer arithmetic and identical
 * hash-derived randomness in both engines.
 */
object InferenceQueries {

  /** Shared DuckDB mirror of the deterministic walk table
    * ([[graft.ops.Graph.randomWalks]] over the co-order part graph,
    * nWalks=2, len=3) — ends in a `walks(start, walk, step, node)` CTE
    * that graph_random_walks and graph_walk_contexts both read. */
  private val WalksCtes: String = {
    def h60(e: String) = s"('0x' || substr(md5($e), 1, 15))::BIGINT"
    def step(prev: String, name: String, st: Int) = {
      val hs = h60(s"CAST(s.start AS VARCHAR) || ':' || CAST(s.walk AS VARCHAR)" +
        s" || ':$st:' || CAST(s.node AS VARCHAR)")
      s"""$name AS (SELECT s.start, s.walk, nb.dst AS node, $st AS step
         |  FROM $prev s JOIN dg ON dg.src = s.node
         |  JOIN nb ON nb.src = s.node AND nb.rnk = $hs % dg.deg)""".stripMargin
    }
    raw"""WITH e AS (SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
         |      FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
         |       AND a.l_partkey <> b.l_partkey),
         |nb AS (SELECT src, dst,
         |         row_number() OVER (PARTITION BY src ORDER BY dst) - 1 AS rnk
         |       FROM e),
         |dg AS (SELECT src, count(*) AS deg FROM nb GROUP BY 1),
         |nodes AS (SELECT DISTINCT node FROM
         |            (SELECT src AS node FROM e UNION ALL SELECT dst FROM e)),
         |s0 AS (SELECT node AS start, w.walk, node, 0 AS step FROM nodes
         |       CROSS JOIN (SELECT unnest(range(0, 2)) AS walk) w),
         |${step("s0", "s1", 1)},
         |${step("s1", "s2", 2)},
         |${step("s2", "s3", 3)},
         |walks AS (SELECT start, walk, step, node
         |          FROM (SELECT * FROM s0 UNION ALL SELECT * FROM s1
         |                UNION ALL SELECT * FROM s2 UNION ALL SELECT * FROM s3))""".stripMargin
  }

  val all: Seq[QuerySpec] = Seq(

    // how sure are we about each event type's mean purchase value? 48
    // deterministic Poisson-bootstrap replicates (Chamandy et al. 2012),
    // CI = 3rd/46th order statistics of the replicate milli-cent means
    // (~90% interval). One data pass; the row×48 expansion collapses
    // map-side to |event_type|·48 partial sums before the shuffle —
    // the same plan shape at 100 TB. Weights come from md5(event_id:b)
    // through the Poisson(1) CDF at exact 2^60-scaled thresholds, so
    // both engines draw the identical "random" weights
    QuerySpec("events_bootstrap_ci",
      raw"""WITH r AS (SELECT event_type, CAST(floor(value * 100) AS BIGINT) AS cents,
           |             event_id::VARCHAR AS k FROM events),
           |rep AS (SELECT event_type, cents, bb.b,
           |          ('0x' || substr(md5(k || ':' || bb.b::VARCHAR), 1, 15))::BIGINT AS h
           |        FROM r CROSS JOIN (SELECT unnest(range(0, 48)) AS b) bb),
           |ww AS (SELECT event_type, b, cents,
           |         CASE WHEN h < 424136118829305329 THEN 0
           |              WHEN h < 848272237658610659 THEN 1
           |              WHEN h < 1060340297073263324 THEN 2
           |              WHEN h < 1131029650211480879 THEN 3
           |              WHEN h < 1148701988496035267 THEN 4
           |              WHEN h < 1152236456152946145 THEN 5
           |              WHEN h < 1152825534095764625 THEN 6
           |              ELSE 7 END AS w
           |       FROM rep),
           |agg AS (SELECT event_type, b, sum(w * cents) AS s, sum(w) AS n
           |        FROM ww GROUP BY 1, 2),
           |m AS (SELECT event_type, b,
           |        CAST(CASE WHEN n > 0 THEN (1000 * s) // n END AS BIGINT) AS mean_mc
           |      FROM agg),
           |rk AS (SELECT *, row_number() OVER (PARTITION BY event_type
           |         ORDER BY mean_mc ASC NULLS FIRST, b) AS rn FROM m),
           |ci AS (SELECT event_type,
           |         min(CASE WHEN rn = 3 THEN mean_mc END) AS ci_lo_mc,
           |         max(CASE WHEN rn = 46 THEN mean_mc END) AS ci_hi_mc
           |       FROM rk WHERE rn IN (3, 46) GROUP BY 1),
           |pt AS (SELECT event_type, count(*) AS n_rows,
           |         CAST((1000 * sum(cents)) // count(*) AS BIGINT) AS mean_mc
           |       FROM r GROUP BY 1)
           |SELECT pt.event_type, pt.n_rows, pt.mean_mc, ci.ci_lo_mc, ci.ci_hi_mc
           |FROM pt JOIN ci USING (event_type)""".stripMargin) { (s, d) =>
      graft.ops.Bootstrap.meanCi(OpsQueries.events(s, d),
        col("event_type"), floor(col("value") * 100).cast("long"),
        col("event_id"), nBoot = 48, loRank = 3, hiRank = 46)
        .withColumnRenamed("stratum", "event_type")
    },

    // which parts SHOULD co-occur but never have? Resource-allocation
    // link prediction (Zhou/Lü/Zhang 2009) over the co-order graph of a
    // part subpopulation (partkey % 20 — the filter reaches the scan,
    // and keeping the subpopulation sparse keeps wedge volume ~deg²·|z|
    // tiny at any scale; the hub-center cap in Graph.linkPrediction is
    // the skew guard for denser graphs). cn >= 2 keeps the confident
    // candidates; scores are exact milli integers
    QuerySpec("graph_link_prediction",
      raw"""WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
           |            WHERE l_partkey % 20 = 0),
           |e AS (SELECT a.l_partkey AS src, b.l_partkey AS dst
           |      FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
           |       AND a.l_partkey <> b.l_partkey
           |      GROUP BY 1, 2),
           |dg AS (SELECT src AS z, count(*) AS deg FROM e GROUP BY 1
           |       HAVING count(*) <= 1000),
           |w AS (SELECT za.dst AS a, zb.dst AS b, d.deg
           |      FROM e za JOIN e zb ON za.src = zb.src AND za.dst < zb.dst
           |      JOIN dg d ON d.z = za.src),
           |sc AS (SELECT a, b, count(*) AS cn, sum(1000 // deg) AS ra_milli
           |       FROM w GROUP BY 1, 2),
           |pr AS (SELECT sc.* FROM sc LEFT JOIN e ON e.src = sc.a AND e.dst = sc.b
           |       WHERE e.src IS NULL)
           |SELECT a AS node_a, b AS node_b, CAST(cn AS BIGINT) AS cn,
           |  CAST(ra_milli AS BIGINT) AS ra_milli
           |FROM pr WHERE cn >= 2""".stripMargin) { (s, d) =>
      val li = s.read.parquet(s"$d/lineitem.parquet")
        .where(col("l_partkey") % 20 === 0)
      val edges = graft.ops.Graph.coOccurrenceEdges(li, "l_orderkey", "l_partkey")
      graft.ops.Graph.linkPrediction(edges).where(col("cn") >= 2)
    },

    // tenant-constrained vector search, PRE-filter form: the label
    // constraint rides the broadcast join itself, so each query gets
    // its exact top-5 within its slice and off-slice vectors are never
    // scored. The float dot is the shared bit-exact kernel
    QuerySpec("sim_filtered_topk",
      raw"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv, label AS ql
           |           FROM embeddings WHERE vec_id % 100 = 0),
           |scored AS (SELECT query_id, e.vec_id AS neighbor_id,
           |             list_dot_product(qv, e.embedding) AS score
           |           FROM q JOIN embeddings e
           |             ON e.label = ql AND e.vec_id <> query_id)
           |SELECT query_id, neighbor_id, score, rank FROM (
           |  SELECT *, row_number() OVER (PARTITION BY query_id
           |    ORDER BY score DESC, neighbor_id) AS rank FROM scored)
           |WHERE rank <= 5""".stripMargin) { (s, d) =>
      val e = s.read.parquet(s"$d/embeddings.parquet")
      graft.ops.Similarity.filteredTopK(e, e.where(col("vec_id") % 100 === 0),
        "vec_id", "embedding", "label", k = 5)
    },

    // what POST-filtering costs at ~10% selectivity: unfiltered top-20
    // then keep same-label survivors vs the true filtered top-5. With
    // m=20 and slice fraction ~0.1 a query keeps ~2 survivors — the
    // measured recall gap IS the argument for predicate-aware indexes
    // (or m ≥ k/selectivity) at 100 TB
    QuerySpec("sim_filtered_recall",
      raw"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv, label AS ql
           |           FROM embeddings WHERE vec_id % 100 = 0),
           |fsc AS (SELECT query_id, e.vec_id AS neighbor_id,
           |          list_dot_product(qv, e.embedding) AS score
           |        FROM q JOIN embeddings e
           |          ON e.label = ql AND e.vec_id <> query_id),
           |truth AS (SELECT query_id, neighbor_id FROM (
           |    SELECT *, row_number() OVER (PARTITION BY query_id
           |      ORDER BY score DESC, neighbor_id) AS r FROM fsc) WHERE r <= 5),
           |un AS (SELECT query_id, e.vec_id AS neighbor_id,
           |         list_dot_product(qv, e.embedding) AS score
           |       FROM q JOIN embeddings e ON e.vec_id <> query_id),
           |topm AS (SELECT query_id, neighbor_id, score FROM (
           |    SELECT *, row_number() OVER (PARTITION BY query_id
           |      ORDER BY score DESC, neighbor_id) AS r FROM un) WHERE r <= 20),
           |pf AS (SELECT query_id, neighbor_id FROM (
           |    SELECT t.query_id, t.neighbor_id,
           |      row_number() OVER (PARTITION BY t.query_id
           |        ORDER BY t.score DESC, t.neighbor_id) AS r2
           |    FROM topm t JOIN embeddings e ON e.vec_id = t.neighbor_id
           |    JOIN q ON q.query_id = t.query_id AND e.label = q.ql)
           |  WHERE r2 <= 5),
           |nf AS (SELECT query_id, count(*) AS n_found FROM pf GROUP BY 1)
           |SELECT t.query_id, count(*) AS k,
           |  CAST(COALESCE(any_value(nf.n_found), 0) AS BIGINT) AS n_found,
           |  CAST(sum(CASE WHEN p.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
           |  CAST(sum(CASE WHEN p.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
           |    / CAST(count(*) AS DOUBLE) AS recall
           |FROM truth t
           |LEFT JOIN pf p ON p.query_id = t.query_id AND p.neighbor_id = t.neighbor_id
           |LEFT JOIN nf ON nf.query_id = t.query_id
           |GROUP BY 1""".stripMargin) { (s, d) =>
      import graft.ops.Similarity
      val e = s.read.parquet(s"$d/embeddings.parquet")
      val qs = e.where(col("vec_id") % 100 === 0)
      val truth = Similarity.filteredTopK(e, qs, "vec_id", "embedding", "label", k = 5)
        .select(col("query_id"), col("neighbor_id"))
      val post = Similarity.postFilterTopK(e, qs, "vec_id", "embedding", "label",
        m = 20, k = 5)
        .select(col("query_id"), col("neighbor_id"), lit(1).as("__hit"))
      val nFound = post.groupBy(col("query_id"))
        .agg(count(lit(1)).as("__nf"))
      truth.join(post, Seq("query_id", "neighbor_id"), "left")
        .join(nFound, Seq("query_id"), "left")
        .groupBy(col("query_id"))
        .agg(count(lit(1)).as("k"),
          coalesce(first(col("__nf")), lit(0L)).cast("long").as("n_found"),
          sum(when(col("__hit").isNotNull, 1L).otherwise(0L)).as("n_hit"))
        .withColumn("recall",
          col("n_hit").cast("double") / col("k").cast("double"))
    },

    // autocorrelation of the hourly value series at lags 1-3 h — the
    // "does this metric have memory / seasonality" number behind
    // forecast and anomaly baselines. Lagged pairs come from an
    // EQUI-join on t+lag (never an ordered global window), moments are
    // exact DECIMAL(38,0), and the only floating step is the one
    // fixed-shape Pearson expression both engines evaluate identically
    QuerySpec("events_acf",
      raw"""WITH hr AS (SELECT epoch_ms(ts) // 3600000 AS t,
           |              sum(CAST(floor(value * 100) AS BIGINT)) AS h
           |            FROM events WHERE value IS NOT NULL AND ts IS NOT NULL
           |            GROUP BY 1),
           |pr AS (SELECT lg.lag, CAST(a.h AS HUGEINT) AS x, CAST(b.h AS HUGEINT) AS y
           |       FROM (SELECT unnest([1, 2, 3]) AS lag) lg
           |       CROSS JOIN hr a JOIN hr b ON b.t = a.t + lg.lag),
           |m AS (SELECT lag, count(*) AS n, sum(x) AS sx, sum(y) AS sy,
           |        sum(x * y) AS sxy, sum(x * x) AS sx2, sum(y * y) AS sy2
           |      FROM pr GROUP BY 1)
           |SELECT CAST(lag AS BIGINT) AS lag, CAST(n AS BIGINT) AS n,
           |  CAST(sx AS VARCHAR) AS sum_x, CAST(sy AS VARCHAR) AS sum_y,
           |  CAST(sxy AS VARCHAR) AS sum_xy, CAST(sx2 AS VARCHAR) AS sum_x2,
           |  CAST(sy2 AS VARCHAR) AS sum_y2,
           |  CAST(n * sxy - sx * sy AS DOUBLE) /
           |    (sqrt(CAST(n * sx2 - sx * sx AS DOUBLE)) *
           |     sqrt(CAST(n * sy2 - sy * sy AS DOUBLE))) AS corr
           |FROM m""".stripMargin) { (s, d) =>
      val hourly = OpsQueries.events(s, d)
        .where(col("value").isNotNull && col("ts").isNotNull)
        .groupBy(expr("unix_millis(ts) div 3600000").as("t"))
        .agg(sum(floor(col("value") * 100).cast("long")).as("h"))
      val lagged = hourly.select(col("t").as("ta"), col("h").as("x"))
        .withColumn("lag", explode(array(lit(1L), lit(2L), lit(3L))))
      val base = hourly.select(col("t").as("tb"), col("h").as("y"))
      graft.ops.RobustStats.corrExact(
        lagged.join(base, col("tb") === col("ta") + col("lag"))
          .select(col("lag"), col("x"), col("y")),
        "lag", "x", "y")
    },

    // ε=1 differentially-private marginal release of per-(lang, source)
    // doc counts: per-cell discrete-Laplace noise drawn from the 60-bit
    // md5 of salt:cell (sticky noise — re-running the release answers
    // identically, spending no extra budget), clamped at 0. The true
    // counts never leave the query; both engines draw identical noise
    // from the hardcoded 2^60-scaled CDF thresholds
    QuerySpec("privacy_dp_release",
      raw"""WITH c AS (SELECT lang, source, count(*) AS n FROM documents GROUP BY 1, 2),
           |h AS (SELECT lang, source, n,
           |        ('0x' || substr(md5('r11:' || lang || ':' || source), 1, 15))::BIGINT AS hh
           |      FROM c),
           |k AS (SELECT lang, source, n,
           |        CASE WHEN hh < 178729391883036 THEN -8
           |             WHEN hh < 664566250050231 THEN -7
           |             WHEN hh < 1985207753201749 THEN -6
           |             WHEN hh < 5575083553127362 THEN -5
           |             WHEN hh < 15333377706490033 THEN -4
           |             WHEN hh < 41859171380333926 THEN -3
           |             WHEN hh < 113963754309397679 THEN -2
           |             WHEN hh < 309964331834089956 THEN -1
           |             WHEN hh < 842749140086939325 THEN 0
           |             WHEN hh < 1038749717611631602 THEN 1
           |             WHEN hh < 1110854300540695355 THEN 2
           |             WHEN hh < 1137380094214539248 THEN 3
           |             WHEN hh < 1147138388367901919 THEN 4
           |             WHEN hh < 1150728264167827532 THEN 5
           |             WHEN hh < 1152048905670979050 THEN 6
           |             WHEN hh < 1152534742529146245 THEN 7
           |             ELSE 8 END AS noise
           |      FROM h)
           |SELECT lang, source, CAST(greatest(0, n + noise) AS BIGINT) AS n_released
           |FROM k""".stripMargin) { (s, d) =>
      graft.ops.Privacy.dpNoisedCounts(
        s.read.parquet(s"$d/documents.parquet"), Seq("lang", "source"), "r11")
    },

    // LOCAL differential privacy — the untrusted-collector model beside
    // privacy_dp_release's central one: every row's event_type passes
    // through Warner randomized response (report truth w.p. 0.75, else
    // uniform over the other 4; both draws sticky 60-bit md5 of
    // salt:event_id), then the collector debiases frequencies by the
    // exact channel inversion. True categories never reach the output;
    // estimates sum to n exactly before the one final floor
    QuerySpec("privacy_local_rr", {
      val cats = Seq("click", "error", "purchase", "signup", "view") // sorted
      val branches = cats.map { c =>
        val others = cats.filterNot(_ == c).map(o => s"'$o'").mkString(", ")
        s"WHEN '$c' THEN [$others][CAST(ha + 1 AS INT)]"
      }.mkString("\n           |            ")
      raw"""WITH r AS (SELECT event_type,
           |        ('0x' || substr(md5('r15rr:keep:' || CAST(event_id AS VARCHAR)), 1, 15))::BIGINT
           |          % 1000 AS hk,
           |        ('0x' || substr(md5('r15rr:alt:' || CAST(event_id AS VARCHAR)), 1, 15))::BIGINT
           |          % 4 AS ha
           |      FROM events),
           |rep AS (SELECT CASE WHEN hk < 750 THEN event_type
           |          ELSE CASE event_type
           |            $branches
           |          END END AS reported FROM r),
           |obs AS (SELECT reported AS event_type, count(*) AS n_reported
           |        FROM rep GROUP BY 1),
           |tot AS (SELECT count(*) AS n FROM rep),
           |cats(event_type) AS (
           |  SELECT unnest(['click', 'error', 'purchase', 'signup', 'view']))
           |SELECT cats.event_type,
           |  CAST(coalesce(obs.n_reported, 0) AS BIGINT) AS n_reported,
           |  CAST((1000 * 4 * CAST(coalesce(obs.n_reported, 0) AS HUGEINT)
           |    - CAST(tot.n AS HUGEINT) * 250) // 2750 AS BIGINT) AS n_est
           |FROM cats LEFT JOIN obs USING (event_type) CROSS JOIN tot""".stripMargin
    }) { (s, d) =>
      graft.ops.Privacy.rrFrequencyEstimate(OpsQueries.events(s, d),
        "event_type", "event_id",
        Seq("click", "error", "purchase", "signup", "view"),
        pMilli = 750, salt = "r15rr")
    },

    // USER-LEVEL DP prep + release: clip every user to their first 64
    // events (ts, event_id order — deterministic under replay), so one
    // user adds/removes at most 64 rows from any released cell, THEN
    // noise the clipped per-type counts with the same sticky
    // discrete-Laplace draw as privacy_dp_release. Noise calibrated to
    // sensitivity 1 on UNCLIPPED data protects event-level neighbors
    // only — the bound is what makes the release user-level. The audit
    // columns (raw vs clipped vs released, users touched by the cap)
    // are the evidence row the release ships with
    QuerySpec("privacy_contribution_bound",
      raw"""WITH r AS (SELECT event_type,
           |        row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
           |      FROM events),
           |raw AS (SELECT event_type, count(*) AS n_raw FROM events GROUP BY 1),
           |cl AS (SELECT event_type, count(*) AS n_clipped FROM r WHERE rn <= 64 GROUP BY 1),
           |uc AS (SELECT CAST(coalesce(sum(CASE WHEN c > 64 THEN 1 ELSE 0 END), 0) AS BIGINT)
           |         AS n_users_clipped
           |       FROM (SELECT user_id, count(*) AS c FROM events GROUP BY 1)),
           |nz AS (SELECT event_type, n_clipped,
           |        ('0x' || substr(md5('r15cb:' || event_type), 1, 15))::BIGINT AS hh
           |      FROM cl),
           |k AS (SELECT event_type, n_clipped,
           |        CASE WHEN hh < 178729391883036 THEN -8
           |             WHEN hh < 664566250050231 THEN -7
           |             WHEN hh < 1985207753201749 THEN -6
           |             WHEN hh < 5575083553127362 THEN -5
           |             WHEN hh < 15333377706490033 THEN -4
           |             WHEN hh < 41859171380333926 THEN -3
           |             WHEN hh < 113963754309397679 THEN -2
           |             WHEN hh < 309964331834089956 THEN -1
           |             WHEN hh < 842749140086939325 THEN 0
           |             WHEN hh < 1038749717611631602 THEN 1
           |             WHEN hh < 1110854300540695355 THEN 2
           |             WHEN hh < 1137380094214539248 THEN 3
           |             WHEN hh < 1147138388367901919 THEN 4
           |             WHEN hh < 1150728264167827532 THEN 5
           |             WHEN hh < 1152048905670979050 THEN 6
           |             WHEN hh < 1152534742529146245 THEN 7
           |             ELSE 8 END AS noise
           |      FROM nz)
           |SELECT raw.event_type, raw.n_raw, k.n_clipped,
           |  raw.n_raw - k.n_clipped AS n_dropped, uc.n_users_clipped,
           |  CAST(greatest(0, k.n_clipped + k.noise) AS BIGINT) AS n_released
           |FROM raw JOIN k USING (event_type) CROSS JOIN uc""".stripMargin) { (s, d) =>
      val ev = OpsQueries.events(s, d)
      val order = Seq(col("ts"), col("event_id"))
      val clipped = graft.ops.Privacy.clipContributions(ev, "user_id", order, 64)
      graft.ops.Privacy.contributionAudit(ev, "user_id", "event_type", order, 64)
        .join(graft.ops.Privacy.dpNoisedCounts(clipped, Seq("event_type"), "r15cb"),
          Seq("event_type"))
    },

    // can the METADATA screen stand in for the token screen? Cohen's κ
    // between a chars-band judge (no text read at all) and a
    // token-level judge (word count + mean word length — two Gopher
    // criteria). Raw agreement flatters skewed judges; κ strips the
    // chance floor. Exact-integer milli both sides (n² in
    // DECIMAL(38,0)/HUGEINT — the corpus-sized-n convention)
    QuerySpec("quality_filter_kappa",
      raw"""WITH w AS (SELECT doc_id, n_chars,
           |    CASE WHEN length(trim(text)) = 0 THEN []
           |         ELSE string_split_regex(trim(lower(text)), '\s+') END AS words
           |  FROM documents),
           |f AS (SELECT doc_id, n_chars, CAST(len(words) AS BIGINT) AS n_words,
           |    CASE WHEN len(words) = 0 THEN 0.0
           |         ELSE CAST(list_sum(list_transform(words, x -> length(x))) AS DOUBLE)
           |              / CAST(len(words) AS DOUBLE) END AS mwl
           |  FROM w),
           |j AS (SELECT (n_chars BETWEEN 150 AND 400) AS a,
           |             (n_words BETWEEN 30 AND 75 AND mwl BETWEEN 4.0 AND 5.0) AS b
           |      FROM f),
           |g AS (SELECT count(*) AS n,
           |        coalesce(sum(CASE WHEN a = b THEN 1 ELSE 0 END), 0) AS agree,
           |        coalesce(sum(CASE WHEN a THEN 1 ELSE 0 END), 0) AS r1,
           |        coalesce(sum(CASE WHEN b THEN 1 ELSE 0 END), 0) AS c1 FROM j),
           |q AS (SELECT *, CAST(r1 AS HUGEINT) * c1
           |        + CAST(n - r1 AS HUGEINT) * (n - c1) AS qq FROM g)
           |SELECT CAST(n AS BIGINT) AS n, CAST(agree AS BIGINT) AS n_agree,
           |  CAST(r1 AS BIGINT) AS n_pos_a, CAST(c1 AS BIGINT) AS n_pos_b,
           |  CAST(CASE WHEN n > 0 THEN (1000 * agree) // n END AS BIGINT) AS po_milli,
           |  CAST(CASE WHEN CAST(n AS HUGEINT) * n <> qq
           |       THEN (1000 * (CAST(n AS HUGEINT) * agree - qq))
           |            // (CAST(n AS HUGEINT) * n - qq)
           |       END AS BIGINT) AS kappa_milli
           |FROM q""".stripMargin) { (s, d) =>
      // both judges read the SAME row, so the whole query is one scan +
      // one 1-row aggregate — the gopherFilters-then-self-join draft
      // paid a doc_id join of two corpus-sized sides for nothing
      val words = graft.ops.TextAnalysis.tokens(col("text"))
      val nWords = size(words).cast("long")
      val mwl = when(nWords === 0, lit(0.0d))
        .otherwise(aggregate(words, lit(0L), (acc, w) => acc + length(w))
          .cast("double") / nWords.cast("double"))
      graft.ops.Profiling.cohenKappaMilli(
        s.read.parquet(s"$d/documents.parquet"),
        col("n_chars").between(150L, 400L),
        nWords.between(30L, 75L) && mwl.between(4.0d, 5.0d))
    },

    // is language mix independent of source? Full contingency audit —
    // zero cells included via the margin cross join — with exact-milli
    // expected counts and χ² contributions (integer-summable, so the
    // total is order-free) and Cramér's V as the one fixed-shape double
    QuerySpec("quality_cramers_v",
      raw"""WITH cells AS (SELECT lang, source, count(*) AS o FROM documents GROUP BY 1, 2),
           |ra AS (SELECT lang, sum(o) AS rt FROM cells GROUP BY 1),
           |cb AS (SELECT source, sum(o) AS ct FROM cells GROUP BY 1),
           |tot AS (SELECT sum(o) AS N, count(DISTINCT lang) AS r,
           |          count(DISTINCT source) AS c FROM cells),
           |f AS (SELECT ra.lang, cb.source, COALESCE(cells.o, 0) AS n_obs, ra.rt, cb.ct
           |      FROM ra CROSS JOIN cb
           |      LEFT JOIN cells ON cells.lang = ra.lang AND cells.source = cb.source),
           |e AS (SELECT f.lang, f.source, f.n_obs,
           |        CAST((CAST(f.rt AS HUGEINT) * f.ct * 1000) // t.N AS BIGINT) AS exp_milli,
           |        CAST(((CAST(f.n_obs AS HUGEINT) * t.N - CAST(f.rt AS HUGEINT) * f.ct)
           |          * (CAST(f.n_obs AS HUGEINT) * t.N - CAST(f.rt AS HUGEINT) * f.ct)
           |          * 1000) // (CAST(t.N AS HUGEINT) * f.rt * f.ct) AS BIGINT) AS contrib_milli
           |      FROM f CROSS JOIN tot t),
           |x AS (SELECT CAST(sum(contrib_milli) AS BIGINT) AS chi2_milli FROM e)
           |SELECT e.lang, e.source, CAST(e.n_obs AS BIGINT) AS n_obs,
           |  e.exp_milli, e.contrib_milli, x.chi2_milli,
           |  sqrt(CAST(x.chi2_milli AS DOUBLE) / (1000.0 * CAST(t.N AS DOUBLE)
           |    * CAST(least(t.r - 1, t.c - 1) AS DOUBLE))) AS cramers_v
           |FROM e CROSS JOIN x CROSS JOIN tot t""".stripMargin) { (s, d) =>
      graft.ops.Profiling.cramersV(
        s.read.parquet(s"$d/documents.parquet"), "lang", "source")
    },

    // does 2-round label propagation find real structure in the
    // co-order graph? Per-community Newman modularity in exact micro
    // (floor-quantized terms over DECIMAL(38,0)) — the evaluation
    // companion to graph_communities: Q ≈ 0 means the "communities"
    // are no better than random
    QuerySpec("graph_modularity",
      raw"""WITH e AS (SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
           |           FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
           |            AND a.l_partkey <> b.l_partkey),
           |l0 AS (SELECT DISTINCT src AS node, src AS label FROM e),
           |v1 AS (SELECT e.dst, l0.label, count(*) AS cnt
           |       FROM e JOIN l0 ON l0.node = e.src GROUP BY 1, 2),
           |l1 AS (SELECT dst AS node, label FROM (
           |       SELECT dst, label, row_number() OVER (PARTITION BY dst
           |         ORDER BY cnt DESC, label ASC) AS r FROM v1) WHERE r = 1),
           |v2 AS (SELECT e.dst, l1.label, count(*) AS cnt
           |       FROM e JOIN l1 ON l1.node = e.src GROUP BY 1, 2),
           |l2 AS (SELECT dst AS node, label FROM (
           |       SELECT dst, label, row_number() OVER (PARTITION BY dst
           |         ORDER BY cnt DESC, label ASC) AS r FROM v2) WHERE r = 1),
           |tot AS (SELECT count(*) AS e2 FROM e),
           |deg AS (SELECT src AS node, count(*) AS deg FROM e GROUP BY 1),
           |ds AS (SELECT l.label, sum(d.deg) AS dc, count(*) AS n_nodes
           |       FROM deg d JOIN l2 l USING (node) GROUP BY 1),
           |ia AS (SELECT la.label, count(*) AS i2
           |       FROM e JOIN l2 la ON la.node = e.src JOIN l2 lb ON lb.node = e.dst
           |       WHERE la.label = lb.label GROUP BY 1)
           |SELECT CAST(ds.label AS BIGINT) AS label,
           |  CAST(ds.n_nodes AS BIGINT) AS n_nodes,
           |  CAST(COALESCE(ia.i2, 0) // 2 AS BIGINT) AS intra_edges,
           |  CAST(ds.dc AS BIGINT) AS deg_sum,
           |  CAST((CAST(COALESCE(ia.i2, 0) AS HUGEINT) * 1000000) // t.e2
           |    - (CAST(ds.dc AS HUGEINT) * ds.dc * 1000000)
           |      // (CAST(t.e2 AS HUGEINT) * t.e2) AS BIGINT) AS q_micro
           |FROM ds LEFT JOIN ia USING (label) CROSS JOIN tot t""".stripMargin) { (s, d) =>
      import graft.ops.Graph
      // no lineage cut: both cut variants measured SLOWER (6.2 s vs
      // 4.4 s plain at sf0.1) — the re-executed subtrees here are cheap
      // joins over one big frame, the shape the kcore lesson says to
      // leave to Spark's own exchange reuse
      val edges = Graph.coOccurrenceEdges(
        s.read.parquet(s"$d/lineitem.parquet"), "l_orderkey", "l_partkey")
      Graph.modularityMicro(edges, Graph.labelPropagation(edges, iters = 2))
    },

    // modularity-GUIDED communities: two synchronous Louvain local-move
    // sweeps from singletons — every node adopts the neighbor community
    // with the best EXACT integer modularity gain (score = e2·w −
    // k·(Σtot − [stay]·k), ties to the smaller id), then the partition
    // is scored with the same exact micro-modularity as
    // graph_modularity. The gain arithmetic, the tie-break, and the
    // final Q are all value-checked — a one-bit disagreement anywhere
    // in the sweep moves some node and hash-mismatches
    QuerySpec("graph_louvain", {
      def round(r: Int) =
        raw"""tot$r AS MATERIALIZED (SELECT l.label, sum(d.deg) AS t
             |       FROM l${r - 1} l JOIN deg d USING (node) GROUP BY 1),
             |nb$r AS (SELECT e.src, l.label, count(*) AS w
             |       FROM e JOIN l${r - 1} l ON l.node = e.dst GROUP BY 1, 2),
             |cd$r AS (SELECT src, label, sum(w) AS w FROM (
             |         SELECT src, label, w FROM nb$r
             |         UNION ALL SELECT node, label, 0 FROM l${r - 1}) GROUP BY 1, 2),
             |sc$r AS (SELECT c.src, c.label,
             |         t.e2 * c.w - d.deg * (tt.t -
             |           CASE WHEN c.label = cu.label THEN d.deg ELSE 0 END) AS s
             |       FROM cd$r c JOIN l${r - 1} cu ON cu.node = c.src
             |       JOIN deg d ON d.node = c.src JOIN tot$r tt ON tt.label = c.label
             |       CROSS JOIN tote t),
             |pk$r AS (SELECT src, label FROM (
             |        SELECT src, label, row_number() OVER (PARTITION BY src
             |          ORDER BY s DESC, label ASC) AS r FROM sc$r) WHERE r = 1),
             |l$r AS MATERIALIZED (SELECT l.node, CASE WHEN ((l.node % 2) + 2) % 2 = ${r % 2}
             |          THEN p.label ELSE l.label END AS label
             |        FROM l${r - 1} l JOIN pk$r p ON p.src = l.node)""".stripMargin
      raw"""WITH e AS MATERIALIZED (SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
           |           FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
           |            AND a.l_partkey <> b.l_partkey),
           |deg AS MATERIALIZED (SELECT src AS node, count(*) AS deg FROM e GROUP BY 1),
           |tote AS (SELECT count(*) AS e2 FROM e),
           |l0 AS MATERIALIZED (SELECT DISTINCT src AS node, src AS label FROM e),
           |${round(1)},
           |${round(2)},
           |ds AS (SELECT l.label, sum(d.deg) AS dc, count(*) AS n_nodes
           |       FROM deg d JOIN l2 l USING (node) GROUP BY 1),
           |ia AS (SELECT la.label, count(*) AS i2
           |       FROM e JOIN l2 la ON la.node = e.src JOIN l2 lb ON lb.node = e.dst
           |       WHERE la.label = lb.label GROUP BY 1)
           |SELECT CAST(ds.label AS BIGINT) AS label,
           |  CAST(ds.n_nodes AS BIGINT) AS n_nodes,
           |  CAST(COALESCE(ia.i2, 0) // 2 AS BIGINT) AS intra_edges,
           |  CAST(ds.dc AS BIGINT) AS deg_sum,
           |  CAST((CAST(COALESCE(ia.i2, 0) AS HUGEINT) * 1000000) // t.e2
           |    - (CAST(ds.dc AS HUGEINT) * ds.dc * 1000000)
           |      // (CAST(t.e2 AS HUGEINT) * t.e2) AS BIGINT) AS q_micro
           |FROM ds LEFT JOIN ia USING (label) CROSS JOIN tote t""".stripMargin
    }) { (s, d) =>
      import graft.ops.Graph
      // unlike graph_modularity (5 edge references, exchange reuse
      // suffices), the louvain sweep references the co-order graph ~9
      // times (per-round candidate builds + e2 + modularity) — cut it
      val edges = graft.recon.Checkpoints.cut(Graph.coOccurrenceEdges(
        s.read.parquet(s"$d/lineitem.parquet"), "l_orderkey", "l_partkey"))
      Graph.modularityMicro(edges, Graph.louvainMove(edges, rounds = 2))
    },

    // the SECOND Louvain level: contract the level-1 communities into a
    // weighted supernode multigraph (intra edges → self-loops; Σw and
    // weighted degrees exactly preserved) and run the weighted local-move
    // sweep on it — the hierarchy step that lets community detection
    // climb scales (the contracted graph is community-sized, so level 2
    // costs a fraction of level 1 at any corpus size). Final per-node
    // communities scored with the same exact micro-modularity; every
    // level is value-checked through one oracle chain
    QuerySpec("graph_louvain_coarse", {
      def round(r: Int) =
        raw"""tot$r AS (SELECT l.label, sum(d.deg) AS t
             |       FROM l${r - 1} l JOIN deg d USING (node) GROUP BY 1),
             |nb$r AS (SELECT e.src, l.label, count(*) AS w
             |       FROM e JOIN l${r - 1} l ON l.node = e.dst GROUP BY 1, 2),
             |cd$r AS (SELECT src, label, sum(w) AS w FROM (
             |         SELECT src, label, w FROM nb$r
             |         UNION ALL SELECT node, label, 0 FROM l${r - 1}) GROUP BY 1, 2),
             |sc$r AS (SELECT c.src, c.label,
             |         t.e2 * c.w - d.deg * (tt.t -
             |           CASE WHEN c.label = cu.label THEN d.deg ELSE 0 END) AS s
             |       FROM cd$r c JOIN l${r - 1} cu ON cu.node = c.src
             |       JOIN deg d ON d.node = c.src JOIN tot$r tt ON tt.label = c.label
             |       CROSS JOIN tote t),
             |pk$r AS (SELECT src, label FROM (
             |        SELECT src, label, row_number() OVER (PARTITION BY src
             |          ORDER BY s DESC, label ASC) AS r FROM sc$r) WHERE r = 1),
             |l$r AS MATERIALIZED (SELECT l.node, CASE WHEN ((l.node % 2) + 2) % 2 = ${r % 2}
             |          THEN p.label ELSE l.label END AS label
             |        FROM l${r - 1} l JOIN pk$r p ON p.src = l.node)""".stripMargin
      def wround(r: Int) =
        raw"""wtot$r AS (SELECT m.label, sum(d.k) AS t
             |       FROM m${r - 1} m JOIN wd d USING (node) GROUP BY 1),
             |wnb$r AS (SELECT ce.src, m.label, sum(ce.w) AS w
             |       FROM ce JOIN m${r - 1} m ON m.node = ce.dst
             |       WHERE ce.src <> ce.dst GROUP BY 1, 2),
             |wcd$r AS (SELECT src, label, sum(w) AS w FROM (
             |         SELECT src, label, w FROM wnb$r
             |         UNION ALL SELECT node, label, 0 FROM m${r - 1}) GROUP BY 1, 2),
             |wsc$r AS (SELECT c.src, c.label,
             |         t.e2 * c.w - d.k * (tt.t -
             |           CASE WHEN c.label = cu.label THEN d.k ELSE 0 END) AS s
             |       FROM wcd$r c JOIN m${r - 1} cu ON cu.node = c.src
             |       JOIN wd d ON d.node = c.src JOIN wtot$r tt ON tt.label = c.label
             |       CROSS JOIN tote t),
             |wpk$r AS (SELECT src, label FROM (
             |        SELECT src, label, row_number() OVER (PARTITION BY src
             |          ORDER BY s DESC, label ASC) AS r FROM wsc$r) WHERE r = 1),
             |m$r AS MATERIALIZED (SELECT m.node, CASE WHEN ((m.node % 2) + 2) % 2 = ${r % 2}
             |          THEN p.label ELSE m.label END AS label
             |        FROM m${r - 1} m JOIN wpk$r p ON p.src = m.node)""".stripMargin
      raw"""WITH e AS MATERIALIZED (SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
           |           FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
           |            AND a.l_partkey <> b.l_partkey),
           |deg AS MATERIALIZED (SELECT src AS node, count(*) AS deg FROM e GROUP BY 1),
           |tote AS (SELECT count(*) AS e2 FROM e),
           |l0 AS MATERIALIZED (SELECT DISTINCT src AS node, src AS label FROM e),
           |${round(1)},
           |${round(2)},
           |ce AS MATERIALIZED (SELECT la.label AS src, lb.label AS dst, count(*) AS w
           |       FROM e JOIN l2 la ON la.node = e.src JOIN l2 lb ON lb.node = e.dst
           |       GROUP BY 1, 2),
           |wd AS MATERIALIZED (SELECT src AS node, sum(w) AS k FROM ce GROUP BY 1),
           |m0 AS MATERIALIZED (SELECT node, node AS label FROM wd),
           |${wround(1)},
           |${wround(2)},
           |fin AS (SELECT l2.node, m2.label FROM l2 JOIN m2 ON m2.node = l2.label),
           |ds AS (SELECT l.label, sum(d.deg) AS dc, count(*) AS n_nodes
           |       FROM deg d JOIN fin l USING (node) GROUP BY 1),
           |ia AS (SELECT la.label, count(*) AS i2
           |       FROM e JOIN fin la ON la.node = e.src JOIN fin lb ON lb.node = e.dst
           |       WHERE la.label = lb.label GROUP BY 1)
           |SELECT CAST(ds.label AS BIGINT) AS label,
           |  CAST(ds.n_nodes AS BIGINT) AS n_nodes,
           |  CAST(COALESCE(ia.i2, 0) // 2 AS BIGINT) AS intra_edges,
           |  CAST(ds.dc AS BIGINT) AS deg_sum,
           |  CAST((CAST(COALESCE(ia.i2, 0) AS HUGEINT) * 1000000) // t.e2
           |    - (CAST(ds.dc AS HUGEINT) * ds.dc * 1000000)
           |      // (CAST(t.e2 AS HUGEINT) * t.e2) AS BIGINT) AS q_micro
           |FROM ds LEFT JOIN ia USING (label) CROSS JOIN tote t""".stripMargin
    }) { (s, d) =>
      import graft.ops.Graph
      val edges = graft.recon.Checkpoints.cut(Graph.coOccurrenceEdges(
        s.read.parquet(s"$d/lineitem.parquet"), "l_orderkey", "l_partkey"))
      val l1 = Graph.louvainMove(edges, rounds = 2)
      val wE = graft.recon.Checkpoints.cut(Graph.contractGraph(edges, l1))
      val l2s = Graph.louvainMoveWeighted(wE, rounds = 2)
        .select(col("node").as("label"), col("label").as("__final"))
      // no cut on fin: with the weighted rounds cut, this is a join of
      // two already-materialized node-sized frames — re-executing it for
      // modularity's three consumers costs less than another cut's plan
      val fin = l1.join(l2s, Seq("label"))
        .select(col("node"), col("__final").as("label"))
      Graph.modularityMicro(edges, fin)
    },

    // the FULL Louvain hierarchy with its convergence gate value-checked:
    // louvainLevels chains local-move sweeps through contractions until a
    // level fails to RAISE the exact modularity numerator Σ_c(e2·i2−dc²)
    // — compared as integers, so both engines agree bit-for-bit on WHICH
    // levels exist. The oracle computes all 3 candidate levels and gates
    // each level's rows on the same cumulative integer comparisons the
    // driver loop makes (level L emits iff every gain up to L was > 0)
    QuerySpec("graph_louvain_hierarchy", {
      def round(r: Int) =
        raw"""tot$r AS MATERIALIZED (SELECT l.label, sum(d.deg) AS t
             |       FROM l${r - 1} l JOIN deg d USING (node) GROUP BY 1),
             |nb$r AS (SELECT e.src, l.label, count(*) AS w
             |       FROM e JOIN l${r - 1} l ON l.node = e.dst GROUP BY 1, 2),
             |cd$r AS (SELECT src, label, sum(w) AS w FROM (
             |         SELECT src, label, w FROM nb$r
             |         UNION ALL SELECT node, label, 0 FROM l${r - 1}) GROUP BY 1, 2),
             |sc$r AS (SELECT c.src, c.label,
             |         t.e2 * c.w - d.deg * (tt.t -
             |           CASE WHEN c.label = cu.label THEN d.deg ELSE 0 END) AS s
             |       FROM cd$r c JOIN l${r - 1} cu ON cu.node = c.src
             |       JOIN deg d ON d.node = c.src JOIN tot$r tt ON tt.label = c.label
             |       CROSS JOIN tote t),
             |pk$r AS (SELECT src, label FROM (
             |        SELECT src, label, row_number() OVER (PARTITION BY src
             |          ORDER BY s DESC, label ASC) AS r FROM sc$r) WHERE r = 1),
             |l$r AS MATERIALIZED (SELECT l.node, CASE WHEN ((l.node % 2) + 2) % 2 = ${r % 2}
             |          THEN p.label ELSE l.label END AS label
             |        FROM l${r - 1} l JOIN pk$r p ON p.src = l.node)""".stripMargin
      // one weighted sweep round over super-edges `ce` with degrees `wd`,
      // state CTEs prefixed `p` (level 2: p="m", level 3: p="n") — Σw is
      // contraction-invariant, so tote.e2 serves every level
      def wround(p: String, ce: String, wd: String, r: Int) =
        raw"""${p}tot$r AS (SELECT m.label, sum(d.k) AS t
             |       FROM ${p}${r - 1} m JOIN $wd d USING (node) GROUP BY 1),
             |${p}nb$r AS (SELECT ce.src, m.label, sum(ce.w) AS w
             |       FROM $ce ce JOIN ${p}${r - 1} m ON m.node = ce.dst
             |       WHERE ce.src <> ce.dst GROUP BY 1, 2),
             |${p}cd$r AS (SELECT src, label, sum(w) AS w FROM (
             |         SELECT src, label, w FROM ${p}nb$r
             |         UNION ALL SELECT node, label, 0 FROM ${p}${r - 1}) GROUP BY 1, 2),
             |${p}sc$r AS (SELECT c.src, c.label,
             |         t.e2 * c.w - d.k * (tt.t -
             |           CASE WHEN c.label = cu.label THEN d.k ELSE 0 END) AS s
             |       FROM ${p}cd$r c JOIN ${p}${r - 1} cu ON cu.node = c.src
             |       JOIN $wd d ON d.node = c.src JOIN ${p}tot$r tt ON tt.label = c.label
             |       CROSS JOIN tote t),
             |${p}pk$r AS (SELECT src, label FROM (
             |        SELECT src, label, row_number() OVER (PARTITION BY src
             |          ORDER BY s DESC, label ASC) AS r FROM ${p}sc$r) WHERE r = 1),
             |${p}$r AS MATERIALIZED (SELECT m.node, CASE WHEN ((m.node % 2) + 2) % 2 = ${r % 2}
             |          THEN p.label ELSE m.label END AS label
             |        FROM ${p}${r - 1} m JOIN ${p}pk$r p ON p.src = m.node)""".stripMargin
      // exact modularity numerator Σ_c (e2·i2_c − dc_c²) of node-space
      // labels `lbl`, in HUGEINT — the gate scalar
      def qn(name: String, lbl: String) =
        raw"""$name AS (SELECT sum(CAST(t.e2 AS HUGEINT) * COALESCE(ia.i2, 0)
             |         - CAST(ds.dc AS HUGEINT) * ds.dc) AS q
             |       FROM (SELECT l.label, sum(d.deg) AS dc
             |             FROM deg d JOIN $lbl l USING (node) GROUP BY 1) ds
             |       LEFT JOIN (SELECT la.label, count(*) AS i2
             |             FROM e JOIN $lbl la ON la.node = e.src
             |                    JOIN $lbl lb ON lb.node = e.dst
             |             WHERE la.label = lb.label GROUP BY 1) ia USING (label)
             |       CROSS JOIN tote t)""".stripMargin
      raw"""WITH e AS MATERIALIZED (SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
           |           FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
           |            AND a.l_partkey <> b.l_partkey),
           |deg AS MATERIALIZED (SELECT src AS node, count(*) AS deg FROM e GROUP BY 1),
           |tote AS (SELECT count(*) AS e2 FROM e),
           |l0 AS MATERIALIZED (SELECT DISTINCT src AS node, src AS label FROM e),
           |${round(1)},
           |${round(2)},
           |${qn("q1", "l2")},
           |ce AS MATERIALIZED (SELECT la.label AS src, lb.label AS dst, count(*) AS w
           |       FROM e JOIN l2 la ON la.node = e.src JOIN l2 lb ON lb.node = e.dst
           |       GROUP BY 1, 2),
           |wd AS MATERIALIZED (SELECT src AS node, sum(w) AS k FROM ce GROUP BY 1),
           |m0 AS MATERIALIZED (SELECT node, node AS label FROM wd),
           |${wround("m", "ce", "wd", 1)},
           |${wround("m", "ce", "wd", 2)},
           |fin2 AS MATERIALIZED (SELECT l2.node, m2.label FROM l2
           |       JOIN m2 ON m2.node = l2.label),
           |${qn("q2", "fin2")},
           |ce2 AS MATERIALIZED (SELECT ma.label AS src, mb.label AS dst, sum(ce.w) AS w
           |       FROM ce JOIN m2 ma ON ma.node = ce.src
           |               JOIN m2 mb ON mb.node = ce.dst GROUP BY 1, 2),
           |wd2 AS MATERIALIZED (SELECT src AS node, sum(w) AS k FROM ce2 GROUP BY 1),
           |n0 AS MATERIALIZED (SELECT node, node AS label FROM wd2),
           |${wround("n", "ce2", "wd2", 1)},
           |${wround("n", "ce2", "wd2", 2)},
           |fin3 AS MATERIALIZED (SELECT f.node, n2.label FROM fin2 f
           |       JOIN n2 ON n2.node = f.label),
           |${qn("q3", "fin3")}
           |SELECT CAST(1 AS BIGINT) AS level, node, label FROM l2
           |UNION ALL
           |SELECT CAST(2 AS BIGINT), node, label FROM fin2
           |  WHERE (SELECT q FROM q2) > (SELECT q FROM q1)
           |UNION ALL
           |SELECT CAST(3 AS BIGINT), node, label FROM fin3
           |  WHERE (SELECT q FROM q2) > (SELECT q FROM q1)
           |    AND (SELECT q FROM q3) > (SELECT q FROM q2)""".stripMargin
    }) { (s, d) =>
      import graft.ops.Graph
      val edges = graft.recon.Checkpoints.cut(Graph.coOccurrenceEdges(
        s.read.parquet(s"$d/lineitem.parquet"), "l_orderkey", "l_partkey"))
      Graph.louvainLevels(edges, maxLevels = 3, roundsPerLevel = 2)
        .select(col("level").cast("long").as("level"), col("node"), col("label"))
    },

    // what each successive BPE merge buys: corpus chars-per-subtoken in
    // exact milli under the first k ∈ 0..3 merges of the learned list.
    // Monotone nondecreasing by construction (a merge can only shrink
    // the subtoken count) — the curve is the "is a bigger vocab worth
    // it" evidence. Four segmentation passes, each a pure columnar
    // regex pipeline; no shuffle beyond one tiny aggregate per k
    QuerySpec("vocab_compression_curve", {
      val merges = Seq(("e", "r"), ("i", "n"), ("s", "t"))
      val base = raw"' ' || array_to_string(string_split(w, ''), ' ') || ' '"
      def segAt(k: Int) = merges.take(k).foldLeft(base) { case (c, (a, b)) =>
        s"regexp_replace(regexp_replace($c, ' $a $b ', ' $a$b ', 'g'), ' $a $b ', ' $a$b ', 'g')"
      }
      val arms = (0 to 3).map { k =>
        raw"""SELECT $k AS k, CAST(sum(length(w)) AS BIGINT) AS n_chars,
             |  CAST(sum(len(string_split(trim(${segAt(k)}), ' '))) AS BIGINT) AS n_subtokens
             |FROM w""".stripMargin
      }.mkString("\nUNION ALL\n")
      raw"""WITH tt AS (SELECT doc_id, CASE WHEN length(trim(text)) = 0 THEN []
           |          ELSE string_split_regex(trim(lower(text)), '\s+') END AS t FROM documents),
           |w AS (SELECT unnest(t) AS w FROM tt),
           |c AS ($arms)
           |SELECT k, n_chars, n_subtokens,
           |  CAST((n_chars * 1000) // n_subtokens AS BIGINT) AS compression_milli
           |FROM c""".stripMargin
    }) { (s, d) =>
      val merges = Seq(("e", "r"), ("i", "n"), ("s", "t"))
      val dd = s.read.parquet(s"$d/documents.parquet")
      (0 to 3).map { k =>
        graft.ops.Vocab.subtokenStats(dd, "text", "doc_id", merges.take(k))
          .agg(sum(col("n_chars")).as("n_chars"),
            sum(col("n_subtokens")).as("n_subtokens"))
          .select(lit(k.toLong).as("k"), col("n_chars"), col("n_subtokens"),
            expr("(n_chars * 1000) div n_subtokens").as("compression_milli"))
      }.reduce(_ unionByName _)
    },

    // forecast backtest without a model registry: per event type, how
    // well do the naive (t−1 h) and seasonal-naive (t−24 h) forecasts
    // predict the hourly cent series? MAE/bias exact in cents; sMAPE
    // per-term-quantized milli (each term an integer div, so the sums
    // are order-free). The lagged pairs ride equi-joins on t+lag —
    // the same no-global-window discipline as events_acf
    QuerySpec("events_forecast_backtest",
      raw"""WITH hr AS (SELECT event_type, epoch_ms(ts) // 3600000 AS t,
           |              sum(CAST(floor(value * 100) AS BIGINT)) AS s
           |            FROM events WHERE value IS NOT NULL AND ts IS NOT NULL
           |            GROUP BY 1, 2),
           |pr AS (SELECT lg.lag, a.event_type, a.s AS actual, b.s AS fc
           |       FROM (SELECT unnest([1, 24]) AS lag) lg
           |       CROSS JOIN hr a JOIN hr b ON b.event_type = a.event_type
           |        AND a.t = b.t + lg.lag)
           |SELECT event_type, CAST(lag AS BIGINT) AS lag,
           |  CAST(count(*) AS BIGINT) AS n,
           |  CAST((1000 * sum(abs(fc - actual))) // count(*) AS BIGINT) AS mae_milli_cents,
           |  CAST(sum(fc - actual) AS BIGINT) AS bias_cents,
           |  CAST(sum((2000 * abs(fc - actual)) // (fc + actual)) // count(*) AS BIGINT)
           |    AS smape_milli
           |FROM pr GROUP BY 1, 2""".stripMargin) { (s, d) =>
      val hourly = OpsQueries.events(s, d)
        .where(col("value").isNotNull && col("ts").isNotNull)
        .groupBy(col("event_type"), expr("unix_millis(ts) div 3600000").as("t"))
        .agg(sum(floor(col("value") * 100).cast("long")).as("s"))
      val actual = hourly.select(col("event_type"), col("t").as("ta"),
          col("s").as("actual"))
        .withColumn("lag", explode(array(lit(1L), lit(24L))))
      val fc = hourly.select(col("event_type"), col("t").as("tb"),
        col("s").as("fc"))
      actual.join(fc, Seq("event_type"))
        .where(col("ta") === col("tb") + col("lag"))
        .groupBy(col("event_type"), col("lag"))
        .agg(count(lit(1)).as("n"),
          expr("(1000 * sum(abs(fc - actual))) div count(1)").cast("long")
            .as("mae_milli_cents"),
          sum(col("fc") - col("actual")).as("bias_cents"),
          expr("sum((2000 * abs(fc - actual)) div (fc + actual)) div count(1)")
            .cast("long").as("smape_milli"))
    },

    // shard planning for the media corpus: per-media byte inventories
    // packed into ~16 KiB output shards by cumulative quota in id order
    // (order-preserving). The Spark side rides the distributed
    // partition-offset prefix sum — no whole-inventory single-task
    // window; the oracle is the plain window form over the same order
    QuerySpec("mm_pack_shards",
      raw"""WITH u AS (SELECT doc_id AS media_id,
           |             CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
           |                  ELSE 'video' END AS media_type,
           |             strlen(text) AS bytes
           |           FROM documents)
           |SELECT media_id, media_type, CAST(bytes AS BIGINT) AS bytes,
           |  CAST((sum(bytes) OVER (ORDER BY media_id
           |          ROWS UNBOUNDED PRECEDING) - bytes) // 16384 AS BIGINT) AS shard
           |FROM u""".stripMargin) { (s, d) =>
      val units = graft.ops.Multimodal.syntheticMedia(
          s.read.parquet(s"$d/documents.parquet"), "doc_id", "text")
        .select(col("media_id"), col("media_type"),
          col("n_bytes").cast("long").as("bytes"))
      graft.ops.Layout.compactionPlan(units, Seq(col("media_id")), "bytes",
          targetBytes = 16384L)
        .withColumnRenamed("bin", "shard")
    },

    // experiment analysis harness: users deterministically hash-split
    // into arms A/B (60-bit md5 parity — the same gate every sampler
    // here uses), per-arm view→purchase conversion in exact counts and
    // milli rates, and the pooled two-proportion z statistic as ONE
    // fixed-shape double over those exact integers. On a pure hash
    // split z should hover near 0 — the null calibration an experiment
    // pipeline must pass before anyone trusts its positives
    QuerySpec("events_ab_test",
      raw"""WITH u AS (SELECT user_id,
           |             CASE WHEN sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
           |                     > sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
           |                  THEN 1 ELSE 0 END AS conv
           |           FROM events GROUP BY 1),
           |a AS (SELECT CASE WHEN ('0x' || substr(md5(user_id::VARCHAR), 1, 15))::BIGINT % 2 = 0
           |               THEN 'A' ELSE 'B' END AS arm, conv
           |      FROM u),
           |g AS (SELECT
           |        sum(CASE WHEN arm = 'A' THEN 1 ELSE 0 END) AS n_a,
           |        sum(CASE WHEN arm = 'A' THEN conv ELSE 0 END) AS conv_a,
           |        sum(CASE WHEN arm = 'B' THEN 1 ELSE 0 END) AS n_b,
           |        sum(CASE WHEN arm = 'B' THEN conv ELSE 0 END) AS conv_b
           |      FROM a)
           |SELECT CAST(n_a AS BIGINT) AS n_a, CAST(conv_a AS BIGINT) AS conv_a,
           |  CAST((conv_a * 1000) // n_a AS BIGINT) AS rate_a_milli,
           |  CAST(n_b AS BIGINT) AS n_b, CAST(conv_b AS BIGINT) AS conv_b,
           |  CAST((conv_b * 1000) // n_b AS BIGINT) AS rate_b_milli,
           |  CASE WHEN conv_a + conv_b > 0 AND conv_a + conv_b < n_a + n_b THEN
           |    (CAST(conv_a AS DOUBLE) / CAST(n_a AS DOUBLE)
           |      - CAST(conv_b AS DOUBLE) / CAST(n_b AS DOUBLE))
           |    / sqrt((CAST(conv_a + conv_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE))
           |        * (1.0 - CAST(conv_a + conv_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE))
           |        * (1.0 / CAST(n_a AS DOUBLE) + 1.0 / CAST(n_b AS DOUBLE)))
           |  END AS z
           |FROM g""".stripMargin) { (s, d) =>
      val users = OpsQueries.events(s, d)
        .groupBy(col("user_id"))
        .agg(when(
          sum(when(col("event_type") === "purchase", 1L).otherwise(0L)) >
            sum(when(col("event_type") === "error", 1L).otherwise(0L)), 1L)
          .otherwise(0L).as("conv"))
        .withColumn("arm",
          when(conv(substring(md5(col("user_id").cast("string")), 1, 15), 16, 10)
            .cast("long") % 2 === 0, "A").otherwise("B"))
      val g = users.agg(
        sum(when(col("arm") === "A", 1L).otherwise(0L)).as("n_a"),
        sum(when(col("arm") === "A", col("conv")).otherwise(0L)).as("conv_a"),
        sum(when(col("arm") === "B", 1L).otherwise(0L)).as("n_b"),
        sum(when(col("arm") === "B", col("conv")).otherwise(0L)).as("conv_b"))
      val pool = col("conv_a").cast("double").plus(col("conv_b").cast("double")) /
        col("n_a").cast("double").plus(col("n_b").cast("double"))
      g.select(col("n_a"), col("conv_a"),
        expr("(conv_a * 1000) div n_a").as("rate_a_milli"),
        col("n_b"), col("conv_b"),
        expr("(conv_b * 1000) div n_b").as("rate_b_milli"),
        // z is undefined at pooled p ∈ {0, 1} (and ANSI raises on the
        // double 0-division DuckDB would turn into inf) — emit NULL
        when(col("conv_a") + col("conv_b") > 0 &&
            col("conv_a") + col("conv_b") < col("n_a") + col("n_b"),
          (col("conv_a").cast("double") / col("n_a").cast("double")
            - col("conv_b").cast("double") / col("n_b").cast("double"))
            / sqrt(pool * (lit(1.0d) - pool)
              * (lit(1.0d) / col("n_a").cast("double")
                + lit(1.0d) / col("n_b").cast("double")))).as("z"))
    },

    // degree assortativity of the co-order graph: Pearson correlation
    // of endpoint degrees over every directed edge (Newman 2002) — do
    // hubs link to hubs (assortative, > 0) or to leaves (dissortative,
    // < 0)? Exact DECIMAL(38,0) moments via corrExact; two broadcast-
    // friendly degree joins, no windows
    QuerySpec("graph_assortativity",
      raw"""WITH e AS (SELECT a.l_partkey AS src, b.l_partkey AS dst
           |      FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
           |       AND a.l_partkey <> b.l_partkey
           |      GROUP BY 1, 2),
           |dg AS (SELECT src AS node, count(*) AS deg FROM e GROUP BY 1),
           |p AS (SELECT CAST(da.deg AS HUGEINT) AS x, CAST(db.deg AS HUGEINT) AS y
           |      FROM e JOIN dg da ON da.node = e.src JOIN dg db ON db.node = e.dst),
           |m AS (SELECT count(*) AS n, sum(x) AS sx, sum(y) AS sy,
           |        sum(x * y) AS sxy, sum(x * x) AS sx2, sum(y * y) AS sy2
           |      FROM p)
           |SELECT 'part_coorder' AS graph, CAST(n AS BIGINT) AS n,
           |  CAST(sx AS VARCHAR) AS sum_x, CAST(sy AS VARCHAR) AS sum_y,
           |  CAST(sxy AS VARCHAR) AS sum_xy, CAST(sx2 AS VARCHAR) AS sum_x2,
           |  CAST(sy2 AS VARCHAR) AS sum_y2,
           |  CAST(n * sxy - sx * sy AS DOUBLE) /
           |    (sqrt(CAST(n * sx2 - sx * sx AS DOUBLE)) *
           |     sqrt(CAST(n * sy2 - sy * sy AS DOUBLE))) AS corr
           |FROM m""".stripMargin) { (s, d) =>
      import graft.ops.Graph
      val edges = Graph.coOccurrenceEdges(
        s.read.parquet(s"$d/lineitem.parquet"), "l_orderkey", "l_partkey")
      val deg = edges.groupBy(col("src").as("node")).agg(count(lit(1)).as("deg"))
      val pairs = edges
        .join(deg.select(col("node").as("src"), col("deg").as("x")), Seq("src"))
        .join(deg.select(col("node").as("dst"), col("deg").as("y")), Seq("dst"))
        .withColumn("graph", lit("part_coorder"))
      graft.ops.RobustStats.corrExact(pairs.select(col("graph"), col("x"), col("y")),
        "graph", "x", "y")
    },

    // CUPED variance reduction (Deng et al. 2013): pre-period spend as
    // the covariate for post-period spend, split at the global
    // mid-timestamp. theta / corr / var_reduction from the five exact
    // DECIMAL moments; the three doubles are fixed-shape expressions
    // (division + correctly-rounded sqrt only), so the readout —
    // "adjusting by history removes corr² of the metric's variance" —
    // is bit-identical cross-engine. Shuffles: one groupBy(user), one
    // global five-sum aggregate; the mid-split scalar rides a
    // broadcast, never a collect
    QuerySpec("events_cuped",
      raw"""WITH e AS (SELECT user_id, epoch_us(ts) AS us,
           |            CAST(floor(value * 100) AS BIGINT) AS cents FROM events),
           |bnd AS (SELECT (min(us) + max(us)) // 2 AS mid FROM e),
           |u AS (SELECT user_id,
           |        sum(CASE WHEN us <= mid THEN cents ELSE 0 END) AS x,
           |        sum(CASE WHEN us > mid THEN cents ELSE 0 END) AS y
           |      FROM e CROSS JOIN bnd GROUP BY 1),
           |m AS (SELECT count(*) AS n, sum(CAST(x AS HUGEINT)) AS sx,
           |        sum(CAST(y AS HUGEINT)) AS sy,
           |        sum(CAST(x AS HUGEINT) * CAST(y AS HUGEINT)) AS sxy,
           |        sum(CAST(x AS HUGEINT) * CAST(x AS HUGEINT)) AS sx2,
           |        sum(CAST(y AS HUGEINT) * CAST(y AS HUGEINT)) AS sy2
           |      FROM u),
           |c AS (SELECT 'spend' AS metric, CAST(n AS BIGINT) AS n,
           |        CAST(sx AS VARCHAR) AS sum_x, CAST(sy AS VARCHAR) AS sum_y,
           |        CAST(sxy AS VARCHAR) AS sum_xy, CAST(sx2 AS VARCHAR) AS sum_x2,
           |        CAST(sy2 AS VARCHAR) AS sum_y2,
           |        CAST(n * sxy - sx * sy AS DOUBLE) /
           |          (sqrt(CAST(n * sx2 - sx * sx AS DOUBLE)) *
           |           sqrt(CAST(n * sy2 - sy * sy AS DOUBLE))) AS corr,
           |        CASE WHEN n * sx2 - sx * sx = 0 THEN CAST('nan' AS DOUBLE)
           |             ELSE CAST(n * sxy - sx * sy AS DOUBLE) /
           |                  CAST(n * sx2 - sx * sx AS DOUBLE) END AS theta
           |      FROM m)
           |SELECT metric, n, sum_x, sum_y, sum_xy, sum_x2, sum_y2, corr, theta,
           |  CASE WHEN isnan(corr) THEN CAST('nan' AS DOUBLE)
           |       ELSE corr * corr END AS var_reduction
           |FROM c""".stripMargin) { (s, d) =>
      val e = OpsQueries.events(s, d)
        .select(col("user_id"), expr("unix_micros(ts)").as("us"),
          floor(col("value") * 100).cast("long").as("cents"))
      val bnd = e.agg(expr("(min(us) + max(us)) div 2").as("mid"))
      val u = e.crossJoin(broadcast(bnd))
        .groupBy(col("user_id"))
        .agg(sum(when(col("us") <= col("mid"), col("cents")).otherwise(0L)).as("x"),
          sum(when(col("us") > col("mid"), col("cents")).otherwise(0L)).as("y"))
        .withColumn("metric", lit("spend"))
      graft.ops.RobustStats.cupedExact(u, "metric", "x", "y")
    },

    // difference-in-differences — the panel causal design beside CUPED
    // and the A/B z-test: hash-assigned pseudo-treatment (the
    // deterministic stand-in an events table without an experiment flag
    // gets), pre/post at the global mid-timestamp, and the DiD
    // estimate that cancels both the group level gap and the common
    // time trend. Eight exact conditional sums in ONE pass; means and
    // the estimate are one fixed-shape double expression
    QuerySpec("events_did",
      raw"""WITH e AS (SELECT
           |        ('0x' || substr(md5('did:' || CAST(user_id AS VARCHAR)), 1, 15))::BIGINT
           |          % 2 AS treat,
           |        epoch_us(ts) AS us,
           |        CAST(floor(value * 100) AS BIGINT) AS cents FROM events),
           |bnd AS (SELECT (min(us) + max(us)) // 2 AS mid FROM e),
           |f AS (SELECT treat, CASE WHEN us > mid THEN 1 ELSE 0 END AS post, cents
           |      FROM e CROSS JOIN bnd),
           |m AS (SELECT
           |  sum(CASE WHEN treat = 1 AND post = 0 THEN 1 ELSE 0 END) AS n_t_pre,
           |  sum(CASE WHEN treat = 1 AND post = 0 THEN CAST(cents AS HUGEINT) ELSE 0 END) AS s_t_pre,
           |  sum(CASE WHEN treat = 1 AND post = 1 THEN 1 ELSE 0 END) AS n_t_post,
           |  sum(CASE WHEN treat = 1 AND post = 1 THEN CAST(cents AS HUGEINT) ELSE 0 END) AS s_t_post,
           |  sum(CASE WHEN treat = 0 AND post = 0 THEN 1 ELSE 0 END) AS n_c_pre,
           |  sum(CASE WHEN treat = 0 AND post = 0 THEN CAST(cents AS HUGEINT) ELSE 0 END) AS s_c_pre,
           |  sum(CASE WHEN treat = 0 AND post = 1 THEN 1 ELSE 0 END) AS n_c_post,
           |  sum(CASE WHEN treat = 0 AND post = 1 THEN CAST(cents AS HUGEINT) ELSE 0 END) AS s_c_post
           |  FROM f)
           |SELECT CAST(n_t_pre AS BIGINT) AS n_t_pre, CAST(s_t_pre AS VARCHAR) AS s_t_pre,
           |  CAST(n_t_post AS BIGINT) AS n_t_post, CAST(s_t_post AS VARCHAR) AS s_t_post,
           |  CAST(n_c_pre AS BIGINT) AS n_c_pre, CAST(s_c_pre AS VARCHAR) AS s_c_pre,
           |  CAST(n_c_post AS BIGINT) AS n_c_post, CAST(s_c_post AS VARCHAR) AS s_c_post,
           |  CASE WHEN n_t_pre > 0 AND n_t_post > 0 AND n_c_pre > 0 AND n_c_post > 0
           |       THEN (CAST(s_t_post AS DOUBLE) / CAST(n_t_post AS DOUBLE)
           |             - CAST(s_t_pre AS DOUBLE) / CAST(n_t_pre AS DOUBLE))
           |            - (CAST(s_c_post AS DOUBLE) / CAST(n_c_post AS DOUBLE)
           |               - CAST(s_c_pre AS DOUBLE) / CAST(n_c_pre AS DOUBLE))
           |       END AS did
           |FROM m""".stripMargin) { (s, d) =>
      val e = OpsQueries.events(s, d)
        .select(pmod(graft.ops.Sampling.keyHash(
            concat(lit("did:"), col("user_id").cast("string"))), lit(2L)).as("treat"),
          expr("unix_micros(ts)").as("us"),
          floor(col("value") * 100).cast("long").as("cents"))
      val bnd = e.agg(expr("(min(us) + max(us)) div 2").as("mid"))
      val f = e.crossJoin(broadcast(bnd))
        .select(col("treat"),
          when(col("us") > col("mid"), 1L).otherwise(0L).as("post"), col("cents"))
      graft.ops.RobustStats.didExact(f, "treat", "post", "cents")
    },

    // reliability diagram for a behavioral score: pre-period purchase
    // propensity (milli rate) as the prediction, any post-period
    // purchase as the outcome; per score decile the exact mean
    // prediction, the realized rate, and the gap — the calibration
    // audit a ranking/propensity pipeline publishes before anyone
    // thresholds on its scores. Only users OBSERVED in the pre period
    // are scored (a score can't be computed for the rest); a missing
    // post period reads as label 0. All arithmetic is integer milli
    QuerySpec("events_calibration",
      raw"""WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
           |bnd AS (SELECT (min(us) + max(us)) // 2 AS mid FROM e),
           |pre AS (SELECT user_id,
           |          sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS p,
           |          count(*) AS n
           |        FROM e CROSS JOIN bnd WHERE us <= mid GROUP BY 1),
           |post AS (SELECT user_id,
           |           max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS label
           |         FROM e CROSS JOIN bnd WHERE us > mid GROUP BY 1),
           |sc AS (SELECT pre.user_id, (pre.p * 1000) // pre.n AS score,
           |         COALESCE(post.label, 0) AS label
           |       FROM pre LEFT JOIN post USING (user_id)),
           |g AS (SELECT least(score // 100, 9) AS bin, count(*) AS n_users,
           |        sum(score) AS sum_score, sum(label) AS n_pos
           |      FROM sc GROUP BY 1)
           |SELECT CAST(bin AS BIGINT) AS bin, CAST(n_users AS BIGINT) AS n_users,
           |  CAST(sum_score // n_users AS BIGINT) AS mean_score_milli,
           |  CAST((n_pos * 1000) // n_users AS BIGINT) AS actual_milli,
           |  CAST(abs(sum_score // n_users - (n_pos * 1000) // n_users) AS BIGINT)
           |    AS gap_milli
           |FROM g""".stripMargin) { (s, d) =>
      val e = OpsQueries.events(s, d)
        .select(col("user_id"), col("event_type"), expr("unix_micros(ts)").as("us"))
      val bnd = e.agg(expr("(min(us) + max(us)) div 2").as("mid"))
      val withMid = e.crossJoin(broadcast(bnd))
      val pre = withMid.where(col("us") <= col("mid"))
        .groupBy(col("user_id"))
        .agg(sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("p"),
          count(lit(1)).as("n"))
      val post = withMid.where(col("us") > col("mid"))
        .groupBy(col("user_id"))
        .agg(max(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("label"))
      pre.join(post, Seq("user_id"), "left")
        .select(col("user_id"), expr("(p * 1000) div n").as("score"),
          coalesce(col("label"), lit(0L)).as("label"))
        .groupBy(least(expr("score div 100"), lit(9L)).as("bin"))
        .agg(count(lit(1)).as("n_users"), sum(col("score")).as("sum_score"),
          sum(col("label")).as("n_pos"))
        .select(col("bin"), col("n_users"),
          expr("sum_score div n_users").as("mean_score_milli"),
          expr("(n_pos * 1000) div n_users").as("actual_milli"),
          abs(expr("sum_score div n_users") - expr("(n_pos * 1000) div n_users"))
            .as("gap_milli"))
    },

    // out-of-orderness audit — the number a watermark is chosen FROM.
    // The raw stream is time-ordered (event_id follows ts), so the
    // audit models the ingest path that actually reorders it: a
    // 4-shard source (shard = user_id % 4) merged in 256-event
    // batches, each batch drained shard by shard — the Kafka-
    // partition-merge arrival order. Per event: how far behind the
    // merged batch's running max event-time it lands; bucketed counts
    // + max lateness per bucket. 'on_time' is the watermark-safe
    // mass; the ge_1h tail is what a tight watermark would drop. The
    // window partitions per batch (bounded at 256 rows), never
    // globally
    QuerySpec("events_disorder_profile",
      raw"""WITH e AS (SELECT user_id, event_id, epoch_ms(ts) AS ms FROM events),
           |s AS (SELECT ms, event_id, event_id // 256 AS batch,
           |        user_id % 4 AS shard FROM e),
           |w AS (SELECT ms,
           |        max(ms) OVER (PARTITION BY batch ORDER BY shard, event_id
           |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max
           |      FROM s),
           |l AS (SELECT CASE WHEN prev_max IS NULL OR prev_max <= ms THEN 0
           |             ELSE prev_max - ms END AS late_ms FROM w)
           |SELECT CASE WHEN late_ms = 0 THEN 'on_time'
           |            WHEN late_ms < 60000 THEN 'lt_1m'
           |            WHEN late_ms < 600000 THEN 'lt_10m'
           |            WHEN late_ms < 3600000 THEN 'lt_1h'
           |            ELSE 'ge_1h' END AS bucket,
           |  CAST(count(*) AS BIGINT) AS n_events,
           |  CAST(max(late_ms) AS BIGINT) AS max_late_ms
           |FROM l GROUP BY 1""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("batch")).orderBy(col("shard"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      OpsQueries.events(s, d)
        .select(expr("unix_millis(ts)").as("ms"), col("event_id"),
          expr("event_id div 256").as("batch"),
          (col("user_id") % 4).as("shard"))
        .withColumn("prev_max", max(col("ms")).over(w))
        .select(when(col("prev_max").isNull || col("prev_max") <= col("ms"), 0L)
          .otherwise(col("prev_max") - col("ms")).as("late_ms"))
        .groupBy(when(col("late_ms") === 0L, "on_time")
          .when(col("late_ms") < 60000L, "lt_1m")
          .when(col("late_ms") < 600000L, "lt_10m")
          .when(col("late_ms") < 3600000L, "lt_1h")
          .otherwise("ge_1h").as("bucket"))
        .agg(count(lit(1)).as("n_events"), max(col("late_ms")).as("max_late_ms"))
    },

    // deterministic negative sampling over the co-order part graph: the
    // contrastive counterpart of graph_link_prediction's positives —
    // per node up to 4 hash-drawn non-neighbors (8 attempts), mapped
    // through the dense value-ordered node dictionary so both engines
    // draw the identical "random" candidates. |V|·attempts candidate
    // rows, one anti-join against the edge list — never the |V|²
    // non-edge set
    QuerySpec("graph_negative_samples", {
      def h60(e: String) = s"('0x' || substr(md5($e), 1, 15))::BIGINT"
      raw"""WITH e AS (SELECT a.l_partkey AS src, b.l_partkey AS dst
           |      FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
           |       AND a.l_partkey <> b.l_partkey
           |      GROUP BY 1, 2),
           |nodes AS (SELECT DISTINCT src AS node FROM (SELECT src FROM e
           |            UNION ALL SELECT dst FROM e)),
           |dict AS (SELECT node, row_number() OVER (ORDER BY node) - 1 AS code
           |         FROM nodes),
           |nv AS (SELECT count(*) AS n FROM dict),
           |cand AS (SELECT d.node AS src, t.attempt,
           |           ${h60("d.node::VARCHAR || ':' || t.attempt::VARCHAR")} % nv.n AS code
           |         FROM dict d CROSS JOIN nv
           |              CROSS JOIN (SELECT unnest(range(0, 8)) AS attempt) t),
           |neg AS (SELECT c.src, c.attempt, d2.node AS dst
           |        FROM cand c JOIN dict d2 ON d2.code = c.code
           |        WHERE d2.node <> c.src
           |          AND NOT EXISTS (SELECT 1 FROM e
           |                          WHERE e.src = c.src AND e.dst = d2.node)),
           |rk AS (SELECT src, attempt, dst,
           |         row_number() OVER (PARTITION BY src ORDER BY attempt) AS r
           |       FROM neg)
           |SELECT src, CAST(attempt AS BIGINT) AS attempt, dst
           |FROM rk WHERE r <= 4""".stripMargin
    }) { (s, d) =>
      // raw pairs: the node set distinct-dedups inside negativeSamples
      // and a LEFT ANTI join is duplicate-insensitive on its right side,
      // so the global (src, dst) distinct would be a wasted shuffle
      val edges = graft.ops.Graph.coOccurrencePairs(
        s.read.parquet(s"$d/lineitem.parquet"), "l_orderkey", "l_partkey")
      graft.ops.Graph.negativeSamples(edges, attempts = 8, k = 4)
        .withColumn("attempt", col("attempt").cast("long"))
    },

    // deterministic DeepWalk corpus over the co-order part graph: 2
    // walks × 3 steps from every node, step s of walk w from `start`
    // moving to neighbor keyHash("start:w:s:cur") % degree(cur) in the
    // dst-ordered adjacency ranking — both engines emit the identical
    // walk table (the reproducibility a 100 TB embedding run needs).
    // len chained co-partitioned joins against the once-ranked
    // adjacency; nothing global, nothing collected
    QuerySpec("graph_random_walks",
      s"""$WalksCtes
         |SELECT start, CAST(walk AS BIGINT) AS walk,
         |  CAST(step AS BIGINT) AS step, node
         |FROM walks""".stripMargin) { (s, d) =>
      // raw pairs, not coOccurrenceEdges: randomWalks dedups (src, dst)
      // partition-locally after its own src exchange, so the global
      // distinct would be a pure extra shuffle of the 1.8M-pair set
      val edges = graft.ops.Graph.coOccurrencePairs(
        s.read.parquet(s"$d/lineitem.parquet"), "l_orderkey", "l_partkey")
      // co-occurrence graphs are symmetric by construction: the start
      // set is the adjacency's rank-0 srcs, no union-dedup pass
      graft.ops.Graph.randomWalks(edges, nWalks = 2, len = 3, symmetric = true)
    },

    // skip-gram context pairs off the walk table (DeepWalk §4.2): each
    // node co-trains with the nodes within 2 steps on the SAME walk —
    // the (center, context, count) frame a word2vec trainer consumes.
    // The walk table rides as PATH ARRAYS (randomWalkPaths: len left
    // joins, one consumer each, zero cuts) and the window pairs are a
    // per-row array transform — no self-join, no walk-table
    // materialization; the only shuffle is the final count aggregation.
    // The oracle keeps the self-join formulation: same pairs by definition
    QuerySpec("graph_walk_contexts",
      s"""$WalksCtes
         |SELECT a.node AS center, b.node AS context, count(*) AS n_pairs
         |FROM walks a JOIN walks b
         |  ON a.start = b.start AND a.walk = b.walk
         |  AND a.step <> b.step AND abs(a.step - b.step) <= 2
         |GROUP BY 1, 2""".stripMargin) { (s, d) =>
      val edges = graft.ops.Graph.coOccurrencePairs(
        s.read.parquet(s"$d/lineitem.parquet"), "l_orderkey", "l_partkey")
      graft.ops.Graph.walkContextsFromPaths(
        graft.ops.Graph.randomWalkPaths(edges, nWalks = 2, len = 3, symmetric = true),
        window = 2)
    },

    // split-conformal calibration of the naive "history repeats"
    // forecast (prediction for post-period spend = pre-period spend,
    // per user): hash-parity user split, 90th-percentile |residual|
    // threshold from the CALIBRATION half via the bounded histogram
    // sketch (upper bin edge — conservative by construction, the
    // direction conformal requires), empirical coverage of that
    // threshold on the TEST half. The distribution-free interval-width
    // audit published beside any forecast; everything is integer cents
    // except nothing — there are no doubles at all
    QuerySpec("events_conformal",
      raw"""WITH e AS (SELECT user_id, epoch_us(ts) AS us,
           |            CAST(floor(value * 100) AS BIGINT) AS cents FROM events),
           |bnd AS (SELECT (min(us) + max(us)) // 2 AS mid FROM e),
           |u AS (SELECT user_id,
           |        sum(CASE WHEN us <= mid THEN cents ELSE 0 END) AS x,
           |        sum(CASE WHEN us > mid THEN cents ELSE 0 END) AS y
           |      FROM e CROSS JOIN bnd GROUP BY 1),
           |r AS (SELECT abs(y - x) AS r,
           |        ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT % 2
           |          AS side FROM u),
           |cal AS (SELECT r FROM r WHERE side = 0),
           |tst AS (SELECT r FROM r WHERE side = 1),
           |b AS (SELECT min(r) AS lo, max(r) AS hi, count(*) AS n FROM cal),
           |bi AS (SELECT CASE WHEN b.hi = b.lo THEN 0
           |         ELSE least(63, ((cal.r - b.lo) * 64) // (b.hi - b.lo)) END AS bin
           |       FROM cal CROSS JOIN b),
           |c AS (SELECT bin, count(*) AS cnt FROM bi GROUP BY 1),
           |cu AS (SELECT bin, sum(cnt) OVER (ORDER BY bin) AS cum FROM c),
           |q AS (SELECT min(bin) AS q_bin FROM cu CROSS JOIN b
           |      WHERE cum >= (b.n * 9 + 9) // 10),
           |thr AS (SELECT b.n AS n_cal, q.q_bin,
           |          b.lo * 64 + (q.q_bin + 1) * (b.hi - b.lo) AS thr_scaled
           |        FROM q CROSS JOIN b)
           |SELECT CAST(n_cal AS BIGINT) AS n_cal,
           |  CAST(count(*) AS BIGINT) AS n_test,
           |  CAST(q_bin AS BIGINT) AS q_bin,
           |  CAST(thr_scaled AS BIGINT) AS thr_scaled,
           |  CAST(sum(CASE WHEN tst.r * 64 <= thr_scaled THEN 1 ELSE 0 END)
           |    AS BIGINT) AS covered,
           |  CAST(sum(CASE WHEN tst.r * 64 <= thr_scaled THEN 1 ELSE 0 END) * 1000
           |    // count(*) AS BIGINT) AS coverage_milli
           |FROM tst CROSS JOIN thr
           |GROUP BY n_cal, q_bin, thr_scaled""".stripMargin) { (s, d) =>
      import graft.ops.{RobustStats, Sampling}
      val e = OpsQueries.events(s, d)
        .select(col("user_id"), expr("unix_micros(ts)").as("us"),
          floor(col("value") * 100).cast("long").as("cents"))
      val bnd = e.agg(expr("(min(us) + max(us)) div 2").as("mid"))
      val resid = e.crossJoin(broadcast(bnd))
        .groupBy(col("user_id"))
        .agg(sum(when(col("us") <= col("mid"), col("cents")).otherwise(0L)).as("x"),
          sum(when(col("us") > col("mid"), col("cents")).otherwise(0L)).as("y"))
        .select(abs(col("y") - col("x")).as("resid"),
          (Sampling.keyHash(col("user_id").cast("string")) % 2).as("side"))
      RobustStats.conformalCoverage(
        resid.where(col("side") === 0).select("resid"),
        resid.where(col("side") === 1).select("resid"),
        "resid", nBins = 64, qn = 9, qd = 10)
    },

    // per-hour distinct users in HLL registers — the bounded-state
    // shape: ≤ 64 small integers per window, however many users the
    // window sees. The estimate is
    // the same exact-integer scaled harmonic sum as text_distinct_hll:
    // the only double is one literal-by-integer division
    QuerySpec("events_distinct_hll",
      raw"""WITH hh AS (SELECT epoch_ms(ts) // 3600000 AS hr,
           |    ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT AS h
           |  FROM events),
           |rr AS (SELECT hr, h % 64 AS bucket,
           |         CASE WHEN h // 64 = 0 THEN 55
           |              ELSE 55 - length(bin(h // 64)) END AS rho
           |       FROM hh),
           |reg AS (SELECT hr, bucket, max(rho) AS rho FROM rr GROUP BY 1, 2),
           |agg AS (SELECT hr,
           |          64 - count(*) AS n_zero_registers,
           |          CAST(sum(CAST(1 AS BIGINT) << CAST(55 - rho AS INTEGER))
           |               + (64 - count(*)) * (CAST(1 AS BIGINT) << 55) AS BIGINT)
           |            AS s_scaled
           |        FROM reg GROUP BY 1)
           |SELECT hr, n_zero_registers, s_scaled,
           |  ${graft.ops.Sketches.EstimateNumerator} / CAST(s_scaled AS DOUBLE)
           |    AS raw_estimate
           |FROM agg""".stripMargin) { (s, d) =>
      val e = OpsQueries.events(s, d)
        .select(expr("unix_millis(ts) div 3600000").as("hr"),
          col("user_id").cast("string").as("u"))
      graft.ops.Sketches.hllEstimate(e, "hr", col("u"))
    },

    // the watermark DECISION the disorder profile informs: for a
    // ladder of candidate lateness bounds, the exact delivered mass
    // under the same 4-shard/256-event merge model, and the chosen
    // bound = smallest with >= 999 per mille delivered (falling back
    // to the largest rung if the tail is heavier than 1 per mille).
    // One pass computes every rung; the per-batch window is bounded at
    // 256 rows. This is the number an operator sets
    // withWatermark(...) from — measured, not guessed
    QuerySpec("events_watermark_advisor",
      raw"""WITH e AS (SELECT user_id, event_id, epoch_ms(ts) AS ms FROM events),
           |s AS (SELECT ms, event_id, event_id // 256 AS batch,
           |        user_id % 4 AS shard FROM e),
           |w AS (SELECT ms,
           |        max(ms) OVER (PARTITION BY batch ORDER BY shard, event_id
           |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max
           |      FROM s),
           |l AS (SELECT CASE WHEN prev_max IS NULL OR prev_max <= ms THEN 0
           |             ELSE prev_max - ms END AS late_ms FROM w),
           |b AS (SELECT CAST(unnest([0, 1000, 5000, 30000, 60000, 300000,
           |               600000, 1800000, 3600000]) AS BIGINT) AS bound_ms),
           |m AS (SELECT b.bound_ms, count(*) AS n_total,
           |        sum(CASE WHEN late_ms <= bound_ms THEN 1 ELSE 0 END) AS n_delivered
           |      FROM l CROSS JOIN b GROUP BY 1),
           |pick AS (SELECT COALESCE(
           |           min(CASE WHEN n_delivered * 1000 >= n_total * 999
           |                    THEN bound_ms END),
           |           max(bound_ms)) AS chosen_bound FROM m)
           |SELECT m.bound_ms, CAST(m.n_delivered AS BIGINT) AS n_delivered,
           |  CAST((m.n_delivered * 1000) // m.n_total AS BIGINT) AS delivered_milli,
           |  CAST(CASE WHEN m.bound_ms = pick.chosen_bound THEN 1 ELSE 0 END
           |    AS BIGINT) AS chosen
           |FROM m CROSS JOIN pick""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("batch")).orderBy(col("shard"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val late = OpsQueries.events(s, d)
        .select(expr("unix_millis(ts)").as("ms"), col("event_id"),
          expr("event_id div 256").as("batch"),
          (col("user_id") % 4).as("shard"))
        .withColumn("prev_max", max(col("ms")).over(w))
        .select(when(col("prev_max").isNull || col("prev_max") <= col("ms"), 0L)
          .otherwise(col("prev_max") - col("ms")).as("late_ms"))
      import s.implicits._
      val bounds = Seq(0L, 1000L, 5000L, 30000L, 60000L, 300000L,
        600000L, 1800000L, 3600000L).toDF("bound_ms")
      val m = late.crossJoin(broadcast(bounds))
        .groupBy(col("bound_ms"))
        .agg(count(lit(1)).as("n_total"),
          sum(when(col("late_ms") <= col("bound_ms"), 1L).otherwise(0L))
            .as("n_delivered"))
      val pick = m.agg(coalesce(
          min(when(col("n_delivered") * 1000 >= col("n_total") * 999,
            col("bound_ms"))),
          max(col("bound_ms"))).as("chosen_bound"))
      m.crossJoin(broadcast(pick))
        .select(col("bound_ms"), col("n_delivered"),
          expr("(n_delivered * 1000) div n_total").as("delivered_milli"),
          when(col("bound_ms") === col("chosen_bound"), 1L).otherwise(0L)
            .as("chosen"))
    },

    // time-weighted average value per user (TWAP): LOCF over continuous
    // time — each value holds until the user's next event, the last one
    // until the stream horizon. Durations are exact epoch micros, the
    // cents×micros numerator runs in DECIMAL(38,0)/HUGEINT, and the
    // milli-cent quotient is a single exact integer division — the metric
    // row-means get wrong whenever sampling is event-driven
    QuerySpec("events_twap",
      raw"""WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS t,
           |             CAST(floor(value * 100) AS BIGINT) AS cents FROM events),
           |hz AS (SELECT max(t) AS h FROM e),
           |d AS (SELECT user_id, cents,
           |        COALESCE(lead(t) OVER (PARTITION BY user_id ORDER BY t, event_id),
           |                 hz.h) - t AS dur
           |      FROM e CROSS JOIN hz),
           |a AS (SELECT user_id, count(*) AS n_events, sum(dur) AS span_us,
           |        sum(CAST(cents AS HUGEINT) * dur) AS num FROM d GROUP BY 1)
           |SELECT user_id, n_events, CAST(span_us AS BIGINT) AS span_us,
           |  CAST(CASE WHEN span_us > 0 THEN (1000 * num) // span_us END AS BIGINT)
           |    AS twap_mc
           |FROM a""".stripMargin) { (s, d) =>
      graft.ops.Resample.timeWeightedMean(OpsQueries.events(s, d),
        "user_id", "ts", floor(col("value") * 100).cast("long"), "event_id")
    },

    // does spending RANK with activity rank? Spearman correlation, exact
    // under ties: Pearson over 2×tie-averaged ranks, ranks assigned by
    // the distributed two-pass row index (no global rank window anywhere
    // in the plan) and min+max-folded per value group — robust to the
    // heavy value skew that makes the Pearson twin misleading
    QuerySpec("events_value_spearman",
      raw"""WITH u AS (SELECT user_id,
           |             sum(CAST(floor(value * 100) AS BIGINT)) AS x,
           |             count(*) AS y
           |           FROM events GROUP BY 1),
           |rx AS (SELECT user_id, 2 * rank() OVER (ORDER BY x)
           |         + count(*) OVER (PARTITION BY x) - 1 AS r2x FROM u),
           |ry AS (SELECT user_id, 2 * rank() OVER (ORDER BY y)
           |         + count(*) OVER (PARTITION BY y) - 1 AS r2y FROM u),
           |p AS (SELECT CAST(r2x AS HUGEINT) AS x, CAST(r2y AS HUGEINT) AS y
           |      FROM rx JOIN ry USING (user_id)),
           |m AS (SELECT count(*) AS n, sum(x) AS sx, sum(y) AS sy,
           |        sum(x * y) AS sxy, sum(x * x) AS sx2, sum(y * y) AS sy2
           |      FROM p)
           |SELECT 'all' AS grp, CAST(n AS BIGINT) AS n,
           |  CAST(sx AS VARCHAR) AS sum_x, CAST(sy AS VARCHAR) AS sum_y,
           |  CAST(sxy AS VARCHAR) AS sum_xy, CAST(sx2 AS VARCHAR) AS sum_x2,
           |  CAST(sy2 AS VARCHAR) AS sum_y2,
           |  CAST(n * sxy - sx * sy AS DOUBLE) /
           |    (sqrt(CAST(n * sx2 - sx * sx AS DOUBLE)) *
           |     sqrt(CAST(n * sy2 - sy * sy AS DOUBLE))) AS rho
           |FROM m""".stripMargin) { (s, d) =>
      val u = OpsQueries.events(s, d).groupBy(col("user_id"))
        .agg(sum(floor(col("value") * 100).cast("long")).as("x"),
          count(lit(1)).as("y"))
      graft.ops.RobustStats.spearmanExact(u, "user_id", "x", "y")
    },

    // run-length layout audit over lineitem's physical order: value runs
    // per candidate column (the number that decides whether RLE/dict
    // pages compress and whether a resort pays for itself). Adjacency is
    // ONE self-equi-join on the distributed row index — no global
    // window; all four columns ride the same pass
    QuerySpec("layout_rle_gain",
      raw"""WITH o AS (SELECT CAST(l_returnflag AS VARCHAR) AS c1,
           |             CAST(l_linestatus AS VARCHAR) AS c2,
           |             CAST(l_suppkey AS VARCHAR) AS c3,
           |             CAST(CAST(l_shipdate AS DATE) AS VARCHAR) AS c4,
           |             row_number() OVER (ORDER BY l_orderkey, l_linenumber) AS rn
           |           FROM lineitem),
           |w AS (SELECT c1, c2, c3, c4, rn,
           |        lag(c1) OVER (ORDER BY rn) AS p1, lag(c2) OVER (ORDER BY rn) AS p2,
           |        lag(c3) OVER (ORDER BY rn) AS p3, lag(c4) OVER (ORDER BY rn) AS p4
           |      FROM o),
           |s AS (SELECT count(*) AS n,
           |        sum(CASE WHEN rn = 1 OR c1 IS DISTINCT FROM p1 THEN 1 ELSE 0 END) AS r1,
           |        sum(CASE WHEN rn = 1 OR c2 IS DISTINCT FROM p2 THEN 1 ELSE 0 END) AS r2,
           |        sum(CASE WHEN rn = 1 OR c3 IS DISTINCT FROM p3 THEN 1 ELSE 0 END) AS r3,
           |        sum(CASE WHEN rn = 1 OR c4 IS DISTINCT FROM p4 THEN 1 ELSE 0 END) AS r4,
           |        count(DISTINCT c1) AS d1, count(DISTINCT c2) AS d2,
           |        count(DISTINCT c3) AS d3, count(DISTINCT c4) AS d4
           |      FROM w)
           |SELECT * FROM (
           |  SELECT 'l_returnflag' AS column_name, n AS n_rows, CAST(r1 AS BIGINT) AS n_runs,
           |    CAST(d1 AS BIGINT) AS n_distinct, CAST((1000 * n) // r1 AS BIGINT) AS avg_run_milli,
           |    CAST((1000 * r1) // d1 AS BIGINT) AS sorted_gain_milli FROM s
           |  UNION ALL
           |  SELECT 'l_linestatus', n, CAST(r2 AS BIGINT), CAST(d2 AS BIGINT),
           |    CAST((1000 * n) // r2 AS BIGINT), CAST((1000 * r2) // d2 AS BIGINT) FROM s
           |  UNION ALL
           |  SELECT 'l_suppkey', n, CAST(r3 AS BIGINT), CAST(d3 AS BIGINT),
           |    CAST((1000 * n) // r3 AS BIGINT), CAST((1000 * r3) // d3 AS BIGINT) FROM s
           |  UNION ALL
           |  SELECT 'l_shipday', n, CAST(r4 AS BIGINT), CAST(d4 AS BIGINT),
           |    CAST((1000 * n) // r4 AS BIGINT), CAST((1000 * r4) // d4 AS BIGINT) FROM s
           |)""".stripMargin) { (s, d) =>
      graft.ops.Layout.rleGain(
        s.read.parquet(s"$d/lineitem.parquet")
          .withColumn("l_shipday", to_date(col("l_shipdate"))),
        Seq(col("l_orderkey"), col("l_linenumber")),
        Seq("l_returnflag", "l_linestatus", "l_suppkey", "l_shipday"))
    },

    // WEIGHTED (bag) Jaccard near-dup pairs: occurrence-indexed
    // 3-shingles (sh#1..sh#c) reduce bag similarity to set similarity,
    // so the rarest-first prefix filter keeps its no-false-negatives
    // guarantee while min/max multiplicities decide the score — the
    // similarity that separates "both mention X" from "both repeat X
    // fifty times". Shingle grain matters at corpus scale: unigram bags
    // over a small vocabulary make every prefix a hub (measured 99.6 s
    // at sf0.1 before this 3-gram shape took it to ~1 s)
    QuerySpec("dedup_weighted_jaccard",
      raw"""WITH tt AS (SELECT doc_id, CASE WHEN length(trim(text)) = 0 THEN []
           |              ELSE string_split_regex(trim(lower(text)), '\s+') END AS t
           |            FROM documents),
           |tk AS (SELECT doc_id AS doc, unnest(CASE WHEN len(t) < 3 THEN []
           |         ELSE [array_to_string(t[i:i+2], ' ') FOR i IN range(1, len(t) - 1)] END)
           |         AS w FROM tt),
           |cn AS (SELECT doc, w, count(*) AS c FROM tk GROUP BY 1, 2),
           |sh AS (SELECT doc, w || '#' || CAST(unnest(range(1, c + 1)) AS VARCHAR) AS tok
           |       FROM cn),
           |sz AS (SELECT doc, count(*) AS n FROM sh GROUP BY 1),
           |df AS (SELECT tok, count(*) AS df FROM sh GROUP BY 1),
           |rk AS (SELECT s.doc, s.tok,
           |         row_number() OVER (PARTITION BY s.doc ORDER BY d.df, s.tok) AS r, z.n
           |       FROM sh s JOIN df d USING (tok) JOIN sz z USING (doc)),
           |pf AS (SELECT doc, tok FROM rk WHERE r <= n - ((700 * n + 999) // 1000) + 1),
           |cand AS (SELECT DISTINCT a.doc AS id_a, b.doc AS id_b
           |         FROM pf a JOIN pf b ON a.tok = b.tok AND a.doc < b.doc),
           |i AS (SELECT c.id_a, c.id_b, count(*) AS inter
           |      FROM cand c JOIN sh sa ON sa.doc = c.id_a
           |                  JOIN sh sb ON sb.doc = c.id_b AND sb.tok = sa.tok
           |      GROUP BY 1, 2)
           |SELECT i.id_a, i.id_b, i.inter, za.n + zb.n - i.inter AS uni,
           |  CAST((i.inter * 1000) // (za.n + zb.n - i.inter) AS BIGINT) AS wjac_milli
           |FROM i JOIN sz za ON za.doc = i.id_a JOIN sz zb ON zb.doc = i.id_b
           |WHERE i.inter * 1000 >= (za.n + zb.n - i.inter) * 700""".stripMargin) { (s, d) =>
      graft.ops.SetSimilarity.weightedJaccardJoin(
        s.read.parquet(s"$d/documents.parquet"), "text", "doc_id",
        shingleN = 3, tMilli = 700)
    },

    // lexical-diversity card: type-token ratio + Gini impurity of the
    // token distribution — the exact-integer entropy stand-in (ln is
    // libm-specific and would not hash-match cross-engine; impurity
    // ranks the same degenerate-repetition offenders)
    QuerySpec("text_token_diversity",
      raw"""WITH tt AS (SELECT doc_id, CASE WHEN length(trim(text)) = 0 THEN []
           |              ELSE string_split_regex(trim(lower(text)), '\s+') END AS t
           |            FROM documents),
           |tk AS (SELECT doc_id, unnest(t) AS w FROM tt),
           |cn AS (SELECT doc_id, w, count(*) AS c FROM tk GROUP BY 1, 2),
           |a AS (SELECT doc_id, sum(c) AS n, count(*) AS types, sum(c * c) AS s2
           |      FROM cn GROUP BY 1)
           |SELECT tt.doc_id,
           |  CAST(COALESCE(a.n, 0) AS BIGINT) AS n_tokens,
           |  CAST(COALESCE(a.types, 0) AS BIGINT) AS n_types,
           |  CAST(CASE WHEN a.n > 0 THEN (1000 * a.types) // a.n END AS BIGINT)
           |    AS ttr_milli,
           |  CAST(CASE WHEN a.n > 0 THEN 1000 - (1000 * a.s2) // (a.n * a.n) END
           |    AS BIGINT) AS gini_milli
           |FROM tt LEFT JOIN a USING (doc_id)""".stripMargin) { (s, d) =>
      graft.ops.TextAnalysis.tokenDiversity(
        s.read.parquet(s"$d/documents.parquet"), "text", "doc_id")
    },

    // Zipf profile with no ln/pow anywhere: frequency mass per DOUBLING
    // rank band. Under Zipf-1 the bands carry ~equal mass; a head-heavy
    // corpus (synthetic, templated) shows up as a falling staircase.
    // Ranks ride the distributed two-pass row index — the profile runs
    // unchanged on a 100M-type vocabulary
    QuerySpec("vocab_zipf_bands",
      raw"""WITH tt AS (SELECT CASE WHEN length(trim(text)) = 0 THEN []
           |              ELSE string_split_regex(trim(lower(text)), '\s+') END AS t
           |            FROM documents),
           |wc AS (SELECT w, count(*) AS freq
           |       FROM (SELECT unnest(t) AS w FROM tt) GROUP BY 1),
           |rk AS (SELECT freq,
           |         row_number() OVER (ORDER BY freq DESC, w) AS rank FROM wc),
           |bd AS (SELECT freq, CASE
           |         WHEN rank < 2 THEN 0 WHEN rank < 4 THEN 1 WHEN rank < 8 THEN 2
           |         WHEN rank < 16 THEN 3 WHEN rank < 32 THEN 4 WHEN rank < 64 THEN 5
           |         WHEN rank < 128 THEN 6 WHEN rank < 256 THEN 7 WHEN rank < 512 THEN 8
           |         WHEN rank < 1024 THEN 9 WHEN rank < 2048 THEN 10
           |         WHEN rank < 4096 THEN 11 WHEN rank < 8192 THEN 12
           |         WHEN rank < 16384 THEN 13 WHEN rank < 32768 THEN 14
           |         WHEN rank < 65536 THEN 15 WHEN rank < 131072 THEN 16
           |         WHEN rank < 262144 THEN 17 WHEN rank < 524288 THEN 18
           |         WHEN rank < 1048576 THEN 19 ELSE 20 END AS band FROM rk),
           |tot AS (SELECT sum(freq) AS total FROM wc)
           |SELECT band, CAST(1::BIGINT << band AS BIGINT) AS lo_rank,
           |  count(*) AS n_types, CAST(sum(freq) AS BIGINT) AS mass,
           |  CAST((1000 * sum(freq)) // tot.total AS BIGINT) AS mass_milli
           |FROM bd CROSS JOIN tot
           |GROUP BY band, tot.total""".stripMargin) { (s, d) =>
      graft.ops.Vocab.zipfBands(
        s.read.parquet(s"$d/documents.parquet"), "text", maxBand = 20)
    },

    // retrieval eval against label relevance: rank the corpus per query
    // with the exact float-dot kernel, report the FIRST same-label rank,
    // floor-milli reciprocal rank, and hit@5 — per-query rows so a bad
    // slice is drillable (mean rr_milli = MRR). Queries whose label
    // never recurs surface with null rank instead of vanishing
    QuerySpec("retrieval_mrr",
      raw"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv, label AS q_label
           |           FROM embeddings WHERE vec_id % 100 = 0),
           |scored AS (SELECT query_id, q_label, e.label AS c_label,
           |             row_number() OVER (PARTITION BY query_id
           |               ORDER BY list_dot_product(qv, e.embedding) DESC, e.vec_id)
           |               AS rank
           |           FROM q JOIN embeddings e ON e.vec_id <> query_id),
           |a AS (SELECT query_id, q_label,
           |        min(CASE WHEN c_label = q_label THEN rank END) AS first_rel_rank,
           |        max(CASE WHEN c_label = q_label AND rank <= 5 THEN 1 ELSE 0 END)
           |          AS hit_at_5
           |      FROM scored GROUP BY 1, 2)
           |SELECT query_id, q_label, first_rel_rank, CAST(hit_at_5 AS BIGINT) AS hit_at_5,
           |  CAST(CASE WHEN first_rel_rank IS NOT NULL THEN 1000 // first_rel_rank END
           |    AS BIGINT) AS rr_milli
           |FROM a""".stripMargin) { (s, d) =>
      val e = s.read.parquet(s"$d/embeddings.parquet")
      graft.ops.Similarity.mrrEval(e, e.where(col("vec_id") % 100 === 0),
        "vec_id", "embedding", "label", k = 5)
    },

    // Recall@10 — the coverage leg of the eval triad (MRR: first hit;
    // NDCG: graded positions; recall: how many of the relevant items the
    // top-k finds at all). Denominator capped at k so prevalence doesn't
    // masquerade as retrieval failure; label-less queries keep NULL
    QuerySpec("retrieval_recall_at_k",
      raw"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv, label AS q_label
           |           FROM embeddings WHERE vec_id % 100 = 0),
           |scored AS (SELECT query_id, q_label, e.label AS c_label,
           |             row_number() OVER (PARTITION BY query_id
           |               ORDER BY list_dot_product(qv, e.embedding) DESC, e.vec_id)
           |               AS rank
           |           FROM q JOIN embeddings e ON e.vec_id <> query_id)
           |SELECT query_id, q_label,
           |  CAST(sum(CASE WHEN c_label = q_label THEN 1 ELSE 0 END) AS BIGINT) AS n_rel,
           |  CAST(sum(CASE WHEN c_label = q_label AND rank <= 10 THEN 1 ELSE 0 END)
           |    AS BIGINT) AS n_hit,
           |  CAST(CASE WHEN sum(CASE WHEN c_label = q_label THEN 1 ELSE 0 END) > 0
           |    THEN (1000 * sum(CASE WHEN c_label = q_label AND rank <= 10 THEN 1 ELSE 0 END))
           |      // least(sum(CASE WHEN c_label = q_label THEN 1 ELSE 0 END), 10)
           |    END AS BIGINT) AS recall_milli
           |FROM scored GROUP BY 1, 2""".stripMargin) { (s, d) =>
      val e = s.read.parquet(s"$d/embeddings.parquet")
      graft.ops.Similarity.recallAtK(e, e.where(col("vec_id") % 100 === 0),
        "vec_id", "embedding", "label", k = 10)
    },

    // NDCG@5 — the graded-position eval beside MRR: hits at rank r earn
    // the milli gain 10^3/log2(r+1), normalized by the query's ideal
    // DCG. The irrational log discounts are DRIVER-computed milli
    // literals interpolated into both engines, so the eval is exact
    // integer arithmetic end-to-end
    QuerySpec("retrieval_ndcg", {
      val g = graft.ops.Similarity.ndcgGainsMilli(5)
      val cum = g.scanLeft(0L)(_ + _).tail
      raw"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv, label AS q_label
           |           FROM embeddings WHERE vec_id % 100 = 0),
           |scored AS (SELECT query_id, q_label, e.label AS c_label,
           |             row_number() OVER (PARTITION BY query_id
           |               ORDER BY list_dot_product(qv, e.embedding) DESC, e.vec_id)
           |               AS rank
           |           FROM q JOIN embeddings e ON e.vec_id <> query_id),
           |a AS (SELECT query_id, q_label,
           |        sum(CASE WHEN c_label = q_label AND rank <= 5
           |            THEN [${g.mkString(", ")}][rank] ELSE 0 END) AS dcg,
           |        sum(CASE WHEN c_label = q_label THEN 1 ELSE 0 END) AS n_rel
           |      FROM scored GROUP BY 1, 2)
           |SELECT query_id, q_label, CAST(dcg AS BIGINT) AS dcg_milli,
           |  CAST(n_rel AS BIGINT) AS n_rel,
           |  CAST(CASE WHEN n_rel > 0 THEN (1000 * dcg)
           |    // ([${cum.mkString(", ")}][CAST(least(n_rel, 5) AS BIGINT)])
           |    END AS BIGINT) AS ndcg_milli
           |FROM a""".stripMargin
    }) { (s, d) =>
      val e = s.read.parquet(s"$d/embeddings.parquet")
      graft.ops.Similarity.ndcgAtK(e, e.where(col("vec_id") % 100 === 0),
        "vec_id", "embedding", "label", k = 5)
    },

    // aspect-ratio bucketing — the image-batch planning step: snap each
    // (stub-decoded) image to the nearest ladder ratio, count the bucket
    // populations and the batches they yield at size 32. The ladder is a
    // 7-row broadcast; exact integer milli ratios in both engines
    QuerySpec("mm_aspect_buckets",
      s"""${MultimodalSql.featuresCte},
         |img AS (SELECT media_id, (1000 * width) // height AS ratio_milli
         |        FROM f WHERE media_type = 'image'),
         |lad AS (SELECT * FROM (VALUES ('1:2', 500), ('9:16', 562), ('3:4', 750),
         |          ('1:1', 1000), ('4:3', 1333), ('16:9', 1778), ('2:1', 2000))
         |          l(bucket, target_milli)),
         |asg AS (SELECT media_id, ratio_milli, bucket, target_milli,
         |          row_number() OVER (PARTITION BY media_id
         |            ORDER BY abs(ratio_milli - target_milli), target_milli) AS r
         |        FROM img CROSS JOIN lad)
         |SELECT bucket, CAST(target_milli AS BIGINT) AS target_milli,
         |  count(*) AS n_images,
         |  CAST(min(ratio_milli) AS BIGINT) AS min_ratio_milli,
         |  CAST(max(ratio_milli) AS BIGINT) AS max_ratio_milli,
         |  CAST((count(*) + 31) // 32 AS BIGINT) AS n_batches
         |FROM asg WHERE r = 1 GROUP BY 1, 2""".stripMargin) { (s, d) =>
      graft.ops.Multimodal.aspectBuckets(
        graft.ops.Multimodal.decodeFeatures(graft.ops.Multimodal.asMedia(
          graft.ops.Multimodal.syntheticMedia(
            s.read.parquet(s"$d/documents.parquet"), "doc_id", "text"))).toDF(),
        batchSize = 32)
    },

    // near-duplicate media: banded Hamming join over the 64-bit content
    // hash (pHash slot) — pairs within 3 bit flips must share one of the
    // four 16-bit slices exactly (pigeonhole, so the equi-join is
    // COMPLETE), one popcount per candidate settles it. The stub hash
    // makes byte-identical payload prefixes land at hamming 0 — the
    // exact-duplicate media the corpus actually contains
    QuerySpec("mm_phash_neardup",
      s"""${MultimodalSql.featuresCte},
         |ph AS (SELECT media_id, content_hash,
         |         CAST(content_hash AS HUGEINT) + CASE WHEN content_hash < 0
         |           THEN CAST('18446744073709551616' AS HUGEINT) ELSE 0 END AS u
         |       FROM f),
         |bd AS (SELECT media_id, content_hash,
         |         b.band, CAST((u >> (16 * b.band)) % 65536 AS BIGINT) AS bv
         |       FROM ph CROSS JOIN (SELECT unnest(range(0, 4)) AS band) b),
         |pr AS (SELECT DISTINCT x.media_id AS media_id_a, y.media_id AS media_id_b,
         |         x.content_hash AS ha, y.content_hash AS hb
         |       FROM bd x JOIN bd y ON x.band = y.band AND x.bv = y.bv
         |         AND x.media_id < y.media_id)
         |SELECT media_id_a, media_id_b,
         |  CAST(bit_count(xor(ha, hb)) AS BIGINT) AS hamming
         |FROM pr WHERE bit_count(xor(ha, hb)) <= 3""".stripMargin) { (s, d) =>
      graft.ops.Multimodal.phashNearDups(
        graft.ops.Multimodal.decodeFeatures(graft.ops.Multimodal.asMedia(
          graft.ops.Multimodal.syntheticMedia(
            s.read.parquet(s"$d/documents.parquet"), "doc_id", "text"))).toDF(),
        maxHamming = 3)
    },

    // REAL media decode — no stub anywhere in this query: genuine PNG
    // payloads (JDK-encoded) decoded back through javax.imageio, genuine
    // WAV RIFF headers walked for duration, and a deterministic 1-in-19
    // truncation whose decode MUST fail into NULL metadata. The oracle
    // knows the generation formulas, so a decoder that fabricates or
    // misreads a single dimension hash-mismatches
    QuerySpec("mm_real_decode",
      raw"""SELECT doc_id AS media_id,
           |  CASE WHEN doc_id % 2 = 0 THEN 'image' ELSE 'audio' END AS media_type,
           |  CASE WHEN doc_id % 19 = 0 THEN NULL
           |       WHEN doc_id % 2 = 0 THEN CAST(64 + doc_id % 29 AS INT)
           |       ELSE 0 END AS width,
           |  CASE WHEN doc_id % 19 = 0 THEN NULL
           |       WHEN doc_id % 2 = 0 THEN CAST(64 + doc_id % 31 AS INT)
           |       ELSE 0 END AS height,
           |  CASE WHEN doc_id % 19 = 0 THEN NULL
           |       WHEN doc_id % 2 = 0 THEN 0
           |       ELSE 10 * (1 + doc_id % 25) END AS duration_ms,
           |  CAST(CASE WHEN doc_id % 19 = 0 THEN 0 ELSE 1 END AS BIGINT) AS decode_ok
           |FROM documents""".stripMargin) { (s, d) =>
      graft.ops.Multimodal.decodeRealFeatures(
        graft.ops.Multimodal.realMedia(
          s.read.parquet(s"$d/documents.parquet"), "doc_id", corruptMod = 19)).toDF()
        .select(col("media_id"), col("media_type"), col("width"), col("height"),
          col("duration_ms"), col("decode_ok").cast("long").as("decode_ok"))
    },

    // REAL mp4 metadata — the third modality off the stub: genuine
    // ISO-BMFF containers (ftyp + moov/mvhd at timescale 600) walked with
    // pure byte arithmetic for duration, 1-in-19 truncated to 8 bytes so
    // the box walk MUST fail into NULL metadata. The oracle knows the
    // generation formula (40·(1+id%50) ms) AND the container size
    // (132 bytes whole, 8 corrupt), so a walker that misreads the
    // version-0 field offsets or the unit conversion hash-mismatches
    QuerySpec("mm_real_video",
      raw"""SELECT doc_id AS media_id, 'video' AS media_type,
           |  CAST(CASE WHEN doc_id % 19 = 0 THEN 8 ELSE 132 END AS INT) AS n_bytes,
           |  CASE WHEN doc_id % 19 = 0 THEN NULL
           |       ELSE 40 * (1 + doc_id % 50) END AS duration_ms,
           |  CAST(CASE WHEN doc_id % 19 = 0 THEN 0 ELSE 1 END AS BIGINT) AS decode_ok
           |FROM documents""".stripMargin) { (s, d) =>
      graft.ops.Multimodal.decodeRealFeatures(
        graft.ops.Multimodal.realVideoMedia(
          s.read.parquet(s"$d/documents.parquet"), "doc_id", corruptMod = 19)).toDF()
        .select(col("media_id"), col("media_type"), col("n_bytes"),
          col("duration_ms"), col("decode_ok").cast("long").as("decode_ok"))
    },

    // REAL sample-level audio analysis — one level deeper than header
    // metadata: each id carries a genuine PCM16 WAV whose waveform is a
    // deterministic integer tone (sample i = ((id·31+i·7) mod 2003) −
    // 1001), and the RIFF data chunk is scanned for Σ|s|, peak |s|, and
    // the zero-crossing count. The oracle recomputes every sample from
    // the formula, so a scanner that misreads one int16 (sign, endian,
    // offset) hash-mismatches; 1-in-19 truncated payloads land in NULLs
    QuerySpec("mm_real_audio",
      raw"""WITH ok AS (SELECT doc_id AS id, 80 * (1 + doc_id % 25) AS n
           |            FROM documents WHERE doc_id % 19 <> 0),
           |sm AS (SELECT id, n, unnest(range(0, n)) AS i FROM ok),
           |v AS (SELECT id, n, i,
           |        ((id * 31 + i * 7) % 2003) - 1001 AS s,
           |        CASE WHEN i < n - 1
           |             THEN ((id * 31 + (i + 1) * 7) % 2003) - 1001 END AS s2
           |      FROM sm),
           |a AS (SELECT id, max(n) AS n,
           |        sum(abs(s)) AS sum_abs, max(abs(s)) AS peak_abs,
           |        sum(CASE WHEN s2 IS NOT NULL AND ((s < 0) <> (s2 < 0))
           |            THEN 1 ELSE 0 END) AS nx
           |      FROM v GROUP BY 1)
           |SELECT id AS media_id, CAST(n AS BIGINT) AS n_samples,
           |  CAST(sum_abs AS BIGINT) AS sum_abs,
           |  CAST(peak_abs AS BIGINT) AS peak_abs,
           |  CAST(nx AS BIGINT) AS n_crossings, CAST(1 AS BIGINT) AS decode_ok
           |FROM a
           |UNION ALL
           |SELECT doc_id, NULL, NULL, NULL, NULL, CAST(0 AS BIGINT)
           |FROM documents WHERE doc_id % 19 = 0""".stripMargin) { (s, d) =>
      graft.ops.Multimodal.audioSampleStats(
        graft.ops.Multimodal.realAudioMedia(
          s.read.parquet(s"$d/documents.parquet"), "doc_id", corruptMod = 19)).toDF()
        .select(col("media_id"), col("n_samples"), col("sum_abs"),
          col("peak_abs"), col("n_crossings"),
          col("decode_ok").cast("long").as("decode_ok"))
    },

    // integrity audit over GENUINE bytes: the 1-in-19 truncated payloads
    // surface through the null_metadata check (decode failure = NULL
    // metadata, never fake numbers), failed images also fail the
    // dims/duration checks under their known modality, failed audio the
    // pixel check — quarantine-exact accounting with zero healthy noise
    QuerySpec("mm_real_integrity",
      raw"""WITH m AS (SELECT doc_id % 19 = 0 AS corrupt, doc_id % 2 = 0 AS img
           |           FROM documents),
           |a AS (SELECT count(*) AS n_total,
           |  sum(CASE WHEN corrupt THEN 1 ELSE 0 END) AS v0,
           |  sum(CASE WHEN corrupt AND img THEN 1 ELSE 0 END) AS v3,
           |  sum(CASE WHEN corrupt AND NOT img THEN 1 ELSE 0 END) AS v5
           |  FROM m)
           |SELECT 'null_metadata' AS check_name, CAST(v0 AS BIGINT) AS n_violations,
           |  n_total FROM a
           |UNION ALL SELECT 'empty_payload', CAST(0 AS BIGINT), n_total FROM a
           |UNION ALL SELECT 'type_format_mismatch', CAST(0 AS BIGINT), n_total FROM a
           |UNION ALL SELECT 'image_bad_dims', CAST(v3 AS BIGINT), n_total FROM a
           |UNION ALL SELECT 'image_with_duration', CAST(v3 AS BIGINT), n_total FROM a
           |UNION ALL SELECT 'audio_with_dims', CAST(v5 AS BIGINT), n_total FROM a""".stripMargin) {
      (s, d) =>
        val media = graft.ops.Multimodal.realMedia(
          s.read.parquet(s"$d/documents.parquet"), "doc_id", corruptMod = 19)
        val feats = graft.ops.Multimodal.decodeRealFeatures(media).toDF()
          .join(media.toDF().select(col("media_id"), col("format")), Seq("media_id"))
        graft.ops.Multimodal.integrityAudit(feats, formatCol = Some("format"))
    },

    // aspect-ratio bucketing over REAL decoded dimensions: only rows the
    // decoder actually parsed enter the ladder (decode_ok gate — NULL
    // dims never reach the ratio math); the oracle re-derives the dims
    // from the generation formulas, so the bucket populations certify
    // the decode end-to-end
    QuerySpec("mm_real_aspect",
      raw"""WITH img AS (SELECT doc_id AS media_id,
           |    (1000 * (64 + doc_id % 29)) // (64 + doc_id % 31) AS ratio_milli
           |  FROM documents WHERE doc_id % 2 = 0 AND doc_id % 19 <> 0),
           |lad AS (SELECT * FROM (VALUES ('1:2', 500), ('9:16', 562), ('3:4', 750),
           |          ('1:1', 1000), ('4:3', 1333), ('16:9', 1778), ('2:1', 2000))
           |          l(bucket, target_milli)),
           |asg AS (SELECT media_id, ratio_milli, bucket, target_milli,
           |          row_number() OVER (PARTITION BY media_id
           |            ORDER BY abs(ratio_milli - target_milli), target_milli) AS r
           |        FROM img CROSS JOIN lad)
           |SELECT bucket, CAST(target_milli AS BIGINT) AS target_milli,
           |  count(*) AS n_images,
           |  CAST(min(ratio_milli) AS BIGINT) AS min_ratio_milli,
           |  CAST(max(ratio_milli) AS BIGINT) AS max_ratio_milli,
           |  CAST((count(*) + 31) // 32 AS BIGINT) AS n_batches
           |FROM asg WHERE r = 1 GROUP BY 1, 2""".stripMargin) { (s, d) =>
      graft.ops.Multimodal.aspectBuckets(
        graft.ops.Multimodal.decodeRealFeatures(
          graft.ops.Multimodal.realMedia(
            s.read.parquet(s"$d/documents.parquet"), "doc_id", corruptMod = 19)).toDF()
          .where(col("decode_ok")),
        batchSize = 32)
    },

    // REAL perceptual near-dup: aHash (8×8 area-averaged luminance, one
    // bit per cell vs the global mean) computed from GENUINE decoded
    // pixels, then the banded Hamming join at threshold 0. The
    // class-seeded generator makes the correct answer pure id
    // arithmetic — same class ⇒ byte-identical image ⇒ hamming 0; the
    // spec pins distinct classes pairwise > 8 bit flips apart, so the
    // oracle's equality join is exhaustive at threshold 0
    QuerySpec("mm_real_phash",
      raw"""SELECT a.doc_id AS media_id_a, b.doc_id AS media_id_b,
           |  CAST(0 AS BIGINT) AS hamming
           |FROM documents a JOIN documents b
           |  ON a.doc_id % 50 = b.doc_id % 50 AND a.doc_id < b.doc_id""".stripMargin) {
      (s, d) =>
        graft.ops.Multimodal.phashNearDups(
          graft.ops.Multimodal.decodeAHash(
            graft.ops.Multimodal.classedMedia(
              s.read.parquet(s"$d/documents.parquet"), "doc_id", classes = 50)),
          maxHamming = 0)
    },

    // REAL acoustic near-dup: a 64-bit loudness-shape fingerprint from
    // GENUINE PCM16 samples (64 block means vs the global mean, exact
    // integer cross-multiplication) + the same banded Hamming join the
    // image pHash uses. Class-seeded waveforms make the answer pure id
    // arithmetic — same class ⇒ byte-identical audio ⇒ hamming 0; the
    // spec pins distinct classes pairwise > 8 bit flips apart, so the
    // oracle's class-equality join is exhaustive at threshold 0
    QuerySpec("mm_real_audio_neardup",
      raw"""SELECT a.doc_id AS media_id_a, b.doc_id AS media_id_b,
           |  CAST(0 AS BIGINT) AS hamming
           |FROM documents a JOIN documents b
           |  ON a.doc_id % 40 = b.doc_id % 40 AND a.doc_id < b.doc_id""".stripMargin) {
      (s, d) =>
        graft.ops.Multimodal.phashNearDups(
          graft.ops.Multimodal.decodeAudioFingerprint(
            graft.ops.Multimodal.classedAudioMedia(
              s.read.parquet(s"$d/documents.parquet"), "doc_id", classes = 40)),
          maxHamming = 0)
    },

    // behavioral bot screen: inter-arrival regularity per user — CV² of
    // the gap distribution (clockwork traffic ≈ 0, human bursts ≳ 1000)
    // and the repeated-gap fraction, both exact integers from
    // DECIMAL(38,0) moments. The per-user flag thresholds are policy;
    // the two scores are the operator
    QuerySpec("events_bot_score",
      raw"""WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS t FROM events),
           |g AS (SELECT user_id,
           |        t - lag(t) OVER (PARTITION BY user_id ORDER BY t, event_id) AS g
           |      FROM e),
           |a AS (SELECT user_id, count(*) AS n_gaps,
           |        sum(CAST(g AS HUGEINT)) AS sg,
           |        sum(CAST(g AS HUGEINT) * CAST(g AS HUGEINT)) AS sg2,
           |        count(DISTINCT g) AS nd
           |      FROM g WHERE g IS NOT NULL GROUP BY 1)
           |SELECT user_id, n_gaps,
           |  CAST(CASE WHEN sg > 0
           |    THEN (1000 * (n_gaps * sg2 - sg * sg)) // (sg * sg) END AS BIGINT)
           |    AS cv2_milli,
           |  CAST(1000 - (1000 * nd) // n_gaps AS BIGINT) AS dup_gap_milli
           |FROM a""".stripMargin) { (s, d) =>
      graft.ops.Profiling.arrivalRegularity(OpsQueries.events(s, d),
        "user_id", "ts", "event_id")
    },

    // LTV triangle: cohort week × weeks-since-first-event, cumulative
    // cents and exact per-cohort-member milli-cents — the table every
    // growth team reads top-left to bottom-right. Cumulation windows
    // partition per cohort (bounded by the week span)
    QuerySpec("events_ltv_triangle",
      raw"""WITH e AS (SELECT user_id, epoch_ms(ts) // 604800000 AS wk,
           |             CAST(floor(value * 100) AS BIGINT) AS cents FROM events),
           |c AS (SELECT user_id, min(wk) AS cohort_wk FROM e GROUP BY 1),
           |sz AS (SELECT cohort_wk, count(*) AS cohort_users FROM c GROUP BY 1),
           |cell AS (SELECT c.cohort_wk, e.wk - c.cohort_wk AS age_wk,
           |           count(DISTINCT e.user_id) AS n_active, sum(e.cents) AS cents
           |         FROM e JOIN c USING (user_id) GROUP BY 1, 2),
           |cum AS (SELECT cohort_wk, age_wk, n_active, cents,
           |          sum(cents) OVER (PARTITION BY cohort_wk ORDER BY age_wk) AS cum_cents
           |        FROM cell)
           |SELECT m.cohort_wk, m.age_wk, CAST(m.n_active AS BIGINT) AS n_active,
           |  CAST(m.cents AS BIGINT) AS cents, CAST(m.cum_cents AS BIGINT) AS cum_cents,
           |  CAST(sz.cohort_users AS BIGINT) AS cohort_users,
           |  CAST((1000 * m.cum_cents) // sz.cohort_users AS BIGINT) AS cum_per_user_mc
           |FROM cum m JOIN sz USING (cohort_wk)""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val e = OpsQueries.events(s, d).select(col("user_id"),
        expr("unix_millis(ts) div 604800000").as("wk"),
        floor(col("value") * 100).cast("long").as("cents"))
      val cohort = e.groupBy(col("user_id")).agg(min(col("wk")).as("cohort_wk"))
      val sizes = cohort.groupBy(col("cohort_wk")).agg(count(lit(1)).as("cohort_users"))
      val cells = e.join(cohort, Seq("user_id"))
        .groupBy(col("cohort_wk"), (col("wk") - col("cohort_wk")).as("age_wk"))
        .agg(countDistinct(col("user_id")).as("n_active"), sum(col("cents")).as("cents"))
      val w = Window.partitionBy(col("cohort_wk")).orderBy(col("age_wk"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      cells.withColumn("cum_cents", sum(col("cents")).over(w))
        .join(broadcast(sizes), Seq("cohort_wk"))
        .select(col("cohort_wk"), col("age_wk"), col("n_active"), col("cents"),
          col("cum_cents"), col("cohort_users"),
          expr("(1000 * cum_cents) div cohort_users").as("cum_per_user_mc"))
    },

    // peak session concurrency — the capacity number: sessionize (30-min
    // gap rule), sweep +1/−1 endpoints, max of the running sum. The
    // running sum is the distributed two-pass ranged scheme; closed
    // intervals, so a session ending exactly when another starts counts
    // as overlap. One row: the peak and the first ms it was reached
    QuerySpec("events_peak_concurrency",
      raw"""WITH e AS (SELECT user_id, event_id, epoch_ms(ts) AS ms FROM events),
           |p AS (SELECT user_id, ms, CASE WHEN lag(ms) OVER win IS NULL
           |          OR ms - lag(ms) OVER win > 1800000 THEN 1 ELSE 0 END AS ns,
           |        event_id FROM e
           |      WINDOW win AS (PARTITION BY user_id ORDER BY ms, event_id)),
           |q AS (SELECT user_id, ms,
           |        sum(ns) OVER (PARTITION BY user_id ORDER BY ms, event_id) AS seq
           |      FROM p),
           |sess AS (SELECT user_id, seq, min(ms) AS t0, max(ms) AS t1
           |         FROM q GROUP BY 1, 2),
           |pts AS (SELECT t, sum(plus) AS plus, sum(minus) AS minus FROM (
           |          SELECT t0 AS t, 1 AS plus, 0 AS minus FROM sess
           |          UNION ALL SELECT t1, 0, 1 FROM sess) GROUP BY 1),
           |c AS (SELECT t, minus, sum(plus - minus) OVER (ORDER BY t) AS cum FROM pts),
           |i AS (SELECT t, cum + minus AS inst FROM c),
           |pk AS (SELECT max(inst) AS peak FROM i)
           |SELECT CAST(pk.peak AS BIGINT) AS peak,
           |  CAST(min(i.t) AS BIGINT) AS peak_at_ms
           |FROM i CROSS JOIN pk WHERE i.inst = pk.peak GROUP BY pk.peak""".stripMargin) {
      (s, d) =>
        val sess = graft.streaming.EventPipeline.sessionize(
          OpsQueries.events(s, d), gapMs = 1800000L)
        graft.ops.Intervals.peakConcurrency(
            sess.select(col("session_start"), col("session_end")),
            "session_start", "session_end")
          .withColumnRenamed("peak_at", "peak_at_ms")
    },

    // A/B power planning from exact moments: the per-arm sample size to
    // detect a 5% lift of each event type's mean value at alpha 0.05 /
    // power 0.80, as ONE ceiling integer division over DECIMAL(38,0)
    // moments — the pre-launch number beside every experiment metric
    QuerySpec("events_power_mde",
      raw"""WITH v AS (SELECT event_type,
           |             CAST(floor(value * 100) AS HUGEINT) AS x FROM events
           |           WHERE value IS NOT NULL),
           |m AS (SELECT event_type, count(*) AS n, sum(x) AS s, sum(x * x) AS q
           |      FROM v GROUP BY 1)
           |SELECT event_type, CAST(n AS BIGINT) AS n,
           |  CAST(CASE WHEN n > 0 THEN (1000 * s) // n END AS BIGINT) AS mean_milli,
           |  CAST(CASE WHEN n > 1 AND s <> 0 THEN
           |    (15680000 * n * (n * q - s * s) + ((n - 1) * 2500 * s * s) - 1)
           |      // ((n - 1) * 2500 * s * s) END AS BIGINT) AS n_per_arm
           |FROM m""".stripMargin) { (s, d) =>
      graft.ops.RobustStats.powerSampleSize(
        OpsQueries.events(s, d)
          .select(col("event_type"), floor(col("value") * 100).cast("long").as("cents")),
        "event_type", "cents", mdeMilli = 50)
    },

    // star-schema referential integrity: orphan child keys per FK edge
    // (null keys excused and counted separately) — the audit that runs
    // before anyone trusts a join. One anti-join per edge, five edges
    // in one report
    QuerySpec("quality_fk_orphans",
      raw"""WITH edges AS (
           |  SELECT 'lineitem.l_orderkey->orders' AS edge, count(*) AS n_child,
           |    sum(CASE WHEN l.l_orderkey IS NULL THEN 1 ELSE 0 END) AS n_null_key,
           |    sum(CASE WHEN l.l_orderkey IS NOT NULL AND o.o_orderkey IS NULL
           |             THEN 1 ELSE 0 END) AS n_orphans
           |  FROM lineitem l LEFT JOIN (SELECT DISTINCT o_orderkey FROM orders) o
           |    ON l.l_orderkey = o.o_orderkey
           |  UNION ALL
           |  SELECT 'lineitem.l_partkey->part', count(*),
           |    sum(CASE WHEN l.l_partkey IS NULL THEN 1 ELSE 0 END),
           |    sum(CASE WHEN l.l_partkey IS NOT NULL AND p.p_partkey IS NULL
           |             THEN 1 ELSE 0 END)
           |  FROM lineitem l LEFT JOIN (SELECT DISTINCT p_partkey FROM part) p
           |    ON l.l_partkey = p.p_partkey
           |  UNION ALL
           |  SELECT 'lineitem.l_suppkey->supplier', count(*),
           |    sum(CASE WHEN l.l_suppkey IS NULL THEN 1 ELSE 0 END),
           |    sum(CASE WHEN l.l_suppkey IS NOT NULL AND su.s_suppkey IS NULL
           |             THEN 1 ELSE 0 END)
           |  FROM lineitem l LEFT JOIN (SELECT DISTINCT s_suppkey FROM supplier) su
           |    ON l.l_suppkey = su.s_suppkey
           |  UNION ALL
           |  SELECT 'orders.o_custkey->customer', count(*),
           |    sum(CASE WHEN o.o_custkey IS NULL THEN 1 ELSE 0 END),
           |    sum(CASE WHEN o.o_custkey IS NOT NULL AND c.c_custkey IS NULL
           |             THEN 1 ELSE 0 END)
           |  FROM orders o LEFT JOIN (SELECT DISTINCT c_custkey FROM customer) c
           |    ON o.o_custkey = c.c_custkey
           |  UNION ALL
           |  SELECT 'customer.c_nationkey->nation', count(*),
           |    sum(CASE WHEN c.c_nationkey IS NULL THEN 1 ELSE 0 END),
           |    sum(CASE WHEN c.c_nationkey IS NOT NULL AND n.n_nationkey IS NULL
           |             THEN 1 ELSE 0 END)
           |  FROM customer c LEFT JOIN (SELECT DISTINCT n_nationkey FROM nation) n
           |    ON c.c_nationkey = n.n_nationkey)
           |SELECT edge, CAST(n_child AS BIGINT) AS n_child,
           |  CAST(n_null_key AS BIGINT) AS n_null_key,
           |  CAST(n_orphans AS BIGINT) AS n_orphans,
           |  CAST(CASE WHEN n_child > 0 THEN (1000 * n_orphans) // n_child END
           |    AS BIGINT) AS orphan_milli
           |FROM edges""".stripMargin) { (s, d) =>
      import graft.ops.Contracts
      def t(n: String) = s.read.parquet(s"$d/$n.parquet")
      Seq(
        Contracts.fkOrphans(t("lineitem"), "l_orderkey", t("orders"), "o_orderkey",
          "lineitem.l_orderkey->orders"),
        Contracts.fkOrphans(t("lineitem"), "l_partkey", t("part"), "p_partkey",
          "lineitem.l_partkey->part"),
        Contracts.fkOrphans(t("lineitem"), "l_suppkey", t("supplier"), "s_suppkey",
          "lineitem.l_suppkey->supplier"),
        Contracts.fkOrphans(t("orders"), "o_custkey", t("customer"), "c_custkey",
          "orders.o_custkey->customer"),
        Contracts.fkOrphans(t("customer"), "c_nationkey", t("nation"), "n_nationkey",
          "customer.c_nationkey->nation")
      ).reduce(_ union _)
    },

    // neighbor-set Jaccard link prediction over the same co-order graph
    // as graph_link_prediction: shared-neighborhood FRACTION (two
    // low-degree parts sharing most neighbors) vs RA's rare-neighbor
    // reward — the two scores rank different pairs, which is the point
    QuerySpec("graph_neighbor_jaccard",
      raw"""WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
           |            WHERE l_partkey % 20 = 0),
           |e AS (SELECT a.l_partkey AS src, b.l_partkey AS dst
           |      FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
           |       AND a.l_partkey <> b.l_partkey
           |      GROUP BY 1, 2),
           |dg AS (SELECT src AS z, count(*) AS deg FROM e GROUP BY 1),
           |w AS (SELECT za.dst AS a, zb.dst AS b
           |      FROM e za JOIN e zb ON za.src = zb.src AND za.dst < zb.dst
           |      JOIN dg d ON d.z = za.src AND d.deg <= 1000),
           |sc AS (SELECT a, b, count(*) AS cn FROM w GROUP BY 1, 2),
           |pr AS (SELECT sc.* FROM sc LEFT JOIN e ON e.src = sc.a AND e.dst = sc.b
           |       WHERE e.src IS NULL)
           |SELECT pr.a AS node_a, pr.b AS node_b, CAST(pr.cn AS BIGINT) AS cn,
           |  CAST(da.deg AS BIGINT) AS deg_a, CAST(db.deg AS BIGINT) AS deg_b,
           |  CAST((1000 * pr.cn) // (da.deg + db.deg - pr.cn) AS BIGINT) AS jac_milli
           |FROM pr JOIN dg da ON da.z = pr.a JOIN dg db ON db.z = pr.b
           |WHERE pr.cn >= 2""".stripMargin) { (s, d) =>
      val li = s.read.parquet(s"$d/lineitem.parquet")
        .where(col("l_partkey") % 20 === 0)
      val edges = graft.ops.Graph.coOccurrenceEdges(li, "l_orderkey", "l_partkey")
      graft.ops.Graph.neighborJaccard(edges).where(col("cn") >= 2)
    },

    // label-noise audit: exact-duplicate content whose copies disagree
    // on provenance (same text, different source) — each group is a
    // mislabel or a leak, surfaced BEFORE a dedup wave arbitrarily
    // keeps one side. One hash aggregate, conflicts only
    QuerySpec("quality_label_conflicts",
      """SELECT md5(lower(trim(text))) AS content_hash, count(*) AS n_copies,
        |  count(DISTINCT source) AS n_labels, min(doc_id) AS canonical_id,
        |  min(source) AS label_lo, max(source) AS label_hi
        |FROM documents GROUP BY 1
        |HAVING count(DISTINCT source) > 1""".stripMargin) { (s, d) =>
      graft.ops.Dedup.labelConflicts(
        s.read.parquet(s"$d/documents.parquet"), "text", "doc_id", "source")
    },

    // per-document keywords by exact integer lift (in-doc share over
    // corpus share), top-3, hapax excluded — the document-grain twin of
    // text_characteristic_terms. Numerators in DECIMAL(38,0)/HUGEINT
    QuerySpec("text_doc_keywords",
      raw"""WITH tt AS (SELECT doc_id, CASE WHEN length(trim(text)) = 0 THEN []
           |              ELSE string_split_regex(trim(lower(text)), '\s+') END AS t
           |            FROM documents),
           |tok AS (SELECT doc_id, unnest(t) AS token FROM tt),
           |c AS (SELECT doc_id, token, count(*) AS c_doc FROM tok GROUP BY 1, 2),
           |dl AS (SELECT doc_id, sum(c_doc) AS n_doc FROM c GROUP BY 1),
           |cc AS (SELECT token, sum(c_doc) AS c_corpus FROM c GROUP BY 1),
           |tot AS (SELECT sum(c_corpus) AS t FROM cc),
           |lf AS (SELECT c.doc_id, c.token, c.c_doc,
           |         CAST((1000 * CAST(c.c_doc AS HUGEINT) * tot.t)
           |           // (dl.n_doc * cc.c_corpus) AS BIGINT) AS lift_milli
           |       FROM c JOIN dl USING (doc_id) JOIN cc USING (token)
           |       CROSS JOIN tot WHERE c.c_doc >= 2),
           |rk AS (SELECT *, row_number() OVER (PARTITION BY doc_id
           |         ORDER BY lift_milli DESC, token) AS rank FROM lf)
           |SELECT doc_id, CAST(rank AS INT) AS rank, token, c_doc, lift_milli
           |FROM rk WHERE rank <= 3""".stripMargin) { (s, d) =>
      graft.ops.TextAnalysis.docKeywords(
        s.read.parquet(s"$d/documents.parquet"), "text", "doc_id", k = 3)
    },

    // exact percentiles per event type at p50/p90/p99 — the
    // order-statistic audit beside the sketch-based quantile readers:
    // value at rank ceil(q·n/1000), one rank window per stratum
    QuerySpec("events_value_percentiles",
      raw"""WITH v AS (SELECT event_type, CAST(floor(value * 100) AS BIGINT) AS cents,
           |             event_id FROM events),
           |r AS (SELECT event_type, cents,
           |        row_number() OVER (PARTITION BY event_type
           |          ORDER BY cents, event_id) AS r,
           |        count(*) OVER (PARTITION BY event_type) AS n FROM v),
           |q AS (SELECT CAST(unnest([500, 900, 990]) AS INT) AS q_milli)
           |SELECT event_type, q_milli, n, cents AS value
           |FROM r CROSS JOIN q
           |WHERE r.r = greatest(1, (q_milli * n + 999) // 1000)""".stripMargin) { (s, d) =>
      graft.ops.RobustStats.percentilesExact(
        OpsQueries.events(s, d).select(col("event_type"),
          floor(col("value") * 100).cast("long").as("cents"), col("event_id")),
        "event_type", "cents", "event_id", qMillis = Seq(500, 900, 990))
    },

    // compound-sort-key order advisor: the SAME two columns audited
    // under both lexicographic orders — the run counts say which order
    // a rewrite should sort by (leading column always compresses; the
    // question is what it does to the trailing one). Orders are made
    // total with the row key so trailing-column runs are well-defined
    QuerySpec("layout_sort_key_order", {
      def arm(label: String, o: String) =
        raw"""SELECT '$label' AS sort_order, x.* FROM (
             |  SELECT column_name, n AS n_rows, CAST(r AS BIGINT) AS n_runs,
             |    CAST(d AS BIGINT) AS n_distinct,
             |    CAST((1000 * n) // r AS BIGINT) AS avg_run_milli,
             |    CAST((1000 * r) // d AS BIGINT) AS sorted_gain_milli
             |  FROM (
             |    SELECT 'l_returnflag' AS column_name, count(*) AS n,
             |      sum(CASE WHEN rn = 1 OR c1 IS DISTINCT FROM p1 THEN 1 ELSE 0 END) AS r,
             |      count(DISTINCT c1) AS d FROM w_$label
             |    UNION ALL
             |    SELECT 'l_shipday', count(*),
             |      sum(CASE WHEN rn = 1 OR c2 IS DISTINCT FROM p2 THEN 1 ELSE 0 END),
             |      count(DISTINCT c2) FROM w_$label)) x""".stripMargin
      def win(label: String, o: String) =
        raw"""o_$label AS (SELECT c1, c2,
             |  row_number() OVER (ORDER BY $o, l_orderkey, l_linenumber) AS rn FROM li),
             |w_$label AS (SELECT c1, c2, rn, lag(c1) OVER (ORDER BY rn) AS p1,
             |  lag(c2) OVER (ORDER BY rn) AS p2 FROM o_$label)""".stripMargin
      raw"""WITH li AS (SELECT CAST(l_returnflag AS VARCHAR) AS c1,
           |    CAST(CAST(l_shipdate AS DATE) AS VARCHAR) AS c2,
           |    l_orderkey, l_linenumber FROM lineitem),
           |${win("flag_first", "c1, c2")},
           |${win("day_first", "c2, c1")}
           |${arm("flag_first", "c1, c2")}
           |UNION ALL
           |${arm("day_first", "c2, c1")}""".stripMargin
    }) { (s, d) =>
      val li = s.read.parquet(s"$d/lineitem.parquet")
        .withColumn("l_shipday", to_date(col("l_shipdate")).cast("string"))
      def arm(label: String, order: Seq[String]) =
        graft.ops.Layout.rleGain(li,
          order.map(col) ++ Seq(col("l_orderkey"), col("l_linenumber")),
          Seq("l_returnflag", "l_shipday"))
          .select(lit(label).as("sort_order"), col("column_name"), col("n_rows"),
            col("n_runs"), col("n_distinct"), col("avg_run_milli"),
            col("sorted_gain_milli"))
      arm("flag_first", Seq("l_returnflag", "l_shipday"))
        .union(arm("day_first", Seq("l_shipday", "l_returnflag")))
    },

    // media integrity audit — the multimodal twin of the embedding
    // audit: empty payloads, modality/container mismatches, undecodable
    // image dims, stills with durations, audio with pixels. One scan,
    // stacked check rows; at 100 TB each class routes to quarantine
    QuerySpec("mm_integrity",
      s"""${MultimodalSql.featuresCte},
         |ff AS (SELECT f.*, CASE media_id % 3 WHEN 0 THEN 'png'
         |         WHEN 1 THEN 'wav' ELSE 'mp4' END AS format FROM f),
         |a AS (SELECT count(*) AS n_total,
         |  sum(CASE WHEN media_type IS NULL OR n_bytes IS NULL OR width IS NULL
         |        OR height IS NULL OR duration_ms IS NULL OR format IS NULL
         |      THEN 1 ELSE 0 END) AS v0,
         |  sum(CASE WHEN coalesce(n_bytes <= 0, TRUE) THEN 1 ELSE 0 END) AS v1,
         |  sum(CASE WHEN coalesce(NOT ((media_type = 'image' AND format = 'png')
         |        OR (media_type = 'audio' AND format = 'wav')
         |        OR (media_type = 'video' AND format = 'mp4')), TRUE)
         |      THEN 1 ELSE 0 END) AS v2,
         |  sum(CASE WHEN media_type = 'image' AND coalesce(width < 64 OR width >= 1088
         |        OR height < 64 OR height >= 1088, TRUE) THEN 1 ELSE 0 END) AS v3,
         |  sum(CASE WHEN media_type = 'image' AND coalesce(duration_ms <> 0, TRUE)
         |      THEN 1 ELSE 0 END) AS v4,
         |  sum(CASE WHEN media_type = 'audio' AND coalesce(width <> 0 OR height <> 0, TRUE)
         |      THEN 1 ELSE 0 END) AS v5
         |  FROM ff)
         |SELECT 'null_metadata' AS check_name, CAST(v0 AS BIGINT) AS n_violations,
         |  n_total FROM a
         |UNION ALL SELECT 'empty_payload', CAST(v1 AS BIGINT), n_total FROM a
         |UNION ALL SELECT 'type_format_mismatch', CAST(v2 AS BIGINT), n_total FROM a
         |UNION ALL SELECT 'image_bad_dims', CAST(v3 AS BIGINT), n_total FROM a
         |UNION ALL SELECT 'image_with_duration', CAST(v4 AS BIGINT), n_total FROM a
         |UNION ALL SELECT 'audio_with_dims', CAST(v5 AS BIGINT), n_total FROM a""".stripMargin) {
      (s, d) =>
        val media = graft.ops.Multimodal.syntheticMedia(
          s.read.parquet(s"$d/documents.parquet"), "doc_id", "text")
        val features = graft.ops.Multimodal.decodeFeatures(
          graft.ops.Multimodal.asMedia(media)).toDF()
          .join(media.select(col("media_id"), col("format")), Seq("media_id"))
        graft.ops.Multimodal.integrityAudit(features, formatCol = Some("format"))
    },

    // multivariate row-outlier screen: diagonal Mahalanobis over four
    // lineitem measures (cents/milli scaled), cross-multiplied exact
    // z² per column, top-20 rows by the milli sum — the row a quality
    // gate quarantines because EVERYTHING about it is a little off
    QuerySpec("quality_row_outliers",
      raw"""WITH v AS (SELECT l_orderkey * 10 + l_linenumber AS rid,
           |    CAST(CAST(floor(l_quantity * 100) AS BIGINT) AS HUGEINT) AS qty,
           |    CAST(CAST(floor(l_extendedprice * 100) AS BIGINT) AS HUGEINT) AS price,
           |    CAST(CAST(floor(l_discount * 1000) AS BIGINT) AS HUGEINT) AS disc,
           |    CAST(CAST(floor(l_tax * 1000) AS BIGINT) AS HUGEINT) AS tax
           |  FROM lineitem),
           |m AS (SELECT CAST(count(*) AS HUGEINT) AS n,
           |        sum(qty) AS s1, sum(qty * qty) AS q1,
           |        sum(price) AS s2, sum(price * price) AS q2,
           |        sum(disc) AS s3, sum(disc * disc) AS q3,
           |        sum(tax) AS s4, sum(tax * tax) AS q4
           |      FROM v),
           |z AS (SELECT rid,
           |        CASE WHEN n * q1 - s1 * s1 > 0 THEN
           |          (1000 * (n * qty - s1) * (n * qty - s1)) // (n * q1 - s1 * s1)
           |          ELSE 0 END AS z1,
           |        CASE WHEN n * q2 - s2 * s2 > 0 THEN
           |          (1000 * (n * price - s2) * (n * price - s2)) // (n * q2 - s2 * s2)
           |          ELSE 0 END AS z2,
           |        CASE WHEN n * q3 - s3 * s3 > 0 THEN
           |          (1000 * (n * disc - s3) * (n * disc - s3)) // (n * q3 - s3 * s3)
           |          ELSE 0 END AS z3,
           |        CASE WHEN n * q4 - s4 * s4 > 0 THEN
           |          (1000 * (n * tax - s4) * (n * tax - s4)) // (n * q4 - s4 * s4)
           |          ELSE 0 END AS z4
           |      FROM v CROSS JOIN m),
           |t AS (SELECT rid, CAST(z1 + z2 + z3 + z4 AS BIGINT) AS z2_milli,
           |        CAST(GREATEST(z1, z2, z3, z4) AS BIGINT) AS top_col_z2_milli,
           |        CASE WHEN z1 >= z2 AND z1 >= z3 AND z1 >= z4 THEN 'centi_qty'
           |             WHEN z2 >= z3 AND z2 >= z4 THEN 'cents_price'
           |             WHEN z3 >= z4 THEN 'milli_disc'
           |             ELSE 'milli_tax' END AS top_col
           |      FROM z)
           |SELECT rid, z2_milli, top_col, top_col_z2_milli
           |FROM t ORDER BY z2_milli DESC, rid LIMIT 20""".stripMargin) { (s, d) =>
      graft.ops.RobustStats.mahalanobisDiag(
        s.read.parquet(s"$d/lineitem.parquet")
          .select((col("l_orderkey") * 10 + col("l_linenumber")).as("rid"),
            floor(col("l_quantity") * 100).cast("long").as("centi_qty"),
            floor(col("l_extendedprice") * 100).cast("long").as("cents_price"),
            floor(col("l_discount") * 1000).cast("long").as("milli_disc"),
            floor(col("l_tax") * 1000).cast("long").as("milli_tax")),
        "rid", Seq("centi_qty", "cents_price", "milli_disc", "milli_tax"),
        topN = 20)
    },

    // greedy k-center coreset (farthest-point traversal) over a corpus
    // slice: diversity-first selection for eval sets and annotation
    // budgets — random sampling over-represents dense clusters, this
    // covers the space, and closest_dot per round IS the coverage
    // radius. Both engines walk the identical greedy trajectory (float
    // dots cast to double, id tie-breaks); the oracle unrolls the k
    // rounds as MATERIALIZED CTEs (inlined, the multi-referenced chain
    // re-evaluates exponentially — the pca2 lesson)
    QuerySpec("sim_kcenter_coreset", {
      def round(n: Int) = {
        val selUnion = (1 until n).map(i => s"SELECT cid, cv FROM s$i")
          .mkString(" UNION ALL ")
        raw"""sel$n AS MATERIALIZED ($selUnion),
             |s$n AS MATERIALIZED (
             |  SELECT cid, cv, $n AS round, mx AS closest_dot FROM (
             |    SELECT b.cid, b.cv,
             |      max(CAST(list_dot_product(b.cv, s.cv) AS DOUBLE)) AS mx
             |    FROM base b CROSS JOIN sel$n s
             |    WHERE NOT EXISTS (SELECT 1 FROM sel$n x WHERE x.cid = b.cid)
             |    GROUP BY 1, 2)
             |  ORDER BY mx ASC, cid LIMIT 1)""".stripMargin
      }
      val rounds = (2 to 6).map(round).mkString(",\n")
      val unions = (1 to 6).map(i => s"SELECT cid, round, closest_dot FROM s$i")
        .mkString(" UNION ALL ")
      raw"""WITH base AS MATERIALIZED (
           |  SELECT vec_id AS cid, embedding AS cv FROM embeddings
           |  WHERE vec_id % 10 = 0),
           |s1 AS MATERIALIZED (
           |  SELECT cid, cv, 1 AS round, CAST(NULL AS DOUBLE) AS closest_dot
           |  FROM base ORDER BY cid LIMIT 1),
           |$rounds
           |SELECT cid AS center_id, CAST(round AS BIGINT) AS round, closest_dot
           |FROM ($unions)""".stripMargin
    }) { (s, d) =>
      graft.ops.Similarity.kCenterCoreset(
        s.read.parquet(s"$d/embeddings.parquet").where(col("vec_id") % 10 === 0),
        "vec_id", "embedding", k = 6)
    },

    // log-rank test between the user-parity cohorts' conversion curves:
    // per day-bucket hypergeometric expectations/variances in exact
    // milli/micro floors, one summary z via a single correctly-rounded
    // sqrt — "do these cohorts convert at the same rate",
    // censoring-honest
    QuerySpec("events_logrank",
      raw"""WITH t0 AS (SELECT user_id, min(ts) AS t_start FROM events
           |            WHERE event_type = 'signup' GROUP BY 1),
           |t1 AS (SELECT e.user_id, min(e.ts) AS t_convert
           |       FROM events e JOIN t0 ON t0.user_id = e.user_id
           |       WHERE e.event_type = 'purchase' AND e.ts >= t0.t_start
           |       GROUP BY 1),
           |hz AS (SELECT max(epoch_ms(ts)) AS h FROM events),
           |obs AS (SELECT t0.user_id % 2 AS g,
           |          COALESCE(epoch_ms(t1.t_convert) - epoch_ms(t0.t_start),
           |                   hz.h - epoch_ms(t0.t_start)) AS t_obs,
           |          CASE WHEN t1.t_convert IS NULL THEN 0 ELSE 1 END AS e
           |        FROM t0 LEFT JOIN t1 ON t1.user_id = t0.user_id CROSS JOIN hz),
           |b AS (SELECT t_obs // 86400000 AS w,
           |        sum(CASE WHEN g = 0 THEN e ELSE 0 END) AS d1,
           |        sum(CASE WHEN g = 0 THEN 1 - e ELSE 0 END) AS c1,
           |        sum(CASE WHEN g = 1 THEN e ELSE 0 END) AS d2,
           |        sum(CASE WHEN g = 1 THEN 1 - e ELSE 0 END) AS c2
           |      FROM obs GROUP BY 1),
           |tot AS (SELECT sum(d1 + c1) AS t1, sum(d2 + c2) AS t2 FROM b),
           |cum AS (SELECT w, d1, c1, d2, c2,
           |          sum(d1 + c1) OVER (ORDER BY w) AS thr1,
           |          sum(d2 + c2) OVER (ORDER BY w) AS thr2 FROM b),
           |pb AS (SELECT d1, d2, d1 + d2 AS d,
           |         tot.t1 - (thr1 - d1 - c1) AS n1,
           |         tot.t2 - (thr2 - d2 - c2) AS n2
           |       FROM cum CROSS JOIN tot),
           |pe AS (SELECT d1, d2,
           |         CASE WHEN n1 + n2 > 0
           |           THEN CAST((1000 * d * n1) // (n1 + n2) AS BIGINT)
           |           ELSE 0 END AS e1,
           |         CASE WHEN n1 + n2 > 1 THEN CAST(
           |             (1000000 * CAST(d AS HUGEINT) * n1 * n2 * (n1 + n2 - d))
           |             // (CAST(n1 + n2 AS HUGEINT) * (n1 + n2) * (n1 + n2 - 1))
           |           AS BIGINT) ELSE 0 END AS v
           |       FROM pb)
           |SELECT CAST(sum(d1) AS BIGINT) AS o1, CAST(sum(d2) AS BIGINT) AS o2,
           |  CAST(sum(e1) AS BIGINT) AS e1_milli, CAST(sum(v) AS BIGINT) AS v_micro,
           |  CASE WHEN sum(v) > 0 THEN
           |    CAST(1000 * sum(d1) - sum(e1) AS DOUBLE) / sqrt(CAST(sum(v) AS DOUBLE))
           |  END AS z
           |FROM pe""".stripMargin) { (s, d) =>
      val ev = OpsQueries.events(s, d)
      val tte = graft.ops.History.timeToEvent(ev, "user_id", "ts", "event_type",
        fromVal = "signup", toVal = "purchase")
      val hz = ev.agg(max(unix_millis(col("ts"))).as("__hz"))
      val obs = tte.crossJoin(broadcast(hz)).select(
        (col("user_id") % 2).as("grp"),
        coalesce(col("delta_ms"),
          col("__hz") - unix_millis(col("t_start"))).as("t_obs"),
        (lit(1L) - col("censored")).as("event"))
      graft.ops.History.logRank(obs, "t_obs", "event", "grp", bucketMs = 86400000L)
    },

    // distribution-free median CI per event type: binomial
    // order-statistic endpoints at ranks (n ± 1.96*sqrt(n))/2 — no
    // normality assumption, no resampling, one rank window per stratum
    QuerySpec("events_median_ci",
      raw"""WITH v AS (SELECT event_type, CAST(floor(value * 100) AS BIGINT) AS cents,
           |             event_id FROM events),
           |r AS (SELECT event_type, cents,
           |        row_number() OVER (PARTITION BY event_type
           |          ORDER BY cents, event_id) AS r,
           |        count(*) OVER (PARTITION BY event_type) AS n FROM v),
           |k AS (SELECT *, greatest(1, CAST(floor((CAST(n AS DOUBLE)
           |          - 1.96 * sqrt(CAST(n AS DOUBLE))) / 2.0) AS BIGINT)) AS rlo,
           |        least(n, CAST(ceil((CAST(n AS DOUBLE)
           |          + 1.96 * sqrt(CAST(n AS DOUBLE))) / 2.0) AS BIGINT) + 1) AS rhi
           |      FROM r)
           |SELECT event_type, n,
           |  max(CASE WHEN r = (n + 1) // 2 THEN cents END)
           |    + max(CASE WHEN r = (n + 2) // 2 THEN cents END) AS median_x2,
           |  max(CASE WHEN r = rlo THEN cents END) AS ci_lo,
           |  max(CASE WHEN r = rhi THEN cents END) AS ci_hi
           |FROM k GROUP BY 1, 2""".stripMargin) { (s, d) =>
      graft.ops.RobustStats.medianCiExact(
        OpsQueries.events(s, d).select(col("event_type"),
          floor(col("value") * 100).cast("long").as("cents"), col("event_id")),
        "event_type", "cents", "event_id")
    },

    // 10%-trimmed mean beside the plain mean per event type — the
    // one-row robustness readout: wild disagreement = tail-driven
    // stratum. Exact integer band sums
    QuerySpec("events_trimmed_mean",
      raw"""WITH v AS (SELECT event_type, CAST(floor(value * 100) AS BIGINT) AS cents,
           |             event_id FROM events),
           |r AS (SELECT event_type, cents,
           |        row_number() OVER (PARTITION BY event_type
           |          ORDER BY cents, event_id) AS r,
           |        count(*) OVER (PARTITION BY event_type) AS n FROM v),
           |k AS (SELECT *, (100 * n) // 1000 AS kk FROM r)
           |SELECT event_type, n,
           |  CAST((1000 * sum(CAST(cents AS HUGEINT))) // count(*) AS BIGINT)
           |    AS mean_milli,
           |  CAST(sum(CASE WHEN r > kk AND r <= n - kk THEN 1 ELSE 0 END) AS BIGINT)
           |    AS n_kept,
           |  CAST((1000 * sum(CASE WHEN r > kk AND r <= n - kk
           |          THEN CAST(cents AS HUGEINT) END))
           |    // sum(CASE WHEN r > kk AND r <= n - kk THEN 1 ELSE 0 END) AS BIGINT)
           |    AS trimmed_mean_milli
           |FROM k GROUP BY 1, 2""".stripMargin) { (s, d) =>
      graft.ops.RobustStats.trimmedMean(
        OpsQueries.events(s, d).select(col("event_type"),
          floor(col("value") * 100).cast("long").as("cents"), col("event_id")),
        "event_type", "cents", "event_id", trimMilli = 100)
    },

    // Markov next-event eval under a temporal split (train < Jan 16,
    // eval after, pairs never straddle): the learned per-state argmax
    // next type scored on the future — whether yesterday's transition
    // matrix predicts tomorrow. Exact milli accuracy per from-state
    QuerySpec("events_markov_eval",
      raw"""WITH tr AS (SELECT user_id, event_type, ts, event_id FROM events
           |            WHERE epoch_ms(ts) < 1705363200000),
           |ev AS (SELECT user_id, event_type, ts, event_id FROM events
           |       WHERE epoch_ms(ts) >= 1705363200000),
           |tp AS (SELECT event_type AS to_type, lag(event_type) OVER (
           |         PARTITION BY user_id ORDER BY ts, event_id) AS from_type
           |       FROM tr),
           |pc AS (SELECT from_type, to_type, count(*) AS n FROM tp
           |       WHERE from_type IS NOT NULL GROUP BY 1, 2),
           |pr AS (SELECT from_type, to_type AS prediction FROM (
           |         SELECT *, row_number() OVER (PARTITION BY from_type
           |           ORDER BY n DESC, to_type) AS r FROM pc) WHERE r = 1),
           |ep AS (SELECT event_type AS to_type, lag(event_type) OVER (
           |         PARTITION BY user_id ORDER BY ts, event_id) AS from_type
           |       FROM ev)
           |SELECT ep.from_type, max(pr.prediction) AS prediction,
           |  count(*) AS n_pairs,
           |  CAST(sum(CASE WHEN ep.to_type = pr.prediction THEN 1 ELSE 0 END)
           |    AS BIGINT) AS n_correct,
           |  CAST((1000 * sum(CASE WHEN ep.to_type = pr.prediction THEN 1 ELSE 0 END))
           |    // count(*) AS BIGINT) AS acc_milli
           |FROM ep LEFT JOIN pr ON pr.from_type = ep.from_type
           |WHERE ep.from_type IS NOT NULL GROUP BY 1""".stripMargin) { (s, d) =>
      graft.ops.History.markovEval(OpsQueries.events(s, d),
        "user_id", "event_type", "ts", "event_id", cutMs = 1705363200000L)
    },

    // Kaplan-Meier signup->purchase survival at day grain: censored
    // users (never converted by the stream horizon) reduce the at-risk
    // set without counting as events — the estimator that keeps
    // conversion-time curves honest. Fixed-point step products
    // ((acc*q) div 1000) are deterministic in both engines
    QuerySpec("events_survival_km",
      raw"""WITH t0 AS (SELECT user_id, min(ts) AS t_start FROM events
           |            WHERE event_type = 'signup' GROUP BY 1),
           |t1 AS (SELECT e.user_id, min(e.ts) AS t_convert
           |       FROM events e JOIN t0 ON t0.user_id = e.user_id
           |       WHERE e.event_type = 'purchase' AND e.ts >= t0.t_start
           |       GROUP BY 1),
           |hz AS (SELECT max(epoch_ms(ts)) AS h FROM events),
           |obs AS (SELECT COALESCE(epoch_ms(t1.t_convert) - epoch_ms(t0.t_start),
           |                        hz.h - epoch_ms(t0.t_start)) AS t_obs,
           |          CASE WHEN t1.t_convert IS NULL THEN 0 ELSE 1 END AS e
           |        FROM t0 LEFT JOIN t1 ON t1.user_id = t0.user_id CROSS JOIN hz),
           |b AS (SELECT t_obs // 86400000 AS w, sum(e) AS d, sum(1 - e) AS c
           |      FROM obs GROUP BY 1),
           |tot AS (SELECT sum(d + c) AS n FROM b),
           |cum AS (SELECT w, d, c, sum(d + c) OVER (ORDER BY w) AS thr FROM b),
           |ar AS (SELECT w, CAST(tot.n - (thr - d - c) AS BIGINT) AS n_at_risk,
           |         CAST(d AS BIGINT) AS d, CAST(c AS BIGINT) AS c,
           |         CAST((1000 * (tot.n - (thr - d - c) - d))
           |           // (tot.n - (thr - d - c)) AS BIGINT) AS q_milli
           |       FROM cum CROSS JOIN tot),
           |arr AS (SELECT list(struct_pack(w := w, q := q_milli) ORDER BY w) AS qs
           |        FROM ar),
           |idx AS (SELECT unnest(range(1, len(qs) + 1)) AS i, qs FROM arr),
           |s AS (SELECT qs[i].w AS w,
           |        CAST(list_reduce(
           |          list_prepend(CAST(1000 AS BIGINT), [x.q FOR x IN qs[1:i]]),
           |          (acc, x) -> (acc * x) // 1000) AS BIGINT) AS s_milli
           |      FROM idx)
           |SELECT ar.w, ar.n_at_risk, ar.d, ar.c, ar.q_milli, s.s_milli
           |FROM ar JOIN s USING (w)""".stripMargin) { (s, d) =>
      val ev = OpsQueries.events(s, d)
      val tte = graft.ops.History.timeToEvent(ev, "user_id", "ts", "event_type",
        fromVal = "signup", toVal = "purchase")
      val hz = ev.agg(max(unix_millis(col("ts"))).as("__hz"))
      val obs = tte.crossJoin(broadcast(hz)).select(
        coalesce(col("delta_ms"),
          col("__hz") - unix_millis(col("t_start"))).as("t_obs"),
        (lit(1L) - col("censored")).as("event"))
      graft.ops.History.survivalKm(obs, "t_obs", "event", bucketMs = 86400000L)
    },

    // 2-D Hilbert index over (customer, order-day) — the locality
    // upgrade over layout_zorder's Morton walk: unit grid steps along
    // the whole curve (spec-proven bijective + Manhattan-adjacent), so
    // file min/max boxes are tighter for the same file count. Both
    // engines run the identical per-level reflect/swap steps
    QuerySpec("layout_hilbert",
      graft.ops.Layout.hilbert2Sql(Seq("o_orderkey"),
        "o_custkey % 256", "(epoch_ms(o_orderdate) // 86400000) % 256",
        bits = 8, table = "orders", outCol = "hval")) { (s, d) =>
      val day = expr("unix_millis(CAST(o_orderdate AS TIMESTAMP)) div 86400000")
      graft.ops.Layout.withHilbert2(
          s.read.parquet(s"$d/orders.parquet"),
          pmod(col("o_custkey"), lit(256L)), pmod(day, lit(256L)),
          bits = 8, outCol = "hval")
        .select(col("o_orderkey"), col("hval"))
    },

    // Theil-Sen robust trend per event type over the day-grain value
    // series: the median pairwise slope a corrupted day cannot drag
    // (the robust twin of events_value_trend's OLS). IEEE-double slopes
    // over integer operands, lower-median selection with (x1,x2) ties
    QuerySpec("events_theil_sen",
      raw"""WITH s AS (SELECT event_type, epoch_ms(ts) // 86400000 AS d,
           |             sum(CAST(floor(value * 100) AS BIGINT)) AS y
           |           FROM events GROUP BY 1, 2),
           |p AS (SELECT a.event_type,
           |        CAST(b.y - a.y AS DOUBLE) / CAST(b.d - a.d AS DOUBLE) AS slope,
           |        a.d AS x1, b.d AS x2
           |      FROM s a JOIN s b ON a.event_type = b.event_type AND a.d < b.d),
           |r AS (SELECT event_type, slope, row_number() OVER (
           |        PARTITION BY event_type ORDER BY slope, x1, x2) AS r,
           |        count(*) OVER (PARTITION BY event_type) AS np FROM p)
           |SELECT event_type, CAST(np AS BIGINT) AS n_pairs, slope AS ts_slope
           |FROM r WHERE r = (np + 1) // 2""".stripMargin) { (s, d) =>
      val series = OpsQueries.events(s, d)
        .groupBy(col("event_type"), expr("unix_millis(ts) div 86400000").as("day"))
        .agg(sum(floor(col("value") * 100).cast("long")).as("cents"))
      graft.ops.RobustStats.theilSenSlope(series, "event_type", "day", "cents")
    },

    // join-key multiplicity histogram for the lineitem->orders join:
    // which band of keys carries the rows — the "salt THESE" diagnosis
    // beside the exact blowup and the CMS join-size estimate
    QuerySpec("quality_key_multiplicity",
      raw"""WITH f AS (SELECT l_orderkey AS k, count(*) AS c FROM lineitem GROUP BY 1),
           |o AS (SELECT o_orderkey AS k, count(*) AS c FROM orders GROUP BY 1),
           |b AS (SELECT 'fact' AS side, CASE WHEN c = 1 THEN '1'
           |          WHEN c <= 10 THEN '2-10' WHEN c <= 100 THEN '11-100'
           |          ELSE '100+' END AS band, c FROM f
           |      UNION ALL
           |      SELECT 'dim', CASE WHEN c = 1 THEN '1' WHEN c <= 10 THEN '2-10'
           |          WHEN c <= 100 THEN '11-100' ELSE '100+' END, c FROM o)
           |SELECT side, band, count(*) AS n_keys, CAST(sum(c) AS BIGINT) AS n_rows
           |FROM b GROUP BY 1, 2""".stripMargin) { (s, d) =>
      graft.ops.Profiling.keyMultiplicity(
          s.read.parquet(s"$d/lineitem.parquet"), "l_orderkey", "fact")
        .union(graft.ops.Profiling.keyMultiplicity(
          s.read.parquet(s"$d/orders.parquet"), "o_orderkey", "dim"))
    },

    // positional phrase search: every occurrence of the corpus's most
    // common 3-gram (derived in-plan, broadcast back) — the operator an
    // inverted index grows positions for. Per containing doc: hit count
    // and first position
    QuerySpec("retrieval_phrase_match",
      raw"""WITH tt AS (SELECT doc_id, CASE WHEN length(trim(text)) = 0 THEN []
           |              ELSE string_split_regex(trim(lower(text)), '\s+') END AS t
           |            FROM documents),
           |g AS (SELECT doc, pos, array_to_string(t[pos + 1:pos + 3], ' ') AS gram
           |      FROM (SELECT doc_id AS doc, t,
           |              unnest(range(0, len(t) - 2)) AS pos
           |            FROM tt WHERE len(t) >= 3)),
           |top AS (SELECT gram FROM (SELECT gram, count(*) AS c FROM g GROUP BY 1)
           |        ORDER BY c DESC, gram LIMIT 1)
           |SELECT g.doc, g.gram AS phrase, count(*) AS n_hits,
           |  CAST(min(g.pos) AS INT) AS first_pos
           |FROM g JOIN top USING (gram) GROUP BY 1, 2""".stripMargin) { (s, d) =>
      graft.ops.Retrieval.topPhraseMatch(
        s.read.parquet(s"$d/documents.parquet"), "text", "doc_id", n = 3)
    },

    // effective source count per language (inverse Simpson): 1000 raw
    // sources with one holding the mass is N_eff ~ 1 — the diversity
    // number a mixture plan reads instead of the raw key count
    QuerySpec("text_source_diversity",
      raw"""WITH c AS (SELECT lang, source, count(*) AS n FROM documents
           |           GROUP BY 1, 2),
           |a AS (SELECT lang, sum(n) AS n_rows, count(*) AS n_keys,
           |        sum(CAST(n AS HUGEINT) * n) AS s2 FROM c GROUP BY 1)
           |SELECT lang, CAST(n_rows AS BIGINT) AS n_rows,
           |  CAST(n_keys AS BIGINT) AS n_keys,
           |  CAST((1000 * CAST(n_rows AS HUGEINT) * n_rows) // s2 AS BIGINT)
           |    AS neff_milli
           |FROM a""".stripMargin) { (s, d) =>
      graft.ops.Profiling.effectiveCount(
        s.read.parquet(s"$d/documents.parquet"), "lang", "source")
    },

    // per-user z-score of event value — group-wise feature normalization
    // with cross-engine bit-exact doubles: integer moments until one
    // correctly-rounded sqrt and one IEEE division (constant users null)
    QuerySpec("events_user_zscore",
      raw"""WITH v AS (SELECT event_id, user_id,
           |             CAST(floor(value * 100) AS BIGINT) AS cents FROM events),
           |m AS (SELECT user_id, CAST(count(*) AS HUGEINT) AS n,
           |        sum(CAST(cents AS HUGEINT)) AS s,
           |        sum(CAST(cents AS HUGEINT) * cents) AS q
           |      FROM v GROUP BY 1)
           |SELECT v.event_id, v.user_id, v.cents,
           |  CASE WHEN m.n * m.q - m.s * m.s > 0 THEN
           |    CAST(m.n * v.cents - m.s AS DOUBLE)
           |      / sqrt(CAST(m.n * m.q - m.s * m.s AS DOUBLE)) END AS z
           |FROM v JOIN m USING (user_id)""".stripMargin) { (s, d) =>
      graft.ops.RobustStats.zscoreExact(
        OpsQueries.events(s, d).select(col("event_id"), col("user_id"),
          floor(col("value") * 100).cast("long").as("cents")),
        "user_id", "cents")
        .select(col("event_id"), col("user_id"), col("cents"), col("z"))
    },

    // BPE merge stability: the top-20 merges learned independently on
    // the two doc_id-parity halves, full-outer aligned — merges only one
    // half finds are the sampling artifacts to distrust before freezing
    // a tokenizer; rank_delta bounds the agreement for the shared ones
    QuerySpec("vocab_merge_stability", {
      def half(m: Int, alias: String) =
        raw"""w_$alias AS (SELECT CASE WHEN length(trim(text)) = 0 THEN []
             |    ELSE string_split_regex(trim(lower(text)), '\s+') END AS t
             |  FROM documents WHERE doc_id % 2 = $m),
             |wc_$alias AS (SELECT word, count(*) AS freq
             |  FROM (SELECT unnest(t) AS word FROM w_$alias) GROUP BY 1),
             |p_$alias AS (SELECT substr(word, i, 1) AS a, substr(word, i + 1, 1) AS b, freq
             |  FROM (SELECT word, freq, unnest(range(1, length(word))) AS i
             |        FROM wc_$alias WHERE length(word) >= 2)),
             |m_$alias AS (SELECT a, b, rank FROM (
             |  SELECT a, b, row_number() OVER (
             |    ORDER BY CAST(sum(freq) AS BIGINT) DESC, a, b) AS rank
             |  FROM p_$alias GROUP BY a, b) WHERE rank <= 20)""".stripMargin
      raw"""WITH ${half(0, "x")},
           |${half(1, "y")}
           |SELECT COALESCE(mx.a, my.a) AS a, COALESCE(mx.b, my.b) AS b,
           |  mx.rank AS rank_a, my.rank AS rank_b,
           |  CASE WHEN mx.rank IS NOT NULL AND my.rank IS NOT NULL
           |    THEN abs(mx.rank - my.rank) END AS rank_delta
           |FROM m_x mx FULL OUTER JOIN m_y my
           |  ON mx.a = my.a AND mx.b = my.b""".stripMargin
    }) { (s, d) =>
      graft.ops.Vocab.mergeStability(
        s.read.parquet(s"$d/documents.parquet"), "text", "doc_id", k = 20)
    },

    // composable coresets (merge-and-reduce): a k-center per shard runs
    // for ALL shards in one lockstep plan (per-group argmin = one window
    // per round), then the plain k-center reduces the shards·k-row union
    // — the construction that makes coreset selection embarrassingly
    // parallel at 100 TB. Both stages' trajectories hash-match the
    // unrolled MATERIALIZED-CTE oracle
    QuerySpec("sim_coreset_merge", {
      def gRound(n: Int) = {
        val sel = (1 until n).map(i => s"SELECT grp, cid, cv FROM g$i")
          .mkString(" UNION ALL ")
        raw"""gsel$n AS MATERIALIZED ($sel),
             |g$n AS MATERIALIZED (
             |  SELECT grp, cid, cv, $n AS round FROM (
             |    SELECT grp, cid, cv, mx, row_number() OVER (
             |      PARTITION BY grp ORDER BY mx ASC, cid) AS r FROM (
             |      SELECT b.grp, b.cid, b.cv,
             |        max(CAST(list_dot_product(b.cv, s.cv) AS DOUBLE)) AS mx
             |      FROM base b JOIN gsel$n s ON s.grp = b.grp
             |      WHERE NOT EXISTS (SELECT 1 FROM gsel$n x
             |        WHERE x.grp = b.grp AND x.cid = b.cid)
             |      GROUP BY 1, 2, 3))
             |  WHERE r = 1)""".stripMargin
      }
      def sRound(n: Int) = {
        val sel = (1 until n).map(i => s"SELECT cid, cv FROM s$i")
          .mkString(" UNION ALL ")
        raw"""ssel$n AS MATERIALIZED ($sel),
             |s$n AS MATERIALIZED (
             |  SELECT cid, cv, $n AS round FROM (
             |    SELECT c.cid, c.cv,
             |      max(CAST(list_dot_product(c.cv, s.cv) AS DOUBLE)) AS mx
             |    FROM cent c CROSS JOIN ssel$n s
             |    WHERE NOT EXISTS (SELECT 1 FROM ssel$n x WHERE x.cid = c.cid)
             |    GROUP BY 1, 2)
             |  ORDER BY mx ASC, cid LIMIT 1)""".stripMargin
      }
      val shardUnion = (1 to 3).map(i => s"SELECT grp, cid, round FROM g$i")
        .mkString(" UNION ALL ")
      val globalUnion = (1 to 5).map(i => s"SELECT cid, round FROM s$i")
        .mkString(" UNION ALL ")
      raw"""WITH base AS MATERIALIZED (
           |  SELECT (vec_id % 40) // 10 AS grp, vec_id AS cid, embedding AS cv
           |  FROM embeddings WHERE vec_id % 10 = 0),
           |g1 AS MATERIALIZED (SELECT grp, cid, cv, 1 AS round FROM (
           |  SELECT grp, cid, cv, row_number() OVER (
           |    PARTITION BY grp ORDER BY cid) AS r FROM base) WHERE r = 1),
           |${(2 to 3).map(gRound).mkString(",\n")},
           |cent AS MATERIALIZED (
           |  SELECT cid, cv FROM (SELECT cid, cv FROM g1 UNION ALL
           |    SELECT cid, cv FROM g2 UNION ALL SELECT cid, cv FROM g3)),
           |s1 AS MATERIALIZED (SELECT cid, cv, 1 AS round
           |  FROM cent ORDER BY cid LIMIT 1),
           |${(2 to 5).map(sRound).mkString(",\n")}
           |SELECT 'shard' AS stage, CAST(grp AS BIGINT) AS shard,
           |  cid AS center_id, CAST(round AS BIGINT) AS round FROM ($shardUnion)
           |UNION ALL
           |SELECT 'global', CAST(-1 AS BIGINT), cid, CAST(round AS BIGINT)
           |FROM ($globalUnion)""".stripMargin
    }) { (s, d) =>
      import graft.ops.Similarity
      val sliced = s.read.parquet(s"$d/embeddings.parquet")
        .where(col("vec_id") % 10 === 0)
        .select(expr("(vec_id % 40) div 10").as("shard"),
          col("vec_id"), col("embedding"))
      val shardC = Similarity.kCenterCoresetBy(sliced, "shard", "vec_id",
        "embedding", k = 3)
      val centers = sliced.select(col("vec_id"), col("embedding"))
        .join(shardC.select(col("center_id").as("vec_id")), Seq("vec_id"))
      val global = Similarity.kCenterCoreset(centers, "vec_id", "embedding", k = 5)
      shardC.select(lit("shard").as("stage"), col("grp").as("shard"),
          col("center_id"), col("round"))
        .union(global.select(lit("global").as("stage"), lit(-1L).as("shard"),
          col("center_id"), col("round")))
    },

    // diurnality: chi-squared of each event type's hour-of-day profile
    // against uniform, exactly (absent hours included as n² terms —
    // no 24-row grid join), plus the peak hour and its share. Flat
    // machine traffic ~0; anything human or cron screams
    QuerySpec("events_diurnality",
      raw"""WITH h AS (SELECT event_type, (epoch_ms(ts) // 3600000) % 24 AS hour,
           |             count(*) AS o FROM events GROUP BY 1, 2),
           |n AS (SELECT event_type, sum(o) AS n FROM h GROUP BY 1),
           |s AS (SELECT h.event_type, count(*) AS hp,
           |        sum(CAST(24 * h.o - n.n AS HUGEINT)
           |            * CAST(24 * h.o - n.n AS HUGEINT)) AS s2
           |      FROM h JOIN n USING (event_type) GROUP BY 1),
           |pk AS (SELECT event_type, o AS peak_o, hour AS peak_hour FROM (
           |         SELECT event_type, o, hour, row_number() OVER (
           |           PARTITION BY event_type ORDER BY o DESC, hour) AS r FROM h)
           |       WHERE r = 1)
           |SELECT n.event_type, CAST(n.n AS BIGINT) AS n,
           |  CAST((1000 * (s.s2 + (24 - s.hp) * CAST(n.n AS HUGEINT) * n.n))
           |    // (24 * n.n) AS BIGINT) AS chi2_milli,
           |  CAST(pk.peak_hour AS BIGINT) AS peak_hour,
           |  CAST((1000 * pk.peak_o) // n.n AS BIGINT) AS peak_share_milli
           |FROM n JOIN s USING (event_type) JOIN pk USING (event_type)""".stripMargin) {
      (s, d) =>
        graft.ops.Profiling.diurnality(OpsQueries.events(s, d), "event_type", "ts")
    })
}
