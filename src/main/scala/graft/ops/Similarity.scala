package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions.{vec_cosine, vec_dot, vec_maxabs, vec_qdot, vec_quant8}

/**
 * Approximate-nearest-neighbor search over an embedding column.
 *
 * Baseline: brute-force top-k — broadcast the (small) query set against the
 * corpus, score with the codegen'd float dot kernel, window top-k. One pass
 * over the corpus, no corpus shuffle: this is the exact-answer path and
 * scales to any corpus size as long as the query set broadcasts.
 *
 * Scale path: sign-random-projection LSH — h deterministic pseudo-random
 * hyperplanes (seeded xxhash64 of (plane, dim), no RNG state), each vector
 * keyed by its h-bit sign bucket; neighbors are searched only among
 * bucket-mates (optionally probing near buckets). Turns the O(N·Q) scan
 * into a bucket join whose shuffle is on the bucket key.
 */
object Similarity {

  /** Cosine of pre-normalized vectors = dot; use `cosine=true` otherwise. */
  private def score(a: Column, b: Column, cosine: Boolean): Column =
    if (cosine) vec_cosine(a, b) else vec_dot(a, b)

  /**
   * Exact top-k neighbors for each query vector. `queries` must be small
   * enough to broadcast (typical: ≤ a few 100k rows); ranking ties break
   * on neighbor id for determinism.
   */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int, cosine: Boolean = false): DataFrame = {
    val q = broadcast(queries.select(col(idCol).as("query_id"), col(vecCol).as("qv")))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"))
    val scored = q.join(c, col("query_id") =!= col("neighbor_id"))
      .withColumn("score", score(col("qv"), col("cv"), cosine))
    val w = Window.partitionBy(col("query_id")).orderBy(col("score").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("score"), col("rank"))
  }

  /**
   * Greedy k-center CORESET (farthest-point traversal, Gonzalez 1985):
   * start from the min-id vector, then repeatedly add the point FARTHEST
   * from the selected set — on (near-)unit vectors "farthest" is the
   * smallest max-dot to any chosen center. The classic 2-approximation
   * for k-center, and the diversity-first selection an eval-set or
   * annotation-budget pipeline wants (a random sample over-represents
   * dense clusters; this covers the space). `closest_dot` of the round-r
   * pick is the COVERAGE reading: every corpus point is within that
   * similarity of some center chosen before round r.
   *
   * Scale shape: k passes over the corpus, each scoring candidates
   * against a ≤k-row broadcast of the chosen centers, argmin via
   * orderBy+limit(1) (TakeOrderedAndProject — distributed heads, no
   * global sort). The corpus projection is lineage-cut once and every
   * round's selected set is cut too — the MMR recipe: un-cut, round r
   * re-executes rounds 1..r−1.
   */
  def kCenterCoreset(corpus: DataFrame, idCol: String, vecCol: String,
      k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    val base = graft.recon.Checkpoints.cut(
      corpus.select(col(idCol).as("cid"), col(vecCol).as("cv")))
    var selected = graft.recon.Checkpoints.cut(
      base.orderBy(col("cid")).limit(1)
        .select(col("cid"), col("cv"), lit(1L).as("round"),
          lit(null).cast("double").as("closest_dot")))
    for (r <- 2 to k) {
      val sel = broadcast(selected.select(col("cv").as("__sv")))
      val next = base
        .join(selected.select(col("cid")), Seq("cid"), "left_anti")
        .crossJoin(sel)
        .groupBy(col("cid"))
        .agg(first(col("cv")).as("cv"),
          max(vec_dot(col("cv"), col("__sv")).cast("double")).as("closest_dot"))
        .orderBy(col("closest_dot").asc, col("cid")).limit(1)
        .select(col("cid"), col("cv"), lit(r.toLong).as("round"),
          col("closest_dot"))
      selected = graft.recon.Checkpoints.cut(selected.unionByName(next))
    }
    selected.select(col("cid").as("center_id"), col("round"), col("closest_dot"))
  }

  /**
   * Grouped greedy k-center — every group (shard) runs the
   * [[kCenterCoreset]] traversal SIMULTANEOUSLY: one plan per round for
   * all groups (the per-group argmin is a window partitioned by group,
   * bounded by the group's candidate count), not one plan per group.
   * This is the composable-coreset scale path: shard the corpus, take a
   * k-center per shard in parallel, then run the plain k-center over
   * the union of shard centers — the classic composable-coreset
   * construction (merge-and-reduce), whose union stage touches only
   * `shards·k` rows. Groups smaller than `k` simply stop early.
   */
  def kCenterCoresetBy(corpus: DataFrame, groupCol: String, idCol: String,
      vecCol: String, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    val base = graft.recon.Checkpoints.cut(
      corpus.select(col(groupCol).as("grp"), col(idCol).as("cid"),
        col(vecCol).as("cv")))
    val byGrp = Window.partitionBy(col("grp"))
    var selected = graft.recon.Checkpoints.cut(base
      .withColumn("__r", row_number().over(byGrp.orderBy(col("cid"))))
      .where(col("__r") === 1)
      .select(col("grp"), col("cid"), col("cv"), lit(1L).as("round"),
        lit(null).cast("double").as("closest_dot")))
    for (r <- 2 to k) {
      val sel = selected.select(col("grp"), col("cv").as("__sv"))
      val next = base
        .join(selected.select(col("grp"), col("cid")), Seq("grp", "cid"), "left_anti")
        .join(sel, Seq("grp"))
        .groupBy(col("grp"), col("cid"))
        .agg(first(col("cv")).as("cv"),
          max(vec_dot(col("cv"), col("__sv")).cast("double")).as("closest_dot"))
        .withColumn("__r", row_number().over(
          byGrp.orderBy(col("closest_dot").asc, col("cid"))))
        .where(col("__r") === 1)
        .select(col("grp"), col("cid"), col("cv"), lit(r.toLong).as("round"),
          col("closest_dot"))
      selected = graft.recon.Checkpoints.cut(selected.unionByName(next))
    }
    selected.select(col("grp"), col("cid").as("center_id"), col("round"),
      col("closest_dot"))
  }

  /**
   * Label-relevance retrieval eval — MRR and hit@k: rank the corpus per
   * query with the exact float-dot kernel, find the FIRST same-label
   * neighbor, report its rank, the floor-milli reciprocal rank, and
   * whether it landed inside the top `k`. The mean of `rr_milli` over
   * queries is MRR@∞ (this emits per-query rows so the eval is
   * drillable); queries whose label never appears elsewhere surface
   * with null rank rather than vanishing. Brute-force ranking is the
   * POINT here (exact ground truth for an eval) — production retrieval
   * uses the ANN paths, this harness grades them.
   */
  def mrrEval(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, labelCol: String, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    val q = broadcast(queries.select(col(idCol).as("query_id"),
      col(vecCol).as("qv"), col(labelCol).as("q_label")))
    val c = corpus.select(col(idCol).as("neighbor_id"),
      col(vecCol).as("cv"), col(labelCol).as("c_label"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("neighbor_id"))
    q.join(c, col("query_id") =!= col("neighbor_id"))
      .withColumn("score", vec_dot(col("qv"), col("cv")))
      .withColumn("rank", row_number().over(w))
      .groupBy(col("query_id"), col("q_label"))
      .agg(min(when(col("c_label") === col("q_label"), col("rank")))
          .as("first_rel_rank"),
        max(when(col("c_label") === col("q_label") && col("rank") <= k, 1L)
          .otherwise(0L)).as(s"hit_at_$k"))
      .withColumn("rr_milli",
        when(col("first_rel_rank").isNotNull,
          expr("1000 div first_rel_rank")))
  }

  /**
   * Recall@k — the third leg of the eval triad beside [[mrrEval]] (rank
   * of the FIRST hit) and [[ndcgAtK]] (graded positions): what fraction
   * of a query's relevant items the top-k actually retrieves. The
   * denominator is CAPPED at k (a query with 40 relevant items can at
   * best fill k slots — the uncapped ratio would punish it for corpus
   * prevalence, not retrieval quality); `recall_milli` = 1000·hits div
   * min(n_rel, k), exact integers. Queries with no relevant item at all
   * surface with NULL recall instead of vanishing. Same broadcast
   * query-side + per-query window shape as [[mrrEval]].
   */
  def recallAtK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, labelCol: String, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    val q = broadcast(queries.select(col(idCol).as("query_id"),
      col(vecCol).as("qv"), col(labelCol).as("q_label")))
    val c = corpus.select(col(idCol).as("neighbor_id"),
      col(vecCol).as("cv"), col(labelCol).as("c_label"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("neighbor_id"))
    q.join(c, col("query_id") =!= col("neighbor_id"))
      .withColumn("score", vec_dot(col("qv"), col("cv")))
      .withColumn("rank", row_number().over(w))
      .groupBy(col("query_id"), col("q_label"))
      .agg(sum(when(col("c_label") === col("q_label"), 1L).otherwise(0L))
          .as("n_rel"),
        sum(when(col("c_label") === col("q_label") && col("rank") <= k, 1L)
          .otherwise(0L)).as("n_hit"))
      .withColumn("recall_milli",
        when(col("n_rel") > 0L,
          expr(s"(1000 * n_hit) div least(n_rel, $k)")))
  }

  /** floor(1000·log₂(r+1)) — the NDCG rank discount as an exact milli
    * integer. Computed once on the driver and interpolated as a LITERAL
    * into both engines' plans, so the irrational log never enters
    * cross-engine arithmetic. */
  def log2Milli(r: Int): Long =
    // ratio FIRST: log(2)/log(2) is exactly 1.0, whereas
    // (1000·log 2)/log 2 lands at 999.999… and floors to 999
    math.floor(1000.0d * (math.log(r + 1.0d) / math.log(2.0d))).toLong

  /** Per-rank NDCG gains in MILLI units: 10⁶ div log2Milli(r) =
    * 10³/log₂(r+1), r=1..k — rank-1 gain is 1000. (Milli precision is
    * plenty for a top-k eval; the ndcg_milli ratio re-normalizes anyway,
    * and both engines share these exact driver literals.) */
  def ndcgGainsMilli(k: Int): Seq[Long] = (1 to k).map(r => 1000000L / log2Milli(r))

  /**
   * NDCG@k retrieval eval — [[mrrEval]]'s graded-position companion:
   * rank the corpus per query by the exact float dot, credit each
   * same-label hit at rank r ≤ k with the milli gain 10³/log₂(r+1)
   * (driver-literal table — see [[ndcgGainsMilli]]), normalize by the
   * ideal DCG for that query's relevant-count. All integer arithmetic;
   * `ndcg_milli` is null when the label never recurs (no ideal to
   * normalize by — the same convention as mrrEval's null rank).
   * Same scale shape as mrrEval: broadcast query set, per-query rank
   * window (partitioned by query, never global).
   */
  def ndcgAtK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, labelCol: String, k: Int): DataFrame = {
    require(k >= 1 && k <= 1000, s"k out of range: $k")
    val gains = ndcgGainsMilli(k)
    val cumGains = gains.scanLeft(0L)(_ + _).tail
    val q = broadcast(queries.select(col(idCol).as("query_id"),
      col(vecCol).as("qv"), col(labelCol).as("q_label")))
    val c = corpus.select(col(idCol).as("neighbor_id"),
      col(vecCol).as("cv"), col(labelCol).as("c_label"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("neighbor_id"))
    val gainAtRank = element_at(array(gains.map(lit): _*), col("rank").cast("int"))
    // guarded: element_at is 1-based and ANSI-raises on index 0, so the
    // no-relevant-anywhere case must short-circuit to null BEFORE indexing
    val idealAt = when(col("n_rel") > 0L,
      element_at(array(cumGains.map(lit): _*),
        least(col("n_rel"), lit(k.toLong)).cast("int")))
    q.join(c, col("query_id") =!= col("neighbor_id"))
      .withColumn("score", vec_dot(col("qv"), col("cv")))
      .withColumn("rank", row_number().over(w))
      .groupBy(col("query_id"), col("q_label"))
      .agg(
        coalesce(sum(when(col("c_label") === col("q_label") && col("rank") <= k,
          gainAtRank)), lit(0L)).as("dcg_milli"),
        sum(when(col("c_label") === col("q_label"), 1L).otherwise(0L)).as("n_rel"))
      .withColumn("__ideal", idealAt)
      .withColumn("ndcg_milli",
        when(col("n_rel") > 0L,
          expr("(1000 * dcg_milli) div __ideal")))
      .drop("__ideal")
  }

  /**
   * Project a float-vector frame to its int8-quantized form:
   * (idCol, q array<tinyint>, maxabs float). Pure per-row kernel
   * projection — the quantized corpus is 4× smaller at rest, which is
   * what keeps a 100 TB embedding shard resident instead of spilled.
   */
  def quantize8(df: DataFrame, idCol: String, vecCol: String): DataFrame =
    df.select(col(idCol), vec_quant8(col(vecCol)).as("q"),
      vec_maxabs(col(vecCol)).as("maxabs"))

  /**
   * Exact top-k over int8-quantized vectors: the dot runs in integer
   * arithmetic (4× less memory traffic than float32, exactly reproducible
   * in any engine), rescaled by the two per-vector scales —
   * score = qdot · (maxabs_a/127) · (maxabs_b/127), an approximation of
   * the float dot with ≤ 0.8% per-component quantization error. Same
   * broadcast shape as [[bruteForceTopK]].
   */
  def quantizedTopK(corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int): DataFrame = {
    val q = broadcast(quantize8(queries, idCol, vecCol)
      .select(col(idCol).as("query_id"), col("q").as("qq"), col("maxabs").as("qma")))
    val c = quantize8(corpus, idCol, vecCol)
      .select(col(idCol).as("neighbor_id"), col("q").as("cq"), col("maxabs").as("cma"))
    val scored = q.join(c, col("query_id") =!= col("neighbor_id"))
      .withColumn("score",
        vec_qdot(col("qq"), col("cq")).cast("double") *
          (col("qma").cast("double") / lit(127.0d)) *
          (col("cma").cast("double") / lit(127.0d)))
    val w = Window.partitionBy(col("query_id")).orderBy(col("score").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("score"), col("rank"))
  }

  /**
   * Matryoshka-truncated top-k (Kusupati et al. 2022): score on only
   * the FIRST `dims` components of each vector. MRL-trained embeddings
   * front-load information, so a 2× truncation keeps most of the
   * ranking at half the memory traffic and half the dot-product cost —
   * the cheap first stage of a coarse-to-fine cascade (truncated scan
   * → full-dim re-rank of the survivors). Same broadcast shape as
   * [[bruteForceTopK]]; pair with the recall harness to measure what
   * the truncation costs on YOUR vectors before deploying it.
   */
  def matryoshkaTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, dims: Int, k: Int): DataFrame = {
    require(dims >= 1, s"dims must be >= 1, got $dims")
    def cut(df: DataFrame) =
      df.select(col(idCol), slice(col(vecCol), 1, dims).as(vecCol))
    bruteForceTopK(cut(corpus), cut(queries), idCol, vecCol, k)
  }

  /**
   * Coarse-to-fine cascade: a cheap truncated-dim scan
   * ([[matryoshkaTopK]]) nominates `candidates` per query, then ONLY
   * those rows are re-scored at full dimension and cut to top-k. The
   * expensive full-dim dot runs on candidates×queries rows instead of
   * corpus×queries — at 100 TB that is the difference between a scan
   * of the coded prefix and a scan of everything. Recall is bounded by
   * the nomination stage (a true neighbor the prefix ranking drops
   * below `candidates` is gone); the recall harness measures that cost
   * per corpus, and raising `candidates` buys it back linearly.
   */
  def cascadeTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, dims: Int, candidates: Int, k: Int): DataFrame = {
    require(candidates >= k, s"candidates ($candidates) must be >= k ($k)")
    val cand = matryoshkaTopK(corpus, queries, idCol, vecCol, dims, candidates)
      .select(col("query_id"), col("neighbor_id"))
    val q = broadcast(queries.select(col(idCol).as("query_id"), col(vecCol).as("qv")))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"))
    val scored = cand.join(q, Seq("query_id")).join(c, Seq("neighbor_id"))
      .withColumn("score", score(col("qv"), col("cv"), cosine = false))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("score"), col("rank"))
  }

  /**
   * Filtered (predicate-constrained) exact top-k: each query searches
   * only corpus rows sharing its `filterCol` value — the tenant / label
   * / shard constraint of production vector search. PRE-filter form:
   * the constraint is part of the broadcast-join condition itself, so
   * every query gets its true k nearest within its slice, and corpus
   * rows outside any query's slice are never scored. Cost identical to
   * [[bruteForceTopK]]; recall exact by construction.
   */
  def filteredTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, filterCol: String, k: Int, cosine: Boolean = false): DataFrame = {
    val q = broadcast(queries.select(col(idCol).as("query_id"),
      col(vecCol).as("qv"), col(filterCol).as("__qf")))
    val c = corpus.select(col(idCol).as("neighbor_id"),
      col(vecCol).as("cv"), col(filterCol).as("__cf"))
    val scored = q.join(c,
        col("__qf") === col("__cf") && col("query_id") =!= col("neighbor_id"))
      .withColumn("score", score(col("qv"), col("cv"), cosine))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("score"), col("rank"))
  }

  /**
   * POST-filter top-k: run the UNfiltered top-`m`, then apply the
   * constraint and re-cut to `k` — the shape you are forced into when
   * the ANN index cannot see the predicate (one shared index for all
   * tenants). Cheaper at index time, recall-lossy at query time: a
   * query whose slice is a fraction s of the corpus keeps ~s·m
   * survivors, so with m below k/s some of the true filtered top-k are
   * simply absent. Pair with [[filteredTopK]] as ground truth to
   * measure whether m covers YOUR selectivity — that measured trade is
   * the pre-filter-vs-post-filter decision at 100 TB.
   */
  def postFilterTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, filterCol: String, m: Int, k: Int,
      cosine: Boolean = false): DataFrame = {
    require(m >= k, s"m ($m) must be >= k ($k)")
    val top = bruteForceTopK(corpus, queries, idCol, vecCol, m, cosine)
    val qf = broadcast(queries.select(col(idCol).as("query_id"),
      col(filterCol).as("__qf")))
    val cf = corpus.select(col(idCol).as("neighbor_id"), col(filterCol).as("__cf"))
    val kept = top.join(qf, Seq("query_id")).join(cf, Seq("neighbor_id"))
      .where(col("__qf") === col("__cf"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("neighbor_id"))
    kept.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("score"), col("rank"))
  }

  /**
   * h-bit sign-random-projection bucket id for a float-vector column.
   * Native codegen'd kernel ([[graft.functions.VecOps.lshBucketF]]):
   * hyperplane signs derive from a splitmix64 parity of (plane, dim) —
   * reproducible on any cluster layout, no RNG state, no plane matrix to
   * broadcast — and the whole h-plane projection is one static call per
   * row instead of h interpreted higher-order-function chains.
   */
  def lshBucket(vec: Column, h: Int): Column =
    graft.functions.VectorFunctions.vec_lsh_bucket(vec, h)

  /** Sign bits needed so the EXPECTED bucket holds ~`targetBucket`
    * vectors: h = ceil(log2(corpus / targetBucket)). Size h with the
    * corpus — a fixed h that was fine at 10^6 vectors produces
    * 2^h-times-too-fat buckets at 10^9 (the `maxBucket` cap then skips
    * them, silently costing recall). */
  def recommendedH(corpusSize: Long, targetBucket: Int = 1024): Int = {
    require(corpusSize > 0 && targetBucket > 0)
    math.max(1, math.ceil(math.log(corpusSize.toDouble / targetBucket) / math.log(2.0)).toInt)
  }

  /** Corpus keyed by LSH bucket (the index-build step of the scale path). */
  def lshIndex(df: DataFrame, idCol: String, vecCol: String, h: Int): DataFrame =
    df.select(col(idCol), col(vecCol), lshBucket(col(vecCol), h).as("bucket"))

  /**
   * Candidate pairs = bucket-mates (verify with exact scores downstream).
   *
   * One shuffle (the bucket groupBy) with pairs expanded in place — the
   * self-join shape shuffles the index twice. `maxBucket` skips degenerate
   * hub buckets: with too few sign bits for the corpus a bucket approaches
   * N/2^h members and its pair expansion turns quadratic. Size `h` with the
   * corpus (≥ log2(N / targetBucket) sign bits) and let the cap bound the
   * worst case; skipped-bucket members simply produce no candidates, which
   * is the standard recall/cost trade at scale.
   */
  def lshCandidates(df: DataFrame, idCol: String, vecCol: String, h: Int,
      maxBucket: Int = 4096): DataFrame = {
    val idx = lshIndex(df, idCol, vecCol, h)
    // prune oversize buckets BEFORE any collect_list, with a count-only
    // aggregate (map-side combined) + semi join — building a hub bucket's
    // member list only to discard it would buffer the whole bucket's
    // embeddings in one aggregation group (the OOM the cap exists to
    // prevent). Same discipline as the n-gram maxDf prune.
    val okBuckets = idx.groupBy("bucket").agg(count(lit(1)).as("__n"))
      .where(col("__n") > 1 && col("__n") <= maxBucket)
      .select("bucket")
    val buckets = idx.join(okBuckets, Seq("bucket"), "left_semi")
      .groupBy("bucket")
      .agg(collect_list(struct(col(idCol).as("id"), col(vecCol).as("v"))).as("members"))
    buckets
      .select(explode(col("members")).as("m1"), col("members"))
      .select(col("m1"), explode(col("members")).as("m2"))
      .where(col("m1.id") < col("m2.id"))
      .select(col("m1.id").as("id1"), col("m2.id").as("id2"),
        col("m1.v").as("v1"), col("m2.v").as("v2"))
  }

  /**
   * IVF (inverted-file) coarse quantizer index against an explicit
   * centroid set (centroid_id, cv) — a trained codebook
   * ([[kmeansCentroids]]) or the deterministic every-`modulus`-th sample.
   * Every vector is assigned to its nearest centroid via a broadcast of
   * the (small) centroid set + the codegen'd float kernel — one pass over
   * the corpus, no corpus shuffle. Returns (idCol, vecCol, centroid_id).
   */
  def ivfIndexWith(df: DataFrame, idCol: String, vecCol: String, cents: DataFrame): DataFrame = {
    // an empty codebook would broadcast an empty array whose argmax is a
    // silent null centroid_id on every row — fail loudly instead (the
    // probe is one tiny job; codebooks are broadcast-sized by contract)
    require(cents.head(1).nonEmpty, "ivfIndexWith: centroid set is empty")
    // the whole centroid set as ONE broadcast row holding an array of
    // (centroid_id, cv) structs: the 1-row broadcast join just appends the
    // array to every corpus row (no shuffle, no row inflation), and the
    // assignment is a per-row argmax over that array — versus the
    // join+groupBy shape, which inflates the corpus nCentroids× WITH the
    // embeddings on board and then shuffles all of it back to pick max_by
    df.select(col(idCol), col(vecCol))
      .join(broadcast(cents.agg(
        collect_list(struct(col("centroid_id"), col("cv"))).as("__cents"))))
      .withColumn("centroid_id",
        array_max(transform(col("__cents"), c =>
          struct(
            vec_dot(col(vecCol), c.getField("cv")).as("sim"),
            (-c.getField("centroid_id")).as("neg_id"), // tie → smallest id
            c.getField("centroid_id").as("centroid_id"))))
          .getField("centroid_id"))
      .drop("__cents")
  }

  /** Trainer iteration boundary: codebooks are BROADCAST-SIZED by
    * contract (k·dim floats — the artifact [[IndexStore]] writes
    * `coalesce(1)`), so each Lloyd round collects the new centroid rows
    * to the driver, applies the empty-cluster fallback LOCALLY (the
    * dataframe form — `means union (prev anti-join means)` — consumed
    * the whole assignment+mean aggregation TWICE per round), and
    * re-enters the plan as a LocalRelation. One corpus job per round; a
    * lineage cut here paid ~1 s of whole-stage codegen per round and
    * still executed the means twice. Values identical either way. At
    * 100 TB the corpus side stays fully distributed — only the
    * codebook crosses the driver, exactly as it must to be broadcast. */
  private def local(spark: org.apache.spark.sql.SparkSession,
      rows: Seq[org.apache.spark.sql.Row],
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)

  /**
   * Distributed Lloyd's k-means over an embedding column — trains the IVF
   * codebook when a better-than-sampled one is wanted. Assignment uses
   * the DOT metric (the same metric the IVF search probes with — i.e.
   * spherical k-means for normalized embeddings). Initialization is
   * the deterministic every-`modulus`-th sample (reproducible, no RNG);
   * each iteration is (a) the shuffle-free broadcast-argmax assignment of
   * [[ivfIndexWith]] and (b) an element-wise mean per cluster via a
   * posexplode + (cluster, dim) aggregation — the only shuffle, carrying
   * (cluster, dim, partial sum) after map-side combine. Clusters that
   * lose all members keep their previous centroid. Returns
   * (centroid_id, cv) with centroid ids 0..k-1 (re-labeled from the
   * seeds, stable across iterations).
   */
  def kmeansCentroids(df: DataFrame, idCol: String, vecCol: String, k: Int,
      iters: Int, modulus: Long): DataFrame = {
    val spark = df.sparkSession
    // spread the training rows across the cluster: the training frame is
    // sample-capped by contract (callers gate it — see the sim_ivfpq_*
    // queries — because Lloyd over the FULL corpus is the wrong cost at
    // 100 TB), and a capped sample arrives on however few splits the
    // gate's input had; the per-row argmax work wants every core
    val training = df.select(col(idCol), col(vecCol))
      .repartition(spark.sparkContext.defaultParallelism)
    val seedsDf = centroids(df, idCol, vecCol, k, modulus)
      .select(
        (row_number().over(Window.orderBy(col("centroid_id"))) - 1).as("centroid_id"),
        col("cv"))
    val schema = seedsDf.schema
    var centRows: Seq[org.apache.spark.sql.Row] = seedsDf.collect().toSeq
    (0 until iters).foreach { _ =>
      val assigned = ivfIndexWith(training, idCol, vecCol, local(spark, centRows, schema))
      val means = assigned
        .select(col("centroid_id"), posexplode(col(vecCol)).as(Seq("__dim", "__v")))
        .groupBy(col("centroid_id"), col("__dim"))
        .agg(avg(col("__v")).as("__m"))
        .groupBy(col("centroid_id"))
        .agg(array_sort(collect_list(struct(col("__dim"), col("__m")))).as("__dm"))
        .select(col("centroid_id").cast(schema("centroid_id").dataType),
          transform(col("__dm"), e => e.getField("__m").cast("float")).as("cv"))
        .collect().toSeq
      // empty clusters keep their previous centroid — driver-local set math
      val refreshed = means.map(_.get(0)).toSet
      centRows = means ++ centRows.filterNot(r => refreshed.contains(r.get(0)))
    }
    local(spark, centRows, schema)
  }

  /** Deterministic sampled centroid set: every `modulus`-th id, first
    * `nCentroids` BY ID ORDER — a bare `limit` would be partition-layout-
    * dependent, which breaks reproducibility (and the oracle). */
  private def centroids(df: DataFrame, idCol: String, vecCol: String,
      nCentroids: Int, modulus: Long): DataFrame =
    df.where(pmod(col(idCol), lit(modulus)) === 0)
      .select(col(idCol).as("centroid_id"), col(vecCol).as("cv"))
      .orderBy(col("centroid_id"))
      .limit(nCentroids)

  /**
   * IVF ANN top-k: search only vectors sharing the query's `nprobe`
   * closest centroid cells. The cell join shuffles on centroid_id —
   * bounded fan-out, no N×Q scan. Recall grows with nprobe.
   */
  def ivfTopK(df: DataFrame, queries: DataFrame, idCol: String, vecCol: String,
      k: Int, nCentroids: Int, modulus: Long, nprobe: Int = 2): DataFrame =
    ivfTopKWith(df, queries, idCol, vecCol, k,
      centroids(df, idCol, vecCol, nCentroids, modulus), nprobe)

  /** IVF ANN top-k against an EXPLICIT centroid set (centroid_id, cv) —
    * the probe arm for a TRAINED codebook ([[kmeansCentroids]]); the
    * sampled-codebook [[ivfTopK]] delegates here. Same shape: broadcast
    * centroids assign cells and pick each query's `nprobe` nearest, the
    * cell join is the only corpus shuffle. */
  def ivfTopKWith(df: DataFrame, queries: DataFrame, idCol: String, vecCol: String,
      k: Int, cents: DataFrame, nprobe: Int): DataFrame = {
    val indexed = ivfIndexWith(df, idCol, vecCol, cents)
    val bcCents = broadcast(cents)
    // nprobe nearest cells per query via the same broadcast
    val probes = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
      .join(bcCents)
      .withColumn("__sim", vec_dot(col("qv"), col("cv")))
      .withColumn("__pr", row_number().over(
        Window.partitionBy(col("query_id")).orderBy(col("__sim").desc, col("centroid_id"))))
      .where(col("__pr") <= nprobe)
      .select(col("query_id"), col("qv"), col("centroid_id"))
    val scored = probes.join(indexed, Seq("centroid_id"))
      .where(col("query_id") =!= col(idCol))
      .withColumn("score", vec_dot(col("qv"), col(vecCol)))
    val w = Window.partitionBy(col("query_id")).orderBy(col("score").desc, col(idCol))
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col(idCol).as("neighbor_id"), col("score"), col("rank"))
  }

  /**
   * ANN top-k via LSH buckets: score only bucket-mates, then top-k per
   * query. Recall < 1 by construction; raise `h` for precision-heavy
   * buckets or lower it for recall (h sign bits ⇒ 2^h buckets); size h
   * with the corpus so buckets stay under `maxBucket` — oversize buckets
   * are skipped, bounding the pair expansion (see [[lshCandidates]]).
   *
   * Built on the unordered candidate pairs: each pair is scored ONCE
   * (dot/cosine are exactly symmetric in float32) and then mirrored into
   * both query directions — half the kernel work of a bucket self-join,
   * and one corpus shuffle instead of two.
   */
  def lshTopK(df: DataFrame, idCol: String, vecCol: String, k: Int, h: Int,
      cosine: Boolean = false, maxBucket: Int = 4096): DataFrame = {
    val scoredPairs = lshCandidates(df, idCol, vecCol, h, maxBucket)
      .withColumn("score", score(col("v1"), col("v2"), cosine))
    val both = scoredPairs.select(explode(array(
        struct(col("id1").as("query_id"), col("id2").as("neighbor_id"), col("score")),
        struct(col("id2").as("query_id"), col("id1").as("neighbor_id"), col("score"))))
        .as("p"))
      .select(col("p.query_id"), col("p.neighbor_id"), col("p.score"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("score").desc, col("neighbor_id"))
    both.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("score"), col("rank"))
  }

  /**
   * Multi-probe ANN top-k: every vector probes its own bucket PLUS the
   * `h` buckets at Hamming distance 1 (each sign bit flipped once) —
   * the standard recall lever for sign-LSH. A near neighbor lands in a
   * different bucket exactly when a few hyperplanes split the pair;
   * probing 1-bit-away buckets recovers every single-plane split, which
   * is the dominant miss mode (measured on the fixtures: mean top-5
   * recall 0.32 → 0.80 at sf0.001, 0.44 → 0.88 at sf0.01).
   *
   * Cost shape, honestly: the probe side explodes h+1 rows per vector
   * into one bucket-keyed shuffle-join against the index — probe volume
   * is (h+1)·N index-entry lookups versus single-probe's N, the classic
   * recall/cost trade, chosen per query workload. The index itself is
   * still built and capped ONCE (`maxBucket` on the NEIGHBOR bucket, so
   * hub buckets bound the join fan-out exactly as in [[lshCandidates]]).
   * Each (query, neighbor) pair arises at most once — probe buckets are
   * pairwise distinct, a neighbor has one bucket — so no dedup pass.
   */
  def lshTopKMultiProbe(df: DataFrame, idCol: String, vecCol: String, k: Int, h: Int,
      cosine: Boolean = false, maxBucket: Int = 4096): DataFrame = {
    val idx = lshIndex(df, idCol, vecCol, h)
    val okBuckets = idx.groupBy("bucket").agg(count(lit(1)).as("__n"))
      .where(col("__n") <= maxBucket)
      .select("bucket")
    val indexed = idx.join(okBuckets, Seq("bucket"), "left_semi")
      .select(col("bucket"), col(idCol).as("neighbor_id"), col(vecCol).as("nv"))
    val probeBuckets = array(
      (col("bucket") +: (0 until h).map(j => col("bucket").bitwiseXOR(lit(1L << j)))): _*)
    val probes = idx
      .select(col(idCol).as("query_id"), col(vecCol).as("qv"),
        explode(probeBuckets).as("bucket"))
    val scored = probes.join(indexed, Seq("bucket"))
      .where(col("query_id") =!= col("neighbor_id"))
      .withColumn("score", score(col("qv"), col("nv"), cosine))
    val w = Window.partitionBy(col("query_id")).orderBy(col("score").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("score"), col("rank"))
  }

  /**
   * Hard-negative mining for contrastive training: from a ranked
   * neighbor frame (`(query_id, neighbor_id, score, rank)` — any of the
   * top-k searchers here), drop candidates scoring at or above
   * `dupThreshold` (those are duplicates/positives, not negatives) and
   * re-rank the survivors — the "close but not a copy" band that makes
   * embedding training data hard. Pure window re-rank over the already-
   * bounded candidate frame; the search cost and its scale story belong
   * to the searcher that produced the input.
   */
  def hardNegatives(ranked: DataFrame, k: Int, dupThreshold: Double): DataFrame = {
    val w = Window.partitionBy(col("query_id")).orderBy(col("score").desc, col("neighbor_id"))
    ranked.where(col("score") < dupThreshold)
      .withColumn("neg_rank", row_number().over(w))
      .where(col("neg_rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("score"), col("neg_rank"))
  }

  // ---- product quantization (PQ) ----------------------------------------

  /**
   * Per-subspace PQ codebook (Jégou et al., "Product quantization for
   * nearest neighbor search", TPAMI'11 — re-derived, not copied): the
   * vector space splits into `m` contiguous subspaces of `subDim` dims;
   * each gets its own `nCentroids`-entry codebook, here the deterministic
   * every-`modulus`-th sample sliced per subspace (the same no-RNG
   * convention as [[ivfTopK]]; a k-means-per-subspace refinement slots in
   * exactly like [[kmeansCentroids]] does for IVF). Output: `(s, j, cs)`
   * — subspace, code, subvector; m·nCentroids rows, broadcast-sized by
   * construction.
   */
  def pqCodebook(df: DataFrame, idCol: String, vecCol: String, m: Int, subDim: Int,
      nCentroids: Int, modulus: Long): DataFrame = {
    require(m >= 1 && subDim >= 1 && nCentroids >= 1, s"bad m=$m subDim=$subDim nC=$nCentroids")
    centroids(df, idCol, vecCol, nCentroids, modulus)
      .select((row_number().over(Window.orderBy(col("centroid_id"))) - 1).as("j"), col("cv"))
      .select(col("j"), explode(transform(sequence(lit(0), lit(m - 1)),
        s => struct(s.as("s"), slice(col("cv"), s * subDim + 1, lit(subDim)).as("cs"))))
        .as("p"))
      .select(col("p.s").as("s"), col("j"), col("p.cs").as("cs"))
  }

  /** The codebook as a nested-array plan LITERAL: `__cb[s+1][j+1] = cs`,
    * ordered by (s, j) so codes index positionally. Codebooks are
    * driver-small by contract (m·C subvectors — the artifact
    * [[IndexStore]] writes `coalesce(1)`), so ONE collect replaces the
    * two-level groupBy + broadcast-exchange job chain the dataframe form
    * paid on every encode/reconstruct/assign call. Values identical. */
  private def codebookLit(codebook: DataFrame): Column = {
    val rows = codebook.select(col("s").cast("int"), col("j").cast("int"),
      col("cs")).collect()
    val nested: Seq[Seq[Seq[Float]]] = rows
      .groupBy(_.getInt(0)).toSeq.sortBy(_._1)
      .map { case (s, rs) =>
        val sorted = rs.sortBy(_.getInt(1)).toSeq
        // positional indexing (code j lives at array slot j+1) requires
        // contiguous codes — true for every codebook builder here
        require(sorted.map(_.getInt(1)) == (0 until sorted.size),
          s"codebook subspace $s has non-contiguous codes")
        sorted.map(_.getSeq[Float](2))
      }
    typedLit(nested)
  }

  /**
   * PQ-encode a corpus: `(idCol, codes)` with `codes[s]` = the 0-based
   * index of the subspace-`s` codebook entry maximizing the float dot
   * against the vector's `s`-slice (dot metric, consistent with every
   * scorer here; ties → lowest code). Per-row argmax against the
   * broadcast codebook — narrow, no shuffle, whole corpus in one pass.
   * At rest the encoding is `m` small ints per vector versus `m·subDim`
   * floats — the ~16–32× compression that keeps a 100 TB embedding
   * store scannable, which is the entire point of PQ.
   */
  def pqEncode(df: DataFrame, idCol: String, vecCol: String, codebook: DataFrame,
      m: Int, subDim: Int): DataFrame =
    df.select(col(idCol), col(vecCol))
      .withColumn("__cb", codebookLit(codebook))
      .select(col(idCol), transform(sequence(lit(0), lit(m - 1)), s => {
        val entries = element_at(col("__cb"), s + 1)
        val best = array_max(transform(sequence(lit(1), size(entries)), jj =>
          struct(
            vec_dot(slice(col(vecCol), s * subDim + 1, lit(subDim)),
              element_at(entries, jj)).as("sim"),
            (-jj).as("neg_j"))))
        (-best.getField("neg_j")) - 1 // back to 0-based code, ties → lowest
      }).as("codes"))

  /** Decode `(idCol, codes)` back to `(idCol, recon)` — concatenation of
    * the coded subvectors via the literal codebook; per-row, narrow. */
  def pqReconstruct(encoded: DataFrame, idCol: String, codebook: DataFrame): DataFrame =
    encoded.withColumn("__cb", codebookLit(codebook))
      .select(col(idCol),
        flatten(zip_with(col("codes"), col("__cb"),
          (c, js) => element_at(js, c + 1))).as("recon"))

  /** argmax of this ≡ argmin ‖v−c‖² (the ‖v‖² term is constant per row):
    * dot(v,c) − ½‖c‖², evaluated in DOUBLE over the float32 dot kernel so
    * the DuckDB mirror (same two float dots, same double arithmetic) is
    * bit-identical. The L2 metric is what PQ requires — codes must
    * minimize RECONSTRUCTION error; dot-argmax assignment lets large-norm
    * centroids capture far-away vectors (measured: dot-trained PQ recall
    * 0.28 vs 0.36 untrained; L2-trained is the shippable path). */
  private def l2Score(v: Column, c: Column): Column =
    vec_dot(v, c).cast("double") - lit(0.5d) * vec_dot(c, c).cast("double")

  /** `(idCol, s, sv)` — every vector's `m` subspace slices as ROWS. The
    * subspace index travels as data, not as `m` unrolled plan branches:
    * the per-subspace-loop form built `m` trainer plans with `2m` lineage
    * cuts and an `m·nCentroids`-node encode expression, and benched 44 s
    * of pure planning/codegen on a 500-row corpus. */
  private def subspaceRows(df: DataFrame, idCol: String, vecCol: String,
      m: Int, subDim: Int): DataFrame =
    df.select(col(idCol), posexplode(transform(sequence(lit(0), lit(m - 1)),
        s => slice(col(vecCol), s * subDim + 1, lit(subDim)))).as(Seq("s", "sv")))

  /** Nearest codebook entry per (vector, subspace) row under L2
    * ([[l2Score]]): the literal codebook ([[codebookLit]]) indexed by
    * subspace, per-row argmax over that subspace's entries (positional —
    * code j at slot j+1), tie → lowest code. Returns the input plus `j`.
    * No join, no broadcast build job. */
  private def assignSubspace(sub: DataFrame, codebook: DataFrame): DataFrame =
    sub.withColumn("__e", element_at(codebookLit(codebook), col("s").cast("int") + 1))
      .withColumn("j",
        (-array_max(transform(sequence(lit(1), size(col("__e"))), jj =>
          struct(
            l2Score(col("sv"), element_at(col("__e"), jj)).as("sim"),
            (-jj).as("neg_j")))) // tie → lowest code
          .getField("neg_j")) - 1)
      .drop("__e")

  /**
   * Per-subspace TRAINED PQ codebook: Lloyd's k-means run independently
   * on each `subDim`-dim slice of the corpus (the refinement Jégou et
   * al. prescribe over sampled codebooks), under the L2 metric PQ
   * requires ([[l2Score]]). ALL subspaces train in ONE plan per
   * iteration ([[subspaceRows]]): broadcast-argmax assignment per
   * (vector, subspace) row, one (s, cluster, dim) mean shuffle —
   * `iters` bounded passes total, not `m · iters`. Deterministic:
   * seeded from the every-`modulus`-th sample's slices, codes 0..C−1 by
   * seed id order (same relabeling as [[kmeansCentroids]]).
   */
  def pqCodebookTrained(df: DataFrame, idCol: String, vecCol: String, m: Int,
      subDim: Int, nCentroids: Int, iters: Int, modulus: Long): DataFrame = {
    require(m >= 1 && subDim >= 1, s"bad m=$m subDim=$subDim")
    // the subspace-row frame feeds one assignment per iteration: cut it
    // only when it actually has multiple consumers (iters > 1) — for the
    // common one-step trainer the cut was pure codegen overhead. The
    // repartition spreads the sample-capped training rows (see
    // [[kmeansCentroids]]) so the per-(row, subspace) argmax parallelizes
    val subRaw = subspaceRows(
      df.select(col(idCol), col(vecCol))
        .repartition(df.sparkSession.sparkContext.defaultParallelism),
      idCol, vecCol, m, subDim)
    val sub = if (iters > 1) graft.recon.Checkpoints.cut(subRaw) else subRaw
    val spark = df.sparkSession
    val seedsDf = centroids(df, idCol, vecCol, nCentroids, modulus)
      .select((row_number().over(Window.orderBy(col("centroid_id"))) - 1).as("j"), col("cv"))
      .select(col("j"), posexplode(transform(sequence(lit(0), lit(m - 1)),
        s => slice(col("cv"), s * subDim + 1, lit(subDim)))).as(Seq("s", "cs")))
      .select(col("s"), col("j"), col("cs"))
    // codebooks are broadcast-sized by contract: the iteration boundary
    // is a driver round-trip with the empty-cluster fallback applied
    // locally (see [[kmeansCentroids]] — the dataframe fallback executed
    // the means aggregation twice per round)
    val schema = seedsDf.schema
    var cbRows: Seq[org.apache.spark.sql.Row] = seedsDf.collect().toSeq
    (0 until iters).foreach { _ =>
      val means = assignSubspace(sub, local(spark, cbRows, schema))
        .select(col("s"), col("j"), posexplode(col("sv")).as(Seq("__dim", "__v")))
        .groupBy(col("s"), col("j"), col("__dim"))
        .agg(avg(col("__v")).as("__m"))
        .groupBy(col("s"), col("j"))
        .agg(array_sort(collect_list(struct(col("__dim"), col("__m")))).as("__dm"))
        .select(col("s").cast(schema("s").dataType),
          col("j").cast(schema("j").dataType),
          transform(col("__dm"), e => e.getField("__m").cast("float")).as("cs"))
        .collect().toSeq
      val refreshed = means.map(r => (r.get(0), r.get(1))).toSet
      cbRows = means ++ cbRows.filterNot(r => refreshed.contains((r.get(0), r.get(1))))
    }
    local(spark, cbRows, schema)
  }

  /** Append a `codes` column — [[pqEncode]] under L2 ([[l2Score]]), the
    * encoder that pairs with a TRAINED codebook: codes minimize
    * reconstruction error instead of maximizing dot; ties → lowest code,
    * like [[pqEncode]]. ONE narrow pass with the per-subspace argmax as an
    * array transform (the [[pqEncode]] shape) — a (vector, subspace)-row
    * explode + per-id reassembly aggregate would pay a full corpus shuffle
    * for values this per-row expression computes identically (guide §2.4:
    * remove shuffles outright). `df`'s other columns ride along, so the
    * IVF-PQ builders fuse cell assignment and encoding into one narrow
    * pass instead of re-joining two single-purpose frames on the id. */
  private[graft] def withCodesL2(df: DataFrame, vecCol: String,
      codebook: DataFrame, m: Int, subDim: Int): DataFrame =
    df.withColumn("__cb", codebookLit(codebook))
      .withColumn("codes", transform(sequence(lit(0), lit(m - 1)), s => {
        val entries = element_at(col("__cb"), s + 1)
        val best = array_max(transform(sequence(lit(1), size(entries)), jj =>
          struct(
            l2Score(slice(col(vecCol), s * subDim + 1, lit(subDim)),
              element_at(entries, jj)).as("sim"),
            (-jj).as("neg_j"))))
        (-best.getField("neg_j")) - 1 // back to 0-based code, ties → lowest
      }))
      .drop("__cb")

  /**
   * PQ ANN top-k with asymmetric scoring: the corpus is stored as codes;
   * each candidate is scored as `float_dot(query, reconstruction)` where
   * the reconstruction concatenates the coded centroid subvectors —
   * mathematically the classic per-subspace lookup-table sum, expressed
   * through the ONE float-dot kernel both engines already agree on bit
   * for bit. The codebook rides along broadcast; queries broadcast like
   * [[bruteForceTopK]]; the scan stays one narrow pass + per-query top-k
   * (no corpus shuffle anywhere).
   */
  def pqTopK(df: DataFrame, queries: DataFrame, idCol: String, vecCol: String,
      k: Int, m: Int, subDim: Int, nCentroids: Int, modulus: Long): DataFrame =
    pqTopKWith(df, queries, idCol, vecCol, k,
      pqCodebook(df, idCol, vecCol, m, subDim, nCentroids, modulus), m, subDim)

  /**
   * IVF-PQ composed ANN top-k (the standard large-scale pairing, Jégou et
   * al. TPAMI'11 §V): the IVF codebook routes each query to its `nprobe`
   * nearest cells, and candidates inside those cells are scored
   * asymmetrically against their PQ reconstruction — so the corpus is
   * touched (a) once to assign cells, (b) once to encode, both narrow
   * broadcast-argmax passes, and the only corpus shuffle is the cell join.
   * At rest a 100 TB embedding store carries `m` bytes + a cell id per
   * vector instead of the float rows; recall is bought back with `nprobe`
   * (routing misses) and trained codebooks (quantization error) — the two
   * knobs `sim_ivfpq_recall` measures.
   */
  def ivfpqTopKWith(df: DataFrame, queries: DataFrame, idCol: String, vecCol: String,
      k: Int, ivfCents: DataFrame, pqCodebook: DataFrame, m: Int, subDim: Int,
      nprobe: Int): DataFrame = {
    val cands = ivfpqCandidatesWith(df, queries, idCol, vecCol, ivfCents, pqCodebook,
      m, subDim, nprobe)
    val w = Window.partitionBy(col("query_id")).orderBy(col("score").desc, col("neighbor_id"))
    cands.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("score"), col("rank"))
  }

  /**
   * The IVF-PQ candidate stream BEFORE the per-query top-k:
   * `(query_id, pr, neighbor_id, score)` where `pr` is the probe rank of
   * the cell the candidate came from (1 = the query's nearest cell). This
   * is the reusable core of [[ivfpqTopKWith]] — because candidates at
   * probe rank ≤ a are a strict subset of rank ≤ b for a < b, ONE scoring
   * pass at `nprobeMax` serves every smaller nprobe by filtering on `pr`,
   * which is how `sim_ivfpq_recall_curve` sweeps the recall/cost knob
   * without re-routing and re-scoring per arm (the knob a 100 TB operator
   * tunes: each +1 of nprobe scans ~1/k more of the corpus).
   */
  def ivfpqCandidatesWith(df: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, ivfCents: DataFrame, pqCodebook: DataFrame, m: Int, subDim: Int,
      nprobeMax: Int): DataFrame = {
    // cell assignment AND the L2 encode (codes must minimize
    // reconstruction error — see [[l2Score]]) are both per-row
    // broadcast-argmax expressions, so they ride ONE narrow pass over the
    // corpus; the former two-frame build re-joined them on the id, a full
    // corpus shuffle for columns born on the same row (guide §2.4)
    val coded = withCodesL2(ivfIndexWith(df, idCol, vecCol, ivfCents),
        vecCol, pqCodebook, m, subDim)
      .select(col(idCol), col("codes"), col("centroid_id"))
    ivfpqCandidatesFrom(coded, queries, idCol, vecCol, ivfCents, pqCodebook, nprobeMax)
  }

  /**
   * The serving arm of IVF-PQ: candidates from an AT-REST coded corpus
   * `(idCol, centroid_id, codes)` — exactly what [[graft.ops.IndexStore]]
   * persists — so a probe touches `m` ints + a cell id per vector and
   * NEVER the raw embeddings. This is the operational point of the
   * composition: training and encoding are a build-time cost paid once;
   * every query after that runs against the coded frame.
   */
  def ivfpqCandidatesFrom(codedCells: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, ivfCents: DataFrame, pqCodebook: DataFrame,
      nprobeMax: Int): DataFrame = {
    // reconstruction is a per-row lookup against the literal codebook —
    // appended in place, never a project-away-and-rejoin of the coded
    // corpus with itself (that was a full self-join on the id)
    val cands = codedCells
      .withColumn("__cb", codebookLit(pqCodebook))
      .select(col(idCol),
        flatten(zip_with(col("codes"), col("__cb"),
          (c, js) => element_at(js, c + 1))).as("recon"),
        col("centroid_id"))
    val probes = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
      .join(broadcast(ivfCents))
      .withColumn("__sim", vec_dot(col("qv"), col("cv")))
      .withColumn("pr", row_number().over(
        Window.partitionBy(col("query_id")).orderBy(col("__sim").desc, col("centroid_id"))))
      .where(col("pr") <= nprobeMax)
      .select(col("query_id"), col("pr"), col("qv"), col("centroid_id"))
    probes.join(cands, Seq("centroid_id"))
      .where(col("query_id") =!= col(idCol))
      .withColumn("score", vec_dot(col("qv"), col("recon")))
      .select(col("query_id"), col("pr"), col(idCol).as("neighbor_id"), col("score"))
  }

  /**
   * IVF-PQ with an EXACT RE-RANK tail — the standard production recall
   * recovery (the re-ranking stage of Jégou et al. TPAMI'11 §V.D,
   * re-derived): the PQ candidate stream first SHORTLISTS
   * `shortlist = C·k ≫ k` neighbors per query by the asymmetric PQ
   * score; only those rows join back to the raw vectors for the true
   * float dot, and the final top-k ranks by the exact score (ties →
   * neighbor id, like every scorer here). Quantization error now costs
   * recall ONLY when a true neighbor falls outside the shortlist
   * entirely; routing misses remain nprobe's knob.
   *
   * Scale shape: the PQ scan is unchanged (codes + cell ids, never raw
   * vectors); the exact pass broadcasts the |Q|·shortlist id pairs into
   * ONE narrow pass over the corpus — at 100 TB the re-rank reads only
   * the shortlisted vectors' pages, the whole point of doing the heavy
   * scan in code space first.
   */
  def ivfpqTopKReranked(df: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, ivfCents: DataFrame, pqCodebook: DataFrame,
      m: Int, subDim: Int, nprobe: Int, shortlist: Int): DataFrame = {
    require(shortlist >= k, s"shortlist $shortlist must be >= k $k")
    val cands = ivfpqCandidatesWith(df, queries, idCol, vecCol, ivfCents,
      pqCodebook, m, subDim, nprobe)
    val wPq = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("neighbor_id"))
    val short = cands.withColumn("__pqr", row_number().over(wPq))
      .where(col("__pqr") <= shortlist)
      .select(col("query_id"), col("neighbor_id"))
    val exact = df.select(col(idCol).as("neighbor_id"), col(vecCol).as("__nv"))
      .join(broadcast(short), Seq("neighbor_id"))
      .join(broadcast(queries.select(col(idCol).as("query_id"),
        col(vecCol).as("__qv"))), Seq("query_id"))
      .withColumn("score", vec_dot(col("__qv"), col("__nv")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("neighbor_id"))
    exact.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("score"), col("rank"))
  }

  /** [[ivfpqTopKWith]] against an at-rest coded corpus (see
    * [[ivfpqCandidatesFrom]]): per-query top-k over the probed cells. */
  def ivfpqTopKFromIndex(codedCells: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, ivfCents: DataFrame, pqCodebook: DataFrame,
      nprobe: Int): DataFrame = {
    val cands = ivfpqCandidatesFrom(codedCells, queries, idCol, vecCol,
      ivfCents, pqCodebook, nprobe)
    val w = Window.partitionBy(col("query_id")).orderBy(col("score").desc, col("neighbor_id"))
    cands.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("score"), col("rank"))
  }

  /** [[pqTopK]] against an EXPLICIT codebook (`(s, j, cs)` shape) — the
    * probe arm for a trained codebook ([[pqCodebookTrained]]); the
    * sampled-codebook [[pqTopK]] delegates here. */
  def pqTopKWith(df: DataFrame, queries: DataFrame, idCol: String, vecCol: String,
      k: Int, codebook: DataFrame, m: Int, subDim: Int): DataFrame = {
    val recon = pqReconstruct(pqEncode(df, idCol, vecCol, codebook, m, subDim),
      idCol, codebook)
    val q = broadcast(queries.select(col(idCol).as("query_id"), col(vecCol).as("qv")))
    val scored = q.join(recon, col("query_id") =!= col(idCol))
      .withColumn("score", vec_dot(col("qv"), col("recon")))
    val w = Window.partitionBy(col("query_id")).orderBy(col("score").desc, col(idCol))
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col(idCol).as("neighbor_id"), col("score"), col("rank"))
  }
}
