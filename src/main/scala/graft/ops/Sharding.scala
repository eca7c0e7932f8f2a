package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Deterministic training-order shuffle + sharding: the export step of a
 * training-data pipeline ("shuffle the corpus with seed S and write N
 * shard files") re-expressed as pure hash math instead of an RNG.
 *
 * Each row's seeded 60-bit hash ([[Sampling.keyHash]] of "seed:key")
 * drives BOTH decisions: shard = hash mod N, within-shard order = hash
 * order (ties on the key, so the permutation is total). Properties at
 * the 100 TB tier:
 *
 *  - reproducible on any cluster layout / retry / engine — a seeded
 *    permutation, not an RNG draw (and the DuckDB oracle value-checks
 *    shard AND position);
 *  - a different seed is a statistically independent re-shuffle — epoch
 *    re-shuffles are a seed bump, not a data move;
 *  - one shuffle (on the shard id); the within-shard sort happens
 *    shard-parallel. Size `nShards` to the cluster (≥ executor count):
 *    each sort group holds corpus/N rows and spills if oversized, so N
 *    is the parallelism knob.
 *
 * The reference has no sharding surface (its engine is reconciliation
 * joins, reference: src/reconciliatior.py) — LLM-pipeline extension.
 */
object Sharding {

  /** Seeded 60-bit order hash: md5-60 of "seed:key" — portable to any
    * engine with md5 (the oracle mirrors it literally). */
  def orderHash(key: Column, seed: Long): Column =
    Sampling.keyHash(concat(lit(s"$seed:"), key.cast("string")))

  /**
   * Rendezvous (highest-random-weight) shard assignment — the
   * RESHARDING-stable alternative to `hash mod N`: each key scores
   * every shard with the seedless hash of "shard:key" and lands on the
   * argmax. Growing N→N+1 moves ONLY the keys whose new argmax is the
   * new shard (expected 1/(N+1) of the corpus) — `hash mod N` moves
   * N/(N+1) of it. At 100 TB that is the difference between copying
   * ~1% of the corpus and copying ~all of it on every capacity change.
   *
   * Pure per-row expression (an N-element in-row argmax — no shuffle,
   * no |rows|·N blow-up); sized for shard counts in the hundreds. Ties
   * (a 60-bit hash collision across two shards of ONE key) break to the
   * higher shard id, mirrored exactly by the oracle's (h DESC, shard
   * DESC) ordering.
   */
  def rendezvousAssign(df: DataFrame, keyCol: String, nShards: Int): DataFrame = {
    require(nShards > 0, s"nShards must be positive: $nShards")
    df.withColumn("shard", rendezvousShard(col(keyCol), nShards))
  }

  /** The HRW argmax as a bare column — for side-by-side audits of two
    * shard counts over one scan. */
  def rendezvousShard(key: Column, nShards: Int): Column = {
    val scored = transform(sequence(lit(0), lit(nShards - 1)), s =>
      struct(
        Sampling.keyHash(concat(s.cast("string"), lit(":"), key.cast("string"))).as("h"),
        s.cast("long").as("shard")))
    array_max(scored).getField("shard")
  }

  /**
   * Consistent-hash RING with virtual nodes — the other classic
   * resharding-stable scheme, complementing [[rendezvousShard]] (HRW).
   * Each shard owns `vnodesPerShard` points on a 60-bit ring (the md5-60
   * of "ring:shard:vnode" — driver-computable, engine-portable); a key
   * lands on the first vnode clockwise from its own hash (smallest vnode
   * hash ≥ key hash, wrapping to the ring's global minimum). Growing
   * N→N+1 inserts only the NEW shard's vnodes, so keys move ONLY into
   * the new shard (expected ~V_new/V_total of the corpus) — the same
   * minimal-movement contract as HRW, but with O(log V) per-key cost on
   * a sorted ring vs HRW's O(N) argmax, which is why rings win once
   * shard counts reach the thousands. Vnode-hash ties break to the
   * lower shard id ((h, shard) lexicographic — mirrored by the oracle).
   *
   * The ring itself is tiny (N·V longs) and embedded in the plan as a
   * sorted literal array; assignment is a pure per-row expression — no
   * shuffle, no join, no broadcast exchange.
   */
  def ringVnodes(nShards: Int, vnodesPerShard: Int): Seq[(Long, Int)] = {
    require(nShards > 0 && vnodesPerShard > 0,
      s"nShards and vnodesPerShard must be positive: $nShards, $vnodesPerShard")
    val pts = for (s <- 0 until nShards; v <- 0 until vnodesPerShard)
      yield (graft.functions.TextOps.md5Hash60(
        org.apache.spark.unsafe.types.UTF8String.fromString(s"ring:$s:$v")), s)
    pts.sorted
  }

  /**
   * CAPACITY-WEIGHTED ring: shard s owns `vnodeCounts(s)` points, so its
   * expected key share is vnodeCounts(s)/Σcounts — the standard way a
   * heterogeneous fleet (big and small executors, hot and cold storage
   * tiers) gets load proportional to capacity from the same ring
   * machinery. Same hash family and tie-break as [[ringVnodes]]; the
   * uniform ring is the special case of equal counts.
   */
  def ringVnodesWeighted(vnodeCounts: Seq[Int]): Seq[(Long, Int)] = {
    require(vnodeCounts.nonEmpty && vnodeCounts.forall(_ > 0),
      s"every shard needs at least one vnode: ${vnodeCounts.mkString(", ")}")
    val pts = for ((cnt, s) <- vnodeCounts.zipWithIndex; v <- 0 until cnt)
      yield (graft.functions.TextOps.md5Hash60(
        org.apache.spark.unsafe.types.UTF8String.fromString(s"ring:$s:$v")), s)
    pts.sorted
  }

  /** [[ringShard]] over a capacity-weighted ring. */
  def ringShardWeighted(key: Column, vnodeCounts: Seq[Int]): Column =
    ringPick(key, ringVnodesWeighted(vnodeCounts))

  /** Ring successor lookup as a bare column: binary-search the sorted
    * vnode ring for the first vnode hash ≥ the key hash, wrapping to the
    * ring head when the key hashes past every vnode. */
  def ringShard(key: Column, nShards: Int, vnodesPerShard: Int): Column =
    ringPick(key, ringVnodes(nShards, vnodesPerShard))

  /** Successor-or-wrap pick over an already-sorted vnode ring — the
    * native binary-search expression ([[graft.functions.RingPick]]),
    * O(log V) per key with the ring as a codegen reference object, not
    * an N·V-element plan literal (the higher-order `filter` form scanned
    * every vnode per row, strictly worse than HRW at large fleets). */
  private def ringPick(key: Column, ring: Seq[(Long, Int)]): Column =
    graft.functions.TextFunctions.ring_pick(Sampling.keyHash(key),
      ring.map(_._1).toArray, ring.map(_._2.toLong).toArray)

  /** Rows + a `shard` column from the vnode ring. Pure projection. */
  def ringAssign(df: DataFrame, keyCol: String, nShards: Int,
      vnodesPerShard: Int): DataFrame =
    df.withColumn("shard", ringShard(col(keyCol), nShards, vnodesPerShard))

  /** Rows + (shard, __order) columns — the assignment alone, no sort.
    * Pure per-row projection: no shuffle. */
  def assignShards(df: DataFrame, keyCol: String, nShards: Int, seed: Long): DataFrame = {
    require(nShards > 0, s"nShards must be positive: $nShards")
    val h = orderHash(col(keyCol), seed)
    df.withColumn("__order", h)
      .withColumn("shard", pmod(col("__order"), lit(nShards.toLong)))
  }

  /**
   * (key, shard, pos): the exact position of every row in its shard under
   * the seeded permutation — what a downstream loader needs to address
   * any training example by (shard, offset). One shuffle on the shard id;
   * the per-shard rank is a window PARTITIONED by shard (never a global
   * window) and positions start at 1, dense within each shard.
   */
  def shardPositions(df: DataFrame, keyCol: String, nShards: Int, seed: Long): DataFrame = {
    val w = Window.partitionBy(col("shard")).orderBy(col("__order"), col(keyCol))
    assignShards(df, keyCol, nShards, seed)
      .select(col(keyCol), col("shard"), row_number().over(w).cast("long").as("pos"))
  }

  /**
   * Curriculum variant of [[shardPositions]]: shard membership stays the
   * seeded hash (each shard remains an unbiased corpus sample — loaders
   * can still consume shards independently), but the WITHIN-shard order
   * is by `scoreCol` DESCENDING (highest-quality/easiest examples first
   * — curriculum learning's schedule), ties → hash then key so the
   * permutation is total and reproducible. Same cost shape: one shuffle
   * on the shard id, a shard-partitioned window, never a global sort.
   * Output: `(key, shard, scoreCol, pos)`.
   */
  def curriculumPositions(df: DataFrame, keyCol: String, scoreCol: String,
      nShards: Int, seed: Long): DataFrame = {
    val w = Window.partitionBy(col("shard"))
      .orderBy(col(scoreCol).desc, col("__order"), col(keyCol))
    assignShards(df, keyCol, nShards, seed)
      .select(col(keyCol), col("shard"), col(scoreCol),
        row_number().over(w).cast("long").as("pos"))
  }

  /**
   * EXACT range-shard boundaries over an orderable integer key: the k−1
   * split points `b_1 ≤ … ≤ b_{k−1}` where `b_i` is the `ceil(i·n/k)`-th
   * smallest key value (duplicates counted), so shard `i` holds the keys
   * in `[b_i, b_{i+1})` — ~n/k rows each, up to duplicate-run
   * granularity. The third classic sharding discipline beside hash-mod /
   * HRW / the vnode ring: assignment is MONOTONE in the key, so a range
   * scan touches contiguous shards — the property hash schemes trade
   * away. Unlike Spark's own `RangePartitioner` (whose boundaries come
   * from reservoir SAMPLING and change run to run), these are exact order
   * statistics: reproducible, auditable, and mirrorable bit-for-bit by
   * any SQL engine.
   *
   * Scale shape: per-value counts are ONE hash aggregate
   * (value-domain-sized output); cumulative ranks ride the ranged
   * two-phase running sum ([[graft.recon.Sources.withRunningSumRanged]] —
   * no global window anywhere); the boundary pick broadcasts a
   * (k−1)-row rank frame against the cum frame; the collect is k−1 longs
   * — metadata-scale by contract (the Lloyd-codebook discipline). Fewer
   * than k distinct values collapses adjacent boundaries (upper shards
   * empty), documented rather than hidden.
   */
  def rangeBoundaries(df: DataFrame, key: Column, nShards: Int): Seq[Long] = {
    require(nShards > 1, s"nShards must be > 1: $nShards")
    val counts = df.select(key.cast("long").as("__v"))
      .where(col("__v").isNotNull)
      .groupBy(col("__v")).agg(count(lit(1)).as("__c"))
    // ONE materialization serves both the total-count probe and the
    // boundary pick: an uncut cum frame re-executes the running sum's
    // window+offsets subtree per consumer (and once more inside the
    // broadcast build). The in-plan single-action variant — ranks
    // derived from max(__cum) inside a broadcast branch — measured
    // WORSE at sf0.1 (min 1.36 → 2.63 s: two extra cum evaluations buy
    // back more than the saved scalar job), so the explicit cut stays.
    val cum = graft.recon.Checkpoints.cut(
      graft.recon.Sources.withRunningSumRanged(
        counts, "__cum", col("__c"), Seq(col("__v"))))
    val n = cum.agg(coalesce(max(col("__cum")), lit(0L))).head().getLong(0)
    if (n == 0L) return Seq.fill(nShards - 1)(0L)
    val spark = df.sparkSession
    val ranks = (1 until nShards).map { i =>
      // ceil(i·n/k) exactly in Long (i·n ≤ k·n ≪ 2^63 at any real scale)
      (i, (i.toLong * n + nShards - 1) / nShards)
    }
    import spark.implicits._
    val rankDf = ranks.toDF("__i", "__r")
    // b_i = the smallest value whose cumulative count reaches rank r_i
    val rows = cum.crossJoin(broadcast(rankDf))
      .where(col("__cum") >= col("__r"))
      .groupBy(col("__i")).agg(min(col("__v")).as("__b"))
      .collect()
    val byI = rows.map(r => r.getInt(0) -> r.getLong(1)).toMap
    (1 until nShards).map(byI)
  }

  /** `shard(x) = #{i : x ≥ b_i}` over [[rangeBoundaries]] output — a
    * pure codegen fold of k−1 indicator adds (no shuffle, no join), and
    * monotone in `x` by construction: `x ≤ y ⇒ shard(x) ≤ shard(y)`. */
  def rangeShard(key: Column, boundaries: Seq[Long]): Column = {
    require(boundaries.nonEmpty, "empty boundary list")
    require(boundaries == boundaries.sorted, "boundaries must be sorted")
    boundaries.foldLeft(lit(0L): Column)((acc, b) =>
      acc + when(key >= lit(b), 1L).otherwise(0L))
  }

  /** Rows + a `shard` column from exact range boundaries computed on
    * `df` itself. Two metadata-scale jobs (total count + boundary pick),
    * then a pure projection. */
  def rangeAssign(df: DataFrame, keyCol: String, nShards: Int): DataFrame =
    df.withColumn("shard",
      rangeShard(col(keyCol), rangeBoundaries(df, col(keyCol), nShards)))
}
