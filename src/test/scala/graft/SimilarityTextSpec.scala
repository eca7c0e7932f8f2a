package graft

import org.apache.spark.sql.functions._
import graft.ops.{Similarity, TextAnalysis}
import graft.functions.{TextFunctions, TextOps, VectorFunctions}

class SimilarityTextSpec extends SparkSuite {
  import spark.implicits._

  private def vecs = Seq(
    (1L, Array(1.0f, 0.0f, 0.0f)),
    (2L, Array(0.9f, 0.1f, 0.0f)),
    (3L, Array(0.0f, 1.0f, 0.0f)),
    (4L, Array(0.0f, 0.0f, 1.0f))
  ).toDF("vec_id", "embedding")

  test("vec_dot matches manual float accumulation") {
    val d = vecs.where(col("vec_id") === 1)
      .crossJoin(vecs.where(col("vec_id") === 2).select(col("embedding").as("e2")))
      .select(VectorFunctions.vec_dot(col("embedding"), col("e2"))).as[Float].head()
    assert(d == 0.9f)
  }

  test("bruteForceTopK ranks by score desc with id tie-break") {
    val top = Similarity.bruteForceTopK(vecs, vecs.where(col("vec_id") === 1),
      "vec_id", "embedding", k = 2)
      .select("neighbor_id", "rank").as[(Long, Int)].collect().toSet
    assert(top == Set((2L, 1), (3L, 2))) // 3 vs 4 tie at 0.0 -> lower id
  }

  test("filteredTopK searches only the query's slice; postFilterTopK loses what top-m misses") {
    // label A: 1 (query), 2, 5; label B: 3, 4 — the B vectors dominate the
    // unfiltered ranking, so a post-filter over top-2 keeps nothing
    val lv = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f), "A"),
      (2L, Array(0.5f, 0.0f, 0.0f), "A"),
      (5L, Array(0.4f, 0.0f, 0.0f), "A"),
      (3L, Array(0.99f, 0.0f, 0.01f), "B"),
      (4L, Array(0.98f, 0.0f, 0.02f), "B")
    ).toDF("vec_id", "embedding", "label")
    val q = lv.where(col("vec_id") === 1)
    val truth = Similarity.filteredTopK(lv, q, "vec_id", "embedding", "label", k = 2)
      .select("neighbor_id", "rank").as[(Long, Int)].collect().toSet
    assert(truth == Set((2L, 1), (5L, 2)))
    assert(Similarity.postFilterTopK(lv, q, "vec_id", "embedding", "label",
      m = 2, k = 2).count() == 0L)
    val recovered = Similarity.postFilterTopK(lv, q, "vec_id", "embedding", "label",
      m = 4, k = 2).select("neighbor_id", "rank").as[(Long, Int)].collect().toSet
    assert(recovered == truth)
    intercept[IllegalArgumentException] {
      Similarity.postFilterTopK(lv, q, "vec_id", "embedding", "label", m = 1, k = 2)
    }
  }

  test("mrrEval: first-relevant rank, floor-milli RR, hit@k; lonely labels keep null") {
    // query 1 (label A): ranking is 3 (B, 0.99), 4 (B, 0.98), 2 (A, 0.5), 5 (A, 0.4)
    // -> first A at rank 3, rr = 333, hit@2 = 0, hit@3 = 1.
    // query 6 (label C, unique): no relevant anywhere -> null rank, null rr.
    val lv = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f), "A"),
      (2L, Array(0.5f, 0.0f, 0.0f), "A"),
      (5L, Array(0.4f, 0.0f, 0.0f), "A"),
      (3L, Array(0.99f, 0.0f, 0.01f), "B"),
      (4L, Array(0.98f, 0.0f, 0.02f), "B"),
      (6L, Array(0.0f, -1.0f, 0.0f), "C")
    ).toDF("vec_id", "embedding", "label")
    val q = lv.where(col("vec_id") === 1 || col("vec_id") === 6)
    val rows = Similarity.mrrEval(lv, q, "vec_id", "embedding", "label", k = 2)
      .select("query_id", "first_rel_rank", "hit_at_2", "rr_milli")
      .as[(Long, Option[Int], Long, Option[Long])].collect().toSet
    assert(rows == Set(
      (1L, Some(3), 0L, Some(333L)),
      (6L, None, 0L, None)))
    val at3 = Similarity.mrrEval(lv, q, "vec_id", "embedding", "label", k = 3)
      .select("query_id", "hit_at_3").as[(Long, Long)].collect().toMap
    assert(at3 == Map(1L -> 1L, 6L -> 0L))
  }

  test("ndcgAtK: hand-computed gains, perfect-ranking = 1000, lonely labels null") {
    // same fixture as mrrEval: query 1's ranking is 3(B) 4(B) 2(A) 5(A)
    // -> hits at ranks 3 and 4 of k=5; gains milli = 10^6 div log2milli(r):
    // g(3) = 10^6/2000 = 500, g(4) = 10^6/2321 = 430; dcg = 930.
    // ideal for n_rel=2: g(1)+g(2) = 1000 + 631 = 1631.
    // ndcg = 930000/1631 = 570 milli (floor).
    val lv = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f), "A"),
      (2L, Array(0.5f, 0.0f, 0.0f), "A"),
      (5L, Array(0.4f, 0.0f, 0.0f), "A"),
      (3L, Array(0.99f, 0.0f, 0.01f), "B"),
      (4L, Array(0.98f, 0.0f, 0.02f), "B"),
      (6L, Array(0.0f, -1.0f, 0.0f), "C")
    ).toDF("vec_id", "embedding", "label")
    assert(Similarity.ndcgGainsMilli(4) == Seq(1000L, 631L, 500L, 430L))
    val q = lv.where(col("vec_id") === 1 || col("vec_id") === 6)
    val rows = Similarity.ndcgAtK(lv, q, "vec_id", "embedding", "label", k = 5)
      .select("query_id", "dcg_milli", "n_rel", "ndcg_milli")
      .as[(Long, Long, Long, Option[Long])].collect().toSet
    assert(rows == Set(
      (1L, 930L, 2L, Some(570L)),
      (6L, 0L, 0L, None)))
    // a query whose relevant docs top the ranking scores exactly 1000:
    // query 3 (label B): ranking 1(A) .99? -> compute: candidates by dot
    // with (0.99,0,0.01): 1 (0.99), 4 (0.9704), 2 (0.495), 5 (0.396), 6 (0)
    // first B (id 4) at rank 2... use label A query 2 instead: ranking for
    // query 2 (0.5,0,0): 1 (0.5), 3 (0.495), 4 (0.49), 5 (0.2), 6 (0) —
    // relevant {1, 5} at ranks 1 and 4: not perfect either. Assert the
    // invariant instead: ndcg_milli never exceeds 1000
    val all = Similarity.ndcgAtK(lv, lv, "vec_id", "embedding", "label", k = 5)
      .select("ndcg_milli").as[Option[Long]].collect().flatten
    assert(all.nonEmpty && all.forall(v => v >= 0L && v <= 1000L))
  }

  test("recallAtK: capped denominator, hand counts, lonely labels null") {
    // same fixture: query 1 (label A) ranking is 3(B) 4(B) 2(A) 5(A) —
    // k=2: 0 of min(2,2) hits -> 0 milli; k=3: 1 of 2 -> 500; k=4: 2/2 -> 1000.
    // query 6 (label C, unique): n_rel=0 -> NULL recall.
    val lv = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f), "A"),
      (2L, Array(0.5f, 0.0f, 0.0f), "A"),
      (5L, Array(0.4f, 0.0f, 0.0f), "A"),
      (3L, Array(0.99f, 0.0f, 0.01f), "B"),
      (4L, Array(0.98f, 0.0f, 0.02f), "B"),
      (6L, Array(0.0f, -1.0f, 0.0f), "C")
    ).toDF("vec_id", "embedding", "label")
    val q = lv.where(col("vec_id") === 1 || col("vec_id") === 6)
    def at(k: Int) = Similarity.recallAtK(lv, q, "vec_id", "embedding", "label", k)
      .select("query_id", "n_rel", "n_hit", "recall_milli")
      .as[(Long, Long, Long, Option[Long])].collect().toSet
    assert(at(2) == Set((1L, 2L, 0L, Some(0L)), (6L, 0L, 0L, None)))
    assert(at(3) == Set((1L, 2L, 1L, Some(500L)), (6L, 0L, 0L, None)))
    assert(at(4) == Set((1L, 2L, 2L, Some(1000L)), (6L, 0L, 0L, None)))
    // the cap: a 1-slot budget against 2 relevant items can still reach
    // 1000 — query 2's ranking is 1(A) 3(B) 4(B) 5(A): hit at rank 1,
    // denominator min(2, 1) = 1
    val q2 = lv.where(col("vec_id") === 2)
    val r1 = Similarity.recallAtK(lv, q2, "vec_id", "embedding", "label", k = 1)
      .select("recall_milli").as[Option[Long]].head()
    assert(r1.contains(1000L))
    intercept[IllegalArgumentException](
      Similarity.recallAtK(lv, q, "vec_id", "embedding", "label", k = 0))
  }

  test("kCenterCoreset: farthest-point traversal picks the hand trajectory") {
    // seed = min id 1 (e1). Farthest from {e1}: ids 3,4 tie at dot 0 -> 3.
    // From {e1,e2}: id 4 (dot 0) beats id 2 (0.9 to e1). Then id 2 last.
    val out = Similarity.kCenterCoreset(vecs, "vec_id", "embedding", k = 4)
      .select("center_id", "round", "closest_dot")
      .as[(Long, Long, Option[Double])].collect().toSet
    assert(out == Set(
      (1L, 1L, None),
      (3L, 2L, Some(0.0d)),
      (4L, 3L, Some(0.0d)),
      (2L, 4L, Some(0.9d.toFloat.toDouble))))
  }

  test("kCenterCoresetBy runs every shard's traversal; each equals its solo run") {
    val sharded = Seq(
      (0L, 1L, Array(1.0f, 0.0f, 0.0f)), (0L, 2L, Array(0.9f, 0.1f, 0.0f)),
      (0L, 3L, Array(0.0f, 1.0f, 0.0f)),
      (1L, 4L, Array(0.0f, 0.0f, 1.0f)), (1L, 5L, Array(0.0f, 1.0f, 0.0f)),
      (1L, 9L, Array(0.5f, 0.5f, 0.0f))
    ).toDF("shard", "vec_id", "embedding")
    val grouped = Similarity.kCenterCoresetBy(sharded, "shard", "vec_id",
        "embedding", k = 2)
      .select("grp", "center_id", "round").as[(Long, Long, Long)].collect().toSet
    val solo = (0L to 1L).flatMap { g =>
      Similarity.kCenterCoreset(sharded.where(col("shard") === g),
          "vec_id", "embedding", k = 2)
        .select("center_id", "round").as[(Long, Long)].collect()
        .map { case (c, r) => (g, c, r) }
    }.toSet
    assert(grouped == solo)
    assert(grouped == Set((0L, 1L, 1L), (0L, 3L, 2L), (1L, 4L, 1L), (1L, 5L, 2L)))
  }

  test("kCenterCoreset coverage radius is monotone: closest_dot never decreases") {
    val many = (vecs.collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray)) ++
      Seq((5L, Array(0.6f, 0.8f, 0.0f)), (6L, Array(0.0f, 0.6f, 0.8f))))
      .toSeq.toDF("vec_id", "embedding")
    val dots = Similarity.kCenterCoreset(many, "vec_id", "embedding", k = 6)
      .orderBy("round").select("closest_dot")
      .as[Option[Double]].collect().toSeq.flatten
    assert(dots.size == 5)
    assert(dots.zip(dots.tail).forall { case (a, b) => b >= a })
  }

  test("lshTopK returns a subset of brute-force candidates with exact scores") {
    val brute = Similarity.bruteForceTopK(vecs, vecs, "vec_id", "embedding", k = 3)
      .select("query_id", "neighbor_id", "score").as[(Long, Long, Float)].collect().toSet
    val lsh = Similarity.lshTopK(vecs, "vec_id", "embedding", k = 3, h = 2)
      .select("query_id", "neighbor_id", "score").as[(Long, Long, Float)].collect().toSet
    assert(lsh.subsetOf(brute))
  }

  test("lshCandidates caps oversize buckets and shuffles the index once") {
    // with h = 0 every vector lands in bucket 0: cap 2 < 4 members -> no
    // pairs; cap 4 -> all 6 unordered pairs
    assert(Similarity.lshCandidates(vecs, "vec_id", "embedding", h = 0, maxBucket = 2)
      .count() == 0)
    val all = Similarity.lshCandidates(vecs, "vec_id", "embedding", h = 0, maxBucket = 4)
    assert(all.count() == 6)
    // the embedding-carrying member list is built exactly once (grouped
    // pair expansion, not a bucket self-join), and only AFTER the
    // count-only prune — so an oversize bucket is never buffered whole
    val plan = all.queryExecution.executedPlan.toString
    assert(plan.linesIterator.count(_.contains("collect_list")) >= 1)
    assert(!plan.contains("CartesianProduct"))
    val optimized = all.queryExecution.optimizedPlan.toString
    assert(optimized.indexOf("count(1)") < optimized.length) // prune aggregate present
    assert(optimized.linesIterator.count(_.contains("collect_list")) == 1,
      "member collection must appear exactly once")
  }

  test("ivfIndex assigns per-row over broadcast centroids with no shuffle") {
    val idx = Similarity.ivfIndex(vecs, "vec_id", "embedding", nCentroids = 2, modulus = 2)
    val plan = idx.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"),
      s"IVF assignment must not shuffle the corpus:\n$plan")
    // nearest centroid by dot product (centroids = ids {2, 4})
    val assigned = idx.select("vec_id", "centroid_id").as[(Long, Long)].collect().toMap
    assert(assigned(1L) == 2L && assigned(3L) == 2L && assigned(4L) == 4L)
  }

  test("kmeansCentroids converges to per-cluster means with stable ids") {
    val df = Seq(
      (0L, Array(1.0f, 0.0f)), (1L, Array(0.9f, 0.1f)),
      (2L, Array(0.0f, 1.0f)), (3L, Array(0.1f, 0.9f))).toDF("vec_id", "embedding")
    // modulus 2 seeds ids {0, 2} — one per true cluster
    val cents = Similarity.kmeansCentroids(df, "vec_id", "embedding",
      k = 2, iters = 2, modulus = 2)
      .as[(Long, Seq[Float])].collect().toMap
    assert(cents.keySet == Set(0L, 1L))
    assert(math.abs(cents(0L)(0) - 0.95f) < 1e-6 && math.abs(cents(0L)(1) - 0.05f) < 1e-6)
    assert(math.abs(cents(1L)(0) - 0.05f) < 1e-6 && math.abs(cents(1L)(1) - 0.95f) < 1e-6)
    // a trained codebook drops into the IVF index unchanged
    val centsDf = Similarity.kmeansCentroids(df, "vec_id", "embedding", 2, 2, 2)
    val idx = Similarity.ivfIndexWith(df, "vec_id", "embedding", centsDf)
      .select("vec_id", "centroid_id").as[(Long, Long)].collect().toMap
    assert(idx(0L) == idx(1L) && idx(2L) == idx(3L) && idx(0L) != idx(2L))
  }

  test("lshBucket is deterministic across evaluations") {
    val b1 = Similarity.lshIndex(vecs, "vec_id", "embedding", 4)
      .select("vec_id", "bucket").as[(Long, Long)].collect().toSet
    val b2 = Similarity.lshIndex(vecs, "vec_id", "embedding", 4)
      .select("vec_id", "bucket").as[(Long, Long)].collect().toSet
    assert(b1 == b2)
  }

  // ---- text ----

  test("approximate-index recall floors hold on the sf0.001 fixture") {
    // regression gates, not quality claims: every input to both recall
    // harnesses is deterministic (md5 hashing, modulo query sampling),
    // so current recall is a constant of the code — floors sit just
    // under it and fail on any index-quality regression (a hash change,
    // a banding bug, a capping change) rather than on noise.
    // Measured at pinning time: lsh 0.32, multiprobe 0.80, ivf 1.00.
    def meanRecall(name: String): Double =
      graft.SparkEntry.queries(name)(spark, "/root/testdata/sf0.001")
        .agg(avg(col("recall"))).head().getDouble(0)
    val lsh = meanRecall("sim_ann_recall")
    val mp = meanRecall("sim_ann_multiprobe_recall")
    val ivf = meanRecall("sim_ivf_recall")
    assert(lsh >= 0.3, f"LSH mean recall regressed: $lsh%.3f < 0.3")
    assert(mp >= 0.7, f"multi-probe LSH mean recall regressed: $mp%.3f < 0.7")
    assert(mp > lsh, "multi-probe must beat single-probe or it isn't paying for itself")
    assert(ivf >= 0.9, f"IVF mean recall regressed: $ivf%.3f < 0.9")
    // composed IVF-PQ (trained routing + trained L2 codebooks, m=32
    // subDim=2 C=32 iters=1 nprobe=6): measured 0.76 mean / 0.60 min at
    // pinning time — the shippability bar the untrained flat PQ failed
    // (0.36). L2-metric encoding is load-bearing: dot-metric training
    // measured 0.28.
    val ivfpq = meanRecall("sim_ivfpq_recall")
    assert(ivfpq >= 0.6, f"IVF-PQ mean recall regressed: $ivfpq%.3f < 0.6")
    // the EXACT RE-RANK tail (sim_ivfpq_rerank: shortlist 4k by PQ score,
    // true-dot re-rank) must lift recall@5 to the production bar — PQ
    // quantization error only costs recall when truth misses the 20-deep
    // shortlist entirely. Same deterministic-inputs argument as above.
    val rr = {
      val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      val queries = e.where(col("vec_id") % 100 === 0)
      val brute = Similarity.bruteForceTopK(e, queries, "vec_id", "embedding", k = 5)
        .select(col("query_id"), col("neighbor_id"))
      val rer = graft.SparkEntry.queries("sim_ivfpq_rerank")(spark, "/root/testdata/sf0.001")
        .select(col("query_id"), col("neighbor_id"), lit(1).as("__hit"))
      val r = brute.join(rer, Seq("query_id", "neighbor_id"), "left")
        .agg(count(lit(1)).cast("double").as("n"),
          sum(coalesce(col("__hit"), lit(0))).cast("double").as("h")).head()
      r.getDouble(1) / r.getDouble(0)
    }
    assert(rr >= 0.9, f"re-ranked IVF-PQ mean recall regressed: $rr%.3f < 0.9")
    assert(rr > ivfpq, "the exact re-rank must beat the raw PQ ranking it refines")
  }

  test("cascade re-rank beats raw truncation on the sf0.001 fixture") {
    // same deterministic-inputs argument as the other recall gates: both
    // numbers are constants of the code, so the ORDERING is a regression
    // gate. The full-dim re-rank can only recover truth the nomination
    // stage nearly found — it must never score below truncation alone
    def meanRecall(name: String): Double =
      graft.SparkEntry.queries(name)(spark, "/root/testdata/sf0.001")
        .agg(avg(col("recall"))).head().getDouble(0)
    val trunc = meanRecall("sim_matryoshka_recall")
    val casc = meanRecall("sim_cascade_recall")
    assert(casc >= trunc,
      f"cascade ($casc%.3f) must not lose to its own nomination stage ($trunc%.3f)")
    assert(casc >= 0.5, f"cascade mean recall regressed: $casc%.3f < 0.5")
  }

  test("IVF-PQ recall-vs-nprobe curve is monotone with the floor at nprobe=6") {
    // the recall/cost knob a 100 TB operator turns: more probed cells can
    // only ADD candidates (rank-<=-a candidates are a subset of rank-<=-b
    // for a < b), so mean recall must be nondecreasing in nprobe; the 0.6
    // shippability floor from the single-point harness must hold at the
    // same nprobe=6 here (same index, same truth, half the query load).
    // Deterministic inputs — a failure is a code regression, not noise.
    val curve = graft.SparkEntry.queries("sim_ivfpq_recall_curve")(
        spark, "/root/testdata/sf0.001")
      .select("nprobe", "mean_recall").as[(Int, Double)].collect()
      .sortBy(_._1)
    assert(curve.map(_._1).toSeq == Seq(2, 6, 12), s"unexpected arms: ${curve.mkString(",")}")
    curve.sliding(2).foreach { case Array((npA, rA), (npB, rB)) =>
      assert(rB >= rA,
        f"recall must be nondecreasing in nprobe: $rA%.3f@$npA > $rB%.3f@$npB")
    }
    val at6 = curve.find(_._1 == 6).get._2
    assert(at6 >= 0.6, f"IVF-PQ recall floor at nprobe=6 regressed: $at6%.3f < 0.6")
  }

  test("persisted IVF-PQ index probe is value-identical to the in-memory composition") {
    import graft.ops.{IndexStore, Similarity}
    import org.apache.spark.sql.functions._
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    // hold out vec_id % 100 == 1 for the merge step below — the index is
    // built WITHOUT them, then they arrive as a new batch
    val base = e.where(col("vec_id") % 100 =!= 1)
    val queries = e.where(col("vec_id") % 100 === 0)
    val cents = Similarity.kmeansCentroids(base, "vec_id", "embedding",
      k = 8, iters = 1, modulus = 20)
    val cb = Similarity.pqCodebookTrained(base, "vec_id", "embedding",
      m = 16, subDim = 4, nCentroids = 16, iters = 1, modulus = 5)
    val inMem = Similarity.ivfpqTopKWith(base, queries, "vec_id", "embedding",
      k = 5, cents, cb, m = 16, subDim = 4, nprobe = 4)
      .as[(Long, Long, Double, Int)].collect().toSet
    assert(inMem.nonEmpty)
    val dir = java.nio.file.Files.createTempDirectory("graft_ivfpq_idx").toFile
    try {
      IndexStore.writeIvfPqIndex(base, "vec_id", "embedding", dir.getAbsolutePath,
        kCells = 8, ivfIters = 1, ivfModulus = 20,
        m = 16, subDim = 4, pqC = 16, pqIters = 1, pqModulus = 5)
      // the coded corpus at rest really is codes — no raw vectors
      val codes = IndexStore.loadIvfPqCodes(spark, dir.getAbsolutePath)
      assert(codes.columns.toSet == Set("vec_id", "centroid_id", "codes"))
      val probed = IndexStore.ivfPqProbe(queries, dir.getAbsolutePath, k = 5, nprobe = 4)
        .as[(Long, Long, Double, Int)].collect().toSet
      assert(probed == inMem, "probe-from-disk must equal the in-memory answer")
      // meta guards: probing a minhash dir as ivfpq fails loudly
      intercept[IllegalArgumentException] {
        IndexStore.loadMinHashMeta(spark, dir.getAbsolutePath)
      }
      // merge: a held-out batch encoded with the EXISTING codebooks joins
      // the index, and a later probe can now retrieve it
      val held = e.where(col("vec_id") % 100 === 1)
      val before = IndexStore.loadIvfPqCodes(spark, dir.getAbsolutePath).count()
      val merged = IndexStore.mergeIntoIvfPqIndexIdempotent(held, dir.getAbsolutePath)
      assert(merged == held.count())
      val after = IndexStore.loadIvfPqCodes(spark, dir.getAbsolutePath)
      assert(after.count() == before + held.count())
      // probe every cell with an unbounded k: every merged id must now be
      // retrievable (deterministic — no reliance on ranking luck)
      val probe2 = IndexStore.ivfPqProbe(queries.limit(1), dir.getAbsolutePath,
          k = Int.MaxValue, nprobe = 8)
        .select("neighbor_id").as[Long].collect().toSet
      val heldIds = held.select("vec_id").as[Long].collect().toSet
      assert(heldIds.subsetOf(probe2),
        "merged vectors must be retrievable from the updated index")
    } finally graft.demo.CurationQueries.deleteRecursively(dir)
  }

  test("hardNegatives drops duplicate-scored candidates and re-ranks the rest") {
    import spark.implicits._
    val ranked = Seq(
      (1L, 10L, 0.99, 1),  // near-copy — excluded as a positive
      (1L, 11L, 0.35, 2),  // hardest true negative → neg_rank 1
      (1L, 12L, 0.30, 3),
      (1L, 13L, 0.10, 4),
      (2L, 20L, 0.20, 1)   // no dups for this query — passes through
    ).toDF("query_id", "neighbor_id", "score", "rank")
    val out = graft.ops.Similarity.hardNegatives(ranked, k = 2, dupThreshold = 0.4d)
      .select("query_id", "neighbor_id", "neg_rank")
      .as[(Long, Long, Int)].collect().toSet
    assert(out == Set((1L, 11L, 1), (1L, 12L, 2), (2L, 20L, 1)))
  }

  test("repetitionStats counts top and duplicated n-grams via run lengths") {
    val df = Seq(
      (1L, "a b a b a b"),                              // heavy repetition
      (2L, (1 to 40).map(i => s"w$i").mkString(" ")),   // all distinct
      (3L, "")                                          // blank
    ).toDF("doc_id", "text")
    val out = TextAnalysis.repetitionStats(df, "text", "doc_id")
      .collect().map(r => r.getLong(0) -> r).toMap
    val r1 = out(1L)
    // bigrams: "a b"×3, "b a"×2 → m=5, top=3, all 5 occurrences duplicated
    assert(r1.getAs[Long]("n_bigrams") == 5 && r1.getAs[Long]("top_bigram_count") == 3
      && r1.getAs[Long]("dup_bigram_count") == 5)
    // trigrams: "a b a"×2, "b a b"×2 → m=4, top=2, dup=4
    assert(r1.getAs[Long]("n_trigrams") == 4 && r1.getAs[Long]("top_trigram_count") == 2
      && r1.getAs[Long]("dup_trigram_count") == 4)
    assert(!r1.getAs[Boolean]("keep"), "looping doc must be rejected")
    val r2 = out(2L)
    assert(r2.getAs[Long]("top_bigram_count") == 1 && r2.getAs[Long]("dup_bigram_count") == 0)
    assert(r2.getAs[Boolean]("keep"), "distinct-token doc must pass")
    val r3 = out(3L)
    assert(r3.getAs[Long]("n_bigrams") == 0 && r3.getAs[Double]("top_bigram_frac") == 0.0
      && r3.getAs[Boolean]("keep"))
  }

  test("pq encode/reconstruct round-trips codebook members; topk recalls brute neighbors") {
    import graft.ops.Similarity
    val dim = 16
    val rnd = new scala.util.Random(7)
    // clustered fixture (PQ exploits cluster structure; uniform-random
    // vectors are its pathological case): 8 centers, tight noise
    val centers = Array.fill(8)(Array.fill(dim)((rnd.nextFloat() - 0.5f) * 2f))
    val vecs = (0L until 200L).map { i =>
      val c = centers((i % 8).toInt)
      (i, c.map(v => v + (rnd.nextFloat() - 0.5f) * 0.2f))
    }
    val df = vecs.toDF("vec_id", "embedding")
    val (m, subDim, nC, modulus) = (4, 4, 8, 5L)
    val cb = Similarity.pqCodebook(df, "vec_id", "embedding", m, subDim, nC, modulus)
    assert(cb.count() == m * nC)
    // a codebook-member vector reconstructs to itself exactly: each of
    // its slices dot-maximizes at its own codebook entry... only
    // guaranteed when the entry IS the argmax of its own slice; verify
    // structurally instead: every code is within range and recon has
    // full dimensionality with subvectors drawn from the codebook
    val enc = Similarity.pqEncode(df, "vec_id", "embedding", cb, m, subDim)
    val codes = enc.select("codes").as[Seq[Int]].collect()
    assert(codes.forall(cs => cs.length == m && cs.forall(c => c >= 0 && c < nC)))
    val recon = Similarity.pqReconstruct(enc, "vec_id", cb)
      .select("recon").as[Seq[Float]].collect()
    assert(recon.forall(_.length == dim))
    val cbSubs = cb.collect().map(r =>
      (r.getAs[Int]("s"), r.getAs[Seq[Float]]("cs"))).groupBy(_._1)
      .view.mapValues(_.map(_._2.toList).toSet).toMap
    assert(recon.forall(rv => rv.grouped(subDim).zipWithIndex.forall {
      case (sub, s) => cbSubs(s).contains(sub.toList)
    }), "every reconstruction subvector must be a codebook entry")

    // PQ quantizes away WITHIN-cluster detail, so exact-top-5 recall is
    // the wrong bar (cluster-mates reconstruct near-identically and tie);
    // the useful property is cluster consistency: retrieved neighbors
    // come from the query's own cluster
    val queries = df.where(col("vec_id") % 40 === 0)
    val pq = Similarity.pqTopK(df, queries, "vec_id", "embedding",
        k = 5, m, subDim, nC, modulus)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect()
    assert(pq.nonEmpty)
    val sameCluster = pq.count { case (q, n) => q % 8 == n % 8 }
    val frac = sameCluster.toDouble / pq.length
    assert(frac >= 0.8, s"only $frac of pq neighbors share the query's cluster")
  }

  test("trained PQ codebook beats the sampled one when the sample misses clusters") {
    import graft.ops.Similarity
    val dim = 16
    val rnd = new scala.util.Random(11)
    // clusters in CONTIGUOUS id blocks (25 ids each): the every-5th
    // sample's first 8 picks land in only 2 of the 8 clusters, so the
    // sampled codebook is blind to most of the space — the case
    // training exists for
    val centers = Array.fill(8)(Array.fill(dim)((rnd.nextFloat() - 0.5f) * 2f))
    val vecs = (0L until 200L).map { i =>
      val c = centers((i / 25).toInt)
      (i, c.map(v => v + (rnd.nextFloat() - 0.5f) * 0.2f))
    }
    val df = vecs.toDF("vec_id", "embedding")
    val (m, subDim, nC, modulus) = (4, 4, 8, 5L)
    // codebook quality = reconstruction error (what k-means minimizes;
    // retrieval metrics saturate on this fixture because even a
    // cluster-blind codebook keeps BETWEEN-cluster separation — it's
    // the distortion that training drives down)
    val orig = vecs.toMap
    def meanSqErr(cb: org.apache.spark.sql.DataFrame): Double = {
      val rec = Similarity.pqReconstruct(
          Similarity.pqEncode(df, "vec_id", "embedding", cb, m, subDim), "vec_id", cb)
        .select("vec_id", "recon").as[(Long, Seq[Float])].collect()
      val errs = rec.map { case (id, rv) =>
        orig(id).zip(rv).map { case (a, b) => val d = a - b; d.toDouble * d }.sum
      }
      errs.sum / errs.length
    }
    val sampled = meanSqErr(
      Similarity.pqCodebook(df, "vec_id", "embedding", m, subDim, nC, modulus))
    val trained = meanSqErr(
      Similarity.pqCodebookTrained(df, "vec_id", "embedding", m, subDim, nC,
        iters = 3, modulus = modulus))
    assert(trained < sampled,
      s"training must cut reconstruction error (sampled=$sampled trained=$trained)")
    // and retrieval stays sane with the trained codebook
    val queries = df.where(col("vec_id") % 40 === 0)
    val got = Similarity.pqTopKWith(df, queries, "vec_id", "embedding",
        k = 5, Similarity.pqCodebookTrained(df, "vec_id", "embedding", m, subDim, nC,
          iters = 3, modulus = modulus), m, subDim)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect()
    val frac = got.count { case (q, n) => q / 25 == n / 25 }.toDouble / got.length
    assert(frac >= 0.8, s"trained-codebook neighbors off-cluster (frac=$frac)")
  }

  test("property: repetitionStats matches a naive per-doc reference count") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    // naive reference: count n-gram multiplicities directly
    def ref(tokens: Seq[String], n: Int): (Long, Long, Long) = {
      val grams = tokens.sliding(n).filter(_.length == n).map(_.mkString(" ")).toSeq
      if (grams.isEmpty) (0L, 0L, 0L)
      else {
        val counts = grams.groupBy(identity).view.mapValues(_.size.toLong)
        (grams.size.toLong, counts.values.max, counts.values.filter(_ > 1).sum)
      }
    }
    val genDoc = Gen.listOfN(30, Gen.oneOf("a", "b", "c", "ab", "x"))
    val docsGen = Gen.listOfN(8, genDoc)
    (1 to 5).foreach { i =>
      val docLists = docsGen(Gen.Parameters.default, Seed(i.toLong))
        .getOrElse(fail(s"gen failed for seed $i"))
      val df = docLists.zipWithIndex
        .map { case (ts, id) => (id.toLong, ts.mkString(" ")) }.toDF("doc_id", "text")
      val got = TextAnalysis.repetitionStats(df, "text", "doc_id").collect()
        .map(r => r.getLong(0) ->
          ((r.getAs[Long]("n_bigrams"), r.getAs[Long]("top_bigram_count"),
            r.getAs[Long]("dup_bigram_count")),
           (r.getAs[Long]("n_trigrams"), r.getAs[Long]("top_trigram_count"),
            r.getAs[Long]("dup_trigram_count")))).toMap
      docLists.zipWithIndex.foreach { case (ts, id) =>
        val (g2, g3) = got(id.toLong)
        assert(g2 == ref(ts, 2), s"seed $i doc $id bigrams: got $g2 want ${ref(ts, 2)}")
        assert(g3 == ref(ts, 3), s"seed $i doc $id trigrams: got $g3 want ${ref(ts, 3)}")
      }
    }
  }

  test("normalize collapses whitespace and control chars, and is idempotent") {
    import graft.ops.TextAnalysis.normalize
    val df = Seq(
      (1L, "  a\tb\ncd  e  "),  // tabs, newline, vertical tab, runs
      (2L, "already clean"),
      (3L, "")
    ).toDF("id", "text")
    val out = df.select(col("id"), normalize(col("text")).as("n"))
      .as[(Long, String)].collect().toMap
    assert(out(1L) == "a b c d e")
    assert(out(2L) == "already clean")
    assert(out(3L) == "")
    // idempotent: normalizing normalized text is the identity
    val twice = df.select(col("id"), normalize(normalize(col("text"))).as("n"))
      .as[(Long, String)].collect().toMap
    assert(twice == out)
  }

  test("tokenCount handles blanks and multiple spaces") {
    val df = Seq(Tuple1("a  b   c"), Tuple1(""), Tuple1("   "), Tuple1("word")).toDF("text")
    assert(df.select(TextAnalysis.tokenCount(col("text"))).as[Int].collect().toSeq ==
      Seq(3, 0, 0, 1))
  }

  test("unigramFamiliarity averages corpus token frequencies, zeros empty docs") {
    // corpus freqs: "the"→3, "cat"→2, "sat"→1, "zz"→1
    val df = Seq((1L, "the cat sat"), (2L, "the cat"), (3L, "the zz"), (4L, "  "))
      .toDF("doc_id", "text")
    val out = TextAnalysis.unigramFamiliarity(df, "text", "doc_id")
      .select("doc_id", "n_tokens", "sum_freq", "familiarity")
      .as[(Long, Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    assert(out(1L) == ((1L, 3L, 6L, 2.0)))           // (3+2+1)/3
    assert(out(2L) == ((2L, 2L, 5L, 2.5)))           // (3+2)/2
    assert(out(3L) == ((3L, 2L, 4L, 2.0)))           // (3+1)/2
    assert(out(4L) == ((4L, 0L, 0L, 0.0)))           // empty doc restored with zeros
  }

  test("quality features on crafted text") {
    val df = Seq((1L, "abc 123!")).toDF("doc_id", "text")
    val f = TextAnalysis.qualityFeatures(df, "text")
      .select("alpha_ratio", "digit_ratio", "n_tokens").as[(Double, Double, Int)].head()
    assert(f._1 == 3.0 / 8.0 && f._2 == 3.0 / 8.0 && f._3 == 2)
  }

  test("languageId detects english and spanish stopword profiles") {
    val df = Seq(
      (1L, "the cat is in the house and it is big"),
      (2L, "el gato es de la casa y es un animal"),
      (3L, "xyzzy plugh qwerty")
    ).toDF("doc_id", "text")
    val out = TextAnalysis.languageId(df, "text")
      .select("doc_id", "lang_pred").as[(Long, String)].collect().toMap
    assert(out(1L) == "en" && out(2L) == "es" && out(3L) == "und")
  }

  test("fingerprint equal for equal text, differs for different text") {
    val df = Seq((1L, "some repeated body of text here"),
      (2L, "some repeated body of text here"),
      (3L, "a totally different body")).toDF("doc_id", "text")
    val fp = TextAnalysis.fingerprint(df, "text")
      .select("doc_id", "fingerprint").as[(Long, Long)].collect().toMap
    assert(fp(1L) == fp(2L) && fp(1L) != fp(3L))
  }

  test("simhash hamming is small for near texts, large for distinct ones") {
    def sig(s: String): Long = {
      val df = Seq(Tuple1(s)).toDF("text")
      df.select(TextFunctions.simhash64(TextAnalysis.tokens(col("text")))).as[Long].head()
    }
    val a = sig("the quick brown fox jumps over the lazy dog again and again")
    val b = sig("the quick brown fox jumps over the lazy cat again and again")
    val c = sig("completely unrelated text with other words present")
    assert(TextOps.hamming64(a, b) < TextOps.hamming64(a, c))
  }

  test("subTokenCount splits word/number/punct boundaries") {
    val df = Seq(Tuple1("abc123,def")).toDF("text")
    assert(df.select(TextAnalysis.subTokenCount(col("text"))).as[Int].head() == 4)
  }

  test("canonicalUrl: folds case, strips tracking/fragment, sorts params, idempotent") {
    def canon(u: String): String =
      Seq(Tuple1(u)).toDF("u")
        .select(TextAnalysis.canonicalUrl(col("u"))).as[String].head()
    assert(canon("HTTPS://WWW.Ex.COM/Path/P?b=2&a=1&utm_source=x#frag")
      == "https://www.ex.com/Path/P?a=1&b=2") // path case preserved
    assert(canon("https://ex.com") == "https://ex.com/") // empty path -> /
    assert(canon("https://ex.com/?utm_campaign=z&gclid=1&fbclid=2")
      == "https://ex.com/") // all params tracking -> no query at all
    assert(canon("not a url at all") == "not a url at all") // pass-through
    // idempotent: canonical output survives a second pass unchanged
    val once = canon("HTTP://A.B/c?z=9&y=8&utm_x=1#f")
    assert(canon(once) == once, s"not idempotent: $once -> ${canon(once)}")
  }

  test("rboWeightsMicro: exact rational weights, decreasing, sum ~1e6") {
    // p=1/2, k=2: w1 = 1e6*500*1000/750000 = 666666, w2 = 333333
    assert(graft.ops.Retrieval.rboWeightsMicro(500, 2) == Seq(666666L, 333333L))
    val w = graft.ops.Retrieval.rboWeightsMicro(900, 10)
    assert(w == w.sorted.reverse && w.distinct == w, s"not strictly decreasing: $w")
    val s = w.sum
    assert(s <= 1000000L && s > 1000000L - 10L, s"weights sum $s")
  }

  test("rboMicro: hand-computed overlap, identical = weight sum, disjoint = 0") {
    import graft.ops.Retrieval
    // query q1: A = x,y,z; B = y,x,z -> c = (0, 2, 3)
    // p=1/2, k=3 weights (571428, 285714, 142857):
    // rbo = 0 + (285714*2) div 2 + (142857*3) div 3 = 428571
    // q2: identical lists -> sum of weights = 999999
    // q3: disjoint lists -> kept with 0
    val a = Seq(("q1", 10L, 1), ("q1", 11L, 2), ("q1", 12L, 3),
      ("q2", 20L, 1), ("q2", 21L, 2), ("q2", 22L, 3),
      ("q3", 30L, 1), ("q3", 31L, 2), ("q3", 32L, 3))
      .toDF("query_id", "neighbor_id", "rank")
    val b = Seq(("q1", 11L, 1), ("q1", 10L, 2), ("q1", 12L, 3),
      ("q2", 20L, 1), ("q2", 21L, 2), ("q2", 22L, 3),
      ("q3", 40L, 1), ("q3", 41L, 2), ("q3", 42L, 3))
      .toDF("query_id", "neighbor_id", "rank")
    val out = Retrieval.rboMicro(a, b, "query_id", "neighbor_id", "rank",
        pMilli = 500, k = 3)
      .as[(String, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(out("q1") == ((3L, 428571L)), s"q1: ${out("q1")}")
    assert(out("q2") == ((3L, 999999L)), s"q2: ${out("q2")}")
    assert(out("q3") == ((0L, 0L)), s"q3: ${out("q3")}")
  }

  test("rboMicro ignores rows past k and is layout-independent") {
    import graft.ops.Retrieval
    // rank-4 rows must not contribute even when they agree
    val a = Seq(("q", 1L, 1), ("q", 2L, 2), ("q", 3L, 3), ("q", 9L, 4))
      .toDF("query_id", "neighbor_id", "rank").repartition(4)
    val b = Seq(("q", 1L, 1), ("q", 2L, 2), ("q", 3L, 3), ("q", 9L, 4))
      .toDF("query_id", "neighbor_id", "rank").repartition(3)
    val w3 = Retrieval.rboWeightsMicro(500, 3).sum
    val r = Retrieval.rboMicro(a, b, "query_id", "neighbor_id", "rank", 500, 3)
      .as[(String, Long, Long)].head()
    assert(r == (("q", 3L, w3)), s"got $r")
  }
}
