package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.ops.{AntiEntropy, Sampling}

/** Property tests for the round-11 operator edges: invariants that must
  * hold for ANY input, exercised over seeded random data (same
  * deterministic ScalaCheck discipline as [[ReconPropertySpec]]). */
class OpsPropertySpec extends SparkSuite {
  import spark.implicits._

  private def forSeeds[T](gen: Gen[T], n: Int)(f: T => Unit): Unit =
    (1 to n).foreach { i =>
      f(gen(Gen.Parameters.default, Seed(i.toLong))
        .getOrElse(fail(s"generator failed for seed $i")))
    }

  // strings drawn from an alphabet that INCLUDES the historical
  // separator/sentinel bytes and the length-prefix syntax itself — the
  // exact values that could alias under a weaker canonical encoding
  private val trickyStr: Gen[String] = Gen.listOfN(4,
    Gen.oneOf("a", "b", "\u0001", "\u0002", "N", "V2:", ":", "")).map(_.mkString)

  private val genRow: Gen[(String, String, String)] =
    for { a <- trickyStr; b <- trickyStr; c <- trickyStr } yield (a, b, c)

  test("property: anti-entropy digests differ exactly where the rows differ") {
    // 997 buckets over ≤ 8 ids: each id lands in its own bucket for
    // these fixed seeds, so the bucket-diff count equals the number of
    // genuinely differing rows — any canonical-encoding aliasing would
    // show as a missing diff
    forSeeds(Gen.listOfN(8, Gen.zip(genRow, genRow)), 10) { pairs =>
      val left = pairs.zipWithIndex
        .map { case ((l, _), i) => (i.toLong, l._1, l._2, l._3) }
        .toDF("id", "x", "y", "z")
      val right = pairs.zipWithIndex
        .map { case ((_, r), i) => (i.toLong, r._1, r._2, r._3) }
        .toDF("id", "x", "y", "z")
      val cols = Seq("id", "x", "y", "z")
      val nDiffering = pairs.count { case (l, r) => l != r }
      val diff = AntiEntropy.diffDigests(
        AntiEntropy.bucketDigests(left, Seq("id"), cols, 997),
        AntiEntropy.bucketDigests(right, Seq("id"), cols, 997)).count()
      assert(diff == nDiffering.toLong,
        s"expected $nDiffering differing buckets, got $diff for $pairs")
    }
  }

  test("property: exactN samples are nested and exactly sized for any n") {
    val df = (1L to 97L).map(i => (i, i * 31L % 89L)).toDF("doc_id", "v")
    var prev = Set.empty[Long]
    for (n <- Seq(1, 5, 20, 50, 97, 200)) {
      val s = Sampling.exactN(df, "doc_id", n)
        .select("doc_id").as[Long].collect().toSet
      assert(s.size == math.min(n, 97), s"n=$n size=${s.size}")
      assert(prev.subsetOf(s), s"n=$n must contain every smaller sample")
      prev = s
    }
  }

  test("property: capPerStratum never exceeds the cap and keeps small strata whole") {
    forSeeds(Gen.listOfN(60,
        Gen.zip(Gen.oneOf("a", "b", "c"), Gen.chooseNum(1L, 1000000L))), 5) { rows =>
      val df = rows.distinct.toDF("g", "k")
      val before = df.groupBy("g").count().as[(String, Long)].collect().toMap
      val after = Sampling.capPerStratum(df, "g", "k", cap = 7)
        .groupBy("g").count().as[(String, Long)].collect().toMap
      before.foreach { case (g, n) =>
        assert(after.getOrElse(g, 0L) == math.min(n, 7L),
          s"stratum $g: $n -> ${after.get(g)}")
      }
    }
  }

  test("property: weighted Jaccard via expanded elements equals brute Σmin/Σmax") {
    val word = Gen.oneOf("a", "b", "c", "d")
    val doc = Gen.chooseNum(3, 12).flatMap(n => Gen.listOfN(n, word))
    val corpus = Gen.listOfN(4, doc)
    forSeeds(corpus, 5) { docs =>
      val df = docs.zipWithIndex
        .map { case (ws, i) => (i.toLong, ws.mkString(" ")) }
        .toDF("doc_id", "text")
      val got = graft.ops.SetSimilarity
        .weightedJaccardJoin(df, "text", "doc_id", shingleN = 1, tMilli = 1)
        .select("id_a", "id_b", "wjac_milli")
        .as[(Long, Long, Long)].collect()
        .map(r => (r._1, r._2) -> r._3).toMap
      val bags = docs.map(_.groupBy(identity).view.mapValues(_.size.toLong).toMap)
      for (a <- bags.indices; b <- (a + 1) until bags.size) {
        val keys = bags(a).keySet ++ bags(b).keySet
        val mn = keys.toSeq.map(k =>
          math.min(bags(a).getOrElse(k, 0L), bags(b).getOrElse(k, 0L))).sum
        val mx = keys.toSeq.map(k =>
          math.max(bags(a).getOrElse(k, 0L), bags(b).getOrElse(k, 0L))).sum
        val expect = if (mn * 1000 >= mx) Some(mn * 1000 / mx) else None
        assert(got.get((a.toLong, b.toLong)) == expect,
          s"pair ($a,$b): got ${got.get((a.toLong, b.toLong))}, want $expect")
      }
    }
  }

  test("property: TWAP is invariant to splitting a hold interval at the same value") {
    // inserting an event with the SAME value between two events splits a
    // duration without changing the weighted mean — LOCF's defining law
    val vals = Gen.listOfN(4, Gen.chooseNum(1L, 500L))
    forSeeds(vals, 5) { cs =>
      def twap(rows: Seq[(Long, Long)]): Long = {
        import java.sql.Timestamp
        val df = rows.zipWithIndex
          .map { case ((sec, cents), i) =>
            ("u", new Timestamp(1700000000000L + sec * 1000L), cents, i.toLong) }
          .toDF("u", "ts", "cents", "id")
        graft.ops.Resample.timeWeightedMean(df, "u", "ts", col("cents"), "id")
          .select("twap_mc").as[Option[Long]].head().get
      }
      val base = Seq((0L, cs(0)), (10L, cs(1)), (30L, cs(2)), (60L, cs(3)),
        (100L, cs(3))) // anchor extends the horizon past the last change
      val split = (base :+ ((20L, cs(1)))).sortBy(_._1) // same value as the holder
      assert(twap(base) == twap(split), s"base $base split $split")
    }
  }

  test("property: hilbert2 stays bijective with unit steps at bits = 4") {
    val bits = 4
    val n = 1 << bits
    val grid = (for { x <- 0 until n; y <- 0 until n } yield (x.toLong, y.toLong))
      .toDF("x", "y")
    val m = graft.ops.Layout.withHilbert2(grid, col("x"), col("y"), bits, "d")
      .as[(Long, Long, Long)].collect()
      .map { case (x, y, d) => d -> ((x, y)) }.toMap
    assert(m.size == n * n)
    assert((1 until n * n).forall { d =>
      val (x1, y1) = m(d - 1L); val (x2, y2) = m(d.toLong)
      math.abs(x1 - x2) + math.abs(y1 - y2) == 1
    })
  }

  test("property: rendezvous growth N->N+1 only ever moves keys TO the new shard") {
    // the HRW minimal-movement invariant at every ladder step, not just
    // 8->9: a key's top choice among N+1 shards either stays its top
    // choice among N, or IS the new shard
    val keys = spark.range(0, 500).toDF("k")
    var prev = graft.ops.Sharding.rendezvousAssign(keys, "k", nShards = 2)
      .select("k", "shard").as[(Long, Long)].collect().toMap
    for (n <- 3 to 7) {
      val next = graft.ops.Sharding.rendezvousAssign(keys, "k", nShards = n)
        .select("k", "shard").as[(Long, Long)].collect().toMap
      prev.keys.foreach { k =>
        assert(next(k) == prev(k) || next(k) == n - 1L,
          s"key $k moved ${prev(k)} -> ${next(k)} growing to $n shards")
      }
      prev = next
    }
  }

  test("property: ring growth N->N+1 only ever moves keys TO the new shard") {
    // the consistent-hash-ring analog of the HRW ladder property: adding
    // shard N's vnodes can only capture keys (a key whose successor was
    // vnode v keeps v unless a NEW vnode lands between the key and v)
    val keys = spark.range(0, 500).toDF("k")
    var prev = graft.ops.Sharding.ringAssign(keys, "k", nShards = 2, vnodesPerShard = 8)
      .select("k", "shard").as[(Long, Long)].collect().toMap
    for (n <- 3 to 7) {
      val next = graft.ops.Sharding.ringAssign(keys, "k", n, vnodesPerShard = 8)
        .select("k", "shard").as[(Long, Long)].collect().toMap
      prev.keys.foreach { k =>
        assert(next(k) == prev(k) || next(k) == n - 1L,
          s"key $k moved ${prev(k)} -> ${next(k)} growing the ring to $n shards")
      }
      prev = next
    }
  }

  test("property: linkage score is the exact weight sum; uninformative EM is a fixed point") {
    import graft.ops.Linkage
    // random pairs: score must equal the per-field contribution sum, and
    // flipping one field's agreement moves the score by exactly
    // (wAgree - wDisagree)
    val rules = Seq(
      Linkage.FieldRule("a", col("xa") === col("ya"), None, 1700L, -300L),
      Linkage.FieldRule("b", col("xb") === col("yb"),
        Some(col("yb").isNull), 900L, -1100L))
    val rnd = new scala.util.Random(7)
    val rows = (0 until 200).map { i =>
      (i.toLong, rnd.nextInt(3).toLong, rnd.nextInt(3).toLong,
        rnd.nextInt(3).toLong,
        if (rnd.nextInt(5) == 0) None else Some(rnd.nextInt(3).toLong))
    }
    val df = rows.toDF("id", "xa", "ya", "xb", "yb")
    val got = Linkage.score(df, rules)
      .select(col("id"), col("w_a_milli"), col("w_b_milli"), col("score_milli"))
      .as[(Long, Long, Long, Long)].collect()
    val byId = rows.map(r => r._1 -> r).toMap
    got.foreach { case (id, wa, wb, s) =>
      val (_, xa, ya, xb, yb) = byId(id)
      assert(wa == (if (xa == ya) 1700L else -300L))
      assert(wb == (yb match {
        case None => 0L
        case Some(v) => if (xb == v) 900L else -1100L
      }))
      assert(s == wa + wb, s"score must be the exact sum at id $id")
    }
    // EM with m0 = u0 everywhere is uninformative: every pair's
    // responsibility collapses to the prior, so m' = u' exactly
    val em = Linkage.emStep(df,
      Seq(Linkage.FieldRule("a", col("xa") === col("ya"), None, 0L, 0L),
        Linkage.FieldRule("b", col("xb") === col("yb"),
          Some(col("yb").isNull), 0L, 0L)),
      Seq(("a", 700L, 700L), ("b", 400L, 400L)), pMilli = 250L)
      .select("field", "m_next_milli", "u_next_milli")
      .as[(String, Option[Long], Option[Long])].collect()
    em.foreach { case (f, m1, u1) =>
      assert(m1 == u1, s"uninformative EM must keep m' = u' for field $f")
    }
  }

  test("property: alternatingComponents equals hash-min on random pair graphs") {
    // star alternation and min-label propagation are different algorithms
    // with ONE contract: component = min reachable id — any divergence on
    // any graph shape (chains, cliques, crossing edges, self-pairs
    // filtered, duplicates) is a bug in one of them
    forSeeds(Gen.listOfN(30,
        Gen.zip(Gen.choose(0L, 24L), Gen.choose(0L, 24L))), 8) { raw =>
      val pairs = raw.filter(p => p._1 != p._2)
      if (pairs.nonEmpty) {
        val df = pairs.toDF("doc1", "doc2")
        val alt = graft.ops.Dedup.alternatingComponents(df)
          .as[(Long, Long)].collect().toMap
        val hm = graft.ops.Dedup.connectedComponents(df, maxIter = 60)
          .as[(Long, Long)].collect().toMap
        assert(alt == hm, s"alt $alt != hash-min $hm for pairs $pairs")
      }
    }
  }

  test("property: walkContexts pair counts are symmetric for any walk table") {
    // both directions of an unordered step pair are emitted from the
    // same self-join rows, so m(a,b) == m(b,a) whatever the walks are
    forSeeds(Gen.listOfN(40,
      Gen.zip(Gen.choose(0L, 3L), Gen.choose(0L, 1L), Gen.choose(0L, 5L),
        Gen.choose(0L, 9L))), 5) { rows =>
      // dedup (start, walk, step) keys: a walk visits ONE node per step
      val walks = rows.groupBy(r => (r._1, r._2, r._3)).values.map(_.head).toSeq
        .toDF("start", "walk", "step", "node")
      val m = GraphOracles.walkContexts(walks, window = 2)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
      m.foreach { case ((a, b), n) =>
        assert(m.get((b, a)).contains(n), s"asymmetric pair ($a,$b): $n vs ${m.get((b, a))}")
      }
    }
  }

  test("property: range-shard assignment is monotone and balanced for any value list") {
    val genVals: Gen[List[Long]] =
      Gen.chooseNum(8, 120).flatMap(n =>
        Gen.listOfN(n, Gen.chooseNum(-1000L, 1000L)))
    forSeeds(genVals, 8) { vals =>
      val df = vals.toDF("v")
      val k = 4
      val assigned = graft.ops.Sharding.rangeAssign(df, "v", k)
        .select("v", "shard").as[(Long, Long)].collect().sortBy(_._1)
      // monotone in the key — THE range invariant, duplicates included
      assert(assigned.map(_._2).toSeq == assigned.map(_._2).sorted.toSeq,
        s"non-monotone on $vals")
      // every shard's load is bounded by n/k plus its largest duplicate
      // run (a dup straddling a quantile lands whole in one shard)
      val n = vals.size
      val maxRun = vals.groupBy(identity).values.map(_.size).max
      val sizes = assigned.groupBy(_._2).view.mapValues(_.size)
      sizes.foreach { case (s, sz) =>
        assert(sz <= n / k + maxRun + 1,
          s"shard $s holds $sz of $n (maxRun $maxRun) on $vals")
      }
    }
  }

  test("property: RR estimates telescope to n for any skew and any informative p") {
    val cats = Seq("a", "b", "c", "d")
    val genCase: Gen[(List[Int], Int)] = for {
      weights <- Gen.listOfN(4, Gen.chooseNum(0, 50))
      p <- Gen.chooseNum(300, 1000) // pK > 1000 for K=4 needs p > 250
    } yield (weights, p)
    forSeeds(genCase, 6) { case (weights, p) =>
      val rows = weights.zip(cats).flatMap { case (w, c) => List.fill(w)(c) }
        .zipWithIndex.map { case (c, i) => (i.toLong, c) }
      if (rows.nonEmpty) {
        val df = rows.toDF("id", "cat")
        val est = graft.ops.Privacy
          .rrFrequencyEstimate(df, "cat", "id", cats, p, "ps")
          .select("n_est").as[Long].collect()
        val n = rows.size.toLong
        // exact before flooring; each of the K floors loses < 1
        assert(est.sum > n - cats.size && est.sum <= n,
          s"sum ${est.sum} for n=$n, weights=$weights, p=$p")
      }
    }
  }

  test("property: RBO is bounded by the weight sum and exact on self-comparison") {
    val genRanks: Gen[List[Long]] =
      Gen.chooseNum(1, 8).flatMap(n => Gen.pick(n, 0L until 20L).map(_.toList))
    forSeeds(Gen.zip(genRanks, genRanks), 6) { case (la, lb) =>
      def rdf(l: List[Long]) = l.zipWithIndex
        .map { case (id, i) => ("q", id, i + 1) }
        .toDF("query_id", "neighbor_id", "rank")
      val k = 5
      val wSum = graft.ops.Retrieval.rboWeightsMicro(800, k).sum
      val cross = graft.ops.Retrieval
        .rboMicro(rdf(la), rdf(lb), "query_id", "neighbor_id", "rank", 800, k)
        .select("rbo_micro").as[Long].head()
      assert(cross >= 0L && cross <= wSum, s"rbo $cross out of [0, $wSum] for $la vs $lb")
      val self = graft.ops.Retrieval
        .rboMicro(rdf(la), rdf(la), "query_id", "neighbor_id", "rank", 800, k)
        .select("rbo_micro").as[Long].head()
      // identical lists: overlap at depth d is min(d, |list|), so the
      // score is the closed-form Σ (W_d·min(d,m)) div d — exactly W_d
      // while the list covers the depth, a floored fraction beyond it
      val m = math.min(la.size, k)
      val expect = graft.ops.Retrieval.rboWeightsMicro(800, k).zipWithIndex
        .map { case (w, i) => (w * math.min(i + 1, m)) / (i + 1) }.sum
      assert(self == expect, s"self-RBO $self != $expect for $la")
    }
  }
}
