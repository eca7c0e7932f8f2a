package graft

import org.apache.spark.sql.functions._
import graft.ops.{Decontaminate, Sampling, Sharding, Similarity}

class ScaleOpsSpec extends SparkSuite {
  import spark.implicits._

  private val splits = Seq("train" -> 0.8d, "val" -> 0.1d, "test" -> 0.1d)

  test("hashSplit is disjoint, exhaustive, and deterministic") {
    val df = (0L until 1000L).toDF("id")
    val s1 = Sampling.hashSplit(df, "id", splits)
    val counts = s1.groupBy("split").count().as[(String, Long)].collect().toMap
    assert(counts.values.sum == 1000L)              // exhaustive, one split per row
    assert(counts.keySet == Set("train", "val", "test"))
    assert(counts("train") > counts("val") && counts("train") > counts("test"))
    assert(rowsOf(s1) == rowsOf(Sampling.hashSplit(df, "id", splits))) // deterministic
  }

  test("hashSplit assignment is stable under corpus growth") {
    val small = (0L until 100L).toDF("id")
    val big = (0L until 1000L).toDF("id")
    val inSmall = Sampling.hashSplit(small, "id", splits).as[(Long, String)].collect().toMap
    val inBig = Sampling.hashSplit(big, "id", splits).as[(Long, String)].collect().toMap
    inSmall.foreach { case (id, sp) => assert(inBig(id) == sp) }
  }

  test("splitEdges validates weights") {
    intercept[IllegalArgumentException](Sampling.splitEdges(Seq("a" -> 0.5, "b" -> 0.4)))
    intercept[IllegalArgumentException](Sampling.splitEdges(Seq("a" -> 1.2, "b" -> -0.2)))
    intercept[IllegalArgumentException](Sampling.splitEdges(Seq("a" -> 0.5, "a" -> 0.5)))
    intercept[IllegalArgumentException](Sampling.splitEdges(Nil))
  }

  test("shardPositions yields dense 1..n positions per shard and a seeded total permutation") {
    val df = (0L until 500L).toDF("id")
    val p = Sharding.shardPositions(df, "id", nShards = 4, seed = 7L)
      .as[(Long, Long, Long)].collect()
    assert(p.length == 500 && p.map(_._1).distinct.length == 500)
    p.groupBy(_._2).foreach { case (_, rows) =>
      assert(rows.map(_._3).sorted.toSeq == (1L to rows.length).toSeq) // dense, from 1
    }
    // same seed → identical; different seed → a different permutation
    val again = Sharding.shardPositions(df, "id", 4, 7L).as[(Long, Long, Long)].collect()
    assert(p.toSet == again.toSet)
    val other = Sharding.shardPositions(df, "id", 4, 8L).as[(Long, Long, Long)].collect()
    assert(p.toSet != other.toSet)
  }

  test("rendezvousAssign: in-range, deterministic, balanced-ish, minimal-move on growth") {
    val df = (0L until 2000L).toDF("k")
    val a8 = Sharding.rendezvousAssign(df, "k", nShards = 8)
      .select("k", "shard").as[(Long, Long)].collect().toMap
    assert(a8.values.forall(s => s >= 0 && s < 8))
    // deterministic
    val again = Sharding.rendezvousAssign(df, "k", nShards = 8)
      .select("k", "shard").as[(Long, Long)].collect().toMap
    assert(a8 == again)
    // roughly balanced: every shard within 2x of the mean (250)
    val byShard = a8.values.groupBy(identity).view.mapValues(_.size).toMap
    assert(byShard.size == 8 && byShard.values.forall(n => n > 125 && n < 500),
      s"imbalanced: $byShard")
    // THE rendezvous property: growing 8 -> 9 moves only keys whose new
    // argmax is the NEW shard — every mover lands on shard 8, and the
    // moved fraction sits near 1/9 (mod-hash would move ~8/9)
    val a9 = Sharding.rendezvousAssign(df, "k", nShards = 9)
      .select("k", "shard").as[(Long, Long)].collect().toMap
    val movers = a8.keys.filter(k => a8(k) != a9(k)).toSeq
    assert(movers.forall(k => a9(k) == 8L),
      "a mover must land on the new shard — HRW invariant")
    assert(movers.size > 2000 / 9 / 2 && movers.size < 2000 / 9 * 2,
      s"moved ${movers.size} of 2000; expected ~${2000 / 9}")
  }

  test("rangeBoundaries: exact order statistics, hand-checked with duplicates") {
    // values 1..100, k=4: ranks ceil(25,50,75) -> boundaries 25, 50, 75
    val df = (1L to 100L).toDF("v")
    assert(Sharding.rangeBoundaries(df, col("v"), 4) == Seq(25L, 50L, 75L))
    // duplicates counted: 10x1, 10x2, 10x3 with k=3 -> ranks 10, 20 ->
    // boundary values 1 and 2 (the 10th and 20th smallest WITH dups)
    val dup = (Seq.fill(10)(1L) ++ Seq.fill(10)(2L) ++ Seq.fill(10)(3L)).toDF("v")
    assert(Sharding.rangeBoundaries(dup, col("v"), 3) == Seq(1L, 2L))
    // fewer distinct values than shards: boundaries collapse, never throw
    val one = Seq.fill(5)(42L).toDF("v")
    assert(Sharding.rangeBoundaries(one, col("v"), 4) == Seq(42L, 42L, 42L))
  }

  test("rangeShard: monotone in the key, balanced on uniform data, layout-independent") {
    val df = (1L to 100L).toDF("v").repartition(7)
    val bs = Sharding.rangeBoundaries(df, col("v"), 4)
    val assigned = Sharding.rangeAssign(df, "v", 4)
      .select("v", "shard").as[(Long, Long)].collect().sortBy(_._1)
    // monotone: sorting by key sorts the shard ids — THE range property
    assert(assigned.map(_._2).toSeq == assigned.map(_._2).sorted.toSeq)
    // balanced up to duplicate-run granularity: 24/25/25/26 on 1..100
    val sizes = assigned.groupBy(_._2).view.mapValues(_.length).toMap
    assert(sizes == Map(0L -> 24, 1L -> 25, 2L -> 25, 3L -> 26), s"sizes: $sizes")
    // boundary keys land in their UPPER shard (x >= b_i)
    assert(assigned.toMap.apply(bs.head) == 1L)
    // degenerate single-value corpus: everything in the top shard, no throw
    val one = Seq.fill(5)(42L).toDF("v")
    assert(Sharding.rangeAssign(one, "v", 4).select("shard")
      .as[Long].collect().forall(_ == 3L))
  }

  test("rangeShard movement under boundary refresh is boundary-local") {
    // grow 1..90 -> 1..100: each rank-25 quantile shifts by <= 3 values,
    // so only keys BETWEEN an old and new boundary change shard, and
    // never by more than one position
    val old = (1L to 90L).toDF("v")
    val full = (1L to 100L).toDF("v")
    val bOld = Sharding.rangeBoundaries(old, col("v"), 4)
    val bNew = Sharding.rangeBoundaries(full, col("v"), 4)
    val moved = full.select(col("v"),
        Sharding.rangeShard(col("v"), bOld).as("so"),
        Sharding.rangeShard(col("v"), bNew).as("sn"))
      .where(col("so") =!= col("sn"))
      .select("v", "so", "sn").as[(Long, Long, Long)].collect()
    assert(moved.forall { case (_, so, sn) => math.abs(so - sn) == 1 },
      s"a range-reshard mover crossed >1 boundary: ${moved.toSeq}")
    // movers are exactly the keys between the shifted cut points
    val expected = bOld.zip(bNew).flatMap { case (o, n) =>
      (math.min(o, n) until math.max(o, n)).map(identity)
    }.toSet
    assert(moved.map(_._1).toSet == expected,
      s"movers ${moved.map(_._1).toSet} != boundary gaps $expected")
  }

  test("ringAssign: in-range, deterministic, balanced-ish, minimal-move on growth") {
    val df = (0L until 2000L).toDF("k")
    val a8 = Sharding.ringAssign(df, "k", nShards = 8, vnodesPerShard = 16)
      .select("k", "shard").as[(Long, Long)].collect().toMap
    assert(a8.values.forall(s => s >= 0 && s < 8))
    val again = Sharding.ringAssign(df, "k", nShards = 8, vnodesPerShard = 16)
      .select("k", "shard").as[(Long, Long)].collect().toMap
    assert(a8 == again)
    // vnodes smooth the arc-length variance: every shard within ~2.5x of
    // the 250 mean (a 1-vnode ring could easily be 10x off)
    val byShard = a8.values.groupBy(identity).view.mapValues(_.size).toMap
    assert(byShard.size == 8 && byShard.values.forall(n => n > 100 && n < 625),
      s"imbalanced: $byShard")
    // ring invariant: growing 8 -> 9 inserts only shard 8's vnodes, so
    // every mover lands on shard 8 and the moved share tracks the new
    // vnode share 16/144 ≈ 1/9
    val a9 = Sharding.ringAssign(df, "k", nShards = 9, vnodesPerShard = 16)
      .select("k", "shard").as[(Long, Long)].collect().toMap
    val movers = a8.keys.filter(k => a8(k) != a9(k)).toSeq
    assert(movers.forall(k => a9(k) == 8L),
      "a ring mover must land on the new shard")
    assert(movers.size > 2000 / 9 / 3 && movers.size < 2000 / 9 * 3,
      s"moved ${movers.size} of 2000; expected ~${2000 / 9}")
  }

  test("ringVnodes: sorted, sized, distinct hashes; ringShard wraps past the last vnode") {
    val ring = Sharding.ringVnodes(8, 16)
    assert(ring.length == 128 && ring == ring.sorted)
    assert(ring.map(_._1).distinct.length == 128, "60-bit vnode collisions")
    assert(ring.map(_._2).distinct.sorted == (0 until 8))
    intercept[IllegalArgumentException](Sharding.ringVnodes(0, 16))
    intercept[IllegalArgumentException](Sharding.ringVnodes(8, 0))
    // a key hashing past every vnode must wrap to the ring head: verify
    // via the assignment law on a large key set — every assigned shard
    // equals the successor-or-wrap of the key hash in the scala model
    val keys = (0L until 300L).toDF("k")
    val got = Sharding.ringAssign(keys, "k", 8, 16)
      .select("k", "shard").as[(Long, Long)].collect().toMap
    val model = (0L until 300L).map { k =>
      val kh = graft.functions.TextOps.md5Hash60(
        org.apache.spark.unsafe.types.UTF8String.fromString(k.toString))
      val succ = ring.find(_._1 >= kh).getOrElse(ring.head)
      k -> succ._2.toLong
    }.toMap
    assert(got == model)
  }

  test("ringSuccessor binary search matches the linear successor-or-wrap model") {
    import graft.functions.TextOps.ringSuccessor
    val hashes = Array(10L, 20L, 20L, 35L, 90L)
    val shards = Array(0L, 1L, 2L, 3L, 4L)
    def model(h: Long): Long = {
      val i = hashes.indexWhere(_ >= h)
      shards(if (i < 0) 0 else i)
    }
    // below-first, exact-equal (duplicate hashes → first wins), between,
    // past-last wrap, and a dense sweep
    assert(ringSuccessor(5L, hashes, shards) == 0L)
    assert(ringSuccessor(20L, hashes, shards) == 1L, "ties take the first vnode")
    assert(ringSuccessor(21L, hashes, shards) == 3L)
    assert(ringSuccessor(91L, hashes, shards) == 0L, "past the last vnode wraps")
    (0L to 100L).foreach(h => assert(ringSuccessor(h, hashes, shards) == model(h), s"h=$h"))
    assert(ringSuccessor(7L, Array(3L), Array(9L)) == 9L, "single-vnode ring wraps")
  }

  test("RingPick value-equality: two identical rings semanticEquals (plan dedup)") {
    import org.apache.spark.sql.catalyst.expressions.BoundReference
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.types.LongType
    // built from two SEPARATE array instances — Array-field case classes
    // compare by reference and would defeat canonicalization / common-
    // subexpression elimination for every ring_pick pair
    def mk() = graft.functions.RingPick(BoundReference(0, LongType, nullable = false),
      Array(10L, 20L, 35L).toSeq, Array(0L, 1L, 2L).toSeq)
    val (p1, p2) = (mk(), mk())
    assert(p1 == p2 && p1.hashCode == p2.hashCode)
    assert(p1.semanticEquals(p2))
    // and eval still binary-searches the same ring
    val out = Seq(5L, 21L, 99L).toDF("h")
      .select(graft.functions.TextFunctions
        .ring_pick(col("h"), Array(10L, 20L, 35L), Array(0L, 1L, 2L)).as("s"))
      .as[Long].collect().toSeq
    assert(out == Seq(0L, 2L, 0L))
  }

  test("curriculumPositions keeps hash shards but orders each shard by score desc") {
    val df = (0L until 300L).map(i => (i, (i % 97).toDouble / 97.0)).toDF("id", "score")
    val cur = Sharding.curriculumPositions(df, "id", "score", nShards = 4, seed = 7L)
      .as[(Long, Long, Double, Long)].collect()
    assert(cur.length == 300)
    // shard membership identical to the plain seeded sharding
    val plain = Sharding.shardPositions(df.select("id"), "id", 4, 7L)
      .as[(Long, Long, Long)].collect().map(r => r._1 -> r._2).toMap
    cur.foreach { case (id, shard, _, _) => assert(shard == plain(id)) }
    // within each shard: dense positions and non-increasing scores
    cur.groupBy(_._2).foreach { case (_, rows) =>
      val byPos = rows.sortBy(_._4)
      assert(byPos.map(_._4).toSeq == (1L to rows.length).toSeq)
      byPos.map(_._3).sliding(2).foreach {
        case Array(a, b) => assert(a >= b, "scores must not increase with pos")
        case _ =>
      }
    }
  }

  test("rakeWeights: hand-traced 2x2 round, floors included") {
    // cells: (a,x)=2, (a,y)=1, (b,x)=1; N=4, all targets 500
    // row step: w_a = (1e6*500*4*1000) div 3e6 = 666666; w_b = 2000000
    // col step: cur_x = 2*666666 + 2000000 = 3333332
    //   w_ax = (666666*2e6) div 3333332 = 399999
    //   w_bx = (2000000*2e6) div 3333332 = 1200000
    //   w_ay = (666666*2e6) div 666666 = 2000000 (exact)
    val df = (Seq.fill(2)(("a", "x")) ++ Seq(("a", "y"), ("b", "x"))).toDF("r", "c")
    val out = Sampling.rakeWeights(df, "r", "c",
        Seq("a" -> 500L, "b" -> 500L), Seq("x" -> 500L, "y" -> 500L), rounds = 1)
      .select("r", "c", "weight_micro").as[(String, String, Long)]
      .collect().map(t => (t._1, t._2) -> t._3).toMap
    assert(out == Map(("a", "x") -> 399999L, ("a", "y") -> 2000000L,
      ("b", "x") -> 1200000L), s"got $out")
  }

  test("rakeWeights converges to both marginals on a full-support skewed table") {
    val counts = Seq(("a", "x", 30), ("a", "y", 5), ("a", "z", 10),
      ("b", "x", 2), ("b", "y", 20), ("b", "z", 8),
      ("c", "x", 6), ("c", "y", 9), ("c", "z", 40))
    val df = counts.flatMap { case (r, c, n) => Seq.fill(n)((r, c)) }
      .zipWithIndex.map { case ((r, c), i) => (i.toLong, r, c) }
      .toDF("id", "r", "c").repartition(5)
    val rows = Seq("a" -> 300L, "b" -> 300L, "c" -> 400L)
    val cols = Seq("x" -> 250L, "y" -> 250L, "z" -> 500L)
    val out = Sampling.rakeWeights(df, "r", "c", rows, cols, rounds = 6)
      .select("r", "c", "row_share_milli", "col_share_milli")
      .as[(String, String, Long, Long)].collect()
    val rShare = out.map(t => t._1 -> t._3).toMap
    val cShare = out.map(t => t._2 -> t._4).toMap
    rows.foreach { case (r, t) =>
      assert(math.abs(rShare(r) - t) <= 3, s"row $r: ${rShare(r)} vs $t") }
    cols.foreach { case (c, t) =>
      assert(math.abs(cShare(c) - t) <= 3, s"col $c: ${cShare(c)} vs $t") }
  }

  test("rakeWeights: zero target suppresses; missing target value raises; bad sums refused") {
    val df = Seq(("a", "x"), ("a", "y"), ("b", "x"), ("b", "y")).toDF("r", "c")
    val sup = Sampling.rakeWeights(df, "r", "c",
        Seq("a" -> 1000L, "b" -> 0L), Seq("x" -> 500L, "y" -> 500L), rounds = 2)
      .where(col("r") === "b").select("weight_micro").as[Long].collect()
    assert(sup.forall(_ == 0L))
    val e = intercept[Exception] {
      Sampling.rakeWeights(df, "r", "c",
        Seq("a" -> 1000L), Seq("x" -> 500L, "y" -> 500L), rounds = 1).collect()
    }
    val full = { val sw = new java.io.StringWriter
      e.printStackTrace(new java.io.PrintWriter(sw)); sw.toString }
    assert(full.contains("missing from targets"), s"wrong failure: ${e.getMessage}")
    intercept[IllegalArgumentException] {
      Sampling.rakeWeights(df, "r", "c",
        Seq("a" -> 600L, "b" -> 500L), Seq("x" -> 500L, "y" -> 500L), rounds = 1)
    }
  }

  test("temperatureResample flattens toward sqrt proportions; smallest stratum intact") {
    // 900 a / 400 b / 100 c → kept ≈ sqrt(n·100): 300 / 200 / 100
    val df = ((1 to 900).map(i => (s"a$i", "a")) ++ (1 to 400).map(i => (s"b$i", "b")) ++
      (1 to 100).map(i => (s"c$i", "c"))).toDF("id", "g")
    val kept = Sampling.temperatureResample(df, "id", "g")
      .groupBy("g").count().as[(String, Long)].collect().toMap
    assert(kept("c") == 100L, "smallest stratum must keep everything")
    // hash-gate sampling noise: allow ±20% around the sqrt targets
    assert(math.abs(kept("a") - 300L) <= 60, s"a kept ${kept("a")}, want ~300")
    assert(math.abs(kept("b") - 200L) <= 40, s"b kept ${kept("b")}, want ~200")
    // deterministic: same input → identical keep set
    val again = Sampling.temperatureResample(df, "id", "g")
      .select("id").as[String].collect().toSet
    val first = Sampling.temperatureResample(df, "id", "g")
      .select("id").as[String].collect().toSet
    assert(again == first)
  }

  test("mixtureResample hits target proportions, keeps the binding stratum whole, drops weight-0") {
    // 600 en / 200 de / 100 fr / 100 es; target 50/25/25 en/de/fr → fr is
    // binding (100/0.25 = 400, vs 800 for de and 1200 for en), so the
    // largest no-upsampling mixture is ≈ 400 rows: 200 en / 100 de / 100 fr
    val df = ((0L until 600L).map(i => (i, "en")) ++ (600L until 800L).map(i => (i, "de")) ++
      (800L until 900L).map(i => (i, "fr")) ++ (900L until 1000L).map(i => (i, "es")))
      .toDF("id", "lang")
    val out = Sampling.mixtureResample(df, "id", "lang",
      Map("en" -> 0.5, "de" -> 0.25, "fr" -> 0.25))
    val counts = out.groupBy("lang").count().as[(String, Long)].collect().toMap
    assert(!counts.contains("es"))                       // weight 0 → dropped
    assert(counts("fr") == 100L)                         // binding stratum kept whole
    // hash-gate sampling noise: each downsampled stratum within ~25% of target
    assert(math.abs(counts("en") - 200L) < 50 && math.abs(counts("de") - 100L) < 25)
    assert(rowsOf(out) == rowsOf(Sampling.mixtureResample(df.repartition(7), "id", "lang",
      Map("en" -> 0.5, "de" -> 0.25, "fr" -> 0.25))))    // layout-independent
  }

  test("weightedSample keeps weight-1 rows, drops weight-0 rows, scales in between") {
    val df = (0L until 3000L).toDF("id")
      .withColumn("w", when(col("id") < 1000L, 0.0d)
        .when(col("id") < 2000L, 0.5d).otherwise(2.0d))  // 2.0 clamps to always-keep
    val kept = Sampling.weightedSample(df, "id", col("w")).as[(Long, Double)].collect()
    assert(!kept.exists(_._1 < 1000L))                   // w=0 never survives
    assert(kept.count(_._1 >= 2000L) == 1000)            // clamped w≥1 always survives
    val mid = kept.count(r => r._1 >= 1000L && r._1 < 2000L)
    assert(mid > 400 && mid < 600)                       // ≈ half of the w=0.5 band
    // decision is per-key: a row's fate never changes with the corpus
    val sub = Sampling.weightedSample(df.where(col("id") < 1500L), "id", col("w"))
      .as[(Long, Double)].collect().map(_._1).toSet
    assert(sub == kept.map(_._1).filter(_ < 1500L).toSet)
  }

  test("truncateTokens crops to the budget and normalizes whitespace") {
    import graft.ops.TextAnalysis
    val df = Seq((1L, "a  b\tc d e"), (2L, "  "), (3L, "one two")).toDF("id", "text")
    val out = df.select(col("id"), TextAnalysis.truncateTokens(col("text"), 3).as("t"))
      .as[(Long, String)].collect().toMap
    assert(out(1L) == "a b c")                           // cropped + single-spaced
    assert(out(2L) == "")                                // blank stays empty
    assert(out(3L) == "one two")                         // under budget → whole text
    intercept[IllegalArgumentException](TextAnalysis.truncateTokens(col("text"), 0))
  }

  test("contaminationStats counts hit grams and fractions per doc") {
    val docsDf = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"), // shares no 3-gram with bench
      (2L, "alpha beta gamma delta epsilon"),              // fully inside bench doc
      (3L, "zero one alpha beta gamma delta nine"),        // partial overlap
      (4L, "too short")                                    // < n tokens: absent
    ).toDF("doc_id", "text")
    val bench = Seq((99L, "alpha beta gamma delta epsilon zeta")).toDF("doc_id", "text")
    val stats = Decontaminate.contaminationStats(docsDf, bench, "text", "doc_id", n = 3)
      .as[(Long, Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    assert(!stats.contains(4L))
    assert(stats(1L)._3 == 0L && stats(1L)._4 == 0.0d)
    assert(stats(2L)._2 == 3L && stats(2L)._3 == 3L && stats(2L)._4 == 1.0d)
    assert(stats(3L)._2 == 5L && stats(3L)._3 == 2L && stats(3L)._4 == 0.4d)
  }

  test("matryoshkaTopK ranks on the prefix dims only; full dims recover the truth") {
    // vectors whose FIRST 4 dims carry the signal and last 12 are a
    // constant: truncation to 4 dims must reproduce the full ranking
    val frontLoaded = (0L until 40L).map { i =>
      (i, Array.tabulate(16)(j =>
        if (j < 4) (math.sin((i * 4 + j).toDouble)).toFloat else 0.25f))
    }.toDF("vec_id", "embedding")
    val q = frontLoaded.where(col("vec_id") % 10 === 0)
    val full = Similarity.bruteForceTopK(frontLoaded, q, "vec_id", "embedding", k = 3)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val mat = Similarity.matryoshkaTopK(frontLoaded, q, "vec_id", "embedding",
        dims = 4, k = 3)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    // constant tails shift every dot by the same amount per query —
    // ranking unchanged, so the truncated top-3 IS the full top-3
    assert(mat == full)

    // tail-loaded vectors: truncation MUST lose the ranking — the
    // harness detects embeddings that are not matryoshka-trained
    val tailLoaded = (0L until 40L).map { i =>
      (i, Array.tabulate(16)(j =>
        if (j >= 4) (math.sin((i * 12 + j).toDouble)).toFloat else 0.25f))
    }.toDF("vec_id", "embedding")
    val q2 = tailLoaded.where(col("vec_id") % 10 === 0)
    val full2 = Similarity.bruteForceTopK(tailLoaded, q2, "vec_id", "embedding", k = 3)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val mat2 = Similarity.matryoshkaTopK(tailLoaded, q2, "vec_id", "embedding",
        dims = 4, k = 3)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    assert(mat2 != full2, "prefix dims carry no signal — ranking cannot survive")
  }

  test("cascadeTopK: full-dim re-rank of prefix candidates recovers the exact top-k") {
    // signal spread across ALL dims: pure truncation reorders near-ties,
    // but with candidates >> k the cascade's re-rank recovers the truth
    val vecs = (0L until 40L).map { i =>
      (i, Array.tabulate(16)(j => (math.sin((i * 16 + j).toDouble) * 0.5).toFloat))
    }.toDF("vec_id", "embedding")
    val q = vecs.where(col("vec_id") % 10 === 0)
    val exact = Similarity.bruteForceTopK(vecs, q, "vec_id", "embedding", k = 3)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val casc = Similarity.cascadeTopK(vecs, q, "vec_id", "embedding",
        dims = 8, candidates = 20, k = 3)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val trunc = Similarity.matryoshkaTopK(vecs, q, "vec_id", "embedding",
        dims = 8, k = 3)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    // the cascade can only improve on the nomination stage alone
    assert(casc.intersect(exact).size >= trunc.intersect(exact).size)
    // with half the corpus as candidates, the re-rank recovers everything
    assert(casc == exact)
    // and the guard rejects a nonsensical configuration
    intercept[IllegalArgumentException] {
      Similarity.cascadeTopK(vecs, q, "vec_id", "embedding", 8, candidates = 2, k = 3)
    }
  }

  test("quantizedTopK approximates the float ranking within quantization error") {
    val vecs = (0L until 60L).map { i =>
      (i, Array.tabulate(16)(j => (math.sin((i * 16 + j).toDouble) * 0.5).toFloat))
    }.toDF("vec_id", "embedding")
    val queries = vecs.where(col("vec_id") % 20 === 0)
    val exact = Similarity.bruteForceTopK(vecs, queries, "vec_id", "embedding", k = 3)
      .select("query_id", "neighbor_id", "score")
      .as[(Long, Long, Float)].collect().groupBy(_._1)
    val quant = Similarity.quantizedTopK(vecs, queries, "vec_id", "embedding", k = 3)
      .select("query_id", "neighbor_id", "score")
      .as[(Long, Long, Double)].collect().groupBy(_._1)
    assert(quant.keySet == exact.keySet)
    quant.foreach { case (q, rows) =>
      // per-pair: quantized score within per-component bound of float score
      val fl = exact(q).map(r => r._2 -> r._3.toDouble).toMap
      rows.foreach { case (_, n, s) =>
        fl.get(n).foreach(f => assert(math.abs(s - f) < 0.05d, s"q=$q n=$n $s vs $f"))
      }
      // top-3 sets mostly agree (quantization may swap near-ties)
      val overlap = rows.map(_._2).toSet.intersect(exact(q).map(_._2).toSet).size
      assert(overlap >= 2, s"q=$q overlap=$overlap")
    }
  }

  test("splitCoverage: cell shares and bias are exact milli and reconcile") {
    import org.apache.spark.sql.functions.col
    val df = Seq(
      ("train", "en"), ("train", "en"), ("train", "fr"),
      ("test", "en"), ("test", "fr"), ("test", "fr")
    ).toDF("split", "lang")
    val out = graft.ops.Sampling.splitCoverage(df, "split", "lang")
      .as[(String, String, Long, Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4, r._5, r._6))).toMap
    // global: en 3/6 = 500, fr 3/6 = 500
    assert(out(("train", "en")) == ((2L, 666L, 500L, 166L)))
    assert(out(("train", "fr")) == ((1L, 333L, 500L, -167L)))
    assert(out(("test", "fr")) == ((2L, 666L, 500L, 166L)))
  }

  test("balancedSample: exactly n per stratum, deterministic, small strata whole") {
    import org.apache.spark.sql.functions.col
    val df = ((1 to 100).map(i => ("big", i.toLong)) ++
      (1 to 3).map(i => ("tiny", 1000L + i))).toDF("g", "id")
    val once = graft.ops.Sampling.balancedSample(df, "g", "id", n = 10)
      .as[(String, Long)].collect().toSet
    assert(once.count(_._1 == "big") == 10)
    assert(once.count(_._1 == "tiny") == 3)
    val again = graft.ops.Sampling.balancedSample(df.repartition(7), "g", "id", n = 10)
      .as[(String, Long)].collect().toSet
    assert(once == again)
  }
}
