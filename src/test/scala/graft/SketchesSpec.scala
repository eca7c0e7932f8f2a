package graft

import org.apache.spark.sql.functions._
import graft.ops.{Bloom, Dedup, Sketches, TextAnalysis}

class SketchesSpec extends SparkSuite {
  import spark.implicits._

  // ---- HyperLogLog -------------------------------------------------------

  test("hllEstimate is duplicate-insensitive and within HLL error bounds") {
    val n = 5000
    val values = (1 to n).map(i => ("a", s"value_$i"))
    // every value appears twice — max(rho) must be unaffected
    val df = (values ++ values).toDF("g", "v")
    val once = Sketches.hllEstimate(values.toDF("g", "v"), "g", col("v")).collect().head
    val twice = Sketches.hllEstimate(df, "g", col("v")).collect().head
    assert(once == twice, "duplicates must not move any register")
    val est = once.getAs[Double]("raw_estimate")
    // m=64 → standard error 1.04/8 = 13%; allow 3 sigma
    assert(math.abs(est - n) / n < 0.4, s"estimate $est too far from $n")
  }

  test("hllEstimate strata are independent") {
    val df = ((1 to 100).map(i => ("a", s"x$i")) ++ (1 to 3).map(i => ("b", s"x$i")))
      .toDF("g", "v")
    val byG = Sketches.hllEstimate(df, "g", col("v")).collect()
      .map(r => r.getString(0) -> r.getAs[Long]("n_zero_registers")).toMap
    assert(byG("b") >= 61, "3 values can set at most 3 of b's 64 registers")
    assert(byG("a") < byG("b"))
  }

  test("hll registers merge by per-bucket max (sketch mergeability)") {
    // the property that lets shard-local sketches combine into the
    // corpus sketch without re-reading data: registers from disjoint
    // halves, max-merged, equal the whole-corpus registers
    val a = (1 to 500).map(i => ("g", s"v$i")).toDF("g", "v")
    val b = (501 to 1000).map(i => ("g", s"v$i")).toDF("g", "v")
    val whole = Sketches.hllRegisters(a.unionByName(b), "g", col("v"))
      .select("bucket", "rho").as[(Int, Int)].collect().toMap
    val merged = Sketches.hllMerge(
      Seq(Sketches.hllRegisters(a, "g", col("v")),
        Sketches.hllRegisters(b, "g", col("v"))), "g")
      .select("bucket", "rho").as[(Int, Int)].collect().toMap
    assert(merged == whole)
    // and the merged ESTIMATE equals the whole-corpus estimate exactly
    val estWhole = Sketches.hllEstimate(a.unionByName(b), "g", col("v"))
      .select("s_scaled").as[Long].head()
    val estMerged = Sketches.hllEstimateFromRegisters(
      Sketches.hllMerge(
        Seq(Sketches.hllRegisters(a, "g", col("v")),
          Sketches.hllRegisters(b, "g", col("v"))), "g"), "g")
      .select("s_scaled").as[Long].head()
    assert(estWhole == estMerged)
  }

  test("hllSliding: each window equals the direct sketch of its unit range") {
    // units 0..4, distinct value sets per unit with overlap across units
    val df = (0 to 4).flatMap(u =>
      (0 until 200).map(i => (u.toLong, s"v${u * 100 + i}"))).toDF("unit", "v")
    val slid = Sketches.hllSliding(df, col("unit"), col("v"), width = 3)
      .select("window_end", "s_scaled").as[(Long, Long)].collect().toMap
    // partial head windows + full windows + partial tail windows
    assert(slid.keySet == (0L to 6L).toSet)
    for (end <- 0L to 6L) {
      // rebuild the window sketch the slow way: one stratum over the
      // union of the window's rows
      val windowDirect = Sketches.hllEstimate(
        df.where(col("unit").between(end - 2, end)).withColumn("unit", lit(0L)),
        "unit", col("v")).select("s_scaled").as[Long].head()
      assert(slid(end) == windowDirect, s"window_end=$end")
    }
  }

  // ---- KMV bottom-k ------------------------------------------------------

  test("kmvSketch is the bottom-k of distinct hashes, salt- and dup-insensitive") {
    val vals = (1 to 300).map(i => ("g", s"v$i"))
    val df = (vals ++ vals).toDF("g", "v") // every value twice
    val k = 16
    val got = Sketches.kmvSketch(df, "g", col("v"), k)
      .orderBy("pos").select("h").as[Long].collect().toSeq
    // reference: k smallest distinct md5-60 hashes, computed directly
    val want = vals.map(_._2).distinct
      .map(v => graft.functions.TextOps.md5Hash60(
        org.apache.spark.unsafe.types.UTF8String.fromString(v)))
      .distinct.sorted.take(k)
    assert(got == want)
    // a different salt count must not change the result
    val salted = Sketches.kmvSketch(df, "g", col("v"), k, salts = 7)
      .orderBy("pos").select("h").as[Long].collect().toSeq
    assert(salted == want)
  }

  test("kmv merge of shard sketches equals the whole-corpus sketch") {
    val a = (1 to 400).map(i => ("g", s"v$i")).toDF("g", "v")
    val b = (200 to 600).map(i => ("g", s"v$i")).toDF("g", "v") // overlapping
    val k = 24
    val whole = Sketches.kmvSketch(a.unionByName(b), "g", col("v"), k)
      .select("pos", "h").as[(Int, Long)].collect().toSet
    val merged = Sketches.kmvMerge(
      Seq(Sketches.kmvSketch(a, "g", col("v"), k),
        Sketches.kmvSketch(b, "g", col("v"), k)), "g", k)
      .select("pos", "h").as[(Int, Long)].collect().toSet
    assert(merged == whole)
  }

  test("kmvEstimate: exact below k, within estimator error above") {
    val small = (1 to 10).map(i => ("s", s"x$i"))
    val big = (1 to 2000).map(i => ("b", s"y$i"))
    val df = (small ++ big).toDF("g", "v")
    val k = 64
    val est = Sketches.kmvEstimate(Sketches.kmvSketch(df, "g", col("v"), k), "g", k)
      .collect().map(r => r.getString(0) -> r.getAs[Double]("est")).toMap
    assert(est("s") == 10.0, "stratum smaller than k must be exact")
    // KMV std error ≈ 1/sqrt(k-2) ≈ 13%; allow 3 sigma
    assert(math.abs(est("b") - 2000) / 2000 < 0.4, s"estimate ${est("b")} for true 2000")
  }

  test("kmvJaccard estimates set overlap from merged sketches") {
    // |A|=600, |B|=600, |A∩B|=300 → J = 300/900 = 1/3
    val a = (1 to 600).map(i => ("g", s"v$i")).toDF("g", "v")
    val b = (301 to 900).map(i => ("g", s"v$i")).toDF("g", "v")
    val k = 96
    val r = Sketches.kmvJaccard(
      Sketches.kmvSketch(a, "g", col("v"), k),
      Sketches.kmvSketch(b, "g", col("v"), k), "g", k).collect().head
    assert(r.getAs[Long]("k_union") == k)
    val j = r.getAs[Double]("jaccard_est")
    assert(math.abs(j - 1.0 / 3.0) < 0.2, s"jaccard estimate $j for true 1/3")
    // exact when both sides fit in the sketch entirely
    val aSmall = (1 to 30).map(i => ("g", s"v$i")).toDF("g", "v")
    val bSmall = (16 to 45).map(i => ("g", s"v$i")).toDF("g", "v")
    val ex = Sketches.kmvJaccard(
      Sketches.kmvSketch(aSmall, "g", col("v"), k),
      Sketches.kmvSketch(bSmall, "g", col("v"), k), "g", k).collect().head
    assert(ex.getAs[Long]("n_both") == 15L && ex.getAs[Long]("k_union") == 45L)
    assert(ex.getAs[Double]("jaccard_est") == 15.0 / 45.0)
  }

  test("property: kmv merge is split-invariant — any shard partition gives the whole-corpus sketch") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val k = 16
    val universe = (1 to 400).map(i => s"v$i")
    val gen = for {
      n <- Gen.choose(50, 400)
      vals <- Gen.pick(n, universe)
      nShards <- Gen.choose(2, 5)
      assign <- Gen.listOfN(vals.size, Gen.choose(0, nShards - 1))
    } yield (vals.toSeq, nShards, assign)
    (1 to 5).foreach { i =>
      val (vals, nShards, assign) = gen(Gen.Parameters.default, Seed(100L + i))
        .getOrElse(fail(s"gen failed for seed $i"))
      val whole = Sketches.kmvSketch(vals.map(("g", _)).toDF("g", "v"), "g", col("v"), k)
        .select("pos", "h").as[(Int, Long)].collect().toSet
      val shards = vals.zip(assign).groupBy(_._2).values.toSeq
        .map(rows => Sketches.kmvSketch(rows.map(r => ("g", r._1)).toDF("g", "v"),
          "g", col("v"), k))
      val merged = Sketches.kmvMerge(shards, "g", k)
        .select("pos", "h").as[(Int, Long)].collect().toSet
      assert(merged == whole, s"seed $i: shard split changed the sketch")
    }
  }

  test("kmvContainment: 1 for a contained corpus, 0 for disjoint, sane between") {
    val k = 64
    def sk(lo: Int, hi: Int) = Sketches.kmvSketch(
      (lo to hi).map(i => ("g", s"v$i")).toDF("g", "v"), "g", col("v"), k)
    // A = 100..150 fully inside B = 1..1000 (Jaccard tiny, containment 1)
    val contained = Sketches.kmvContainment(sk(100, 150), sk(1, 1000), "g", k)
      .collect().head
    assert(contained.getAs[Double]("containment_est") == 1.0)
    // disjoint
    val disjoint = Sketches.kmvContainment(sk(1, 300), sk(1000, 1300), "g", k)
      .collect().head
    assert(disjoint.getAs[Double]("containment_est") == 0.0)
    // half of A in B: |A|=200, |A∩B|=100 → C = 0.5
    val half = Sketches.kmvContainment(sk(1, 200), sk(101, 900), "g", k)
      .collect().head
    val c = half.getAs[Double]("containment_est")
    assert(math.abs(c - 0.5) < 0.3, s"containment $c for true 0.5")
  }

  test("histogram bin counts merge by per-(stratum,bin) sum against fixed bounds") {
    val df = ((1 to 400).map(i => ("a", (i * 7 % 1000).toLong)) ++
      (1 to 100).map(i => ("b", (i * 13 % 500).toLong))).toDF("g", "v")
    import graft.ops.Sketches
    val bounds = Sketches.histBounds(df, "g", "v")
    def cells(c: org.apache.spark.sql.DataFrame) =
      c.select("g", "bin", "cnt").as[(String, Long, Long)].collect()
        .map { case (g, b, n) => (g, b) -> n }.toMap
    val whole = cells(Sketches.histBinCounts(df, "g", "v", 64, bounds))
    val halves = Seq(0, 1).map(p =>
      Sketches.histBinCounts(df.where(col("v") % 2 === p), "g", "v", 64, bounds))
    assert(cells(Sketches.histMerge(halves, "g")) == whole)
    // and quantiles from the merged counts equal the one-pass sketch's
    val q = Seq(1 -> 2)
    val a = Sketches.histQuantiles(df, "g", "v", 64, q)
      .select("g", "bin").as[(String, Long)].collect().toMap
    val b = Sketches.histQuantilesFromCounts(
      Sketches.histMerge(halves, "g"), bounds, "g", 64, q)
      .select("g", "bin").as[(String, Long)].collect().toMap
    assert(a == b)
  }

  test("cms sketches merge by per-(r,bucket) sum (count linearity)") {
    // counts are linear: shard-local sketches summed per cell equal the
    // one-pass sketch of the whole stream, cell for cell — so estimates
    // from the merged sketch are identical too
    val a = (1 to 300).map(i => s"t${i % 40}").toDF("v")
    val b = (1 to 200).map(i => s"t${i % 25}").toDF("v")
    def cells(df: org.apache.spark.sql.DataFrame) =
      df.select("r", "bucket", "cnt").as[(Int, Long, Long)].collect()
        .map { case (r, bk, c) => (r, bk) -> c }.toMap
    val whole = cells(Sketches.cmsSketch(a.unionByName(b), col("v")))
    val merged = cells(Sketches.cmsMerge(
      Seq(Sketches.cmsSketch(a, col("v")), Sketches.cmsSketch(b, col("v")))))
    assert(merged == whole)
  }

  // ---- Bloom -------------------------------------------------------------

  test("bloom mightContain has no false negatives") {
    val keys = (1L to 500L).map(i => i * 7919)
    val words = Bloom.build(keys.toDF("k"), "k", mBits = 4096)
    val misses = keys.toDF("k").where(!Bloom.mightContain(col("k"), words)).count()
    assert(misses == 0, "a bloom filter must pass every inserted key")
  }

  test("bloom semiJoin equals the plain semi-join") {
    val probe = (1L to 2000L).toDF("k")
    val build = (1L to 2000L by 13).toDF("k")
    val got = Bloom.semiJoin(probe, build, "k").as[Long].collect().toSet
    val want = probe.join(build, Seq("k"), "left_semi").as[Long].collect().toSet
    assert(got == want)
  }

  test("bloom semiJoin rejects mismatched key types instead of silently dropping rows") {
    // xxhash64 hashes IntegerType and LongType differently: an int probe
    // against a bigint build would land on different bit positions and
    // real matches would fail the bit test — a silent false negative.
    val probe = (1 to 100).toDF("k")                 // IntegerType
    val build = (1L to 100L by 7).toDF("k")          // LongType
    val e = intercept[IllegalArgumentException] {
      Bloom.semiJoin(probe, build, "k")
    }
    assert(e.getMessage.contains("type mismatch"))
    // and the documented fix — casting one side — restores exact results
    val got = Bloom.semiJoin(probe.select(col("k").cast("long").as("k")), build, "k")
      .as[Long].collect().toSet
    assert(got == (1L to 100L by 7).toSet)
  }

  test("bloom sizeBits clamps to a power of two in range") {
    assert(Bloom.sizeBits(1) == 1024)
    assert(Bloom.sizeBits(1000) == 16384)
    assert(Bloom.sizeBits(Long.MaxValue) == (1 << 24))
    assert(Integer.bitCount(Bloom.sizeBits(12345)) == 1)
  }

  // ---- Gopher filters ----------------------------------------------------

  test("gopherFilters keeps prose and rejects degenerate docs") {
    val df = Seq(
      (1L, "the quick brown fox jumps over and over with all of that other prose text here"),
      (2L, ""),                                     // empty
      (3L, "- one\n- two\n- three\n- four"),        // all bullets, no stopwords
      (4L, "to be # # # # # # # # # # # # # # the") // symbol spam
    ).toDF("doc_id", "text")
    val out = TextAnalysis.gopherFilters(df, "text", "doc_id")
      .select("doc_id", "keep").as[(Long, Boolean)].collect().toMap
    assert(out(1L), "plain prose must pass")
    assert(!out(2L), "empty doc must fail (word count)")
    assert(!out(3L), "bullet list must fail (bullet fraction / stopwords)")
    assert(!out(4L), "symbol spam must fail (symbol ratio)")
  }

  test("gopherFilters zero-word doc reports zeroed ratios, not NaN") {
    val r = TextAnalysis.gopherFilters(Seq((1L, "   ")).toDF("doc_id", "text"),
      "text", "doc_id").collect().head
    assert(r.getAs[Long]("n_words") == 0L)
    assert(r.getAs[Double]("mean_word_len") == 0.0)
    assert(r.getAs[Double]("symbol_word_ratio") == 0.0)
    assert(!r.getAs[Boolean]("keep"))
  }

  // ---- count-min sketch --------------------------------------------------

  test("cmsEstimate never undercounts and is exact without collisions") {
    // zipf-ish stream: value i appears (50 - i) times
    val stream = (1 to 49).flatMap(i => Seq.fill(50 - i)(s"tok$i")).toDF("v")
    val truth = (1 to 49).map(i => s"tok$i" -> (50L - i)).toMap
    val probes = (1 to 49).map(i => s"tok$i").toDF("v")
    val est = Sketches.cmsEstimate(stream, col("v"), probes, "v", d = 4, w = 256)
      .collect().map(r => r.getString(0) -> r.getAs[Long]("est_count")).toMap
    truth.foreach { case (t, n) =>
      assert(est(t) >= n, s"CMS undercounted $t: ${est(t)} < $n")
    }
    // 49 values in 4×256 buckets: expect the min-row to dodge collisions
    assert(truth.count { case (t, n) => est(t) == n } >= 40,
      "most estimates should be exact at this load factor")
  }

  test("cmsJoinSizeEstimate upper-bounds the true join size; exact when collision-free") {
    // A: key k_i appears i times (i = 1..6) → F2 = Σ i² = 91;
    // B: each key once → |A ⋈ B| = Σ i = 21
    val a = (1 to 6).flatMap(i => Seq.fill(i)(s"k$i")).toDF("v")
    val b = (1 to 6).map(i => s"k$i").toDF("v")
    // wide sketch: 6 keys in 4×4096 buckets — collisions vanishingly
    // unlikely, the inner product is the exact join size
    val wideA = Sketches.cmsSketch(a, col("v"), d = 4, w = 4096)
    val wideB = Sketches.cmsSketch(b, col("v"), d = 4, w = 4096)
    assert(Sketches.cmsJoinSizeEstimate(wideA, wideB)
      .as[java.math.BigDecimal].head().longValueExact() == 21L)
    // self inner product = F2
    assert(Sketches.cmsJoinSizeEstimate(wideA, wideA)
      .as[java.math.BigDecimal].head().longValueExact() == 91L)
    // narrow sketch: collisions can only ADD — never undercounts
    val tinyA = Sketches.cmsSketch(a, col("v"), d = 2, w = 2)
    val tinyB = Sketches.cmsSketch(b, col("v"), d = 2, w = 2)
    assert(Sketches.cmsJoinSizeEstimate(tinyA, tinyB)
      .as[java.math.BigDecimal].head().longValueExact() >= 21L)
    assert(Sketches.cmsJoinSizeEstimate(tinyA, tinyA)
      .as[java.math.BigDecimal].head().longValueExact() >= 91L)
  }

  test("cmsEstimate of an absent value is 0") {
    val stream = Seq("a", "b", "c").toDF("v")
    val est = Sketches.cmsEstimate(stream, col("v"), Seq("zzz").toDF("v"), "v")
      .collect().head.getAs[Long]("est_count")
    assert(est == 0L)
  }

  // ---- histogram quantiles -----------------------------------------------

  test("histQuantiles lands within one bin width of the exact quantile") {
    val rnd = new scala.util.Random(5)
    val vals = Seq.fill(2000)(rnd.nextInt(10000).toLong)
    val df = vals.map(("a", _)).toDF("g", "v")
    val est = Sketches.histQuantiles(df, "g", "v", nBins = 128,
      qs = Seq(1 -> 4, 2 -> 4, 3 -> 4))
      .select("q", "est").as[(Double, Double)].collect().toMap
    val sorted = vals.sorted
    val binWidth = (sorted.last - sorted.head).toDouble / 128
    Seq(0.25, 0.5, 0.75).foreach { q =>
      val exact = sorted(math.ceil(q * vals.size).toInt - 1).toDouble
      assert(math.abs(est(q) - exact) <= binWidth + 1e-9,
        s"q=$q est=${est(q)} exact=$exact width=$binWidth")
    }
  }

  test("histQuantiles degenerate stratum (constant value) reports the value") {
    val df = Seq(("a", 7L), ("a", 7L), ("a", 7L)).toDF("g", "v")
    val rows = Sketches.histQuantiles(df, "g", "v", 128, Seq(1 -> 2)).collect()
    assert(rows.length == 1)
    assert(rows.head.getAs[Long]("bin") == 0L)
    assert(rows.head.getAs[Double]("est") == 7.0)
  }

  // ---- integer outlier test ----------------------------------------------

  test("exact-integer z-square flags only genuine 3-sigma outliers") {
    import org.apache.spark.sql.DataFrame
    def outliers(df: DataFrame): Set[Long] = {
      val stats = df.groupBy(col("user_id")).agg(
        count(lit(1)).as("n"), sum(col("cents")).as("s"),
        sum(col("cents") * col("cents")).as("q"))
      df.join(stats, Seq("user_id"))
        .where(col("n") >= 10 &&
          (col("cents") * col("n") - col("s")) * (col("cents") * col("n") - col("s"))
            > lit(9L) * (col("n") * col("q") - col("s") * col("s")))
        .select("event_id").as[Long].collect().toSet
    }
    // user 1: ten ~100-cent events plus one 100000-cent spike (id 99)
    val spiky = ((1L to 10L).map(i => (1L, i, 100L + i)) :+ ((1L, 99L, 100000L)))
      .toDF("user_id", "event_id", "cents")
    assert(outliers(spiky) == Set(99L))
    // constant-valued user: zero variance, strict > must flag nothing
    val flat = (1L to 12L).map(i => (2L, i, 500L)).toDF("user_id", "event_id", "cents")
    assert(outliers(flat).isEmpty)
    // short-history user (< 10 events) is exempt however extreme
    val short = Seq((3L, 1L, 1L), (3L, 2L, 1000000L)).toDF("user_id", "event_id", "cents")
    assert(outliers(short).isEmpty)
  }

  // ---- z-order -----------------------------------------------------------

  /** reference Morton interleave for the property check. */
  private def morton(x: Long, y: Long, bits: Int): Long =
    (0 until bits).foldLeft(0L) { (acc, b) =>
      acc | (((x >> b) & 1L) << (2 * b)) | (((y >> b) & 1L) << (2 * b + 1))
    }

  test("zValue2 matches the reference Morton interleave") {
    val rnd = new scala.util.Random(7)
    val pts = Seq.fill(200)((rnd.nextInt(1 << 16).toLong, rnd.nextInt(1 << 16).toLong))
    val got = pts.toDF("x", "y")
      .select(col("x"), col("y"), graft.ops.Layout.zValue2(col("x"), col("y"), 16).as("z"))
      .as[(Long, Long, Long)].collect()
    got.foreach { case (x, y, z) => assert(z == morton(x, y, 16), s"($x,$y)") }
  }

  test("zValue2 orders quadrants before offsets (curve locality)") {
    // all points of the low-low quadrant sort before any high-high point
    val ll = morton(3, 5, 8); val hh = morton(200, 200, 8)
    assert(ll < hh)
    // and interleaving weights both dimensions: far in y beats near in x
    assert(morton(0, 128, 8) > morton(127, 0, 8))
  }

  // ---- chunking ----------------------------------------------------------

  test("chunkTokens covers every token with the right stride and tail") {
    import graft.ops.TextAnalysis
    val text = (1 to 50).map(i => s"w$i").mkString(" ")
    val df = Seq((1L, text), (2L, "a b c"), (3L, "   ")).toDF("doc_id", "text")
    val out = TextAnalysis.chunkTokens(df, "text", "doc_id", chunkTokens = 32, overlap = 8)
      .select("doc_id", "chunk_idx", "chunk_text", "chunk_tokens")
      .as[(Long, Int, String, Int)].collect()
    val byDoc = out.groupBy(_._1)
    // 50 tokens, stride 24 → ceil(42/24) = 2 chunks: [0,32) and [24,50)
    val d1 = byDoc(1L).sortBy(_._2)
    assert(d1.length == 2)
    assert(d1(0)._3.split(" ").head == "w1" && d1(0)._4 == 32)
    assert(d1(1)._3.split(" ").head == "w25" && d1(1)._4 == 26)
    // overlap: chunk 1 starts 8 tokens before chunk 0's end
    assert(d1(0)._3.split(" ").drop(24).toSeq == d1(1)._3.split(" ").take(8).toSeq)
    // short doc → one whole chunk; blank doc → no chunks
    assert(byDoc(2L).toSeq == Seq((2L, 0, "a b c", 3)))
    assert(!byDoc.contains(3L))
    // de-overlapped concatenation reproduces the token stream
    val rebuilt = d1(0)._3.split(" ").toSeq ++ d1(1)._3.split(" ").drop(8).toSeq
    assert(rebuilt == text.split(" ").toSeq)
  }

  // ---- canonicalByQuality ------------------------------------------------

  test("canonicalByQuality elects max score, tie → lowest id") {
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("doc1", "doc2")
    val scored = Seq(
      (1L, 0.3), (2L, 0.9), (3L, 0.5), // cluster 1: rep = 2
      (10L, 0.7), (11L, 0.7)           // cluster 10: tie → rep = 10
    ).toDF("doc_id", "quality_score")
    val out = Dedup.canonicalByQuality(pairs, scored, "doc_id")
      .select("component", "rep_id", "rep_score", "cluster_size")
      .as[(Long, Long, Double, Long)].collect().sortBy(_._1)
    assert(out.toSeq == Seq((1L, 2L, 0.9, 3L), (10L, 10L, 0.7, 2L)))
  }
}
