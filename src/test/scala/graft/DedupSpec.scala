package graft

import org.apache.spark.sql.functions._
import graft.ops.Dedup

class DedupSpec extends SparkSuite {
  import spark.implicits._

  private def docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the quick brown fox jumps over the lazy dog"),    // exact dup of 1
    (3L, "the quick brown fox jumps over the lazy cat"),    // near dup of 1
    (4L, "completely different words entirely here now ok"),
    (5L, "THE QUICK BROWN FOX JUMPS OVER THE LAZY DOG  ")   // dup after normalize
  ).toDF("doc_id", "text")

  test("exactGroups groups normalized duplicates under the min id") {
    val g = Dedup.exactGroups(docs, "text", "doc_id")
    val byCanon = g.select("canonical_id", "n_copies").as[(Long, Long)].collect().toMap
    assert(byCanon(1L) == 3L) // 1, 2, 5
    assert(g.count() == 3)
  }

  test("exactDedup keeps one row per content") {
    assert(Dedup.exactDedup(docs, "text", "doc_id")
      .select("doc_id").as[Long].collect().toSet == Set(1L, 3L, 4L))
  }

  test("wordShingles builds n-grams, short texts yield empty") {
    val sh = docs.select(Dedup.wordShingles(col("text"), 3).as("sh"))
      .where(col("sh").getItem(0).isNotNull).limit(1)
      .as[Seq[String]].head()
    assert(sh.head == "the quick brown")
    val short = Seq((9L, "one two")).toDF("doc_id", "text")
      .select(Dedup.wordShingles(col("text"), 3).as("sh")).as[Seq[String]].head()
    assert(short.isEmpty)
  }

  test("ngramJaccardPairs finds exact and near duplicates") {
    val pairs = Dedup.ngramJaccardPairs(docs, "text", "doc_id", n = 2, threshold = 0.5d)
      .select("doc1", "doc2").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))  // identical
    assert(pairs.contains((1L, 3L)))  // one word differs
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("duplicatedSpans merges a 2n-long duplicate into ONE maximal span") {
    val n = 3
    // a 6-token (=2n) region shared by docs 1 and 2, embedded at different
    // offsets, surrounded by unique filler; doc 3 is all-unique
    val shared = "red green blue cyan magenta yellow"
    val corpus = Seq(
      (1L, s"u11 u12 $shared u13 u14"),
      (2L, s"v21 $shared v22 v23 v24"),
      (3L, "w31 w32 w33 w34 w35 w36 w37 w38 w39")
    ).toDF("doc_id", "text")
    val spans = Dedup.duplicatedSpans(corpus, "text", "doc_id", n)
      .select("doc_id", "span_start", "span_end", "n_grams", "span_tokens")
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    // 2n tokens = n+1 consecutive duplicated n-gram positions = ONE span
    // of span_tokens = 2n; doc 1's region starts at token 3, doc 2's at 2
    assert(spans == Set(
      (1L, 3L, 8L, 4L, 6L),
      (2L, 2L, 7L, 4L, 6L)))
  }

  test("duplicatedSpans keeps disjoint duplicated regions as separate spans") {
    val n = 3
    val a = "one two three"          // 3 tokens = exactly one 3-gram
    val b = "four five six"
    val corpus = Seq(
      (1L, s"$a x1 x2 x3 $b"),       // two dup regions split by unique filler
      (2L, s"y1 $a y2 $b y3")
    ).toDF("doc_id", "text")
    val spans = Dedup.duplicatedSpans(corpus, "text", "doc_id", n)
    assert(spans.where(col("doc_id") === 1L).count() == 2)
    assert(spans.agg(max(col("span_tokens"))).head().getLong(0) == 3L)
  }

  test("cutDuplicatedSpans removes the LATER copy of a duplicated region only") {
    val n = 3
    val shared = "red green blue cyan magenta yellow"
    val corpus = Seq(
      (1L, s"u11 u12 $shared u13 u14"),  // first occurrence — kept whole
      (2L, s"v21 $shared v22 v23 v24"),  // later copy — region cut
      (3L, "w31 w32 w33 w34 w35 w36")    // unique — untouched
    ).toDF("doc_id", "text")
    val out = Dedup.cutDuplicatedSpans(corpus, "text", "doc_id", n)
      .select("doc_id", "text_cut", "n_tokens_kept")
      .as[(Long, String, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(out(1L) == ((s"u11 u12 $shared u13 u14", 10L)), "first occurrence survives intact")
    assert(out(2L) == (("v21 v22 v23 v24", 4L)), "the later copy is cut, flanks survive")
    assert(out(3L) == (("w31 w32 w33 w34 w35 w36", 6L)), "unique text untouched")
  }

  test("cutDuplicatedSpansBpe cuts duplicated SUBTOKEN runs, later copy only") {
    // merges applied in order: er, in, st (two-pass greedy each) —
    //   winter  → [w, in, t, er]
    //   stern   → [st, er, n]
    //   western → [w, e, st, er, n]
    // so the shared phrase is a 12-subtoken region; with n=6 the
    // duplicated gram positions in doc 2 are 4..10 → one island covering
    // subtoken positions 4..15, exactly the shared region
    val merges = Seq(("e", "r"), ("i", "n"), ("s", "t"))
    val shared = "winter stern western"
    val corpus = Seq(
      (1L, s"u11 u12 $shared u13"),  // first occurrence — kept whole
      (2L, s"v21 $shared v22"),      // later copy — subtoken region cut
      (3L, "w31 w32 w33 w34 w35 w36")
    ).toDF("doc_id", "text")
    val out = Dedup.cutDuplicatedSpansBpe(corpus, "text", "doc_id", merges, n = 6)
      .select("doc_id", "text_cut", "n_tokens_kept")
      .as[(Long, String, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(out(1L) ==
      (("u 1 1 u 1 2 w in t er st er n w e st er n u 1 3", 21L)),
      "first occurrence survives as its intact subtoken stream")
    assert(out(2L) == (("v 2 1 v 2 2", 6L)),
      "the later copy loses exactly the shared subtokens; flanks survive")
    assert(out(3L)._2 == 18L, "unique text untouched (all 18 subtokens kept)")
  }

  test("minHash near-dups finds the planted pair and skips unrelated docs") {
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    val corpus = (1L to 20L).map(i => (i, s"unique$i words body number$i distinct$i tokens$i from$i corpus$i item$i entry$i"))
      .toDF("doc_id", "text")
      .union(Seq((100L, base), (101L, base + " nu")).toDF("doc_id", "text"))
    val pairs = Dedup.minHashNearDups(corpus, "text", "doc_id",
      shingleN = 2, k = 32, bands = 8, threshold = 0.5d)
      .select("doc1", "doc2").as[(Long, Long)].collect().toSet
    assert(pairs == Set((100L, 101L)))
  }

  test("minHashIncremental flags new docs near-duplicating the seen corpus") {
    val seen = Seq(
      (10L, "the quick brown fox jumps over the lazy dog today ok fine"),
      (11L, "completely unrelated corpus content about other things here")
    ).toDF("doc_id", "text")
    val fresh = Seq(
      (20L, "the quick brown fox jumps over the lazy dog today ok fine"), // exact dup of 10
      (21L, "the quick brown fox jumps over the lazy cat today ok fine"), // near dup of 10
      (22L, "nothing in common with anything previously ingested at all")
    ).toDF("doc_id", "text")
    val out = Dedup.minHashIncremental(fresh, seen, "text", "doc_id",
      shingleN = 3, k = 64, bands = 8, minAgreement = 0.4d, maxBucket = 100)
      .select("new_doc", "seen_doc", "slot_agreement")
      .as[(Long, Long, Double)].collect()
    val pairs = out.map(r => (r._1, r._2)).toSet
    assert(pairs.contains((20L, 10L)), s"exact dup must be flagged: $pairs")
    // identical content ⇒ identical signatures ⇒ agreement exactly 1.0
    assert(out.find(r => r._1 == 20L && r._2 == 10L).get._3 == 1.0d)
    assert(!out.exists(_._1 == 22L), "novel doc must not match anything")
    out.foreach(r => assert(r._3 >= 0.4d && r._3 <= 1.0d))
  }

  test("component-labeled hash split keeps near-dup clusters on one side") {
    import graft.ops.Sampling
    // a 3-doc near-dup chain + unrelated docs: whatever split the chain
    // lands in, ALL its members land there (the leak per-doc splitting
    // allows is exactly a train doc with a val near-copy)
    val base = "the quick brown fox jumps over the lazy dog today ok fine and more"
    val docs = (Seq(
      (1L, base), (2L, base + " x"), (3L, base + " y")) ++
      (10L to 30L).map(i => (i, s"unique content nr $i with words ${i * 7} ${i * 13} etc etc etc etc etc"))
    ).toDF("doc_id", "text")
    val pairs = Dedup.minHashNearDups(docs, "text", "doc_id",
      shingleN = 3, k = 64, bands = 8, threshold = 0.5d, maxBucket = 100)
    val comp = Dedup.connectedComponents(pairs)
    val lab = docs.select(col("doc_id"))
      .join(comp.withColumnRenamed("node", "doc_id"), Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("component"), col("doc_id")).as("label"))
    val split = Sampling.hashSplit(lab, "label", Seq("train" -> 0.5d, "val" -> 0.5d))
      .select("doc_id", "split").as[(Long, String)].collect().toMap
    assert(Set(split(1L), split(2L), split(3L)).size == 1,
      s"near-dup chain straddles the split: ${split.view.filterKeys(_ <= 3L).toMap}")
    // and the split is genuinely two-sided over the unrelated docs
    assert(split.values.toSet == Set("train", "val"))
  }

  test("minhash fidelity: identical docs estimate 1000 exactly; near-dups bounded error") {
    val sets = graft.recon.Checkpoints.cut(Dedup.shingleSets(docs, "text", "doc_id", 3))
    val shingled = sets.select(col("doc"), explode(col("sh")).as("shingle"))
    val sig = Dedup.minHashSignaturesOf(shingled, 16)
    // bands=8 (2 rows per band) for candidate RECALL on the near-dup
    // pair — the registry row runs the production-ish 16/4 shape
    val cands = Dedup.minHashCandidatesOf(shingled, 16, 8, 100)
    val a = sig.select(col("doc").as("doc1") +:
      (0 until 16).map(i => col(s"h$i").as(s"a_h$i")): _*)
    val b = sig.select(col("doc").as("doc2") +:
      (0 until 16).map(i => col(s"h$i").as(s"b_h$i")): _*)
    val nMatch = (0 until 16)
      .map(i => when(col(s"a_h$i") === col(s"b_h$i"), 1L).otherwise(0L))
      .reduce(_ + _)
    val fid = cands.join(a, Seq("doc1")).join(b, Seq("doc2"))
      .join(sets.select(col("doc").as("doc1"), col("sh").as("sh1")), Seq("doc1"))
      .join(sets.select(col("doc").as("doc2"), col("sh").as("sh2")), Seq("doc2"))
      .withColumn("__nm", nMatch)
      .select(col("doc1"), col("doc2"),
        expr("(__nm * 1000) div 16").as("est"),
        expr("(size(array_intersect(sh1, sh2)) * 1000) div size(array_union(sh1, sh2))")
          .as("exact"))
      .as[(Long, Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4))).toMap
    // identical (after normalize) docs: every slot agrees, both = 1000
    assert(fid((1L, 2L)) == ((1000L, 1000L)))
    assert(fid((1L, 5L)) == ((1000L, 1000L)))
    // the near-dup pair: estimate within sketch noise of the exact value
    val (est13, exact13) = fid((1L, 3L))
    assert(exact13 < 1000L && exact13 > 0L)
    assert(math.abs(est13 - exact13) <= 350L,
      s"k=16 estimate too far off: est=$est13 exact=$exact13")
  }

  test("simHash near-dups finds near-identical docs within hamming budget") {
    // the 4×16-bit chunk banding GUARANTEES candidates only for hamming ≤ 3
    // (pigeonhole); docs 1/2/5 normalize identically (hamming 0 pairwise),
    // doc 3 sits at hamming 11 with md5 token hashes (no shared chunk —
    // legitimately outside banding recall), doc 4 at 25
    val pairs = Dedup.simHashNearDups(docs, "text", "doc_id", maxHamming = 3)
      .select("doc1", "doc2").as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L), (1L, 5L), (2L, 5L)))
  }

  test("simHash bucket cap skips hub buckets (pairs only via uncapped chunks)") {
    // two identical docs always share all four chunks; with maxBucket = 1
    // every bucket is oversize and no pairs can form
    val capped = Dedup.simHashNearDups(docs, "text", "doc_id",
      maxHamming = 12, maxBucket = 1)
    assert(capped.count() == 0)
  }

  test("embeddingIncrementalNearDups equals the cross-batch slice of the full run") {
    import graft.ops.Similarity
    val rnd = new scala.util.Random(13)
    val centers = Array.fill(5)(Array.fill(8)((rnd.nextFloat() - 0.5f) * 2f))
    val vecs = (0L until 60L).map { i =>
      val c = centers((i % 5).toInt)
      (i, c.map(v => v + (rnd.nextFloat() - 0.5f) * 0.05f))
    }
    val df = vecs.toDF("vec_id", "embedding")
    val (h, thr) = (3, 0.9d)
    val full = graft.ops.Dedup.embeddingNearDupsLsh(df, "vec_id", "embedding",
        threshold = thr, h = h, maxBucket = 4096, cosine = true)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    val seen = df.where(col("vec_id") % 2 === 0)
    val fresh = df.where(col("vec_id") % 2 === 1)
    val inc = graft.ops.Dedup.embeddingIncrementalNearDups(fresh,
        Similarity.lshIndex(seen, "vec_id", "embedding", h),
        "vec_id", "embedding", threshold = thr, h = h, cosine = true)
      .select("new_id", "seen_id").as[(Long, Long)].collect().toSet
    // the incremental run must surface exactly the (odd, even) pairs the
    // full run finds — unordered in `full`, directed (new, seen) in `inc`
    val want = full.collect {
      case (a, b) if a % 2 == 1 && b % 2 == 0 => (a, b)
      case (a, b) if a % 2 == 0 && b % 2 == 1 => (b, a)
    }
    assert(inc == want && inc.nonEmpty, s"inc=${inc.size} want=${want.size}")
  }

  test("connectedComponents labels transitive chains with the min node") {
    // chain 1-2-3, pair 10-11, triangle 30-31-32
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L), (30L, 31L), (31L, 32L), (30L, 32L))
      .toDF("doc1", "doc2")
    val comps = Dedup.connectedComponents(pairs)
      .as[(Long, Long)].collect().toMap
    assert(comps == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L,
      30L -> 30L, 31L -> 30L, 32L -> 30L))
  }

  test("connectedComponents stores only the narrow edge copy when the adaptive width is below the session's") {
    // 6 directed edges ⇒ width 1 < the suite's 4: the session-width edge
    // cut is re-cut at width 1, and its blocks must not outlive the re-cut
    val sc = spark.sparkContext
    val sessionWidth = spark.sessionState.conf.numShufflePartitions
    assert(graft.recon.Checkpoints.parts(spark, 6) < sessionWidth)
    val before = sc.getPersistentRDDs.keySet
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("doc1", "doc2")
    val comps = Dedup.connectedComponents(pairs).as[(Long, Long)].collect().toMap
    assert(comps == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
    val stored = (sc.getPersistentRDDs -- before).values.map(_.getNumPartitions).toSeq
    assert(stored.nonEmpty && stored.forall(_ == 1),
      s"persisted cut widths after the run: $stored (session width $sessionWidth)")
  }

  test("alternatingComponents matches hash-min on mixed shapes") {
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L), (30L, 31L), (31L, 32L), (30L, 32L))
      .toDF("doc1", "doc2")
    val alt = Dedup.alternatingComponents(pairs).as[(Long, Long)].collect().toMap
    assert(alt == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L,
      30L -> 30L, 31L -> 30L, 32L -> 30L))
  }

  test("alternatingComponents: logarithmic rounds on a 100-node path graph") {
    // a diameter-99 path: PLAIN hash-min propagates the min ONE hop per
    // round (99 rounds — its default maxIter=25 budget throws); star
    // alternation halves path structure per round and must land well
    // inside a log-scale budget
    val path = (0L until 99L).map(i => (i, i + 1)).toDF("doc1", "doc2")
    intercept[IllegalStateException](Dedup.connectedComponents(path).count())
    val (labels, rounds) =
      Dedup.alternatingComponentsWithRounds(path, "doc1", "doc2", maxIter = 40)
    assert(rounds <= 12, s"expected O(log n) rounds on a path-100, got $rounds")
    val got = labels.as[(Long, Long)].collect().toMap
    assert(got == (0L to 99L).map(_ -> 0L).toMap)
    // hash-min agrees once the budget covers the diameter
    val plain = Dedup.connectedComponents(path, maxIter = 120)
      .as[(Long, Long)].collect().toMap
    assert(got == plain)
  }

  test("incrementalComponents equals a full recompute across merge shapes") {
    // seen graph: components {1,2,3} (label 1) and {10,11} (label 10);
    // doc 50 is seen but isolated (no pair, so not in the label frame)
    val oldPairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("doc1", "doc2")
    val labels = Dedup.connectedComponents(oldPairs)
    // batch: 100 BRIDGES the two old components (merge case); 200-201 is
    // a fresh standalone cluster; 300 connects the previously-isolated
    // seen doc 50; (2,3) arrives again as a redundant within-component
    // pair (contracts to a self-loop, must be a no-op)
    val newPairs = Seq((3L, 100L), (100L, 11L), (200L, 201L), (50L, 300L), (2L, 3L))
      .toDF("doc1", "doc2")
    val inc = Dedup.incrementalComponents(labels, newPairs)
      .as[(Long, Long)].collect().toMap
    val full = Dedup.connectedComponents(
      oldPairs.unionByName(newPairs)).as[(Long, Long)].collect().toMap
    assert(inc == full, s"incremental $inc != full $full")
    assert(inc(11L) == 1L && inc(100L) == 1L) // the bridge merged 10 into 1
    assert(inc(201L) == 200L && inc(300L) == 50L)
  }

  test("incrementalComponents with no effective new edges changes nothing") {
    val oldPairs = Seq((1L, 2L), (2L, 3L)).toDF("doc1", "doc2")
    val labels = Dedup.connectedComponents(oldPairs)
    val redundant = Seq((1L, 3L)).toDF("doc1", "doc2") // same component
    val inc = Dedup.incrementalComponents(labels, redundant)
      .as[(Long, Long)].collect().toMap
    assert(inc == Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
  }

  test("dedupByComponents keeps one canonical doc per cluster") {
    val df = Seq((1L, "a"), (2L, "b"), (3L, "c"), (9L, "solo")).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("doc1", "doc2")
    assert(Dedup.dedupByComponents(df, "doc_id", pairs)
      .select("doc_id").as[Long].collect().toSet == Set(1L, 9L))
  }

  test("deterministic sampling is stable, layout-independent, ~fraction-sized") {
    import graft.ops.Sampling
    val df = spark.range(0, 2000).toDF("id")
    val once = Sampling.deterministicSample(df, "id", 0.3).as[Long].collect().toSet
    val again = Sampling.deterministicSample(df.repartition(7), "id", 0.3)
      .as[Long].collect().toSet
    assert(once == again)                       // layout-independent
    assert(math.abs(once.size - 600) < 100)     // ~30% of 2000
    // growing the corpus never flips an existing decision
    val grown = Sampling.deterministicSample(spark.range(0, 4000).toDF("id"), "id", 0.3)
      .as[Long].collect().toSet
    assert(once.subsetOf(grown))
  }

  test("stratified sampling applies per-stratum fractions") {
    import graft.ops.Sampling
    val df = spark.range(0, 3000)
      .select(col("id"), (when(col("id") % 2 === 0, "en").otherwise("de")).as("lang"))
    val kept = Sampling.stratifiedSample(df, "id", "lang", Map("en" -> 0.8), 0.0)
    assert(kept.where(col("lang") === "de").count() == 0)
    val en = kept.where(col("lang") === "en").count()
    assert(math.abs(en - 1200) < 200)           // ~80% of 1500
  }

  test("Reconciler.keepFirstBy keeps the min-order row per composite key") {
    val df = Seq(("en", "s1", 5L), ("en", "s1", 3L), ("fr", "s1", 9L))
      .toDF("lang", "source", "doc_id")
    assert(graft.recon.Reconciler.keepFirstBy(df, Seq("lang", "source"), Seq(col("doc_id")))
      .select("doc_id").as[Long].collect().toSet == Set(3L, 9L))
  }

  test("incrementalDedup drops only content a prior run ingested") {
    val seenDocs = Seq((100L, "the quick brown fox jumps over the lazy dog"))
      .toDF("doc_id", "text")
    val seen = Dedup.seenContentHashes(seenDocs, "text")
    val batch = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),   // seen (exact)
      (2L, "  THE QUICK BROWN FOX JUMPS OVER THE LAZY DOG"), // seen (normalized)
      (3L, "a genuinely new document body"),
      (4L, "a genuinely new document body")                  // within-batch dup: kept
    ).toDF("doc_id", "text")
    assert(Dedup.incrementalDedup(batch, seen, "text")
      .select("doc_id").as[Long].collect().toSet == Set(3L, 4L))
  }

  test("duplicatedSpanStats counts positional spans shared across or within docs") {
    val df = Seq(
      (1L, "a b c d e f g h"),       // spans: "a b c"... shares all with doc 2
      (2L, "a b c d e f g h"),       // exact copy → every span duplicated
      (3L, "p q r s t u v w"),       // unique → zero duplicated spans
      (4L, "x y z x y z x y z")      // within-doc repeat: "x y z x y z" ×2... n=3 spans repeat internally
    ).toDF("doc_id", "text")
    val stats = Dedup.duplicatedSpanStats(df, "text", "doc_id", n = 3)
      .select("doc_id", "n_spans", "n_dup_spans").as[(Long, Long, Long)]
      .collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(stats(1L) == ((6L, 6L)))  // 8 tokens → 6 spans, all in doc 2 too
    assert(stats(2L) == ((6L, 6L)))
    assert(stats(3L) == ((6L, 0L)))
    // doc 4: 7 spans; "x y z" occurs 3×, "y z x"/"z x y" 2× each → all 7 dup
    assert(stats(4L) == ((7L, 7L)))
    // a doc shorter than n has no spans and is absent
    val tiny = Dedup.duplicatedSpanStats(
      Seq((9L, "one two")).toDF("doc_id", "text"), "text", "doc_id", n = 3)
    assert(tiny.count() == 0)
  }

  test("semanticNearDups pairs only within k-means cells; semanticDedup keeps min id") {
    import graft.ops.Similarity
    // two tight clusters on orthogonal axes; ids chosen so the every-10th
    // seed sample (modulus 10) starts one centroid in each cluster
    val vecs = Seq(
      (10L, Array(1.0f, 0.0f)), (11L, Array(0.99f, 0.05f)), (12L, Array(0.98f, -0.05f)),
      (20L, Array(0.0f, 1.0f)), (21L, Array(0.05f, 0.99f)), (23L, Array(-0.6f, 0.8f))
    ).toDF("vec_id", "embedding")
    val cents = Similarity.kmeansCentroids(vecs, "vec_id", "embedding",
      k = 2, iters = 2, modulus = 10)
    val pairs = Dedup.semanticNearDups(vecs, "vec_id", "embedding", cents,
      threshold = 0.9, maxCluster = 100)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    // near-identical pairs inside each cluster; 23 is in cluster 2 but
    // below threshold against both members; nothing across clusters
    assert(pairs == Set((10L, 11L), (10L, 12L), (11L, 12L), (20L, 21L)))
    val kept = Dedup.semanticDedup(vecs, "vec_id", "embedding", cents,
      threshold = 0.9, maxCluster = 100)
      .select("vec_id").as[Long].collect().toSet
    assert(kept == Set(10L, 20L, 23L))
  }

  test("semanticNearDups cluster cap prunes oversized cells") {
    import graft.ops.Similarity
    val vecs = (0L until 12L).map(i => (i, Array(1.0f, i.toFloat * 1e-4f)))
      .toDF("vec_id", "embedding")
    val cents = Similarity.kmeansCentroids(vecs, "vec_id", "embedding",
      k = 1, iters = 1, modulus = 1)
    // all 12 land in the one cell; cap 10 drops it entirely
    assert(Dedup.semanticNearDups(vecs, "vec_id", "embedding", cents,
      threshold = 0.0, maxCluster = 10).count() == 0)
    assert(Dedup.semanticNearDups(vecs, "vec_id", "embedding", cents,
      threshold = 0.0, maxCluster = 100).count() == 66) // 12 choose 2
  }

  test("labelConflicts surfaces same-content label disagreement only") {
    val df = Seq(
      (1L, "same text", "web"), (2L, "Same Text", "books"), // conflict (case-folded)
      (3L, "same text", "web"),                             // third copy, same label
      (4L, "other", "web"), (5L, "other", "web")            // copies, no conflict
    ).toDF("doc_id", "text", "source")
    val out = graft.ops.Dedup.labelConflicts(df, "text", "doc_id", "source")
      .select("n_copies", "n_labels", "canonical_id", "label_lo", "label_hi")
      .as[(Long, Long, Long, String, String)].collect().toSeq
    assert(out == Seq((3L, 2L, 1L, "books", "web")))
  }
}
