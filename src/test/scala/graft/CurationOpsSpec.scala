package graft

import org.apache.spark.sql.functions._
import graft.ops.{Packing, Retrieval, TextAnalysis}
import graft.streaming.EventPipeline

class CurationOpsSpec extends SparkSuite {
  import spark.implicits._

  // ---------------------------------------------------------- repetition

  test("repetitionMetrics computes dup/top fractions, zeros for empty docs") {
    val df = Seq(
      (1L, "a a a b"),
      (2L, "x y z"),
      (3L, "")
    ).toDF("doc_id", "text")
    val m = TextAnalysis.repetitionMetrics(df, "text", "doc_id", n = 2)
      .collect().map(r => r.getLong(0) -> r).toMap

    val r1 = m(1L) // tokens: a a a b; bigrams: "a a","a a","a b"
    assert(r1.getLong(1) == 4L && r1.getLong(2) == 2L)
    assert(r1.getDouble(3) == 0.5d)   // dup_token_frac
    assert(r1.getDouble(4) == 0.75d)  // top_token_frac
    assert(r1.getLong(5) == 3L && r1.getLong(6) == 2L)
    assert(math.abs(r1.getDouble(7) - (1.0 - 2.0 / 3.0)) < 1e-15)

    val r2 = m(2L) // all distinct
    assert(r2.getDouble(3) == 0.0d && r2.getDouble(4) == 1.0 / 3.0)

    val r3 = m(3L) // empty doc restored with zero counts
    assert(r3.getLong(1) == 0L && r3.getDouble(3) == 0.0d && r3.getDouble(7) == 0.0d)
  }

  // ---------------------------------------------------------- redaction

  test("redactPii masks emails then digit runs, counts each") {
    val df = Seq(
      (1L, "write to john.doe+x@sub.example.org or call 07700900123 ok"),
      (2L, "short number 123456 stays, code A9 stays"),
      (3L, "two mails a@b.io c@d.net and 99999999999")
    ).toDF("id", "t")
    val out = TextAnalysis.redactPii(df, "t").collect()
      .map(r => r.getLong(0) -> r).toMap

    assert(out(1L).getInt(2) == 1 && out(1L).getInt(3) == 1)
    assert(out(1L).getString(4) == "write to <EMAIL> or call <NUMBER> ok")
    assert(out(2L).getInt(2) == 0 && out(2L).getInt(3) == 0)
    assert(out(2L).getString(4).contains("123456"))
    assert(out(3L).getInt(2) == 2 && out(3L).getInt(3) == 1)
    assert(out(3L).getString(4) == "two mails <EMAIL> <EMAIL> and <NUMBER>")
  }

  // ---------------------------------------------------------- BM25

  private def corpus = Seq(
    (1L, "apple banana cherry"),
    (2L, "apple apple apple"),
    (3L, "banana banana"),
    (4L, "durian")
  ).toDF("doc_id", "text")

  test("bm25 scores only matching docs; higher tf wins at equal length") {
    val scores = Retrieval.bm25Scores(corpus, "text", "doc_id", Seq("apple"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(scores.keySet == Set(1L, 2L))
    assert(scores(2L) > scores(1L)) // tf 3 vs 1 (same length)
    assert(scores.values.forall(_ > 0.0))
  }

  test("bm25TopK ranks deterministically and matches the score order") {
    val top = Retrieval.bm25TopK(corpus, "text", "doc_id",
      Seq("apple", "banana"), k = 3)
      .select("doc_id", "score", "rank").as[(Long, Double, Int)].collect()
    assert(top.map(_._3).toSeq == Seq(1, 2, 3))
    assert(top.map(_._2).toSeq == top.map(_._2).sorted.reverse.toSeq)
    // doc 1 matches both terms — must beat the single-term docs here
    assert(top.head._1 == 1L)
  }

  test("bm25 rational and log idf agree on single-term ranking") {
    def ranking(logIdf: Boolean) =
      Retrieval.bm25TopK(corpus, "text", "doc_id", Seq("banana"), k = 4, logIdf = logIdf)
        .select("doc_id").as[Long].collect().toSeq
    assert(ranking(true) == ranking(false))
  }

  test("bm25MicroWeighted matches the static scorer's ranking at weight 1000") {
    val terms = Seq(("apple", 1000L), ("banana", 1000L)).toDF("term", "weight_milli")
    val micro = Retrieval.bm25MicroWeighted(corpus, "text", "doc_id", terms)
      .orderBy(col("score_micro").desc, col("doc_id"))
      .select("doc_id").as[Long].collect().toSeq
    val static = Retrieval.bm25TopK(corpus, "text", "doc_id",
      Seq("apple", "banana"), k = 4, logIdf = false)
      .select("doc_id").as[Long].collect().toSeq
    assert(micro == static)
    // halving a term's weight halves its (floored) contribution
    val half = Seq(("apple", 500L)).toDF("term", "weight_milli")
    val full = Seq(("apple", 1000L)).toDF("term", "weight_milli")
    val h = Retrieval.bm25MicroWeighted(corpus, "text", "doc_id", half)
      .as[(Long, Long)].collect().toMap
    val f = Retrieval.bm25MicroWeighted(corpus, "text", "doc_id", full)
      .as[(Long, Long)].collect().toMap
    assert(f.keySet == h.keySet)
    f.foreach { case (id, s) => assert(h(id) == s * 500 / 1000) }
  }

  test("prfTopK expands from feedback docs and the expansion shifts the ranking") {
    // seed 'apple' -> feedback docs 2 and 1; their dominant non-seed term
    // is 'banana' (from doc 1), which is in 2/5 docs (df 40% cap passes at
    // exactly the boundary only if < -- use a laxer cap), so doc 3
    // (banana banana) enters the expanded ranking
    val five = Seq(
      (1L, "apple banana cherry"),
      (2L, "apple apple apple"),
      (3L, "banana banana"),
      (4L, "durian"),
      (5L, "elderberry fig")
    ).toDF("doc_id", "text")
    val seedOnly = Retrieval.bm25TopK(five, "text", "doc_id", Seq("apple"),
      k = 5, logIdf = false).select("doc_id").as[Long].collect().toSet
    assert(!seedOnly.contains(3L))
    val prf = Retrieval.prfTopK(five, "text", "doc_id", Seq("apple"), k = 5,
      fbDocs = 2, expTerms = 1, betaMilli = 500, maxDfMilli = 500)
      .select("doc_id", "rank").as[(Long, Int)].collect()
    assert(prf.map(_._1).contains(3L))
    assert(prf.map(_._2).toSeq == (1 to prf.length).toSeq)
    // zero expansion terms degenerate to the seed ranking
    val none = Retrieval.prfTopK(five, "text", "doc_id", Seq("apple"), k = 5,
      fbDocs = 2, expTerms = 0)
      .select("doc_id").as[Long].collect().toSet
    assert(none == seedOnly)
  }

  // ---------------------------------------------------------- packing

  test("rrfFuse combines arms, handles one-arm-only ids, ranks deterministically") {
    // arm A ranks 1,2,3 → ids 10,11,12; arm B ranks 1,2,3 → ids 12,13,10
    val a = Seq((10L, 1), (11L, 2), (12L, 3)).toDF("doc_id", "rank")
    val b = Seq((12L, 1), (13L, 2), (10L, 3)).toDF("doc_id", "rank")
    val got = Retrieval.rrfFuse(a, b, "doc_id", k = 4, kRrf = 60)
      .collect().map(r => (r.getLong(0), r.getAs[Double]("rrf_score"), r.getAs[Int]("rank")))
    def s(r: Int) = 1.0 / (60 + r)
    // expected fused scores
    val want = Map(
      10L -> (s(1) + s(3)), 11L -> s(2), 12L -> (s(3) + s(1)), 13L -> s(2))
    got.foreach { case (id, sc, _) => assert(sc == want(id), s"id $id") }
    // 10 and 12 tie exactly (same term multiset, fixed operand order) →
    // tie breaks on id; one-arm ids 11/13 tie below them, again by id
    assert(got.map(_._1).toSeq == Seq(10L, 12L, 11L, 13L))
    assert(got.map(_._3).toSeq == Seq(1, 2, 3, 4))
  }

  test("mmrDiversify skips a redundant near-duplicate; λ=1000 is pure relevance") {
    import org.apache.spark.sql.functions._
    // candidates for one query: 10 and 11 are IDENTICAL vectors (both
    // highly relevant), 12 is orthogonal and less relevant
    val vecs = Seq(
      (10L, Array(1.0f, 0.0f)),
      (11L, Array(1.0f, 0.0f)),
      (12L, Array(0.0f, 1.0f))
    ).toDF("vec_id", "embedding")
    val cands = Seq(
      (1L, 10L, 0.9), (1L, 11L, 0.89), (1L, 12L, 0.3)
    ).toDF("query_id", "neighbor_id", "score")

    // λ=0.5: pick 10 (best rel), then 12 beats the duplicate 11
    // (mmr(11) = 500·0.89 − 500·1.0 < mmr(12) = 500·0.3 − 500·0.0)
    val picks = Retrieval.mmrDiversify(cands, vecs, "vec_id", "embedding",
        k = 3, lambdaMilli = 500)
      .orderBy("mmr_rank").select("neighbor_id").as[Long].collect().toSeq
    assert(picks == Seq(10L, 12L, 11L))

    // λ=1000: similarity term vanishes — pure relevance order
    val pure = Retrieval.mmrDiversify(cands, vecs, "vec_id", "embedding",
        k = 3, lambdaMilli = 1000)
      .orderBy("mmr_rank").select("neighbor_id").as[Long].collect().toSeq
    assert(pure == Seq(10L, 11L, 12L))
  }

  test("mmrDiversify is per-query and deterministic on ties") {
    import org.apache.spark.sql.functions._
    val vecs = Seq(
      (10L, Array(1.0f, 0.0f)), (11L, Array(0.0f, 1.0f))
    ).toDF("vec_id", "embedding")
    // two queries share the candidate pool; candidate scores tie, so
    // round 1 must break to the LOWER id per query independently
    val cands = Seq(
      (1L, 10L, 0.5), (1L, 11L, 0.5),
      (2L, 10L, 0.5), (2L, 11L, 0.5)
    ).toDF("query_id", "neighbor_id", "score")
    val out = Retrieval.mmrDiversify(cands, vecs, "vec_id", "embedding",
        k = 2, lambdaMilli = 700)
      .as[(Long, Long, Long)].collect().toSet
    assert(out == Set((1L, 10L, 1L), (1L, 11L, 2L), (2L, 10L, 1L), (2L, 11L, 2L)))
  }

  test("selectByAffinity scores match a naive reference and rank target-like docs first") {
    import graft.ops.Selection
    val target = Seq((100L, "alpha beta gamma"), (101L, "alpha beta delta"))
      .toDF("doc_id", "text")
    val raw = Seq(
      (1L, "alpha beta gamma"), // target-like
      (2L, "zeta eta theta"),   // junk
      (3L, "alpha beta"),       // partially target-like
      (4L, "single")            // no bigrams → never selected
    ).toDF("doc_id", "text")
    val nB = 64
    val got = Selection.selectByAffinity(raw, target, "text", "doc_id", k = 4, nBuckets = nB)
      .collect().map(r => (r.getLong(0), r.getAs[Long]("n_feats"),
        r.getAs[Double]("score"), r.getAs[Int]("rank")))

    // naive reference: same hash, plain BigInt arithmetic
    def grams(s: String) =
      s.toLowerCase.split("\\s+").toSeq.sliding(2).filter(_.length == 2)
        .map(_.mkString(" ")).toSeq
    def bucket(g: String) = BigInt(graft.functions.TextOps.md5Hash60(
      org.apache.spark.unsafe.types.UTF8String.fromString(g))) % nB
    val tDocs = Seq("alpha beta gamma", "alpha beta delta")
    val rDocs = Seq("alpha beta gamma", "zeta eta theta", "alpha beta", "single")
    val tCnt = tDocs.flatMap(grams).groupBy(bucket).view.mapValues(_.size).toMap
    val rCnt = rDocs.flatMap(grams).groupBy(bucket).view.mapValues(_.size).toMap
    val (tT, rT) = (BigInt(tCnt.values.sum), BigInt(rCnt.values.sum))
    def score(s: String): BigInt = grams(s).map { g =>
      val b = bucket(g)
      BigInt(tCnt.getOrElse(b, 0) + 1) * (rT + nB) - BigInt(rCnt(b) + 1) * (tT + nB)
    }.sum
    val want = Map(1L -> "alpha beta gamma", 2L -> "zeta eta theta", 3L -> "alpha beta")
      .view.mapValues(s => score(s).toDouble).toMap

    // an empty target corpus fails loudly AT EXECUTION — the guard is an
    // in-plan raise_error now, so building the frame runs no job and the
    // error surfaces on the first action (null scores otherwise)
    val emptyTargetEx = intercept[Exception] {
      Selection.selectByAffinity(raw, raw.where(col("doc_id") < 0),
        "text", "doc_id", k = 3, nBuckets = nB).collect()
    }
    assert(emptyTargetEx.getMessage.contains("no bigram features"),
      s"unexpected failure: ${emptyTargetEx.getMessage}")
    assert(got.length == 3, "the bigram-less doc must be absent")
    got.foreach { case (id, _, sc, _) => assert(sc == want(id), s"doc $id") }
    // target-like outranks junk; ranks are 1..3
    val byRank = got.sortBy(_._4).map(_._1).toSeq
    assert(byRank.head == 1L && byRank.last == 2L, s"order was $byRank")
  }

  test("BPE pairCounts weights by word frequency and counts occurrences") {
    import graft.ops.Vocab
    // "aaab" ×2, "ab" ×1, "x" ×3 (no pairs)
    val docs = Seq((1L, "aaab aaab ab x x"), (2L, "x")).toDF("doc_id", "text")
    val vocab = Vocab.wordCounts(docs, "text")
    assert(vocab.collect().map(r => r.getString(0) -> r.getLong(1)).toMap ==
      Map("aaab" -> 2L, "ab" -> 1L, "x" -> 3L))
    val pairs = Vocab.pairCounts(vocab).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    // "aaab": (a,a)×2 + (a,b)×1 per occurrence, ×freq 2; "ab": (a,b)×1
    assert(pairs == Map(("a", "a") -> 4L, ("a", "b") -> 3L))
    val top = Vocab.topMerges(Vocab.pairCounts(vocab), k = 5).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getInt(3))).toSeq
    assert(top == Seq(("a", "a", 4L, 1), ("a", "b", 3L, 2)))
  }

  test("unigram EM: hand-traced lattice masses, responsibilities, M-step on 'abab'") {
    import graft.ops.Vocab
    // pieces a=300, b=300, ab=400 over the single word "abab" (freq 1).
    // Lattice: a|b|a|b = 300⁴, ab|a|b = a|b|ab = 400·300², ab|ab = 400².
    // Z = 8,100,000,000 + 36,000,000 + 36,000,000 + 160,000 = 8,172,160,000.
    // Occurrence responsibilities (milli, floor):
    //   each single char: 1000·8.136e9/Z = 995 → exp a = b = 1990
    //   each 'ab':        1000·3.616e7/Z = 4   → exp ab = 8
    // M-step: tot = 3988 → p'(a) = p'(b) = 1990000 div 3988 = 498,
    //         p'(ab) = 8000 div 3988 = 2.
    val wc = Seq(("abab", 1L)).toDF("word", "freq")
    val pieces = Seq(("a", 300L), ("ab", 400L), ("b", 300L))
    val got = Vocab.unigramEmStep(wc, pieces)
      .as[(String, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got == Map(
      "a" -> ((300L, 1990L, 498L)),
      "b" -> ((300L, 1990L, 498L)),
      "ab" -> ((400L, 8L, 2L))))
    // freq weighting: the same word 5× multiplies expected counts, not probs
    val wc5 = Seq(("abab", 5L)).toDF("word", "freq")
    val g5 = Vocab.unigramEmStep(wc5, pieces)
      .as[(String, Long, Long, Long)].collect().map(r => r._1 -> r._3).toMap
    assert(g5 == Map("a" -> 9950L, "b" -> 9950L, "ab" -> 40L))
    // a word with an unknown character is excluded (Z = 0), not a crash;
    // words past the length cap are excluded from the fit
    val mixed = Seq(("abab", 1L), ("aqa", 7L), ("ababababababab", 9L))
      .toDF("word", "freq")
    val gm = Vocab.unigramEmStep(mixed, pieces)
      .as[(String, Long, Long, Long)].collect().map(r => r._1 -> r._3).toMap
    assert(gm == Map("a" -> 1990L, "b" -> 1990L, "ab" -> 8L))
    // guards
    intercept[IllegalArgumentException](Vocab.unigramEmStep(wc, Nil))
    intercept[IllegalArgumentException](
      Vocab.unigramEmStep(wc, Seq(("a", 0L))))
    intercept[IllegalArgumentException](
      Vocab.unigramEmStep(wc, Seq(("a", 1001L))))
    intercept[IllegalArgumentException](
      Vocab.unigramEmStep(wc, Seq(("a", 10L), ("a", 20L))))
    intercept[IllegalArgumentException](
      Vocab.unigramEmStep(wc, pieces, maxWordLen = 11))
  }

  test("unigramSegment: Viterbi max-product path, shortest-piece tie-break, OOV excluded") {
    import graft.ops.Vocab
    // a=300, b=300, ab=400 on "abab": v = [1, 300, 9e4, 2.7e7, 8.1e9] —
    // the all-singles path beats every 'ab' use (90000 > 400 at v2)
    val wc = Seq(("abab", 2L), ("aqa", 1L)).toDF("word", "freq")
    val got = Vocab.unigramSegment(wc, Seq(("a", 300L), ("ab", 400L), ("b", 300L)))
      .select("word", "freq", "n_pieces", "seg")
      .as[(String, Long, Long, String)].collect()
    assert(got.toSeq == Seq(("abab", 2L, 4L, "a b a b")), s"got ${got.toSeq}")
    // 'aqa' has an unknown char -> v(n) = 0 -> excluded, not crashed
    // exact tie (20·50 = 1000 = L(ab)) breaks to the SHORTEST last piece
    val tie = Vocab.unigramSegment(Seq(("ab", 1L)).toDF("word", "freq"),
      Seq(("a", 20L), ("ab", 1000L), ("b", 50L)))
      .select("seg").as[String].collect()
    assert(tie.toSeq == Seq("a b"))
    // a genuinely better multi-char piece wins: a=20, b=20, ab=1000
    val multi = Vocab.unigramSegment(Seq(("abab", 1L)).toDF("word", "freq"),
      Seq(("a", 20L), ("ab", 1000L), ("b", 20L)))
      .select("n_pieces", "seg").as[(Long, String)].collect()
    assert(multi.toSeq == Seq((2L, "ab ab")))
  }

  test("unigramSegment byteFallback: TOTAL segmentation — unknown chars fall back to single-char pieces") {
    import graft.ops.Vocab
    // 'aqa' and 'zz' contain chars the inventory never saw; with
    // byteFallback they segment through floor-likelihood single chars
    // instead of being dropped — ZERO dropped words, like SentencePiece
    val wc = Seq(("abab", 2L), ("aqa", 1L), ("zz", 1L)).toDF("word", "freq")
    val pieces = Seq(("a", 300L), ("ab", 400L), ("b", 300L))
    val got = Vocab.unigramSegment(wc, pieces, byteFallback = true)
      .select("word", "n_pieces", "seg")
      .as[(String, Long, String)].collect().toSeq.sortBy(_._1)
    assert(got.map(_._1) == Seq("abab", "aqa", "zz"), s"dropped words: $got")
    assert(got == Seq(("abab", 4L, "a b a b"), ("aqa", 3L, "a q a"),
      ("zz", 2L, "z z")), s"got $got")
    // fully-covered corpus: fallback mode is bit-identical to default
    val cov = Seq(("abab", 2L)).toDF("word", "freq")
    val a = Vocab.unigramSegment(cov, pieces)
      .select("word", "n_pieces", "seg", "score_q")
      .as[(String, Long, String, String)].collect().toSeq
    val b = Vocab.unigramSegment(cov, pieces, byteFallback = true)
      .select("word", "n_pieces", "seg", "score_q")
      .as[(String, Long, String, String)].collect().toSeq
    assert(a == b)
    // unknown MULTI-char pieces still score 0: fallback is per character,
    // so 'zz' segments as two floor singles, never one unknown bigram —
    // and the max product is exactly 1·1 (digit-string '1')
    assert(got.find(_._1 == "zz").isDefined)
    val zq = Vocab.unigramSegment(wc, pieces, byteFallback = true)
      .where(col("word") === "zz").select("score_q").as[String].head()
    assert(zq == "1")
  }

  test("unigramSeed: single-char floor + top-N multi by weight, milli-normalized") {
    import graft.ops.Vocab
    // "abab"×2, "ab"×1: substring weights — a:6=2·2+1·... trace:
    // abab occurrences (len≤4): a@1,a@3 (2), b@2,b@4 (2), ab@1,ab@3 (2),
    // ba@2 (1), aba@1 (1), bab@2 (1), abab@1 (1) — ×freq 2;
    // ab: a (1), b (1), ab (1) — ×1.
    // weights: a=5, b=5, ab=5, ba=2, aba=2, bab=2, abab=2
    val wc = Seq(("abab", 2L), ("ab", 1L)).toDF("word", "freq")
    val seed = Vocab.unigramSeed(wc, maxPieceLen = 4, topN = 2)
    // singles always kept; top-2 multi by (weight desc, piece asc) = ab, aba
    assert(seed.map(_._1) == Seq("a", "ab", "aba", "b"))
    // Σweight over the SELECTED set = 5+5+5+2 = 17;
    // milli: a = 5000/17 = 294, aba = 2000/17 = 117
    val m = seed.toMap
    assert(m("a") == 294L && m("b") == 294L && m("ab") == 294L && m("aba") == 117L)
    // topN = 0 keeps only the single-char floor
    assert(Vocab.unigramSeed(wc, topN = 0).map(_._1) == Seq("a", "b"))
  }

  test("BPE segment merges every pair occurrence, incl. boundary-adversarial words") {
    import graft.ops.Vocab
    // reference: merge all (token-disjoint, since a != b) occurrences,
    // one pair type at a time
    def ref(word: String, merges: Seq[(String, String)]): Seq[String] = {
      var syms = word.map(_.toString).toList
      merges.foreach { case (a, b) =>
        val out = scala.collection.mutable.ListBuffer[String]()
        var rest = syms
        while (rest.nonEmpty) rest match {
          case x :: y :: tail if x == a && y == b => out += (a + b); rest = tail
          case x :: tail => out += x; rest = tail
          case Nil =>
        }
        syms = out.toList
      }
      syms
    }
    val merges = Seq(("e", "r"), ("er", "s"))
    // adversarial: long alternations (boundary-space sharing), merged-
    // symbol reuse in a later merge, non-matching neighbors
    val words = Seq("erer", "ererer", "erererer", "ererererer", "erserss",
      "er", "e", "re", "xeryz", "ersers", "serserse")
    val df = words.zipWithIndex.map { case (w, i) => (i.toLong, w) }.toDF("id", "w")
    val got = df.select(col("id"), Vocab.segment(col("w"), merges).as("s"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    words.zipWithIndex.foreach { case (w, i) =>
      assert(got(i.toLong) == ref(w, merges).mkString(" "),
        s"'$w': got '${got(i.toLong)}' want '${ref(w, merges).mkString(" ")}'")
    }
    // self-merges are rejected loudly, not silently mis-segmented
    intercept[IllegalArgumentException] {
      Vocab.segment(col("w"), Seq(("a", "a")))
    }
  }

  test("BPE subtokenStats rolls per-word counts up per doc; empty docs drop out") {
    import graft.ops.Vocab
    val docs = Seq((1L, "erer stst x"), (2L, "")).toDF("doc_id", "text")
    val st = Vocab.subtokenStats(docs, "text", "doc_id",
        Seq(("e", "r"), ("s", "t"))).collect()
      .map(r => r.getLong(0) -> ((r.getAs[Long]("n_words"), r.getAs[Long]("n_chars"),
        r.getAs[Long]("n_subtokens")))).toMap
    // "erer"→[er,er]=2, "stst"→[st,st]=2, "x"→1 ⇒ 5 subtokens, 9 chars, 3 words
    assert(st(1L) == ((3L, 9L, 5L)))
    assert(!st.contains(2L), "empty doc drops out")
  }

  test("BPE compression is monotone in the merge-list prefix; zero merges = chars") {
    import graft.ops.Vocab
    val docs = Seq((1L, "erin erst rest stern")).toDF("doc_id", "text")
    val merges = Seq(("e", "r"), ("i", "n"), ("s", "t"))
    val subtoks = (0 to 3).map { k =>
      Vocab.subtokenStats(docs, "text", "doc_id", merges.take(k))
        .agg(sum(col("n_subtokens"))).as[Long].head()
    }
    // k=0: every char its own subtoken (17 chars); each merge only shrinks
    assert(subtoks.head == 17L)
    assert(subtoks.zip(subtoks.tail).forall { case (a, b) => b <= a })
    assert(subtoks.last < subtoks.head)
  }

  test("packByBudget assigns chunk of first token; oversize docs straddle") {
    val df = Seq((1L, 3L), (2L, 20L), (3L, 4L)).toDF("id", "w")
      .withColumn("g", lit("x"))
    val bins = Packing.packByBudget(df, "w", Seq(col("id")), 8L, Seq("g"))
      .select("id", "pack_id").as[(Long, Long)].collect().toMap
    // starts: 0, 3, 23 → bins 0, 0, 2
    assert(bins == Map(1L -> 0L, 2L -> 0L, 3L -> 2L))
  }

  test("packGlobal matches the window form on a single group") {
    val df = (1L to 500L).map(i => (i, (i % 7) + 1)).toDF("id", "w")
      .withColumn("w", col("w").cast("long"))
    val expected = Packing.packByBudget(df.withColumn("g", lit(1)), "w",
      Seq(col("id")), 37L, Seq("g"))
      .select("id", "pack_id").as[(Long, Long)].collect().toSet
    val got = Packing.packGlobal(df, "w", Seq(col("id")), 37L)
      .select("id", "pack_id").as[(Long, Long)].collect().toSet
    assert(got == expected)
  }

  test("packGlobal rejects negative weights") {
    val df = Seq((1L, -5L)).toDF("id", "w")
    // the guard's failure surfaces as raise_error's own
    // SparkRuntimeException (private[spark]: checked by name) or, in some
    // runs, wrapped in the failed job's SparkException
    val ex = intercept[Exception] {
      Packing.packGlobal(df, "w", Seq(col("id")), 10L).collect()
    }
    assert(Set("org.apache.spark.SparkRuntimeException", "org.apache.spark.SparkException")
      .contains(ex.getClass.getName), ex.getClass.getName)
    assert(ex.getMessage.contains("negative weight")
      || Option(ex.getCause).exists(_.getMessage.contains("negative weight")))
  }

  test("packGlobal rejects a null weight") {
    val df = Seq((1L, Some(3L)), (2L, None)).toDF("id", "w")
    val ex = intercept[Exception] {
      Packing.packGlobal(df, "w", Seq(col("id")), 10L).collect()
    }
    assert(ex.getMessage.contains("negative weight")
      || Option(ex.getCause).exists(_.getMessage.contains("negative weight")), ex.getMessage)
  }

  // ---------------------------------------------------------- tmp dirs

  test("TmpDirs registers exactly one JVM shutdown hook across many enrolls") {
    import graft.demo.TmpDirs
    val base = java.nio.file.Files.createTempDirectory("graft_tmpdirs_spec").toFile
    (1 to 5).foreach { i =>
      val d = new java.io.File(base, s"run_$i"); d.mkdirs()
      TmpDirs.enroll(d)
    }
    // repeated query invocations in one JVM must not accumulate hook
    // threads (the round-5 leak registered one per runTmpDir call)
    assert(TmpDirs.hookRegistrations.get() == 1)
    graft.demo.CurationQueries.deleteRecursively(base)
  }

  // ---------------------------------------------------------- hopping

  test("hoppingAgg matches Structured Streaming's window(size, slide) boundaries") {
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    val events = (0 until 200).map { i =>
      (i.toLong, new java.sql.Timestamp(base.getTime + i * 97_000L),
        i.toLong % 5, if (i % 3 == 0) "click" else "view", i * 1.5d)
    }.toDF("event_id", "ts", "user_id", "event_type", "value")

    val got = EventPipeline.hoppingAgg(events, windowMs = 600000L, slideMs = 300000L)
      .select("win_start", "event_type", "n_events", "total_value")
      .as[(Long, String, Long, Double)].collect().toSet

    val want = events
      .groupBy(window(col("ts"), "10 minutes", "5 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("tv"))
      .select(unix_millis(col("window.start")), col("event_type"), col("n"), col("tv"))
      .as[(Long, String, Long, Double)].collect().toSet

    assert(got == want)
    // every event lands in exactly window/slide = 2 windows
    assert(got.toSeq.map(_._3).sum == 400L)
  }

  // -------------------------------------------------------- collocations

  test("collocations: exact integer lifts, support floor, lift ordering") {
    val docs = Seq(
      "new york new york new york", // n(new york)=3, n(york new)=2
      "the the the the"             // n(the the)=3
    ).toDF("text")
    // N=10 tokens; lift_milli = n_ab·N·1000 div (n_a·n_b)
    val out = TextAnalysis.collocations(docs, "text", minCount = 2L, topK = 10)
      .as[(String, Long, Long, Long, Long)].collect().toSeq
    assert(out == Seq(
      ("new york", 3L, 3L, 3L, 3333L),
      ("york new", 2L, 3L, 3L, 2222L),
      ("the the", 3L, 4L, 4L, 1875L)))
    // raising the floor drops the 2-occurrence pair
    val floored = TextAnalysis.collocations(docs, "text", minCount = 3L, topK = 10)
      .as[(String, Long, Long, Long, Long)].collect().map(_._1).toSet
    assert(floored == Set("new york", "the the"))
  }

  // ---------------------------------------------------- token diversity

  test("tokenDiversity: TTR and Gini impurity, hand-computed; blank docs kept") {
    // doc 1: a a a b -> n=4, types=2, ttr=500; impurity = 1 - (9+1)/16 -> 375
    // doc 2: x y z   -> n=3, types=3, ttr=1000; 1 - 3/9 -> 667 (floor: 1000-333)
    // doc 3: blank   -> zeros + null ratios, not dropped, not a raise
    val df = Seq((1L, "a a a b"), (2L, "x y z"), (3L, "   "))
      .toDF("doc_id", "text")
    val out = graft.ops.TextAnalysis.tokenDiversity(df, "text", "doc_id")
      .as[(Long, Long, Long, Option[Long], Option[Long])].collect().toSet
    assert(out == Set(
      (1L, 4L, 2L, Some(500L), Some(375L)),
      (2L, 3L, 3L, Some(1000L), Some(667L)),
      (3L, 0L, 0L, None, None)))
  }

  // ------------------------------------------------------- doc keywords

  test("docKeywords: lift ranks the doc-heavy token first; hapax excluded") {
    // corpus: doc 1 = "x x y z", doc 2 = "y y y z". T = 8.
    // doc 1 candidates (c_doc >= 2): x (c=2, corpus 2) -> lift
    // (1000*2*8)//(4*2) = 2000. y in doc 1 is hapax -> excluded.
    // doc 2: y (c=3, corpus 4) -> (1000*3*8)//(4*4) = 1500.
    val df = Seq((1L, "x x y z"), (2L, "y y y z")).toDF("doc_id", "text")
    val out = graft.ops.TextAnalysis.docKeywords(df, "text", "doc_id", k = 3)
      .select("doc_id", "rank", "token", "c_doc", "lift_milli")
      .as[(Long, Int, String, Long, Long)].collect().toSet
    assert(out == Set(
      (1L, 1, "x", 2L, 2000L),
      (2L, 1, "y", 3L, 1500L)))
  }

  // ----------------------------------------------------- phrase search

  test("topPhraseMatch: the in-plan top 3-gram, every occurrence positioned") {
    // "a b c" occurs at doc1 pos 0 and 3, doc2 pos 0 — the corpus top gram
    val df = Seq((1L, "a b c a b c"), (2L, "a b c x"), (3L, "z z z"))
      .toDF("doc_id", "text")
    val out = graft.ops.Retrieval.topPhraseMatch(df, "text", "doc_id", n = 3)
      .as[(Long, String, Long, Int)].collect().toSet
    assert(out == Set(
      (1L, "a b c", 2L, 0),
      (2L, "a b c", 1L, 0)))
  }

  // ---------------------------------------------------- merge stability

  test("mergeStability: one-sided merges keep null opposite ranks; deltas exact") {
    // even half (doc 0): "abab" -> pairs (a,b)x2, (b,a)x1
    // odd half (doc 1): "ac ac" -> pair (a,c)x2
    val df = Seq((0L, "abab"), (1L, "ac ac")).toDF("doc_id", "text")
    val out = graft.ops.Vocab.mergeStability(df, "text", "doc_id", k = 2)
      .as[(String, String, Option[Int], Option[Int], Option[Int])]
      .collect().toSet
    assert(out == Set(
      ("a", "b", Some(1), None, None),
      ("b", "a", Some(2), None, None),
      ("a", "c", None, Some(1), None)))
  }

  test("mergeStability: identical halves agree rank for rank, delta zero") {
    val df = Seq((0L, "xy xy zz"), (1L, "xy xy zz")).toDF("doc_id", "text")
    val out = graft.ops.Vocab.mergeStability(df, "text", "doc_id", k = 2)
      .as[(String, String, Option[Int], Option[Int], Option[Int])]
      .collect().toSet
    assert(out.forall(r => r._3 == r._4 && r._5 == Some(0)))
    assert(out.size == 2)
  }

  // --------------------------------------------------------- zipf bands

  test("zipfBands: doubling-band masses, hand-computed; bands pool past maxBand") {
    // freqs: a=8 (rank 1, band 0), b=4 (rank 2, band 1), c=2 d=1 (ranks
    // 3-4, band 1 at maxBand=1? no: maxBand=2 -> band 1 holds ranks 2-3,
    // band 2 pools the rest). total=15.
    val df = Seq.fill(8)("a").map(w => Tuple1(w)) ++
      Seq.fill(4)(Tuple1("b")) ++ Seq.fill(2)(Tuple1("c")) :+ Tuple1("d")
    val out = graft.ops.Vocab.zipfBands(
        df.toDF("text"), "text", maxBand = 2)
      .as[(Int, Long, Long, Long, Long)].collect().toSet
    assert(out == Set(
      (0, 1L, 1L, 8L, 533L),   // rank 1: a, 8/15
      (1, 2L, 2L, 6L, 400L),   // ranks 2-3: b, c
      (2, 4L, 1L, 1L, 66L)))   // rank 4+ pools: d
  }
}
