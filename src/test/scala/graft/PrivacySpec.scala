package graft

import org.apache.spark.sql.functions._
import graft.ops.Privacy

class PrivacySpec extends SparkSuite {
  import spark.implicits._

  // geo hierarchy: a1, a2, a3 roll up to A; b1 to B
  private val rows = Seq(
    (1L, "a1", "A", "x"), (2L, "a1", "A", "x"), (3L, "a1", "A", "x"), // exact class of 3
    (4L, "a2", "A", "x"), (5L, "a2", "A", "x"),                       // 2 < k → generalize
    (6L, "a3", "A", "x"),                                             // 1 < k → generalize
    (7L, "b1", "B", "x"), (8L, "b1", "B", "x")                        // 2 < k, alone in B
  ).toDF("id", "geo", "parent", "cat")

  test("k-anonymize: exact when big enough, generalized when the ladder saves it, else suppressed") {
    val out = Privacy.kAnonymize(rows, "id", "geo", "parent", "cat", k = 3)
      .as[(Long, Option[String], Option[String], Long, Option[Long])]
      .collect().map(r => r._1 -> r).toMap
    // a1 class of 3 releases exactly
    for (i <- 1L to 3L)
      assert(out(i) == ((i, Some("a1"), Some("x"), 0L, Some(3L))), out(i).toString)
    // a2 + a3 rows generalize; their generalized class (A, x) has 3 generalizers
    for (i <- 4L to 6L)
      assert(out(i) == ((i, Some("A"), Some("x"), 1L, Some(3L))), out(i).toString)
    // b1 rows: 2 exact, 2 generalized — below k at both levels → suppressed
    for (i <- 7L to 8L)
      assert(out(i) == ((i, None, None, 2L, None)), out(i).toString)
  }

  test("level-0 rows never pad a generalized class") {
    // 3 exact rows in (a1, x) release at level 0; the single (a2, x) row's
    // generalized class counts only itself — suppressed even though the
    // region holds 4 rows total
    val small = Seq(
      (1L, "a1", "A", "x"), (2L, "a1", "A", "x"), (3L, "a1", "A", "x"),
      (4L, "a2", "A", "x")
    ).toDF("id", "geo", "parent", "cat")
    val out = Privacy.kAnonymize(small, "id", "geo", "parent", "cat", k = 3)
      .as[(Long, Option[String], Option[String], Long, Option[Long])]
      .collect().map(r => r._1 -> r._4).toMap
    assert(out(4L) == 2L, "lone generalizer must be suppressed, not saved by level-0 rows")
  }

  test("lDiversityAudit flags homogeneous classes; top share is exact milli") {
    val rows = Seq(
      // class A: 4 rows, 3 distinct diseases, top share 2/4 = 500
      ("A", "flu"), ("A", "flu"), ("A", "cold"), ("A", "cancer"),
      // class B: homogeneous — k-anonymous maybe, but zero diversity
      ("B", "flu"), ("B", "flu"), ("B", "flu"),
      // class C: nulls form their own sensitive group
      ("C", null), ("C", "flu")
    ).toDF("geo", "disease")
    val audit = Privacy.lDiversityAudit(rows, Seq("geo"), "disease", l = 2)
      .as[(String, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    assert(audit("A") == ((4L, 3L, 500L, 1L)))
    assert(audit("B") == ((3L, 1L, 1000L, 0L)))
    assert(audit("C") == ((2L, 2L, 500L, 1L)))
  }

  test("tClosenessAudit: exact EMD milli against hand-computed values") {
    // global: v1 x5, v2 x15 (n=20, CDF(1)=0.25)
    // class A: 5x v1 + 10x v2 -> CDF_A(1)=1/3, EMD=|1/3-1/4|=83 milli
    // class B: 5x v2        -> CDF_B(1)=0,   EMD=0.25 = 250 milli
    val rows = (Seq.fill(5)(("A", 1L)) ++ Seq.fill(10)(("A", 2L)) ++
      Seq.fill(5)(("B", 2L))).toDF("cls", "sv")
    val out = Privacy.tClosenessAudit(rows, Seq("cls"), "sv", tMilli = 150)
      .select("cls", "group_n", "emd_milli", "pass")
      .as[(String, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    assert(out("A") == (("A", 15L, 83L, 1L)))
    assert(out("B") == (("B", 5L, 250L, 0L)))
  }

  test("tClosenessAudit is ORDER-aware: far skew scores above near skew") {
    // uniform global over v1<v2<v3; a class concentrated at the far end
    // (v3) must score above one concentrated in the middle (v2) — the
    // property an unordered divergence cannot see
    val rows = (Seq.fill(4)(("C", 1L)) ++ Seq.fill(4)(("B", 2L)) ++
      Seq.fill(4)(("A", 3L))).toDF("cls", "sv")
    val out = Privacy.tClosenessAudit(rows, Seq("cls"), "sv", tMilli = 400)
      .select("cls", "emd_milli").as[(String, Long)].collect().toMap
    assert(out == Map("A" -> 500L, "B" -> 333L, "C" -> 500L))
  }

  test("tClosenessAudit: single-value domain is distance 0 by convention") {
    val rows = Seq(("A", 7L), ("B", 7L)).toDF("cls", "sv")
    val out = Privacy.tClosenessAudit(rows, Seq("cls"), "sv", tMilli = 0)
      .select("cls", "emd_milli", "pass").as[(String, Long, Long)].collect().toSet
    assert(out == Set(("A", 0L, 1L), ("B", 0L, 1L)))
  }

  test("erasureReport counts the subjects' rows per table") {
    val facts = Seq((1L, "a"), (2L, "b"), (2L, "c"), (3L, "d")).toDF("uid", "v")
    val subjects = Seq(2L, 99L).toDF("subject") // 99 hits nothing
    val report = Privacy.erasureReport(
      Seq(("facts", facts, "uid")), subjects, "subject")
      .as[(String, Long, Long)].collect().toSeq
    assert(report == Seq(("facts", 4L, 2L)))
  }

  test("discreteLaplace1: bounded, near-zero-mean, deterministic") {
    val draws = spark.range(4000)
      .select(Privacy.discreteLaplace1(col("id").cast("string")).as("k"))
    val (mn, mx, s) = draws.agg(min("k"), max("k"), sum("k"))
      .as[(Long, Long, Long)].head()
    assert(mn >= -8L && mx <= 8L)
    // E[k] = 0; sd per draw ~1.5, so |sum| over 4000 stays well under 300
    assert(math.abs(s) < 300L)
    val again = spark.range(4000)
      .select(Privacy.discreteLaplace1(col("id").cast("string")).as("k"))
      .agg(sum("k")).as[Long].head()
    assert(again == s)
  }

  test("dpNoisedCounts: within the noise bound, clamped at zero, true counts absent") {
    val rows = (1 to 200).map(i => ("g" + (i % 4), i)) ++ Seq(("tiny", 0))
    val df = rows.toDF("g", "v").repartition(5)
    val released = Privacy.dpNoisedCounts(df, Seq("g"), "s1")
      .as[(String, Long)].collect().toMap
    val truth = rows.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    assert(released.keySet == truth.keySet)
    released.foreach { case (g, n) =>
      assert(n >= 0L && math.abs(n - truth(g)) <= 8L, s"$g: $n vs ${truth(g)}")
    }
    // a different salt is a different release (very likely some cell moves)
    val other = Privacy.dpNoisedCounts(df, Seq("g"), "s2")
      .as[(String, Long)].collect().toMap
    assert(released != other || released == truth)
    // ':' inside a key value poisons the seed -> in-plan raise
    val bad = Seq(("a:b", 1)).toDF("g", "v")
    intercept[Exception] {
      Privacy.dpNoisedCounts(bad, Seq("g"), "s1").collect()
    }
    intercept[IllegalArgumentException] {
      Privacy.dpNoisedCounts(df, Seq("g"), "bad:salt")
    }
    // NULL key values would degrade to constant noise -> in-plan raise
    val withNull = Seq(Some("a"), None).toDF("g")
    intercept[Exception] {
      Privacy.dpNoisedCounts(withNull, Seq("g"), "s1").collect()
    }
  }

  test("suppressionCurve: per-k suppressed mass from one class-size frame") {
    // classes: (a,x)=1 row, (a,y)=3, (b,x)=6
    val df = (Seq(("a", "x")) ++ Seq.fill(3)(("a", "y")) ++ Seq.fill(6)(("b", "x")))
      .toDF("q1", "q2")
    val out = Privacy.suppressionCurve(df, Seq("q1", "q2"), ks = Seq(2, 5, 10))
      .orderBy("k")
      .select("k", "n_classes", "n_rows", "n_small_classes", "n_suppressed_rows",
        "suppressed_milli")
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSeq
    assert(out == Seq(
      (2L, 3L, 10L, 1L, 1L, 100L),   // only the singleton suppressed
      (5L, 3L, 10L, 2L, 4L, 400L),   // singleton + the 3-row class
      (10L, 3L, 10L, 3L, 10L, 1000L) // everything under k=10
    ))
    intercept[IllegalArgumentException] {
      Privacy.suppressionCurve(df, Seq("q1"), ks = Seq(1))
    }
  }

  test("tClosenessAudit fails loudly past the 100k domain cap (no silent drop)") {
    // 100_001 distinct sensitive values in one class: must raise, not
    // silently audit a truncated domain
    val wide = spark.range(0, 100001L)
      .selectExpr("'A' AS cls", "id AS sv")
    val e = intercept[Exception] {
      Privacy.tClosenessAudit(wide, Seq("cls"), "sv", tMilli = 100).collect()
    }
    val full = { val sw = new java.io.StringWriter
      e.printStackTrace(new java.io.PrintWriter(sw)); sw.toString }
    assert(full.contains("domain exceeds"), s"wrong failure: ${e.getMessage}")
  }

  // users: u1 has 5 rows (2 type-a + 3 type-b), u2 has 2, u3 has 3 —
  // cap 3 keeps u1's FIRST three by (ts, id), u2/u3 untouched
  private val contrib = Seq(
    (1L, "u1", 10L, "a"), (2L, "u1", 20L, "a"), (3L, "u1", 30L, "b"),
    (4L, "u1", 40L, "b"), (5L, "u1", 50L, "b"),
    (6L, "u2", 10L, "a"), (7L, "u2", 20L, "b"),
    (8L, "u3", 10L, "a"), (9L, "u3", 20L, "a"), (10L, "u3", 30L, "b")
  ).toDF("id", "user", "ts", "typ")

  test("clipContributions keeps each user's first cap rows in order, layout-independent") {
    val kept = Privacy.clipContributions(
        contrib.repartition(7), "user", Seq(col("ts"), col("id")), cap = 3)
      .select("id").as[Long].collect().toSet
    // u1 loses ids 4, 5 (ts 40, 50); everyone else survives whole
    assert(kept == Set(1L, 2L, 3L, 6L, 7L, 8L, 9L, 10L))
    // after clipping, NO user exceeds the cap — the sensitivity bound
    val maxPer = Privacy.clipContributions(
        contrib, "user", Seq(col("ts"), col("id")), cap = 3)
      .groupBy("user").count().select("count").as[Long].collect()
    assert(maxPer.forall(_ <= 3))
  }

  test("randomizedResponse: no flips at p=1000; flip rate near 1-p; deterministic") {
    val cats = Seq("a", "b", "c")
    val df = (0L until 2000L).map(i => (i, Seq("a", "a", "b", "c")((i % 4).toInt)))
      .toDF("id", "cat")
    val pure = Privacy.randomizedResponse(df, "cat", "id", cats, pMilli = 1000, "s")
      .where(col("reported") =!= col("cat")).count()
    assert(pure == 0L)
    val noisy = Privacy.randomizedResponse(df, "cat", "id", cats, pMilli = 750, "s")
    val flips = noisy.where(col("reported") =!= col("cat")).count()
    assert(flips > 2000 * 0.20 && flips < 2000 * 0.30, s"flip count $flips")
    // sticky: a re-run reports identically (same salt => same draws)
    val again = Privacy.randomizedResponse(df, "cat", "id", cats, pMilli = 750, "s")
      .select("id", "reported").as[(Long, String)].collect().toMap
    val first = noisy.select("id", "reported").as[(Long, String)].collect().toMap
    assert(first == again)
    // reported values stay inside the public domain
    assert(noisy.where(!col("reported").isin(cats: _*)).count() == 0L)
  }

  test("randomizedResponse raises on a category outside the public domain") {
    val df = Seq((1L, "a"), (2L, "zz")).toDF("id", "cat")
    val e = intercept[Exception] {
      Privacy.randomizedResponse(df, "cat", "id", Seq("a", "b"), 500, "s").collect()
    }
    val full = { val sw = new java.io.StringWriter
      e.printStackTrace(new java.io.PrintWriter(sw)); sw.toString }
    assert(full.contains("outside the public domain"), s"wrong failure: ${e.getMessage}")
  }

  test("rrFrequencyEstimate: telescoping sum, debias tracks truth, uninformative p rejected") {
    val cats = Seq("a", "b", "c")
    // skewed truth: a=1000, b=600, c=400
    val df = (0L until 2000L).map { i =>
      (i, if (i < 1000) "a" else if (i < 1600) "b" else "c")
    }.toDF("id", "cat")
    val est = Privacy.rrFrequencyEstimate(df, "cat", "id", cats, 750, "s")
      .as[(String, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    // sum of floors lands in (n - K, n]
    val s = est.values.map(_._2).sum
    assert(s > 2000L - 3 && s <= 2000L, s"estimates sum $s")
    // the debiased estimate tracks the true skew (deterministic draws,
    // so this is a fixed value, not a flaky statistical assertion)
    assert(math.abs(est("a")._2 - 1000L) < 150, s"a: ${est("a")}")
    assert(math.abs(est("b")._2 - 600L) < 150, s"b: ${est("b")}")
    assert(math.abs(est("c")._2 - 400L) < 150, s"c: ${est("c")}")
    // p at the uniform channel (pK = 1000) is uninformative: refuse
    val e = intercept[IllegalArgumentException] {
      Privacy.rrFrequencyEstimate(df, "cat", "id", cats, 333, "s")
    }
    assert(e.getMessage.contains("uninformative"))
    // exact recovery at p=1000
    val exact = Privacy.rrFrequencyEstimate(df, "cat", "id", cats, 1000, "s")
      .as[(String, Long, Long)].collect().map(r => r._1 -> r._3).toMap
    assert(exact == Map("a" -> 1000L, "b" -> 600L, "c" -> 400L))
  }

  test("contributionAudit: hand-checked raw/clipped/dropped and the user census") {
    val out = Privacy.contributionAudit(
        contrib, "user", "typ", Seq(col("ts"), col("id")), cap = 3)
      .select("typ", "n_raw", "n_clipped", "n_dropped", "n_users_clipped")
      .as[(String, Long, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    // raw: a=5, b=5. u1's kept set is (a,a,b): clipped a=5, b=3
    assert(out("a") == (("a", 5L, 5L, 0L, 1L)))
    assert(out("b") == (("b", 5L, 3L, 2L, 1L)))
  }
}
