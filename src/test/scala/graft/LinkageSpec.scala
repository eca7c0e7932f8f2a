package graft

import org.apache.spark.sql.functions._
import graft.ops.Linkage

class LinkageSpec extends SparkSuite {
  import spark.implicits._

  private def pairs() = {
    val a = Seq((1L, "ann", "X", 100L), (2L, "bob", "X", 200L), (3L, "cat", "Y", 300L))
      .toDF("id", "nm", "blk", "v")
    val b = Seq((1L, "ann", "X", 100L), (2L, "rob", "X", 205L),
        (3L, "cat", "Y", 900L), (4L, "dan", "X", 100L))
      .toDF("id", "nm", "blk", "v")
    Linkage.blockPairsAll(a, b, Seq("blk"))
  }

  test("blockPairsAll prefixes everything; blockPairsMulti unions passes and dedups") {
    val a = Seq((1L, "ann", "X", 10L), (2L, "bob", "X", 20L), (3L, "cat", "Y", 30L))
      .toDF("id", "nm", "blk", "band")
    val b = Seq((1L, "ann", "X", 10L), (2L, "bob", "Z", 20L), (3L, "dog", "Y", 99L))
      .toDF("id", "nm", "blk", "band")
    val all = Linkage.blockPairsAll(a, b, Seq("blk", "band"))
    assert(all.columns.sorted.toSeq == Seq("a_band", "a_blk", "a_id", "a_nm",
      "b_band", "b_blk", "b_id", "b_nm"))
    assert(all.select("a_id", "b_id").as[(Long, Long)].collect().toSet ==
      Set((1L, 1L))) // only (1,1) shares (blk, band)
    // multi-pass: (blk, band) finds (1,1); nm finds (1,1) and (2,2);
    // the union dedups (1,1) to one row
    val multi = Linkage.blockPairsMulti(a, b, Seq(Seq("blk", "band"), Seq("nm")), "id", "id")
    val got = multi.select("a_id", "b_id").as[(Long, Long)].collect().toSeq
    assert(got.sorted == Seq((1L, 1L), (2L, 2L)))
    intercept[IllegalArgumentException](Linkage.blockPairsMulti(a, b, Nil, "id", "id"))
    intercept[IllegalArgumentException](
      Linkage.blockPairsMulti(a, b, Seq(Seq("blk"), Nil), "id", "id"))
  }

  test("blockPairsBudgeted: passes under budget with identical pairs, raises on a hub block") {
    val a = (1L to 60L).map(i => (i, "HUB")).toDF("id", "blk")
    val b = (1L to 60L).map(i => (i, "HUB")).toDF("id", "blk")
    // 60·60 = 3600 forecast pairs: under a 4000 budget -> same pairs as unguarded
    val ok = Linkage.blockPairsBudgeted(a, b, Seq("blk"), maxPairs = 4000L)
    assert(ok.count() == 3600L)
    assert(ok.columns.sorted.toSeq == Seq("a_blk", "a_id", "b_blk", "b_id"))
    // over a 1000 budget the plan must REFUSE to run (in-plan raise_error
    // fires while building the probe side, before the join materializes)
    val ex = intercept[Exception](
      Linkage.blockPairsBudgeted(a, b, Seq("blk"), maxPairs = 1000L).count())
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => Option(e.getMessage).toSeq ++ messages(e.getCause))
    assert(messages(ex).exists(_.contains("linkage pair budget exceeded: 3600")),
      s"wrong failure: ${messages(ex).mkString(" | ")}")
    intercept[IllegalArgumentException](
      Linkage.blockPairsBudgeted(a, b, Seq("blk"), maxPairs = 0L))
    // the multi-pass form threads the budget through every pass
    val ex2 = intercept[Exception](Linkage.blockPairsMulti(
      a, b, Seq(Seq("blk")), "id", "id", maxPairs = 1000L).count())
    assert(messages(ex2).exists(_.contains("linkage pair budget exceeded")))
  }

  test("score: per-field milli contributions sum; missing gates to zero") {
    val rules = Seq(
      Linkage.FieldRule("nm", col("a_nm") === col("b_nm"), None, 2000L, -500L),
      Linkage.FieldRule("v", abs(col("a_v") - col("b_v")) <= 10L,
        Some(col("b_v").isNull), 1000L, -300L))
    val s = Linkage.score(pairs(), rules)
      .select(col("a_id"), col("b_id"), col("w_nm_milli"), col("w_v_milli"),
        col("score_milli"))
      .as[(Long, Long, Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> (r._3, r._4, r._5)).toMap
    assert(s((1L, 1L)) == ((2000L, 1000L, 3000L)))   // both agree
    assert(s((2L, 2L)) == ((-500L, 1000L, 500L)))    // name typo, value within band
    assert(s((3L, 3L)) == ((2000L, -300L, 1700L)))   // value drifted
    assert(s((1L, 4L)) == ((-500L, 1000L, 500L)))    // cross pair: equal values
    intercept[IllegalArgumentException](Linkage.score(pairs(), Nil))
  }

  test("score: a NULL comparison field lands in the disagreement branch, not NULL score") {
    val rules = Seq(Linkage.FieldRule("v", col("a_v") === col("b_v"),
      Some(col("b_v").isNull), 1000L, -300L))
    val p = Seq((1L, Some(5L)), (2L, None)).toDF("a_id", "b_v")
      .withColumn("a_v", lit(5L))
    val s = Linkage.score(p, rules)
      .select(col("a_id"), col("score_milli")).as[(Long, Long)].collect().toMap
    assert(s(1L) == 1000L && s(2L) == 0L)
  }

  test("estimateWeights: m/u rates in milli, missing fields out of both denominators") {
    val rules = Seq(
      Linkage.FieldRule("nm", col("a_nm") === col("b_nm"), None, 2000L, -500L),
      Linkage.FieldRule("v", abs(col("a_v") - col("b_v")) <= 10L,
        Some(col("b_v").isNull), 1000L, -300L))
    // pairs: (true, name-agree, v present, v-agree)
    val p = Seq(
      (1L, 1L, "x", "x", Some(5L), Some(5L)),   // true: nm agree, v agree
      (2L, 2L, "y", "z", Some(5L), Some(50L)),  // true: nm disagree, v disagree
      (3L, 3L, "w", "w", Some(5L), None),       // true: nm agree, v MISSING
      (1L, 2L, "x", "z", Some(5L), Some(8L)),   // false: v agree
      (2L, 3L, "y", "w", Some(5L), None)        // false: v MISSING
    ).toDF("a_id", "b_id", "a_nm", "b_nm", "a_vo", "b_v")
      .withColumn("a_v", col("a_vo"))
    val got = Linkage.estimateWeights(p, col("a_id") === col("b_id"), rules)
      .as[(String, Long, Long, Option[Long], Option[Long])].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    // nm: 3 true (2 agree -> 666), 2 false (0 agree -> 0)
    assert(got("nm") == ((3L, 2L, Some(666L), Some(0L))))
    // v: denominators exclude missing: 2 true (1 agree -> 500), 1 false (1 agree -> 1000)
    assert(got("v") == ((2L, 1L, Some(500L), Some(1000L))))
    // empty class -> NULL rate, not a division error
    val onlyTrue = p.where(col("a_id") === col("b_id"))
    val gt = Linkage.estimateWeights(onlyTrue, col("a_id") === col("b_id"), rules)
      .as[(String, Long, Long, Option[Long], Option[Long])].collect()
      .map(r => r._1 -> r._5).toMap
    assert(gt("nm").isEmpty && gt("v").isEmpty)
    intercept[IllegalArgumentException](
      Linkage.estimateWeights(p, col("a_id") === col("b_id"), Nil))
  }

  test("emStep: hand-computed responsibilities and M-step; missing pairs neutral") {
    // one field, m0=800, u0=100, prior 500:
    //  A (agree):    w = 1000·(500·800) div (500·800 + 500·100) = 888
    //  B (disagree): w = 1000·(500·200) div (500·200 + 500·900) = 181
    //  C (missing):  excluded from the M-step sums entirely
    // M-step: m' = 1000·888 div (888+181) = 830; u' = 1000·112 div (112+819) = 120
    val rules = Seq(Linkage.FieldRule("nm", col("a_nm") === col("b_nm"),
      Some(col("b_nm").isNull), 0L, 0L))
    val p = Seq(
      ("x", Some("x")), ("y", Some("z")), ("w", None)
    ).toDF("a_nm", "b_nm")
    val got = Linkage.emStep(p, rules, Seq(("nm", 800L, 100L)), pMilli = 500L)
      .as[(String, Long, Long, Option[Long], Option[Long])].collect()
    assert(got.toSeq == Seq(("nm", 800L, 100L, Some(830L), Some(120L))))
    // a missing field is NEUTRAL in the E-step: with a second all-missing
    // field the responsibilities (and hence m'/u' of the first) are identical
    val rules2 = rules :+ Linkage.FieldRule("v", col("a_v") === col("b_v"),
      Some(col("b_v").isNull), 0L, 0L)
    val p2 = p.withColumn("a_v", lit(1L)).withColumn("b_v", lit(null).cast("long"))
    val got2 = Linkage.emStep(p2, rules2,
        Seq(("nm", 800L, 100L), ("v", 900L, 50L)), pMilli = 500L)
      .as[(String, Long, Long, Option[Long], Option[Long])].collect()
      .map(r => r._1 -> ((r._4, r._5))).toMap
    assert(got2("nm") == ((Some(830L), Some(120L))))
    assert(got2("v") == ((None, None))) // never present -> NULL next estimates
    // guards
    intercept[IllegalArgumentException](Linkage.emStep(p, Nil, Nil, 500L))
    intercept[IllegalArgumentException](
      Linkage.emStep(p, rules, Seq(("nm", 0L, 100L)), 500L))
    intercept[IllegalArgumentException](
      Linkage.emStep(p, rules, Seq(("nm", 800L, 100L)), 1000L))
    intercept[IllegalArgumentException](
      Linkage.emStep(p, rules, Seq(("other", 800L, 100L)), 500L))
    // 5 fields overflow the Long responsibility numerator (1000·p·Πlm can
    // reach 10²¹) — the cap must reject them loudly, not wrap silently
    val rules5 = (1 to 5).map(i =>
      Linkage.FieldRule(s"f$i", col("a_nm") === col("b_nm"), None, 0L, 0L))
    intercept[IllegalArgumentException](Linkage.emStep(p, rules5,
      (1 to 5).map(i => (s"f$i", 999L, 999L)), 500L))
  }

  test("emStepDecimal: 6-field fit matches a BigInteger model; ≤4 fields ≡ emStep") {
    import java.math.BigInteger
    // 6 boolean fields over 5 pairs — the envelope the Long path's
    // hard cap refuses (1000·p·Π lm reaches 10²² here). The oracle is a
    // driver-side BigInteger replay of the exact same floor divisions.
    val nF = 6
    val agreeMat: Seq[Seq[Boolean]] = Seq(
      Seq(true, true, true, false, true, true),
      Seq(false, false, true, false, false, true),
      Seq(true, false, false, true, true, false),
      Seq(false, false, false, false, false, false),
      Seq(true, true, true, true, true, true))
    val cols = (1 to nF).flatMap(i => Seq(s"a_f$i", s"b_f$i"))
    val rows = agreeMat.map(r =>
      org.apache.spark.sql.Row.fromSeq(r.flatMap(a =>
        Seq(1L, if (a) 1L else 2L))))
    val schema = org.apache.spark.sql.types.StructType(cols.map(c =>
      org.apache.spark.sql.types.StructField(c,
        org.apache.spark.sql.types.LongType, nullable = false)))
    val p = spark.createDataFrame(
      spark.sparkContext.parallelize(rows), schema)
    val rules = (1 to nF).map(i =>
      Linkage.FieldRule(s"f$i", col(s"a_f$i") === col(s"b_f$i"), None, 0L, 0L))
    val init = (1 to nF).map(i => (s"f$i", (700 + 40 * i).toLong, (50 + 10 * i).toLong))
    val pMilli = 300L
    val got = Linkage.emStepDecimal(p, rules, init, pMilli)
      .as[(String, Long, Long, Option[Long], Option[Long])].collect()
      .map(r => r._1 -> ((r._4.get, r._5.get))).toMap
    // BigInteger replay
    val Th = BigInteger.valueOf(1000L)
    val ws = agreeMat.map { r =>
      var num = BigInteger.valueOf(pMilli)
      var den2 = BigInteger.valueOf(1000L - pMilli)
      for (i <- 0 until nF) {
        val (_, m0, u0) = init(i)
        num = num.multiply(BigInteger.valueOf(if (r(i)) m0 else 1000L - m0))
        den2 = den2.multiply(BigInteger.valueOf(if (r(i)) u0 else 1000L - u0))
      }
      Th.multiply(num).divide(num.add(den2))
    }
    val want = (0 until nF).map { i =>
      var sw = BigInteger.ZERO; var swu = BigInteger.ZERO
      var swa = BigInteger.ZERO; var swua = BigInteger.ZERO
      agreeMat.zip(ws).foreach { case (r, w) =>
        val wu = Th.subtract(w)
        sw = sw.add(w); swu = swu.add(wu)
        if (r(i)) { swa = swa.add(w); swua = swua.add(wu) }
      }
      s"f${i + 1}" -> ((Th.multiply(swa).divide(sw).longValueExact(),
        Th.multiply(swua).divide(swu).longValueExact()))
    }.toMap
    assert(got == want, s"got $got want $want")
    // ≤ 4 fields: decimal path bit-identical to the Long path
    val rules1 = Seq(Linkage.FieldRule("nm", col("a_nm") === col("b_nm"),
      Some(col("b_nm").isNull), 0L, 0L))
    val p1 = Seq(("x", Some("x")), ("y", Some("z")), ("w", None))
      .toDF("a_nm", "b_nm")
    val longPath = Linkage.emStep(p1, rules1, Seq(("nm", 800L, 100L)), 500L)
      .as[(String, Long, Long, Option[Long], Option[Long])].collect().toSeq
    val decPath = Linkage.emStepDecimal(p1, rules1, Seq(("nm", 800L, 100L)), 500L)
      .as[(String, Long, Long, Option[Long], Option[Long])].collect().toSeq
    assert(longPath == decPath)
    // 11 fields exceed even the decimal headroom contract
    val rules11 = (1 to 11).map(i =>
      Linkage.FieldRule(s"f$i", col("a_nm") === col("b_nm"), None, 0L, 0L))
    intercept[IllegalArgumentException](Linkage.emStepDecimal(p1, rules11,
      (1 to 11).map(i => (s"f$i", 500L, 500L)), 500L))
  }

  test("band: descending thresholds, floor label below every band") {
    val df = Seq(5200L, 3000L, 2999L, 1000L, -100L).toDF("s")
      .withColumn("band", Linkage.band(col("s"),
        Seq("match" -> 3000L, "possible" -> 1000L), "nonmatch"))
    val got = df.select("s", "band").as[(Long, String)].collect().toMap
    assert(got(5200L) == "match" && got(3000L) == "match")
    assert(got(2999L) == "possible" && got(1000L) == "possible")
    assert(got(-100L) == "nonmatch")
    intercept[IllegalArgumentException](
      Linkage.band(col("s"), Seq("a" -> 1000L, "b" -> 2000L), "c"))
    intercept[IllegalArgumentException](Linkage.band(col("s"), Nil, "c"))
  }
}
