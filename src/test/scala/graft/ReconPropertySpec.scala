package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.recon._

/** Property tests over randomized reconciliation inputs (SURVEY §5): the
  * algebraic invariants that must hold for ANY input, not just curated
  * fixtures. Uses ScalaCheck generators with fixed seeds (deterministic,
  * no scalatestplus bridge needed offline). */
class ReconPropertySpec extends SparkSuite {
  import spark.implicits._

  private val conf = ReconConfig(
    keys = Seq(KeyPair("ext_code", "code"), KeyPair("ext_amount", "amount")),
    types = FieldTypes(doubleFields = Set("amount")),
    tolerance = Some(ToleranceRule(KeyPair("ext_amount", "amount"), 0.5d)))
  private val recon = new Reconciler(conf)

  private def forSeeds[T](gen: Gen[T], n: Int)(f: T => Unit): Unit =
    (1 to n).foreach { i =>
      f(gen(Gen.Parameters.default, Seed(i.toLong))
        .getOrElse(fail(s"generator failed for seed $i")))
    }

  private val genRows: Gen[List[(String, Double)]] = Gen.listOfN(40,
    for {
      code <- Gen.oneOf("c1", "c2", "c3", "c4", "c5", "c6")
      amt <- Gen.chooseNum(1, 40).map(_ * 0.5)
    } yield (code, amt))

  private val genPair = Gen.zip(genRows, genRows)

  test("property: match ∪ internal-remanent partitions the internal set") {
    forSeeds(genPair, 5) { case (aRows, bRows) =>
      val a = aRows.zipWithIndex.map { case ((c, m), i) => (s"a$i", c, m) }
        .toDF("_id", "code", "amount")
      val b = bRows.zipWithIndex.map { case ((c, m), i) => (s"e$i", c, m, i.toLong) }
        .toDF("ext_id", "ext_code", "ext_amount", "ext_row")
      val matchedIds = recon.matchRecords(a, b).select("_id").distinct()
      val remanentIds = recon.notMatchInternal(a, b).select("_id")
      assert(matchedIds.join(remanentIds, Seq("_id"), "inner").count() == 0)
      assert(matchedIds.count() + remanentIds.count() == a.select("_id").distinct().count())
    }
  }

  test("property: tolerance matches at most one external per internal, within band") {
    forSeeds(genPair, 5) { case (aRows, bRows) =>
      val a = aRows.zipWithIndex.map { case ((c, m), i) => (s"a$i", c, m) }
        .toDF("_id", "code", "amount")
      val b = bRows.zipWithIndex.map { case ((c, m), i) => (s"e$i", c, m, i.toLong) }
        .toDF("ext_id", "ext_code", "ext_amount", "ext_row")
      val aRem = recon.notMatchInternal(a, b)
      val bRem = recon.notMatchExternal(a, b)
      val tol = recon.toleranceMatch(aRem, bRem, conf.tolerance.get, col("ext_row"))
      val maxPer = tol.groupBy("_id").count().agg(max("count")).as[Long].collect().headOption
      assert(maxPer.forall(m => m == null || m <= 1))
      assert(tol.where(col("tolerance_diff") > conf.tolerance.get.tolerance).count() == 0)
    }
  }

  test("property: keepFirstBy emits exactly one row per key, and it is the minimum") {
    val gen = Gen.listOfN(60, Gen.zip(Gen.oneOf("k1", "k2", "k3"), Gen.chooseNum(0, 1000)))
    forSeeds(gen, 5) { rows =>
      val df = rows.zipWithIndex.map { case ((k, v), i) => (k, v, i) }.toDF("key", "v", "uniq")
      val out = Reconciler.keepFirstBy(df, Seq("key"), Seq(col("v"), col("uniq")))
      val got = out.select("key", "v").as[(String, Int)].collect().toMap
      val want = rows.groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).min }
      assert(got == want)
    }
  }

  test("property: reconcilePass displacement invariants hold for any dup multiplicity") {
    forSeeds(genPair, 5) { case (aRows, bRows) =>
      val a = aRows.zipWithIndex.map { case ((c, m), i) => (s"a$i", c, m) }
        .toDF("_id", "code", "amount")
      val b2 = bRows.zipWithIndex.map { case ((c, m), i) => (s"e$i", c, m, i.toLong) }
        .toDF("ext_id", "ext_code", "ext_amount", "ext_row")
      val r = new Reconciler(conf.copy(tolerance = None)).reconcilePass(a, b2, col("ext_row"))
      // one pairing per matched internal id
      assert(r.matched.groupBy("_id").count().where(col("count") > 1).count() == 0)
      // matched ∪ internal-remanent partitions the internal ids
      val mIds = r.matched.select("_id")
      assert(mIds.join(r.internalRemanent.select("_id"), Seq("_id")).count() == 0)
      assert(mIds.count() + r.internalRemanent.count() == a.count())
      // every external is matched, a remanent, or a dropped middle pairing —
      // and the remanent side never contains a KEPT external
      assert(r.externalRemanent.select("ext_id")
        .join(r.matched.select("ext_id"), Seq("ext_id")).count() == 0)
    }
  }

  test("property: upsert covers the id union exactly once, both modes") {
    val gen = Gen.zip(Gen.listOfN(20, Gen.chooseNum(0, 15)), Gen.listOfN(20, Gen.chooseNum(0, 15)))
    forSeeds(gen, 5) { case (exIds, inIds) =>
      val existing = exIds.distinct.map(i => (s"k$i", "old")).toDF("_id", "v")
      val incoming = inIds.distinct.map(i => (s"k$i", "new")).toDF("_id", "v")
      for (overwrite <- Seq(true, false)) {
        val out = Sinks.upsert(existing, incoming, "_id", overwrite)
        assert(out.count() == (exIds ++ inIds).distinct.size)
        assert(out.groupBy("_id").count().where(col("count") > 1).count() == 0)
      }
    }
  }

  test("property: connectedComponents matches union-find on random graphs") {
    val genEdges = Gen.listOfN(60,
      Gen.zip(Gen.chooseNum(0L, 49L), Gen.chooseNum(0L, 49L))).map(_.filter(e => e._1 != e._2))
    forSeeds(genEdges, 4) { edges =>
      // reference: plain union-find with min-root canonicalization
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val want = parent.keys.map(n => n -> find(n)).toMap
      if (edges.nonEmpty) {
        val got = graft.ops.Dedup.connectedComponents(
          edges.toDF("doc1", "doc2")).as[(Long, Long)].collect().toMap
        assert(got == want)
      }
    }
  }

  test("property: asOf join equals the brute-force point-in-time lookup") {
    val genEvents = Gen.listOfN(40, Gen.zip(Gen.chooseNum(1L, 5L), Gen.chooseNum(0L, 100L)))
    forSeeds(Gen.zip(genEvents, genEvents), 4) { case (lRows, rRows) =>
      val left = lRows.zipWithIndex.map { case ((u, t), i) => (i.toLong, t, u) }
        .toDF("lid", "lms", "user_id")
      val right = rRows.zipWithIndex.map { case ((u, t), i) =>
        (1000L + i, t, u, i * 1.5) }.toDF("rid", "rms", "user_id", "value")
      val got = graft.ops.AsOfJoin.asOf(left, right, Seq("user_id"), "lms", "rms",
        valueCols = Seq("value"), tiebreak = col("rid"))
        .select("lid", "asof_value").as[(Long, Option[Double])].collect().toMap
      val rByUser = rRows.zipWithIndex.map { case ((u, t), i) => (u, t, 1000L + i, i * 1.5) }
        .groupBy(_._1)
      val want = lRows.zipWithIndex.map { case ((u, t), i) =>
        val best = rByUser.getOrElse(u, Nil).filter(_._2 <= t)
          .sortBy(r => (r._2, r._3)).lastOption // latest ts, then max tiebreak
        i.toLong -> best.map(_._4)
      }.toMap
      assert(got == want)
    }
  }

  test("property: zero-effect cancels sales and voids pairwise, ids unique") {
    val gen = Gen.listOfN(30, Gen.zip(Gen.oneOf("S", "V"), Gen.oneOf("t1", "t2", "t3", "t4")))
    forSeeds(gen, 5) { rows =>
      val df = rows.zipWithIndex.map { case ((kind, t), i) => (s"r$i", kind, t, t, i.toLong) }
        .toDF("_id", "kind", "ticket", "sale_ticket", "ord")
      val rule = ZeroEffectRule("kind", "S", "V", Seq("ticket"), Seq("sale_ticket"))
      val (reduced, pairs) = recon.applyZeroEffect(df, rule, col("ord"))
      val nPairs = pairs.count()
      assert(reduced.count() == df.count() - 2 * nPairs)
      val ids = pairs.select("sale_id").as[String].collect() ++
        pairs.select("void_id").as[String].collect()
      assert(ids.distinct.length == ids.length)
    }
  }
}
