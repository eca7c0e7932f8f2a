package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.DataFrame
import graft.recon._

class ReconcilerSpec extends SparkSuite {
  import spark.implicits._

  private val conf = ReconConfig(
    keys = Seq(KeyPair("ext_code", "code"), KeyPair("ext_amount", "amount")),
    types = FieldTypes(doubleFields = Set("amount")),
    idField = "_id", externalId = "ext_id", orderField = "ext_row",
    tolerance = Some(ToleranceRule(KeyPair("ext_amount", "amount"), 0.1d)))
  private val recon = new Reconciler(conf)

  private def internal: DataFrame = Seq(
    ("a1", "c1", 10.0, "O", "t1", ""),
    ("a2", "c2", 20.0, "O", "t2", ""),
    ("a3", "c3", 30.0, "O", "t3", ""),
    ("a4", "c4", 40.0, "F", "", "t1")
  ).toDF("_id", "code", "amount", "kind", "ticket", "sale_ticket")

  private def external: DataFrame = Seq(
    ("e1", "c1", 10.0, 1L),  // exact match with a1
    ("e2", "c2", 20.05, 2L), // tolerance match with a2
    ("e3", "cX", 99.0, 3L)   // no match
  ).toDF("ext_id", "ext_code", "ext_amount", "ext_row")

  test("match + internal remanent partitions the internal set") {
    val m = recon.matchRecords(internal, external)
    val r = recon.notMatchInternal(internal, external)
    assert(m.select("_id").as[String].collect().toSet == Set("a1"))
    val ids = m.select("_id").union(r.select("_id")).as[String].collect().toSorted
    assert(ids == internal.select("_id").as[String].collect().toSorted)
  }

  test("anti joins are symmetric complements of the match") {
    val bRem = recon.notMatchExternal(internal, external)
    assert(bRem.select("ext_id").as[String].collect().toSet == Set("e2", "e3"))
  }

  test("tolerance pass matches within band, greedily best-first") {
    val aRem = recon.notMatchInternal(internal, external)
    val bRem = recon.notMatchExternal(internal, external)
    val (tol, aLeft, bLeft) = recon.applyTolerance(aRem, bRem, conf.tolerance.get, col("ext_row"))
    assert(tol.select("_id", "ext_id").as[(String, String)].collect().toSet == Set(("a2", "e2")))
    assert(aLeft.select("_id").as[String].collect().toSet == Set("a3", "a4"))
    assert(bLeft.select("ext_id").as[String].collect().toSet == Set("e3"))
  }

  test("tolerance greedy keeps the smallest diff per internal row") {
    val a = Seq(("a1", "c1", 10.0)).toDF("_id", "code", "amount")
    val b = Seq(
      ("e1", "c1", 10.09, 1L),
      ("e2", "c1", 10.01, 2L) // better candidate, later row
    ).toDF("ext_id", "ext_code", "ext_amount", "ext_row")
    val tol = recon.toleranceMatch(a, b, conf.tolerance.get, col("ext_row"))
    assert(tol.select("ext_id").as[String].collect().toSeq == Seq("e2"))
  }

  test("zero-effect removes SALE/VOID pairs symmetrically") {
    val rule = ZeroEffectRule("kind", "O", "F", Seq("ticket"), Seq("sale_ticket"))
    val (reduced, pairs) = recon.applyZeroEffect(internal, rule, col("_id"))
    assert(pairs.as[(String, String)].collect().toSet == Set(("a1", "a4")))
    assert(reduced.select("_id").as[String].collect().toSet == Set("a2", "a3"))
  }

  test("keepFirstBy honors the explicit order") {
    val df = Seq(("k", 1, "first"), ("k", 2, "mid"), ("k", 3, "last"))
      .toDF("key", "ord", "tag")
    assert(Reconciler.keepFirstBy(df, Seq("key"), Seq(col("ord")))
      .select("tag").as[String].collect().toSeq == Seq("first"))
  }

  test("duplicated keeps only rows whose key repeats") {
    val df = Seq(("k1", 1), ("k1", 2), ("k2", 3)).toDF("key", "v")
    assert(recon.duplicated(df, Seq("key")).select("v").as[Int].collect().toSet == Set(1, 2))
  }

  test("processDuplicates keeps one pairing per id on both sides") {
    val matched = Seq(
      ("a1", "e1", 2L), ("a1", "e2", 1L), // a1 keeps e2 (earlier ext_row)
      ("a2", "e2", 3L)                    // e2 already taken by a1 -> a2 dropped
    ).toDF("_id", "ext_id", "ext_row")
    val out = recon.processDuplicates(matched, col("ext_row"))
    assert(out.select("_id", "ext_id").as[(String, String)].collect().toSet ==
      Set(("a1", "e2")))
  }

  test("reconcilePass displaces duplicate externals into the remanents") {
    // a1 matches THREE externals: first (e1) stays matched, last (e3) is
    // re-added to the external remanents, the middle (e2) drops outright —
    // the reference's keep-first/keep-last _process_duplicates contract
    val a = Seq(("a1", "c1", 10.0)).toDF("_id", "code", "amount")
    val b = Seq(
      ("e1", "c1", 10.0, 1L),
      ("e2", "c1", 10.0, 2L),
      ("e3", "c1", 10.0, 3L),
      ("e9", "cZ", 77.0, 9L)  // plain external remanent
    ).toDF("ext_id", "ext_code", "ext_amount", "ext_row")
    val r = new Reconciler(conf.copy(tolerance = None)).reconcilePass(a, b, col("ext_row"))
    assert(r.matched.select("_id", "ext_id").as[(String, String)].collect().toSet ==
      Set(("a1", "e1")))
    assert(r.externalRemanent.select("ext_id").as[String].collect().toSet ==
      Set("e3", "e9"))
    assert(r.internalRemanent.isEmpty)
  }

  test("applyTolerance enforces one-external-used-once (symmetric dedup)") {
    // a1 and a2 share the reduced key c1; both band-match e1 but a1 wins
    // (smaller diff) — e1 must be consumed exactly once, a2 stays remanent
    val a = Seq(("a1", "c1", 10.0), ("a2", "c1", 10.06)).toDF("_id", "code", "amount")
    val b = Seq(("e1", "c1", 10.01, 1L)).toDF("ext_id", "ext_code", "ext_amount", "ext_row")
    val (tol, aLeft, bLeft) = recon.applyTolerance(a, b, conf.tolerance.get, col("ext_row"))
    assert(tol.select("_id", "ext_id").as[(String, String)].collect().toSet ==
      Set(("a1", "e1")))
    assert(aLeft.select("_id").as[String].collect().toSet == Set("a2"))
    assert(bLeft.isEmpty)
  }

  test("diagonal union fills missing columns with null") {
    val a = Seq(("1", "x")).toDF("id", "only_a")
    val b = Seq(("2", 5)).toDF("id", "only_b")
    val u = recon.diagonalUnion(Seq(a, b))
    assert(u.columns.toSet == Set("id", "only_a", "only_b"))
    assert(u.where(col("only_b").isNull).count() == 1)
  }

  test("iterate accumulates matches across passes") {
    val passes = Seq(conf.copy(tolerance = None), conf)
    val res = recon.iterate(internal, external, col("ext_row"), passes)
    assert(res.matched.select("_id").as[String].collect().toSet == Set("a1", "a2"))
    assert(res.internalRemanent.select("_id").as[String].collect().toSet == Set("a3", "a4"))
  }

  test("iterate rejects an empty pass list") {
    // with no pass there is no matched frame to return: an empty stand-in
    // would carry the internal side's schema, without ext_* or tolerance_diff
    intercept[IllegalArgumentException](
      recon.iterate(internal, external, col("ext_row"), Seq.empty))
  }

  test("empty sides: all operators degrade to empty/identity, no failures") {
    val emptyA = internal.limit(0)
    val emptyB = external.limit(0)
    assert(recon.matchRecords(emptyA, external).isEmpty)
    assert(recon.matchRecords(internal, emptyB).isEmpty)
    assert(recon.notMatchInternal(internal, emptyB).count() == 4) // nothing matches
    assert(recon.notMatchExternal(emptyA, external).count() == 3)
    assert(recon.toleranceMatch(emptyA, emptyB, conf.tolerance.get, col("ext_row")).isEmpty)
    val res = recon.iterate(emptyA, emptyB, col("ext_row"), Seq(conf))
    assert(res.matched.isEmpty && res.internalRemanent.isEmpty && res.externalRemanent.isEmpty)
    assert(Reconciler.keepFirstBy(emptyA, Seq("_id"), Seq(col("amount"))).isEmpty)
    assert(recon.duplicated(emptyA, Seq("_id")).isEmpty)
  }

  test("null join keys never match and land in the remanents (both sides)") {
    val a = Seq(("a1", "c1", 10.0), ("aN", null.asInstanceOf[String], 10.0))
      .toDF("_id", "code", "amount")
    val b = Seq(("e1", "c1", 10.0), ("eN", null.asInstanceOf[String], 10.0), ("eM", "cZ", 7.0))
      .toDF("ext_id", "ext_code", "ext_amount")
    val m = recon.matchRecords(a, b)
    assert(m.select("_id").as[String].collect().toSeq == Seq("a1"))
    // null-keyed rows are remanents — same as Polars/SQL equi-join semantics
    assert(recon.notMatchInternal(a, b).select("_id").as[String].collect().toSet == Set("aN"))
    assert(recon.notMatchExternal(a, b).select("ext_id").as[String].collect().toSet == Set("eN", "eM"))
  }

  implicit class SortedOps(xs: Array[String]) {
    def toSorted: Seq[String] = xs.toSeq.sorted
  }
}
