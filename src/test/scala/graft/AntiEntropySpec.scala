package graft

import org.apache.spark.sql.functions._
import graft.ops.AntiEntropy

class AntiEntropySpec extends SparkSuite {
  import spark.implicits._

  private def table = (1L to 200L).map(i => (i, s"s$i", (i % 7).toString))
    .toDF("id", "name", "grade")

  test("identical replicas produce zero diff rows") {
    val d = AntiEntropy.bucketDigests(table, Seq("id"), Seq("id", "name", "grade"), 16)
    assert(AntiEntropy.diffDigests(d, d).count() == 0L)
  }

  test("planted drift surfaces only in the touched buckets") {
    val corrupt = table.where($"id" =!= 13L)
      .withColumn("grade", when($"id" === 77L, lit("X")).otherwise($"grade"))
    val da = AntiEntropy.bucketDigests(table, Seq("id"), Seq("id", "name", "grade"), 16)
    val db = AntiEntropy.bucketDigests(corrupt, Seq("id"), Seq("id", "name", "grade"), 16)
    val bad = AntiEntropy.diffDigests(da, db)
    val n = bad.count()
    assert(n >= 1L && n <= 2L, s"2 drifted rows touch at most 2 of 16 buckets, got $n")
  }

  test("null and empty-string values digest differently (sentinel injectivity)") {
    val a = Seq((1L, Some(""))).toDF("id", "v")
    val b = Seq((1L, None: Option[String])).toDF("id", "v")
    val da = AntiEntropy.bucketDigests(a, Seq("id"), Seq("id", "v"), 4)
    val db = AntiEntropy.bucketDigests(b, Seq("id"), Seq("id", "v"), 4)
    assert(AntiEntropy.diffDigests(da, db).count() == 1L)
  }

  test("values containing the would-be separator cannot alias across columns") {
    // under a plain separator scheme ('a\u0001b', 'c') and
    // ('a', 'b\u0001c') serialize identically; the length-prefixed
    // canonical form keeps them apart
    val a = Seq((1L, "a\u0001b", "c")).toDF("id", "x", "y")
    val b = Seq((1L, "a", "b\u0001c")).toDF("id", "x", "y")
    val da = AntiEntropy.bucketDigests(a, Seq("id"), Seq("id", "x", "y"), 4)
    val db = AntiEntropy.bucketDigests(b, Seq("id"), Seq("id", "x", "y"), 4)
    assert(AntiEntropy.diffDigests(da, db).count() == 1L)
    // and a string VALUE equal to the old null sentinel differs from NULL
    val c = Seq((1L, Some("\u0002"))).toDF("id", "v")
    val d = Seq((1L, None: Option[String])).toDF("id", "v")
    val dc = AntiEntropy.bucketDigests(c, Seq("id"), Seq("id", "v"), 4)
    val dd = AntiEntropy.bucketDigests(d, Seq("id"), Seq("id", "v"), 4)
    assert(AntiEntropy.diffDigests(dc, dd).count() == 1L)
  }

  test("two-level localization: identical replicas exchange zero fine rows") {
    val out = AntiEntropy.localizeTwoLevel(table, table,
      Seq("id"), Seq("id", "name", "grade"), 4, 8)
    assert(out.count() == 0L)
  }

  test("two-level localization finds exactly the single-level divergent fine buckets") {
    val cols = Seq("id", "name", "grade")
    val corrupt = table.where($"id" =!= 13L)
      .withColumn("grade", when($"id" === 77L, lit("X")).otherwise($"grade"))
    val out = AntiEntropy.localizeTwoLevel(table, corrupt, Seq("id"), cols, 4, 8)
      .select($"fine", $"status").as[(Long, String)].collect().toSet
    // ground truth: a flat diff at the same 32-bucket fine granularity
    val flat = AntiEntropy.diffDigests(
        AntiEntropy.bucketDigests(table, Seq("id"), cols, 32),
        AntiEntropy.bucketDigests(corrupt, Seq("id"), cols, 32))
      .select($"bucket", $"status").as[(Long, String)].collect().toSet
    assert(out == flat, s"two-level $out != flat $flat")
    // 2 drifted rows touch at most 2 fine buckets; statuses are real
    assert(out.size >= 1 && out.size <= 2)
    assert(out.map(_._2).forall(Set("mismatch", "missing_a", "missing_b")))
  }

  test("two-level localization: coarse/fine ids are consistent (coarse = fine div nFine)") {
    val corrupt = table.withColumn("name",
      when($"id" === 5L, lit("CHANGED")).otherwise($"name"))
    val out = AntiEntropy.localizeTwoLevel(table, corrupt,
      Seq("id"), Seq("id", "name"), 4, 8)
      .select($"coarse", $"fine").as[(Long, Long)].collect()
    assert(out.nonEmpty)
    out.foreach { case (c, f) =>
      assert(c == f / 8, s"coarse $c != fine $f div 8")
      assert(c >= 0 && c < 4 && f >= 0 && f < 32)
    }
  }
}
