package graft

import org.apache.spark.sql.functions._
import graft.ops.{Drift, Sketches}

class DriftSpec extends SparkSuite {
  import spark.implicits._

  test("profile: exact null rates; sketch distinct matches the direct sketch") {
    val df = Seq(
      (1L, Some("a")), (2L, Some("b")), (3L, None), (4L, Some("a"))
    ).toDF("id", "s")
    val p = Drift.profile(df, Seq("id", "s"))
      .select("col_name", "n_rows", "n_null", "null_milli", "s_scaled")
      .as[(String, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    assert(p("id")._1 == 4L && p("id")._2 == 0L && p("id")._3 == 0L)
    assert(p("s")._1 == 4L && p("s")._2 == 1L && p("s")._3 == 250L)
    // the sketch ran over stringified values — same registers as a
    // direct single-column sketch
    val direct = Sketches.hllEstimate(
      df.where($"s".isNotNull).select(lit("s").as("g"), $"s".cast("string").as("v")),
      "g", col("v")).select("s_scaled").as[Long].head()
    assert(p("s")._4 == direct)
  }

  test("profile: an entirely-null column reports distinct 0, not a missing row") {
    val df = Seq((1L, None: Option[String]), (2L, None)).toDF("id", "s")
    val p = Drift.profile(df, Seq("s"))
      .select("null_milli", "s_scaled", "raw_estimate")
      .as[(Long, Long, Double)].head()
    assert(p == ((1000L, 0L, 0.0)))
  }

  test("embeddingAudit flags null / wrong-dim / non-finite / zero-norm vectors") {
    val rows = Seq(
      ("a", Some(Array(1.0f, 2.0f))),
      ("a", None),
      ("a", Some(Array(1.0f))),                         // wrong dim
      ("a", Some(Array(Float.NaN, 1.0f))),              // NaN
      ("a", Some(Array(Float.PositiveInfinity, 0.0f))), // Inf
      ("a", Some(Array(0.0f, 0.0f)))                    // zero norm
    ).toDF("g", "emb")
    val r = graft.ops.Drift.embeddingAudit(rows, "g", "emb", expectedDim = 2)
      .as[(String, Long, Long, Long, Long, Long)].head()
    assert(r == (("a", 6L, 1L, 1L, 2L, 1L)))
  }

  test("histDrift: identical snapshots have zero deltas; shifts move mass between bins") {
    val before = (0 until 100).map(i => ("a", i.toLong)).toDF("g", "v")
    val same = Drift.histDrift(before, before, "g", "v", nBins = 10)
    assert(same.where(col("delta_milli") =!= 0L).count() == 0L)

    // after: everything shifted up by 30 — bins 0-2 empty, clamp bulge at 9
    val after = (0 until 100).map(i => ("a", i.toLong + 30L)).toDF("g", "v")
    val d = Drift.histDrift(before, after, "g", "v", nBins = 10)
      .select("bin", "n_before", "n_after")
      .as[(Long, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(d(0L) == ((10L, 0L)) && d(2L) == ((10L, 0L)))
    // bins 9 catches its own 10 plus the 30 clamped overflow values
    assert(d(9L) == ((10L, 40L)))
  }

  test("histDrift: after-only bins appear with zero before-count (full outer)") {
    // before occupies bins 0..4 of its own range; after all-clamped to bin 9
    val before = (0 until 50).map(i => ("a", i.toLong)).toDF("g", "v")
    val after = Seq(("a", 1000L)).toDF("g", "v")
    val d = Drift.histDrift(before, after, "g", "v", nBins = 10)
      .where(col("bin") === 9L).select("n_before", "n_after")
      .as[(Long, Long)].head()
    assert(d._2 == 1L)
  }

  test("histDrift: added and removed strata surface with status") {
    val before = ((0 until 40).map(i => ("keep", i.toLong)) ++
      (0 until 10).map(i => ("gone", i.toLong))).toDF("g", "v")
    val after = ((0 until 40).map(i => ("keep", i.toLong)) ++
      (0 until 10).map(i => ("new", i.toLong * 7L))).toDF("g", "v")
    val d = Drift.histDrift(before, after, "g", "v", nBins = 10)
    val st = d.select("g", "status").distinct()
      .as[(String, String)].collect().toMap
    assert(st == Map("keep" -> "common", "gone" -> "removed", "new" -> "added"))
    // the vanished stratum's proportions coalesce to 0, never null
    val goneRows = d.where(col("g") === "gone")
      .select("n_after", "p_after_milli", "delta_milli")
      .as[(Long, Long, Long)].collect()
    assert(goneRows.nonEmpty && goneRows.forall(r => r._1 == 0L && r._2 == 0L))
    // the appeared stratum is binned against its OWN bounds: 10 distinct
    // values spread across bins, each with zero before-count
    val newRows = d.where(col("g") === "new")
      .select("n_before", "n_after").as[(Long, Long)].collect()
    assert(newRows.forall(_._1 == 0L) && newRows.map(_._2).sum == 10L)
  }

  test("ksMilli: a uniform shift scores the sharpest CDF gap; added/removed cap at 1000") {
    val before = (0 until 100).map(i => ("a", i.toLong)).toDF("g", "v")
    // +30 shift: 30% of the mass moves; KS sees the full 30-percentile
    // CDF gap at the crossing point
    val after = (0 until 100).map(i => ("a", i.toLong + 30L)).toDF("g", "v")
    val d = Drift.histDrift(before, after, "g", "v", nBins = 10)
    val ks = Drift.ksMilli(d, "g").select("ks_milli").as[Long].head()
    assert(ks == 300L, s"30-value shift over 100 values: KS = 300 milli, got $ks")
    // identical snapshots: 0
    val same = Drift.ksMilli(Drift.histDrift(before, before, "g", "v", 10), "g")
      .select("ks_milli").as[Long].head()
    assert(same == 0L)
    // vanished stratum: 1000, never null
    val gone = before.where(lit(false))
    val k2 = Drift.ksMilli(Drift.histDrift(before, gone.unionByName(
      Seq(("b", 1L)).toDF("g", "v")), "g", "v", 10), "g")
      .as[(String, Long)].collect().toMap
    assert(k2("a") == 1000L && k2("b") == 1000L)
  }

  test("benfordAudit: exact shares, absent digits emit, sub-1 values excluded") {
    // stratum "b": 30 ones, 17 twos, 12 threes (59 values) roughly
    // Benford-ish; stratum "s": all 9s — maximal miss
    val rows = (Seq.fill(30)(("b", 1.5)) ++ Seq.fill(17)(("b", 25.0)) ++
      Seq.fill(12)(("b", 300.0)) ++ Seq.fill(5)(("s", 9.0)) ++
      Seq(("b", 0.5))).toDF("g", "v") // 0.5 < 1: excluded
    val out = Drift.benfordAudit(rows, "g", "v")
      .select("g", "digit", "n", "p_milli", "delta_milli")
      .as[(String, Long, Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4, r._5))).toMap
    assert(out.size == 18) // 2 strata x 9 digits, absent digits included
    assert(out(("b", 1L)) == ((30L, 30L * 1000 / 59, 30L * 1000 / 59 - 301L)))
    assert(out(("b", 9L)) == ((0L, 0L, -46L)))
    assert(out(("s", 9L)) == ((5L, 1000L, 1000L - 46L)))
    assert(out(("s", 1L)) == ((0L, 0L, -301L)))
  }

  test("mean-embedding cosine from exact scaled sums: identical halves give exactly 1.0") {
    import org.apache.spark.sql.types.DecimalType
    // the quality_embedding_drift construction on a fixture: label 7's
    // halves are identical vector multisets -> cos EXACTLY 1.0 (integer
    // sums equal, num² = na2·nb2); label 8's halves are orthogonal -> 0
    val rows = Seq(
      (0L, 7, Array(0.25f, 0.5f)), (1L, 7, Array(0.25f, 0.5f)),
      (2L, 7, Array(0.125f, 1.0f)), (3L, 7, Array(0.125f, 1.0f)),
      (4L, 8, Array(1.0f, 0.0f)), (5L, 8, Array(0.0f, 1.0f))
    ).toDF("vec_id", "label", "embedding")
    val scaled = rows.select(col("label"), (col("vec_id") % 2).as("half"),
        posexplode(col("embedding")).as(Seq("dim", "x")))
      .select(col("label"), col("half"), col("dim"),
        floor(col("x").cast("double") * 1000000d).cast(DecimalType(38, 0)).as("q"))
    val sums = scaled.groupBy(col("label"), col("half"), col("dim"))
      .agg(sum(col("q")).as("sq"))
    val a = sums.where(col("half") === 0).select(col("label"), col("dim"), col("sq").as("sa"))
    val b = sums.where(col("half") === 1).select(col("label"), col("dim"), col("sq").as("sb"))
    val cos = a.join(b, Seq("label", "dim")).groupBy(col("label"))
      .agg((sum(col("sa") * col("sb")).cast("double") /
        (sqrt(sum(col("sa") * col("sa")).cast("double")) *
          sqrt(sum(col("sb") * col("sb")).cast("double")))).as("c"))
      .as[(Int, Double)].collect().toMap
    // num = na2 = nb2, but sqrt(x)·sqrt(x) can sit one ulp off x — the
    // ratio is 1.0 within an ulp, not bit-exactly 1.0
    assert(math.abs(cos(7) - 1.0d) < 1e-16 * 8, s"identical halves: got ${cos(7)}")
    assert(cos(8) == 0.0d, s"orthogonal halves must be exactly 0.0, got ${cos(8)}")
  }

  test("drift: added/removed/common statuses and exact null-rate deltas") {
    val before = Seq((1L, Some("x"), "k"), (2L, None: Option[String], "k"))
      .toDF("id", "s", "gone")
    val after = Seq((1L, None: Option[String], 7L), (2L, None, 8L))
      .toDF("id", "s", "fresh")
    val d = Drift.drift(
        Drift.profile(before, Seq("id", "s", "gone")),
        Drift.profile(after, Seq("id", "s", "fresh")))
      .select("col_name", "status", "null_milli_delta")
      .as[(String, String, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(d("id") == (("common", 0L)))
    assert(d("s") == (("common", 500L))) // 500 -> 1000
    assert(d("gone")._1 == "removed")
    assert(d("fresh")._1 == "added")
  }
}
