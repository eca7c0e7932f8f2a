package graft.tools

import graft.LocalSession
import org.apache.spark.sql.GraftInternals

/**
 * Scale-GROWTH guard: measures the flagship composite queries at two
 * scale factors and asserts (a) runtime grows sub-quadratically — the
 * sf0.01 → sf0.1 ratio must stay under `SPARK_GRAFT_SCALE_MAX_RATIO`
 * (default 15× for 10× data; linear is ~10×, quadratic would be ~100×) —
 * and (b) the [[PlanAudit.flagsOf]] red-flag set is IDENTICAL at both
 * scales, because the worst scale bugs are plans that only go bad above
 * the correctness SF (a broadcast that flips to cartesian, a window that
 * loses its partitioning under different stats).
 *
 * This converts the "designed for 100×" claim into a measured trend.
 * Run ad hoc:
 *
 *   SPARK_GRAFT_CPUS=32 sbt "runMain graft.tools.ScaleCheck"
 *
 * Prints one line per query (small/big medians, ratio, flag status) and
 * a final `SCALECHECK failed=N` line; exits nonzero on failure so it can
 * gate a pipeline.
 */
object ScaleCheck {

  /** The compositions that exercise the most machinery end-to-end:
    * multi-pass reconciliation, the full curation pipeline, the
    * leakage-free split (MinHash → components → hash split), the trained
    * IVF-PQ index, substring-span removal, the exact prefix-filter
    * similarity join, content-defined chunk dedup, the winnowed
    * fingerprint pair join, and iterated PageRank over the co-order
    * graph (the edge self-join is the piece most sensitive to basket
    * skew at scale). */
  private val Flagships = Seq(
    "recon_pass_full", "text_curation_e2e", "text_split_leakfree",
    "sim_ivfpq_topk", "dedup_substring_cut",
    "dedup_jaccard_prefix", "dedup_cdc_chunks",
    "dedup_winnow_pairs", "graph_pagerank",
    // round-10 additions: basket self-join (association rules), digest
    // compare (anti-entropy), grid generation (resample), and the
    // token-df strip — the new shapes most worth a growth trend
    "graph_association_rules", "recon_anti_entropy",
    "events_resampled", "text_strip_boilerplate",
    // round-11 additions: data-sized range-frame windows, delta-join
    // maintenance, and iterated frontier expansion
    "events_rolling_window", "recon_incremental_join", "graph_bfs_depth",
    // round-11 fifth-sitting additions: the expanded-bag prefix join
    // (whose unigram shape measured 99.6 s before the 3-gram fix — the
    // composite most worth a growth trend), the endpoint sweep over the
    // ranged running sum, and the grouped greedy traversal
    "dedup_weighted_jaccard", "events_peak_concurrency", "sim_coreset_merge",
    // round-12 additions: the reworked walk chain (adjacency one-exchange
    // build + per-level cuts) composed into skip-gram pair extraction,
    // and the real JDK decode path (per-row encode+decode work whose
    // cost must scale with splits, not with a shuffle)
    "graph_walk_contexts", "mm_real_integrity",
    // round-13 addition: the ingest gate (index write + banded
    // cross-probe + in-batch self-probe) — the admission composite whose
    // bucket caps must hold as the corpus grows
    "dedup_gate_decisions",
    // round-13 third-sitting additions: the Louvain sweep (per-round
    // edge-sized candidate aggregates whose broadcast frames must stay
    // node-sized) and the blocked linkage scorer (pair volume =
    // Σ|A_k|·|B_k| — the blocking-key capacity contract)
    "graph_louvain", "recon_linkage_bands",
    // round-15 additions (VERDICT r14 #5): the full multi-level Louvain
    // hierarchy (contraction-sized convergence gates — the probe must
    // never grow with node space) and the unigram soft-EM step (its
    // lattice DP must stay a vocab-sized fold — the corpus only ever
    // touches wordCounts)
    "graph_louvain_hierarchy", "vocab_unigram_em",
    // round-15 second sitting: the k-truss peel (per-round triangle
    // enumeration over the shrinking subgraph — the cut-mandatory
    // shape whose uncut draft measured 506 s at sf0.01; its growth
    // trend guards against the wedge join going super-linear)
    "graph_ktruss")

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  def main(args: Array[String]): Unit = {
    val smallDir = sys.env.getOrElse("SPARK_GRAFT_SCALE_SMALL", "/root/testdata/sf0.01")
    val bigDir = sys.env.getOrElse("SPARK_GRAFT_SCALE_BIG", "/root/testdata/sf0.1")
    val maxRatio = sys.env.getOrElse("SPARK_GRAFT_SCALE_MAX_RATIO", "15.0").toDouble
    val reps = sys.env.getOrElse("SPARK_GRAFT_SCALE_REPS", "3").toInt.max(1)
    val spark = LocalSession.fromEnv(8)
    spark.sparkContext.setLogLevel("ERROR")
    Warmup.warmJvm(spark)

    val queries = graft.SparkEntry.queries
    // the HEADROOM tier (VERDICT r12 #7) reuses this harness with an
    // explicit query list (the most expensive benches) over
    // sf0.1 → ScaleData's generated sf1 — two measured decades total
    val flagships = sys.env.get("SPARK_GRAFT_SCALE_QUERIES")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(Flagships)
    val unknown = flagships.filterNot(queries.contains)
    require(unknown.isEmpty, s"flagships not in the registry: ${unknown.mkString(", ")}")

    def run(name: String, dir: String): (Double, Seq[String]) = {
      val fn = queries(name)
      // plan flags with AQE off (PlanAudit contract: AdaptiveSparkPlanExec
      // hides its subtree from collect) — in a child session, so the
      // timed runs see the production conf untouched
      val flags = PlanAudit.flagsOf(GraftInternals.ofRows(
        GraftInternals.cloneSession(spark, "spark.sql.adaptive.enabled" -> "false"),
        fn(spark, dir)).queryExecution.executedPlan)
      val times = (0 until reps).map { _ =>
        val t0 = System.nanoTime()
        fn(spark, dir).count()
        val secs = (System.nanoTime() - t0) / 1e9
        spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
        secs
      }
      (median(times), flags)
    }

    var failed = 0
    flagships.foreach { name =>
      val (tS, fS) = run(name, smallDir)
      val (tB, fB) = run(name, bigDir)
      // floor the denominator: a 0.1 s small-SF run is mostly fixed cost
      // (job setup, codegen), and dividing by it reads fixed cost as
      // super-linear growth
      val ratio = tB / math.max(tS, 0.3)
      val flagsMatch = fS == fB
      val ratioOk = ratio <= maxRatio
      if (!flagsMatch || !ratioOk) failed += 1
      val verdict = if (flagsMatch && ratioOk) "ok  " else "FAIL"
      val flagNote =
        if (flagsMatch && fS.isEmpty) "flags=none@both"
        else if (flagsMatch) s"flags=same(${fS.mkString(";")})"
        else s"flags DIVERGE small=[${fS.mkString(";")}] big=[${fB.mkString(";")}]"
      println(f"$verdict $name%-22s small=$tS%6.2fs big=$tB%6.2fs ratio=$ratio%5.2fx (max $maxRatio%.1f) $flagNote")
    }
    println(s"SCALECHECK failed=$failed reps=$reps small=$smallDir big=$bigDir")
    spark.stop()
    if (failed > 0) sys.exit(1)
  }
}
