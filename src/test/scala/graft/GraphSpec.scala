package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, lit, posexplode}
import graft.ops.Graph

class GraphSpec extends SparkSuite {
  import spark.implicits._

  test("coOccurrenceEdges: symmetric, distinct, no self-loops") {
    val baskets = Seq(
      (1L, 10L), (1L, 20L), (1L, 30L),
      (2L, 10L), (2L, 20L), (2L, 20L) // duplicate line collapses
    ).toDF("basket", "item")
    val e = Graph.coOccurrenceEdges(baskets, "basket", "item")
      .as[(Long, Long)].collect().toSet
    assert(e == Set((10L, 20L), (20L, 10L), (10L, 30L), (30L, 10L),
      (20L, 30L), (30L, 20L)))
  }

  test("pageRank on a symmetric pair is the stationary fixed point") {
    // two nodes, one symmetric edge: each sends its whole rank across;
    // 150000 + (850·1000000) div 1000 = 1000000 — exact fixed point
    val e = Seq((1L, 2L), (2L, 1L)).toDF("src", "dst")
    val r = Graph.pageRank(e, iters = 3).as[(Long, Long)].collect().toMap
    assert(r == Map(1L -> 1000000L, 2L -> 1000000L))
  }

  test("pageRank star graph matches the hand-computed integer sequence") {
    // center 0 <-> leaves 1,2. Hand-run with div/floor at every step:
    // r1: c=1850000, leaves=575000; r2: c=1127500, leaves=936250;
    // r3: c=1741625, leaves=629187
    val e = Seq((0L, 1L), (1L, 0L), (0L, 2L), (2L, 0L)).toDF("src", "dst")
    val r = Graph.pageRank(e, iters = 3).as[(Long, Long)].collect().toMap
    assert(r == Map(0L -> 1741625L, 1L -> 629187L, 2L -> 629187L))
    val r2 = Graph.pageRank(e, iters = 2).as[(Long, Long)].collect().toMap
    assert(r2 == Map(0L -> 1127500L, 1L -> 936250L, 2L -> 936250L))
  }

  test("personalizedPageRank: mass restarts at the seed; far nodes decay; unreachable stay 0") {
    // directed path 1 -> 2 -> 3 plus back-edges so every node is a
    // source, and an isolated pair 8 <-> 9 unreachable from the seed
    val e = Seq((1L, 2L), (2L, 3L), (3L, 1L), (2L, 1L), (8L, 9L), (9L, 8L))
      .toDF("src", "dst")
    val seeds = Seq(1L).toDF("node")
    val r = Graph.personalizedPageRank(e, seeds, iters = 3)
      .as[(Long, Long)].collect().toMap
    // the unreachable island gets exactly 0 — its true PPR is 0
    assert(r(8L) == 0L && r(9L) == 0L)
    // the seed dominates, and mass decays along the path
    assert(r(1L) > r(2L) && r(2L) > r(3L), s"expected 1 > 2 > 3, got $r")
    // only the seed receives teleport: node 3 holds ONLY damped inflow
    assert(r(3L) > 0L)
  }

  test("pageRank is personalizedPageRank seeded with every source node") {
    val star = Seq((0L, 1L), (1L, 0L), (0L, 2L), (2L, 0L)).toDF("src", "dst")
    val path = Seq((1L, 2L), (2L, 3L), (3L, 1L), (2L, 1L), (8L, 9L), (9L, 8L))
      .toDF("src", "dst")
    for (e <- Seq(star, path); iters <- 1 to 3) {
      val all = e.select(col("src").as("node")).distinct()
      val pr = Graph.pageRank(e, iters).as[(Long, Long)].collect().toMap
      val ppr = Graph.personalizedPageRank(e, all, iters).as[(Long, Long)].collect().toMap
      assert(pr == ppr, s"iters=$iters")
    }
  }

  test("personalizedPageRank fails loudly when no seed is in the graph") {
    val e = Seq((1L, 2L), (2L, 1L)).toDF("src", "dst")
    val ex = intercept[Exception] {
      Graph.personalizedPageRank(e, Seq(99L).toDF("node"), iters = 1).collect()
    }
    assert(ex.getMessage.contains("no seed"))
  }

  test("kCore: hub-and-spoke collapses, the clique survives with in-core degrees") {
    // K4 clique (every node degree 3) + a hub attached to the clique
    // and to 5 one-off spokes: at k=3 the spokes peel (degree 1), then
    // the hub peels (its remaining degree is 1), leaving exactly K4
    val clique = for (u <- 0L to 3L; v <- 0L to 3L if u != v) yield (u, v)
    val hub = (10L to 14L).flatMap(sp => Seq((99L, sp), (sp, 99L))) ++
      Seq((99L, 0L), (0L, 99L))
    val e = (clique ++ hub).toDF("src", "dst")
    val core = Graph.kCore(e, k = 3, rounds = 3)
      .as[(Long, Long)].collect().toMap
    assert(core == Map(0L -> 3L, 1L -> 3L, 2L -> 3L, 3L -> 3L),
      s"expected the K4 clique only, got $core")
    // one round is NOT enough here: the hub survives round 1 (degree 6)
    val oneRound = Graph.kCore(e, k = 3, rounds = 1)
      .as[(Long, Long)].collect().toMap
    assert(oneRound.contains(99L), "hub must still be present after a single peel")
  }

  test("bfsDepth: min hop distance, frontier depths final, unreached absent") {
    // path 1-2-3-4-5 plus a shortcut 1-4: node 4 is 1 hop via the
    // shortcut, NOT 3 hops along the path; node 6-7 is a disconnected
    // island and must be absent
    val und = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (1L, 4L), (6L, 7L))
    val e = (und ++ und.map(_.swap)).toDF("src", "dst")
    val seeds = Seq(1L).toDF("node")
    val d = Graph.bfsDepth(e, seeds, maxHops = 3).as[(Long, Long)].collect().toMap
    assert(d == Map(1L -> 0L, 2L -> 1L, 4L -> 1L, 3L -> 2L, 5L -> 2L))
  }

  test("bfsDepth: maxHops truncates; multiple seeds take the nearer one") {
    val und = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L))
    val e = (und ++ und.map(_.swap)).toDF("src", "dst")
    val one = Graph.bfsDepth(e, Seq(1L).toDF("node"), maxHops = 2)
      .as[(Long, Long)].collect().toMap
    assert(one == Map(1L -> 0L, 2L -> 1L, 3L -> 2L)) // 4, 5 beyond maxHops
    val two = Graph.bfsDepth(e, Seq(1L, 5L).toDF("node"), maxHops = 2)
      .as[(Long, Long)].collect().toMap
    // 3 is 2 hops from both seeds; 4 is 1 hop from seed 5
    assert(two == Map(1L -> 0L, 5L -> 0L, 2L -> 1L, 4L -> 1L, 3L -> 2L))
  }

  test("triangleCounts: K4 has four triangles, three per node") {
    val nodes = Seq(0L, 1L, 2L, 3L)
    val e = (for (u <- nodes; v <- nodes if u != v) yield (u, v)).toDF("src", "dst")
    val r = Graph.triangleCounts(e).as[(Long, Long)].collect().toMap
    assert(r == nodes.map(_ -> 3L).toMap)
  }

  test("triangleCounts: square is triangle-free; a diagonal adds two") {
    val square = Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 0L))
    val sym = (square ++ square.map(_.swap)).toDF("src", "dst")
    val r0 = Graph.triangleCounts(sym).as[(Long, Long)].collect().toMap
    assert(r0 == Map(0L -> 0L, 1L -> 0L, 2L -> 0L, 3L -> 0L))

    // diagonal 0-2 splits the square into triangles {0,1,2} and {0,2,3}
    val withDiag = (square ++ Seq((0L, 2L))).flatMap(e => Seq(e, e.swap))
      .toDF("src", "dst")
    val r1 = Graph.triangleCounts(withDiag).as[(Long, Long)].collect().toMap
    assert(r1 == Map(0L -> 2L, 1L -> 1L, 2L -> 2L, 3L -> 1L))
  }

  test("triangleCounts: star graph (max-skew hub) counts zero everywhere") {
    // a hub with 50 leaves: degree orientation points every edge INTO the
    // hub, so no wedges form at it — the skew-safety the orientation buys
    val e = (1L to 50L).flatMap(l => Seq((0L, l), (l, 0L))).toDF("src", "dst")
    val r = Graph.triangleCounts(e)
    assert(r.count() == 51L)
    assert(r.where($"n_triangles" =!= 0L).count() == 0L)
  }

  test("propagateLabels: majority vote per component, singleton and unseeded behavior") {
    import graft.ops.{Dedup, Graph}
    // component {1,2,3} seeded x,x,y -> x wins; {4,5} unseeded -> null;
    // 6 is outside the graph and a seed -> labels itself; 7 isolated
    // and unseeded -> null
    val pairs = Seq((1L, 2L), (2L, 3L), (4L, 5L)).toDF("doc1", "doc2")
    val comps = Dedup.connectedComponents(pairs)
    val allNodes = (1L to 7L).toDF("id")
    val seeds = Seq((1L, "x"), (2L, "x"), (3L, "y"), (6L, "z")).toDF("id", "lbl")
    val out = Graph.propagateLabels(comps, allNodes, "id", seeds, "lbl")
      .as[(Long, Long, Option[String], Long)].collect()
      .map(r => r._1 -> ((r._3, r._4))).toMap
    assert(out(1L) == ((Some("x"), 2L)) && out(2L) == ((Some("x"), 2L))
      && out(3L) == ((Some("x"), 2L)))
    assert(out(4L) == ((None, 0L)) && out(5L) == ((None, 0L)))
    assert(out(6L) == ((Some("z"), 1L)))
    assert(out(7L) == ((None, 0L)))
  }

  test("propagateLabels: vote ties break on the smaller label") {
    import graft.ops.{Dedup, Graph}
    val pairs = Seq((1L, 2L)).toDF("doc1", "doc2")
    val out = Graph.propagateLabels(Dedup.connectedComponents(pairs),
        Seq(1L, 2L).toDF("id"),
        "id", Seq((1L, "b"), (2L, "a")).toDF("id", "lbl"), "lbl")
      .select("label").distinct().as[String].collect().toSeq
    assert(out == Seq("a"))
  }

  test("clusteringCoefficients: K4 is fully clustered; a chord splits the square") {
    val nodes = Seq(0L, 1L, 2L, 3L)
    val k4 = (for (u <- nodes; v <- nodes if u != v) yield (u, v)).toDF("src", "dst")
    val rk4 = Graph.clusteringCoefficients(k4)
      .select("node", "coeff_milli").as[(Long, Long)].collect().toMap
    assert(rk4 == nodes.map(_ -> 1000L).toMap)

    // square + diagonal 0-2: node0 deg3 tri2 -> 4000 div 6 = 666;
    // node1 deg2 tri1 -> 1000
    val und = Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 0L), (0L, 2L))
    val e = und.flatMap(p => Seq(p, p.swap)).toDF("src", "dst")
    val r = Graph.clusteringCoefficients(e)
      .select("node", "coeff_milli").as[(Long, Long)].collect().toMap
    assert(r == Map(0L -> 666L, 1L -> 1000L, 2L -> 666L, 3L -> 1000L))
  }

  test("labelPropagation: a triangle converges to the min id in 2 rounds") {
    val tri = Seq((1L, 2L), (2L, 3L), (3L, 1L))
    val e = (tri ++ tri.map(_.swap)).toDF("src", "dst")
    val r = Graph.labelPropagation(e, iters = 2).as[(Long, Long)].collect().toMap
    assert(r == Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
  }

  test("labelPropagation: two bridged cliques, hand-run 2-round labels") {
    // cliques {1,2,3} and {10,11,12}, bridge 3-10. Synchronous rounds with
    // most-frequent/min-tie-break, traced by hand:
    // r1: 1→2, 2→1, 3→1, 10→3, 11→10, 12→10
    // r2: 1→1, 2→1, 3→1, 10→10, 11→3, 12→3
    val und = Seq((1L, 2L), (1L, 3L), (2L, 3L),
      (10L, 11L), (10L, 12L), (11L, 12L), (3L, 10L))
    val e = (und ++ und.map(_.swap)).toDF("src", "dst")
    val r = Graph.labelPropagation(e, iters = 2).as[(Long, Long)].collect().toMap
    assert(r == Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      10L -> 10L, 11L -> 3L, 12L -> 3L))
  }

  test("louvainMove: alternating sweeps find the two bridged triangles") {
    // triangles {1,2,3} and {4,5,6}, bridge 3-4 (e2 = 14). Hand-trace
    // with parity alternation (round r moves node % 2 == r % 2):
    // r1 (odd movers):  1→2, 3→1, 5→6        → {1:2, 2:2, 3:1, 4:4, 5:6, 6:6}
    // r2 (even movers): 4→6 (score 16 beats stay 0); 2 and 6 stay
    //                                         → {1:2, 2:2, 3:1, 4:6, 5:6, 6:6}
    // r3 (odd movers):  3→2 (28−12=16 beats stay 0); 1 and 5 stay
    //                                         → communities {1,2,3}=2, {4,5,6}=6
    val und = Seq((1L, 2L), (2L, 3L), (1L, 3L), (4L, 5L), (5L, 6L), (4L, 6L), (3L, 4L))
    val edges = (und ++ und.map(_.swap)).toDF("src", "dst")
    val r3 = Graph.louvainMove(edges, rounds = 3).as[(Long, Long)].collect().toMap
    assert(r3 == Map(1L -> 2L, 2L -> 2L, 3L -> 2L, 4L -> 6L, 5L -> 6L, 6L -> 6L))
    // converged: a fourth round changes nothing
    val r4 = Graph.louvainMove(edges, rounds = 4).as[(Long, Long)].collect().toMap
    assert(r4 == r3)
    // the found partition carries the textbook modularity (see the
    // modularityMicro spec below: Q_micro = 178571 per community)
    val q = Graph.modularityMicro(edges, Graph.louvainMove(edges, rounds = 3))
      .select("label", "q_micro").as[(Long, Long)].collect().toMap
    assert(q == Map(2L -> 178571L, 6L -> 178571L))
    intercept[IllegalArgumentException](Graph.louvainMove(edges, rounds = 0))
  }

  test("contractGraph: supernode multigraph keeps Σw and weighted degrees exact") {
    // level-1 result on the bridged triangles: {1,2,3}->2, {4,5,6}->6.
    // Internal directed edges become self-loops of weight 6 each; the
    // bridge 3-4 becomes the 1-weight super-edge both ways
    val und = Seq((1L, 2L), (2L, 3L), (1L, 3L), (4L, 5L), (5L, 6L), (4L, 6L), (3L, 4L))
    val edges = (und ++ und.map(_.swap)).toDF("src", "dst")
    val l1 = Graph.louvainMove(edges, rounds = 3)
    val wE = Graph.contractGraph(edges, l1).as[(Long, Long, Long)].collect().toSet
    assert(wE == Set((2L, 2L, 6L), (6L, 6L, 6L), (2L, 6L, 1L), (6L, 2L, 1L)))
    // invariants: Σw = |directed edges|; supernode degree = member degree sum
    assert(wE.toSeq.map(_._3).sum == 14L)
    assert(wE.toSeq.filter(_._1 == 2L).map(_._3).sum == 7L) // k1+k2+k3 = 2+2+3
  }

  test("louvainMoveWeighted: the optimal coarse partition is a fixed point; self-loops ride degrees") {
    import org.apache.spark.sql.functions.col
    // the contracted triangles: merging the two supernodes would LOWER
    // modularity (score(2->c6) = 14·1 − 7·7 = −35 < stay 0), so both stay
    val wE = Seq((2L, 2L, 6L), (6L, 6L, 6L), (2L, 6L, 1L), (6L, 2L, 1L))
      .toDF("src", "dst", "w")
    val l2 = Graph.louvainMoveWeighted(wE, rounds = 2)
      .as[(Long, Long)].collect().toMap
    assert(l2 == Map(2L -> 2L, 6L -> 6L))
    // a strongly-bridged pair with OPPOSITE parity merges: supernodes 3
    // and 6, cross weight 5, self-loops 2 — round 1 moves the odd node
    // into the even one (score 14·5 − 7·7 = 21 > stay 0)
    val wE2 = Seq((3L, 3L, 2L), (6L, 6L, 2L), (3L, 6L, 5L), (6L, 3L, 5L))
      .toDF("src", "dst", "w")
    val m = Graph.louvainMoveWeighted(wE2, rounds = 2)
      .as[(Long, Long)].collect().toMap
    assert(m(3L) == 6L && m(6L) == 6L, s"expected a merge into 6, got $m")
    intercept[IllegalArgumentException](
      Graph.louvainMoveWeighted(wE, rounds = 0))
  }

  test("sweepScore: Long and DECIMAL(38,0) scores agree on small values; decimal stays exact past Long") {
    // past SweepScoreLongSafeE2 the sweep scores in decimal so e2·w and
    // k·Σtot can't overflow a Long; below it both forms give the same bits
    def scores(df: DataFrame, e2: Long, dec: Boolean): Seq[java.math.BigDecimal] =
      df.select(Graph.sweepScore(lit(e2), dec)(col("stay")).cast("decimal(38,0)"))
        .as[java.math.BigDecimal].collect().toSeq
    // hand scores at e2 = 14: 14·3 − 2·7 = 28; 14·0 − 3·(9 − 3) = −18;
    // 14·5 − 4·(4 − 4) = 70
    val small = Seq((3L, 2L, 7L, false), (0L, 3L, 9L, true), (5L, 4L, 4L, true))
      .toDF("__w", "__k", "__tot", "stay")
    val want = Seq(28L, -18L, 70L).map(java.math.BigDecimal.valueOf)
    assert(scores(small, 14L, dec = false) == want)
    assert(scores(small, 14L, dec = true) == want)
    // e2 = 4·10⁹, w = 3·10⁹: e2·w = 1.2·10¹⁹ > 2^63 − 1
    val big = Seq((3000000000L, 1L, 1L, false)).toDF("__w", "__k", "__tot", "stay")
    val exact = new java.math.BigDecimal("11999999999999999999")
    assert(scores(big, 4000000000L, dec = true) == Seq(exact))
    // the Long score cannot carry it: ANSI arithmetic raises, non-ANSI wraps
    val asLong = scala.util.Try(scores(big, 4000000000L, dec = false))
    if (spark.conf.get("spark.sql.ansi.enabled").toBoolean) assert(asLong.isFailure)
    else assert(asLong.get != Seq(exact))
  }

  test("louvain DECIMAL(38,0) score path (the >2·10⁹-Σw auto-upgrade) picks identically") {
    // scaling every weight by c scales every score by c², so each move
    // decision is scale-free; at c = 10⁹ Σw passes SweepScoreLongSafeE2,
    // the sweep scores in decimal (e2·w = 1.4·10¹⁹ would overflow a Long),
    // and it must pick exactly what the Long-scored unscaled sweep picks
    val c = 1000000000L
    val und = Seq((1L, 2L), (2L, 3L), (1L, 3L), (4L, 5L), (5L, 6L), (4L, 6L), (3L, 4L))
    val edges = (und ++ und.map(_.swap)).toDF("src", "dst")
    assert(14L * c > Graph.SweepScoreLongSafeE2)
    val longPath = Graph.louvainMove(edges, rounds = 3).as[(Long, Long)].collect().toMap
    val decPath = Graph.louvainMoveWeighted(edges.withColumn("w", lit(c)), rounds = 3)
      .as[(Long, Long)].collect().toMap
    assert(decPath == longPath)
    val wE = Seq((3L, 3L, 2L), (6L, 6L, 2L), (3L, 6L, 5L), (6L, 3L, 5L))
      .toDF("src", "dst", "w")
    val wLong = Graph.louvainMoveWeighted(wE, rounds = 2)
      .as[(Long, Long)].collect().toMap
    val wDec = Graph.louvainMoveWeighted(wE.withColumn("w", col("w") * lit(c)),
      rounds = 2).as[(Long, Long)].collect().toMap
    assert(wDec == wLong)
  }

  test("louvainMove ≡ louvainMoveWeighted on unit weights; a self-loop is never a stay candidate") {
    // (1,1),(1,2),(2,1): e2 = 3, k1 = 2 (the self-loop rides the degree),
    // k2 = 1. Round 1 moves odd node 1: neighbor 2 scores 3·1 − 2·1 = 1,
    // stay scores 3·0 − 2·(2 − 2) = 0, so 1 joins 2 and Qnum rises −2 → 0
    val edges = Seq((1L, 1L), (1L, 2L), (2L, 1L)).toDF("src", "dst")
    val unweighted = Graph.louvainMove(edges, rounds = 1).as[(Long, Long)].collect().toMap
    val weighted = Graph.louvainMoveWeighted(edges.withColumn("w", lit(1L)), rounds = 1)
      .as[(Long, Long)].collect().toMap
    assert(unweighted == Map(1L -> 2L, 2L -> 2L))
    assert(weighted == unweighted)
    def qnum(labels: Map[Long, Long]): Long =
      GraphOracles.modularityNumExact(edges, labels.toSeq.toDF("node", "label")).longValueExact
    assert(qnum(Map(1L -> 1L, 2L -> 2L)) == -2L)
    assert(qnum(unweighted) == 0L)
  }

  test("louvainGateRow: the gate row's row count equals the contraction's count()") {
    val und = Seq((1L, 2L), (2L, 3L), (1L, 3L), (4L, 5L), (5L, 6L), (4L, 6L), (3L, 4L))
    val edges = (und ++ und.map(_.swap)).toDF("src", "dst")
    val con = Graph.contractGraph(edges, Graph.louvainMove(edges, rounds = 3))
    val g = Graph.louvainGateRow(con, 3).select("__slice", "__a", "__b", "__sk2").head()
    assert(g.getInt(0) == 3)
    assert(g.getLong(1) == 12L) // Σ self-loop w: 6 + 6
    assert(g.getLong(2) == con.count()) // the count louvainLevels no longer runs
    assert(g.getDecimal(3).longValueExact == 98L) // Σ k²: 7² + 7²
    val empty = Graph.louvainGateRow(con.where(lit(false)), 3).select("__a", "__b").head()
    assert(empty.getLong(0) == 0L && empty.getLong(1) == 0L)
  }

  test("louvainLevels: exact-Q gate terminates before maxLevels on a converged hierarchy") {
    // two 4-cliques bridged by one edge: level 1 partially collapses the
    // cliques (parity alternation), level 2's weighted sweep on the
    // contraction finishes them, and the next level can move nothing —
    // its Qnum gain is 0, so the gate MUST stop the loop before the
    // maxLevels = 5 budget
    val c1 = for (a <- 1L to 4L; b <- 1L to 4L if a != b) yield (a, b)
    val c2 = for (a <- 11L to 14L; b <- 11L to 14L if a != b) yield (a, b)
    val edges = (c1 ++ c2 ++ Seq((4L, 11L), (11L, 4L))).toDF("src", "dst")
    val levels = Graph.louvainLevels(edges, maxLevels = 5, roundsPerLevel = 2)
      .as[(Int, Long, Long)].collect()
    val byLevel = levels.groupBy(_._1).view.mapValues(_.map(r => r._2 -> r._3).toMap)
    val ls = byLevel.keys.toSeq.sorted
    assert(ls.head == 1 && ls == (1 to ls.size), s"levels must be contiguous from 1: $ls")
    assert(ls.size < 5, "the gate must stop before the maxLevels budget")
    // every emitted level covers all nodes and strictly raises exact Qnum
    val qs = ls.map { l =>
      val m = byLevel(l)
      assert(m.keySet == ((1L to 4L) ++ (11L to 14L)).toSet, s"level $l incomplete")
      GraphOracles.modularityNumExact(edges, m.toSeq.toDF("node", "label"))
    }
    qs.sliding(2).foreach {
      case Seq(a, b) => assert(b.compareTo(a) > 0, s"level gain not positive: $a -> $b")
      case _ =>
    }
    // the final level is the two cliques
    val fin = byLevel(ls.last)
    assert(fin.values.toSet.size == 2)
    assert((1L to 4L).map(fin).toSet.size == 1 && (11L to 14L).map(fin).toSet.size == 1)
    intercept[IllegalArgumentException](Graph.louvainLevels(edges, maxLevels = 0))
  }

  test("louvainMove round 1: singleton gains are 14 − k·k, ties to smaller community") {
    // same graph, one round: only odd nodes move; hand-scores
    // node 1 (k=2): nb 2 → 14−4=10, nb 3 → 14−6=8, stay 0 → label 2
    // node 3 (k=3): nb 1 → 8, nb 2 → 8 (tie → 1), nb 4 → 14−9=5 → label 1
    // node 5 (k=2): nb 4 → 8, nb 6 → 10 → label 6
    val und = Seq((1L, 2L), (2L, 3L), (1L, 3L), (4L, 5L), (5L, 6L), (4L, 6L), (3L, 4L))
    val edges = (und ++ und.map(_.swap)).toDF("src", "dst")
    val r1 = Graph.louvainMove(edges, rounds = 1).as[(Long, Long)].collect().toMap
    assert(r1 == Map(1L -> 2L, 2L -> 2L, 3L -> 1L, 4L -> 4L, 5L -> 6L, 6L -> 6L))
  }

  test("pageRank mass stays within the floor-loss envelope") {
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
    val e = Graph.coOccurrenceEdges(li, "l_orderkey", "l_partkey")
    val r = Graph.pageRank(e, iters = 3)
    val n = r.count()
    val total = r.agg(org.apache.spark.sql.functions.sum("rank_micro"))
      .as[Long].head()
    // every node holds at least the undamped base; floor losses only
    // ever shrink the damped mass below n·10^6
    assert(total <= n * 1000000L)
    assert(total >= n * 150000L)
  }

  test("modularityMicro: two triangles + bridge at the textbook value; one-block partition scores 0") {
    // triangles {1,2,3} and {4,5,6}, bridge 3-4: m = 7, Q = 2·(3/7 − 1/4)
    val und = Seq((1L, 2L), (2L, 3L), (1L, 3L), (4L, 5L), (5L, 6L), (4L, 6L), (3L, 4L))
    val edges = (und ++ und.map(_.swap)).toDF("src", "dst")
    val part = Seq((1L, 10L), (2L, 10L), (3L, 10L), (4L, 20L), (5L, 20L), (6L, 20L))
      .toDF("node", "label")
    val q = Graph.modularityMicro(edges, part)
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    // per community: (1e6·6) div 14 − (1e6·7·7) div 196 = 428571 − 250000
    assert(q == Set((10L, 3L, 3L, 7L, 178571L), (20L, 3L, 3L, 7L, 178571L)))
    import org.apache.spark.sql.functions.{col, lit}
    val one = part.select(col("node"), lit(1L).as("label"))
    val q1 = Graph.modularityMicro(edges, one)
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(q1 == Seq((1L, 6L, 7L, 14L, 0L)))
  }

  test("linkPrediction: wedge scores, adjacency excluded, hub cap") {
    // square 1-2-3-4-1 (symmetric): diagonals (1,3) and (2,4) are the
    // predictions, each with cn=2 through two degree-2 centers ->
    // ra = 2·(1000 div 2) = 1000; adjacent pairs never appear
    val sq = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L))
    val edges = (sq ++ sq.map(_.swap)).toDF("src", "dst")
    val out = Graph.linkPrediction(edges)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(out == Set((1L, 3L, 2L, 1000L), (2L, 4L, 2L, 1000L)))
    // cap below the centers' degree: every wedge is skipped
    assert(Graph.linkPrediction(edges, maxCenterDeg = 1L).count() == 0L)
  }

  test("linkPrediction: milli quantization drops high-degree centers' contribution") {
    // star center 0 with 3 leaves: each leaf pair shares only center 0
    // (deg 3) -> cn=1, ra = 1000 div 3 = 333
    val st = Seq((0L, 1L), (0L, 2L), (0L, 3L))
    val edges = (st ++ st.map(_.swap)).toDF("src", "dst")
    val out = Graph.linkPrediction(edges)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(out == Set((1L, 2L, 1L, 333L), (1L, 3L, 1L, 333L),
      (2L, 3L, 1L, 333L)))
  }

  test("randomWalks: every transition is an edge, full length, deterministic") {
    // path graph 1-2-3-4-5 (symmetric)
    val und = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L))
    val edges = (und ++ und.map(_.swap)).toDF("src", "dst")
    val edgeSet = (und ++ und.map(_.swap)).toSet
    val out = Graph.randomWalks(edges, nWalks = 2, len = 3)
      .as[(Long, Long, Long, Long)].collect()
    // 5 nodes × 2 walks × 4 positions — no dead ends on a symmetric graph
    assert(out.length == 40, s"expected 40 positions, got ${out.length}")
    val byWalk = out.groupBy(t => (t._1, t._2))
    assert(byWalk.size == 10)
    byWalk.foreach { case ((start, _), pos) =>
      val path = pos.sortBy(_._3).map(_._4).toSeq
      assert(path.length == 4 && path.head == start)
      path.sliding(2).foreach { case Seq(a, b) =>
        assert(edgeSet.contains((a, b)), s"non-edge transition $a->$b in $path")
      }
    }
    // endpoints have one neighbor: every walk from 1 visits 2 at step 1
    assert(byWalk.filter(_._1._1 == 1L).values
      .forall(_.sortBy(_._3).map(_._4).toSeq(1) == 2L))
    val again = Graph.randomWalks(edges, nWalks = 2, len = 3)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(again == out.toSet)
    // symmetric mode is an optimization, not a semantics change: on a
    // symmetric graph it emits the identical walk table
    val sym = Graph.randomWalks(edges, nWalks = 2, len = 3, symmetric = true)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(sym == out.toSet)
    // duplicate edge rows change nothing: the adjacency dedups internally
    val dup = Graph.randomWalks(edges.union(edges), nWalks = 2, len = 3)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(dup == out.toSet)
  }

  test("walkContextsFromPaths ≡ walkContexts(randomWalks) — the no-join path form") {
    val und = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (2L, 5L))
    val edges = (und ++ und.map(_.swap)).toDF("src", "dst")
    for (win <- Seq(1, 2, 3)) {
      val viaJoin = GraphOracles.walkContexts(
        Graph.randomWalks(edges, nWalks = 2, len = 3, symmetric = true), win)
        .as[(Long, Long, Long)].collect().toSet
      val viaPaths = Graph.walkContextsFromPaths(
        Graph.randomWalkPaths(edges, nWalks = 2, len = 3, symmetric = true), win)
        .as[(Long, Long, Long)].collect().toSet
      assert(viaPaths == viaJoin, s"window $win: $viaPaths != $viaJoin")
      assert(viaPaths.nonEmpty)
    }
    // paths round-trip: posexplode of the path table IS the walk table
    val rows = Graph.randomWalks(edges, 2, 3, symmetric = true)
      .as[(Long, Long, Long, Long)].collect().toSet
    val fromPaths = Graph.randomWalkPaths(edges, 2, 3, symmetric = true)
      .select(col("start"), col("walk"),
        posexplode(col("path")).as(Seq("step", "node")))
      .as[(Long, Long, Int, Long)].collect()
      .map(t => (t._1, t._2, t._3.toLong, t._4)).toSet
    assert(fromPaths == rows)
  }

  test("walkContexts: exact skip-gram pair counts within the window") {
    // one walk: steps 0..3 visit 1,2,3,2 (hand frame, not randomWalks)
    val walks = Seq(
      (1L, 0L, 0L, 1L), (1L, 0L, 1L, 2L), (1L, 0L, 2L, 3L), (1L, 0L, 3L, 2L))
      .toDF("start", "walk", "step", "node")
    val out = GraphOracles.walkContexts(walks, window = 1)
      .as[(Long, Long, Long)].collect().toSet
    // adjacent pairs only, both directions: (1,2),(2,1),(2,3),(3,2)x2 dirs
    assert(out == Set(
      (1L, 2L, 1L), (2L, 1L, 1L),
      (2L, 3L, 2L), (3L, 2L, 2L))) // 2-3 adjacency occurs twice (steps 1-2, 2-3)
    // window 2 adds the step-distance-2 pairs, including the 2..2 revisit
    val m = GraphOracles.walkContexts(walks, window = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(m((1L, 3L)) == 1L && m((3L, 1L)) == 1L)
    assert(m((2L, 2L)) == 2L) // revisit within window: both directions
    // a second walk never pairs with the first
    val two = walks.union(
      Seq((9L, 1L, 0L, 7L), (9L, 1L, 1L, 8L)).toDF("start", "walk", "step", "node"))
    val sep = GraphOracles.walkContexts(two, window = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!sep.contains((1L, 7L)) && !sep.contains((3L, 8L)))
    assert(sep.contains((7L, 8L)))
  }

  test("negativeSamples: no real edges, no self-loops, at most k per node, deterministic") {
    // path graph 1-2-3-4-5 (symmetric edges)
    val und = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L))
    val edges = (und ++ und.map(_.swap)).toDF("src", "dst")
    val neg = Graph.negativeSamples(edges, attempts = 8, k = 2)
    val rows = neg.as[(Long, Int, Long)].collect()
    val edgeSet = (und ++ und.map(_.swap)).toSet
    rows.foreach { case (s, _, d) =>
      assert(s != d, s"self-loop sampled: $s")
      assert(!edgeSet.contains((s, d)), s"real edge sampled: ($s,$d)")
      assert((1L to 5L).contains(d), s"dst $d is not a node")
    }
    val perSrc = rows.groupBy(_._1).view.mapValues(_.length)
    perSrc.foreach { case (s, n) => assert(n <= 2, s"src $s got $n > k") }
    rows.foreach { case (_, t, _) => assert(t >= 0 && t < 8) }
    // hash-driven: a second evaluation reproduces the identical set
    val again = Graph.negativeSamples(edges, attempts = 8, k = 2)
      .as[(Long, Int, Long)].collect().toSet
    assert(again == rows.toSet)
  }

  test("neighborJaccard: hand-computed score on a path + triangle; edges excluded") {
    // undirected edges (symmetric list): 1-2, 2-3, 1-4, 3-4.
    // non-edge (1,3): common {2,4}, deg1=2 deg3=2 -> J = 2/(2+2-2) = 1000
    // non-edge (2,4): common {1,3}, same -> 1000; all edges excluded
    val und = Seq((1L, 2L), (2L, 3L), (1L, 4L), (3L, 4L))
    val edges = (und ++ und.map(_.swap)).toDF("src", "dst")
    val out = graft.ops.Graph.neighborJaccard(edges)
      .select("node_a", "node_b", "cn", "jac_milli")
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(out == Set((1L, 3L, 2L, 1000L), (2L, 4L, 2L, 1000L)))
  }

  test("neighborJaccard: hub-center cap skips wedges through the hub") {
    // star: hub 9 connects 1,2,3; with the hub capped out no wedge
    // survives, so no candidate pairs at all
    val und = Seq((9L, 1L), (9L, 2L), (9L, 3L))
    val edges = (und ++ und.map(_.swap)).toDF("src", "dst")
    assert(graft.ops.Graph.neighborJaccard(edges, maxCenterDeg = 2L).count() == 0L)
    // uncapped, the leaf pairs score J = 1/(1+1-1) = 1000
    val full = graft.ops.Graph.neighborJaccard(edges, maxCenterDeg = 10L)
      .select("node_a", "node_b", "jac_milli")
      .as[(Long, Long, Long)].collect().toSet
    assert(full == Set((1L, 2L, 1000L), (1L, 3L, 1000L), (2L, 3L, 1000L)))
  }

  test("kTruss: pendant triangle and bridge peel at k=4, K4 survives with support 2") {
    // K4 on {0,1,2,3} (every edge in 2 triangles) + a pendant triangle
    // {0,10,11} (each edge in 1) + a bridge 3-20 (support 0)
    val k4 = for (u <- 0L to 3L; v <- 0L to 3L if u < v) yield (u, v)
    val und = k4 ++ Seq((0L, 10L), (0L, 11L), (10L, 11L), (3L, 20L))
    val edges = (und ++ und.map(_.swap)).toDF("src", "dst")
    val out = Graph.kTruss(edges, k = 4, rounds = 2)
      .as[(Long, Long, Long)].collect().toSet
    assert(out == k4.map { case (u, v) => (u, v, 2L) }.toSet, s"got $out")
  }

  test("kTruss: k=3 keeps every triangle edge, still drops the bridge") {
    val k4 = for (u <- 0L to 3L; v <- 0L to 3L if u < v) yield (u, v)
    val und = k4 ++ Seq((0L, 10L), (0L, 11L), (10L, 11L), (3L, 20L))
    val edges = (und ++ und.map(_.swap)).toDF("src", "dst").repartition(5)
    val out = Graph.kTruss(edges, k = 3, rounds = 2)
      .as[(Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    assert(out.keySet == (k4 ++ Seq((0L, 10L), (0L, 11L), (10L, 11L))).toSet,
      s"got ${out.keySet}")
    // pendant-triangle edges carry support exactly 1
    assert(out((0L, 10L)) == 1L && out((10L, 11L)) == 1L)
  }

  test("kTruss: a second round peels what round one's removals expose") {
    // chain of two triangles sharing edge (1,2): {0,1,2} and {1,2,3},
    // plus a third triangle {3,4,5} glued by edge (3,4)... at k=4 every
    // edge has support <= 2 only on (1,2); one round leaves nothing
    // with support >= 2 except where both triangles survive — after
    // round 1 all edges of support 1 are gone, which kills (1,2)'s
    // triangles, so round 2 empties the graph entirely
    val und = Seq((0L, 1L), (0L, 2L), (1L, 2L), (1L, 3L), (2L, 3L))
    val edges = (und ++ und.map(_.swap)).toDF("src", "dst")
    val r1 = Graph.kTruss(edges, k = 4, rounds = 1)
      .as[(Long, Long, Long)].collect().toSet
    assert(r1 == Set((1L, 2L, 2L)), s"round 1: $r1") // only the shared edge
    val r2 = Graph.kTruss(edges, k = 4, rounds = 2)
    assert(r2.count() == 0L, "the exposed shared edge must peel in round 2")
  }
}
