package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Graph centrality over co-occurrence graphs — the PageRank-style
 * importance signal web-curation pipelines attach to documents and
 * items (Page et al. 1999; the Common-Crawl-derived corpora rank hosts
 * exactly this way before sampling).
 *
 * Exactness: ranks live in integer MICRO-units and every step is
 * integer arithmetic — contributions are `rank div out_degree`, the
 * damping fold is `base + (damp · Σin) div 1000` — so Spark and DuckDB
 * produce bit-identical ranks at any iteration count. Float PageRank
 * would diverge between engines on summation ORDER alone; integer
 * PageRank is associative and exact. The price (sub-micro mass lost to
 * floor) is irrelevant to the ranking use and identical in both arms.
 *
 * Scale shape: each iteration is one co-partitioned join of the rank
 * vector with the edge list on `src` plus one map-side-combined
 * aggregation on `dst` — the canonical Pregel step expressed as
 * DataFrame ops, `iters` bounded and unrolled into one declarative
 * plan. Nothing is collected; the rank vector is node-sized and stays
 * distributed.
 */
object Graph {

  /**
   * Symmetric co-occurrence edges: items sharing a basket key, both
   * directions, distinct. `(src, dst)` long columns. Self-loops dropped.
   * The self-join is an equi-join on the basket key — per-basket fanout
   * is `deg²`, bounded by basket size, never a cartesian.
   */
  def coOccurrenceEdges(df: DataFrame, basketCol: String, itemCol: String): DataFrame = {
    // Generate CANONICAL pairs (src < dst) and explode to both directions
    // AFTER the distinct: per-basket fan-out halves (d(d−1)/2 instead of
    // d(d−1)) and the global pair dedup — the edge build's largest
    // shuffle — carries half the rows/bytes (guide §2.3). The explode is
    // a narrow op; the output row set is identical (each unordered pair
    // appears exactly once canonically, so symmetrizing after the dedup
    // reproduces the symmetric distinct edge list bit for bit).
    val canon = coOccurrenceCanonicalPairs(df, basketCol, itemCol).distinct()
    canon.select(explode(array(
        struct(col("src").as("src"), col("dst").as("dst")),
        struct(col("dst").as("src"), col("src").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
  }

  /** One row per basket-sharing item pair in canonical `src < dst`
    * orientation — half of [[coOccurrencePairs]]' fan-out; may repeat
    * across baskets (no global dedup). ONE distinct (basket, item) frame
    * self-joined: identical subplans on both sides, so ReuseExchange
    * materializes the exchange once — the two-frame form (one aliased
    * src, one dst) planned two distinct shuffles of the same data. The
    * explicit basket repartition feeds the dedup partition-locally AND
    * satisfies the self-join's clustering, so no further exchange before
    * the pair fan-out. */
  private def coOccurrenceCanonicalPairs(df: DataFrame, basketCol: String,
      itemCol: String): DataFrame = {
    val bi = df.select(col(basketCol).as("__b"), col(itemCol).as("__i"))
      .repartition(col("__b")).dropDuplicates("__b", "__i")
    bi.alias("x").join(bi.alias("y"), col("x.__b") === col("y.__b"))
      .where(col("x.__i") < col("y.__i"))
      .select(col("x.__i").as("src"), col("y.__i").as("dst"))
  }

  /** [[coOccurrenceEdges]] WITHOUT the final global (src, dst) dedup —
    * pairs may repeat across baskets. For consumers that re-partition by
    * src anyway (e.g. [[randomWalks]]'s adjacency build, which dedups
    * partition-locally after its own src exchange), the global distinct
    * is a pure extra shuffle of the pair set; skip it. */
  def coOccurrencePairs(df: DataFrame, basketCol: String, itemCol: String): DataFrame =
    // canonical fan-out + symmetrizing explode: per basket-pair the join
    // emits ONE row instead of two ([[coOccurrenceCanonicalPairs]]), the
    // explode is narrow, and the multiset of output rows is identical
    coOccurrenceCanonicalPairs(df, basketCol, itemCol)
      .select(explode(array(
        struct(col("src").as("src"), col("dst").as("dst")),
        struct(col("dst").as("src"), col("src").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))

  /**
   * Deterministic hash-driven random walks — the data-prep stage of
   * DeepWalk/node2vec-style graph embeddings (Perozzi et al. KDD'14):
   * `nWalks` walks of `len` steps from every node, where step `s` of
   * walk `w` from `start` moves to neighbor number
   * `keyHash("start:w:s:cur") % degree(cur)` in the dst-ordered
   * adjacency ranking. No RNG state anywhere, so both engines (and any
   * two cluster runs) emit the identical corpus — the property that
   * makes a 100 TB walk table reproducible and resumable.
   *
   * Scale shape: the adjacency list gets a per-node dense rank and its
   * node degree once (two window functions over one src partitioning —
   * one exchange, partitions bounded by degree) and is reused by every
   * step; each step is ONE equi-join of the |V|·nWalks frontier with
   * the degree-carrying adjacency on node, the neighbor pick
   * `hash % deg === rank` riding as the join's residual condition —
   * `len` chained co-partitioned joins, no driver-side anything, and
   * half the join count of a separate degree-lookup design (degree is
   * denormalized onto the adjacency). Walks stop early at
   * a dead end (inner join) — impossible on symmetric co-occurrence
   * graphs, where every node has degree ≥ 1.
   *
   * `symmetric = true` asserts every dst also appears as a src (true by
   * construction for co-occurrence graphs), letting the start set come
   * straight from the adjacency's rank-0 rows — one per src, already
   * distinct — instead of a union-and-dedup shuffle over the full edge
   * set.
   *
   * Output: `(start, walk, step, node)` — step 0 is the start node;
   * one row per visited position.
   */
  def randomWalks(edges: DataFrame, nWalks: Int, len: Int,
      symmetric: Boolean = false): DataFrame =
    randomWalkPaths(edges, nWalks, len, symmetric)
      .select(col("start"), col("walk"),
        posexplode(col("path")).as(Seq("step", "node")))
      .select(col("start"), col("walk"),
        col("step").cast("long").as("step"), col("node"))

  /**
   * The walk table as PATHS: `(start, walk, path)` where `path[s]` is the
   * node at step s (step 0 = start; a dead-ended walk's path simply stops
   * growing — same truncation semantics as the row form). This is the
   * shape the derivation WANTS: the frontier carries its own history as
   * an array column, so the chain is `len` left joins where every level
   * has exactly ONE consumer — no per-level lineage cuts (each cut paid
   * ~1 s of plan-time codegen), no union re-executing join prefixes, and
   * [[randomWalks]] is one final posexplode away. Consumers that pair
   * steps WITHIN a walk ([[walkContextsFromPaths]]) read the array
   * directly and skip the self-join entirely.
   */
  def randomWalkPaths(edges: DataFrame, nWalks: Int, len: Int,
      symmetric: Boolean = false): DataFrame = {
    require(nWalks >= 1 && len >= 1, s"need nWalks, len >= 1: $nWalks, $len")
    // degree is DENORMALIZED onto the ranked adjacency (second window
    // function over the same src partitioning — one exchange), so each
    // walk step below is ONE join instead of a degree lookup + a pick
    // join: the neighbor pick `hash % deg === rank` rides the node
    // equi-join as its residual condition
    // ONE exchange builds the whole adjacency: the explicit src
    // repartition feeds the (src, dst) dedup (HashPartitioning(src)
    // satisfies the aggregate's ClusteredDistribution — dedup runs
    // partition-local), the rank window, and the degree window, so a
    // duplicated OR non-distinct edge input costs no extra shuffle
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("src"))
    val nbrR = graft.recon.Checkpoints.cut(
      edges.select(col("src"), col("dst"))
        .repartition(col("src"))
        .dropDuplicates("src", "dst")
        .withColumn("rank", row_number().over(w.orderBy(col("dst"))) - 1)
        .withColumn("deg", count(lit(1)).over(w)))
      .select(col("src").as("__nsrc"), col("rank").as("__nrank"),
        col("deg").as("__ndeg"), col("dst").as("__ndst"))
    // start set from the CUT adjacency, not from `edges`: the edge frame
    // is often an expensive derivation (a co-occurrence self-join), and
    // reading it again here would re-execute it — nbrR holds the same
    // distinct edges already materialized. The src side comes from the
    // rank-0 rows (exactly one per src — already distinct, |V| rows
    // instead of |E|), so the dedup shuffle sees |V| + |E| rows, not 2|E|
    val srcNodes = nbrR.where(col("__nrank") === 0).select(col("__nsrc").as("node"))
    val nodes =
      if (symmetric) srcNodes // src set IS the node set — no dedup shuffle
      else srcNodes.union(nbrR.select(col("__ndst").as("node"))).distinct()
    val starts = nodes
      .select(col("node").as("start"),
        explode(sequence(lit(0), lit(nWalks - 1))).as("walk"))
    // the frontier carries (current node, full path): each step is ONE
    // left join against the cut adjacency — left, so a dead-ended walk
    // keeps its visited prefix (current node goes NULL, the pick hash of
    // NULL matches nothing, the path freezes — identical semantics to
    // the old per-level union, impossible on symmetric graphs anyway).
    // Every level has one consumer (the next join), so the chain needs
    // NO lineage cuts: the union-of-levels form re-executed every join
    // prefix without per-level cuts and paid ~1 s of codegen per cut
    // with them
    var frontier = starts.select(col("start"), col("walk"),
      col("start").as("__cur"), array(col("start")).as("path"))
    for (st <- 1 to len) {
      val pick = Sampling.keyHash(concat(
        col("start").cast("string"), lit(":"), col("walk").cast("string"),
        lit(":"), lit(st).cast("string"), lit(":"), col("__cur").cast("string")))
      // symmetric graphs can never dead-end (every node is a src with
      // deg >= 1 and hash % deg always hits exactly one rank), so the
      // cheaper inner join is semantics-preserving there
      frontier = frontier
        .join(nbrR, col("__cur") === col("__nsrc") &&
          pick % col("__ndeg") === col("__nrank"),
          if (symmetric) "inner" else "left")
        .select(col("start"), col("walk"), col("__ndst").as("__cur"),
          when(col("__ndst").isNull, col("path"))
            .otherwise(array_append(col("path"), col("__ndst"))).as("path"))
    }
    frontier.select(col("start"), col("walk").cast("long").as("walk"), col("path"))
  }

  /**
   * Skip-gram context pairs from a walk table — the step that turns
   * [[randomWalks]] output into word2vec-style training pairs (DeepWalk
   * §4.2: each node co-trains with the nodes within `window` steps on
   * the SAME walk). Output `(center, context, n_pairs)` — symmetric
   * (both directions emitted), self-pairs possible when a walk revisits
   * a node within the window (those ARE training signal). Scale shape:
   * one self-join per walk keyed on (start, walk) — per-walk fanout is
   * bounded by walk length × window, never corpus-sized — then a
   * map-side-combining count aggregation.
   */
  def walkContexts(walks: DataFrame, window: Int): DataFrame = {
    require(window >= 1, s"window must be >= 1: $window")
    // cut once: the self-join consumes the walk table TWICE, and a walk
    // table is typically the tail of an expensive join chain. When the
    // walk table comes from [[randomWalkPaths]], use
    // [[walkContextsFromPaths]] instead — it pairs steps inside the path
    // ARRAY and needs neither the cut nor the join
    val w = graft.recon.Checkpoints.cut(
      walks.select(col("start"), col("walk"), col("step"), col("node")))
    val a = w.select(col("start"), col("walk"),
      col("step").as("__sa"), col("node").as("center"))
    val b = w.select(col("start"), col("walk"),
      col("step").as("__sb"), col("node").as("context"))
    a.join(b, Seq("start", "walk"))
      .where(col("__sb") =!= col("__sa") &&
        abs(col("__sb") - col("__sa")) <= window)
      .groupBy(col("center"), col("context"))
      .agg(count(lit(1)).as("n_pairs"))
  }

  /**
   * [[walkContexts]] straight off a PATH table ([[randomWalkPaths]]):
   * the within-window step pairs are generated per row by a nested
   * array transform — bounded per-row work (len·2·window pairs), ZERO
   * joins, zero lineage cuts; the only shuffle is the final
   * (center, context) count aggregation, map-side combined. Identical
   * output to `walkContexts(randomWalks(...), window)` (spec-pinned):
   * positions pair exactly like steps, revisits included.
   */
  def walkContextsFromPaths(paths: DataFrame, window: Int): DataFrame = {
    require(window >= 1, s"window must be >= 1: $window")
    val pairs = flatten(transform(col("path"), (c, i) =>
      filter(
        transform(col("path"), (x, j) =>
          when(j =!= i && abs(j - i) <= window,
            struct(c.as("center"), x.as("context")))),
        p => p.isNotNull)))
    paths.select(explode(pairs).as("p"))
      .groupBy(col("p.center").as("center"), col("p.context").as("context"))
      .agg(count(lit(1)).as("n_pairs"))
  }

  /**
   * Deterministic negative sampling for link-prediction training: for
   * every node, up to `k` non-neighbors drawn by hash — the negative
   * half of a contrastive edge dataset, reproducible run to run (no
   * RNG state; the "random" draw is `keyHash(node:attempt) % |V|`
   * mapped through a dense node dictionary). Scale shape: |V|·attempts
   * candidate rows (never the |V|² non-edge set), one broadcast-sized
   * dictionary join keyed by code, one anti-join against the real edge
   * list on (src, dst), and a per-src window to keep the FIRST `k`
   * survivors in attempt order — partitioned by src, bounded by
   * `attempts`. Collisions with a true edge or with the node itself
   * are dropped (that attempt is simply lost), so callers oversample:
   * `attempts` ≈ 2k is plenty when the graph is sparse.
   *
   * Output: `(src, attempt, dst)` — at most k rows per src node.
   */
  def negativeSamples(edges: DataFrame, attempts: Int, k: Int): DataFrame = {
    require(attempts >= k && k >= 1, s"need attempts >= k >= 1: $attempts, $k")
    val nodes = edges.select(col("src").as("node"))
      .union(edges.select(col("dst").as("node"))).distinct()
    val dict = graft.recon.Checkpoints.cut(Encode.dictionary(nodes, "node"))
    val nNodes = dict.agg(count(lit(1)).as("__nv"))
    val cands = dict.select(col("node").as("src"))
      .crossJoin(broadcast(nNodes))
      .select(col("src"), col("__nv"),
        explode(sequence(lit(0), lit(attempts - 1))).as("attempt"))
      .select(col("src"), col("attempt"),
        (Sampling.keyHash(concat(col("src").cast("string"), lit(":"),
          col("attempt").cast("string"))) % col("__nv")).as("code"))
      .join(dict.select(col("code"), col("node").as("dst")), Seq("code"))
      .where(col("src") =!= col("dst"))
      .join(edges.select("src", "dst"), Seq("src", "dst"), "left_anti")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("src")).orderBy(col("attempt"))
    cands.withColumn("__r", row_number().over(w))
      .where(col("__r") <= k)
      .select(col("src"), col("attempt"), col("dst"))
  }

  /**
   * Weak supervision by connectivity: propagate seed labels to every
   * node of each connected component by majority vote — the "label 1%
   * of the near-dup clusters, inherit everywhere" step that turns a
   * small annotation budget into corpus-scale labels. `components` is
   * [[Dedup.connectedComponents]] output `(node, component)` over the
   * graph's nodes; `allNodes` lists EVERY entity (nodes outside the
   * graph form singleton components — labeled only if they are seeds
   * themselves). The vote is (count desc, label asc) — deterministic;
   * components with no seed report null label and 0 votes. The vote
   * window partitions per component over its distinct labels, never
   * data-sized frames.
   */
  def propagateLabels(components: DataFrame, allNodes: DataFrame,
      nodeCol: String, seeds: DataFrame, labelCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val comp = allNodes.select(col(nodeCol).as("node"))
      .join(components, Seq("node"), "left")
      .withColumn("component", coalesce(col("component"), col("node")))
    val votes = comp
      .join(seeds.select(col(nodeCol).as("node"), col(labelCol).as("__lbl")),
        Seq("node"))
      .groupBy(col("component"), col("__lbl")).agg(count(lit(1)).as("__v"))
    val w = Window.partitionBy(col("component"))
      .orderBy(col("__v").desc, col("__lbl"))
    val winner = votes.withColumn("__rk", row_number().over(w))
      .where(col("__rk") === 1)
      .select(col("component"), col("__lbl").as("label"), col("__v").as("n_votes"))
    comp.join(winner, Seq("component"), "left")
      .select(col("node"), col("component"), col("label"),
        coalesce(col("n_votes"), lit(0L)).as("n_votes"))
  }

  /**
   * Per-node triangle counts over a symmetric distinct edge list —
   * the clustering/cohesion signal (tightly-knit co-purchase or
   * co-citation neighborhoods) curation pipelines use beside PageRank.
   *
   * Degree-ordered node-iterator (Schank–Wagner; the MapReduce shape in
   * Suri & Vassilvitskii WWW'11): orient every undirected edge from its
   * lower-(degree, id) endpoint to the higher, so a triangle x≺y≺z
   * exists exactly once as x→y, x→z, y→z. Wedges are built only from a
   * node's FORWARD neighbors — fan-out per node is forward-degree², and
   * degree-ordering bounds total wedge volume by O(m^{3/2}) regardless
   * of skew (a celebrity node's million followers generate no wedges at
   * the celebrity, because almost all its edges point INTO it). Every
   * step is an equi-join or aggregate; nothing is collected.
   *
   * Output: `(node, n_triangles)` for every node of `edges`, zeros
   * included.
   */
  def triangleCounts(edges: DataFrame): DataFrame = {
    val deg = edges.groupBy("src").agg(count(lit(1)).as("__deg"))
    val da = deg.select(col("src").as("__ua"), col("__deg").as("__da"))
    val db = deg.select(col("src").as("__ub"), col("__deg").as("__db"))
    // forward orientation: (degree, id) lexicographic — a strict total
    // order, so each undirected edge survives in exactly one direction
    val f = edges
      .join(da, col("src") === col("__ua"))
      .join(db, col("dst") === col("__ub"))
      .where(col("__da") < col("__db") ||
        (col("__da") === col("__db") && col("src") < col("dst")))
      .select(col("src").as("a"), col("dst").as("b"))
    // wedge at the lowest vertex + closing forward edge: the self-join
    // emits both (y,z) and (z,y) orders, exactly one of which exists in
    // f — each triangle matches once
    val e1 = f.select(col("a"), col("b").as("y"))
    val e2 = f.select(col("a"), col("b").as("z"))
    val tri = e1.join(e2, Seq("a")).where(col("y") =!= col("z"))
      .join(f.select(col("a").as("y"), col("b").as("z")), Seq("y", "z"))
      .select(col("a").as("x"), col("y"), col("z"))
    val members = tri.select(col("x").as("node"))
      .unionAll(tri.select(col("y").as("node")))
      .unionAll(tri.select(col("z").as("node")))
    val counts = members.groupBy("node").agg(count(lit(1)).as("__n"))
    deg.select(col("src").as("node"))
      .join(counts, Seq("node"), "left")
      .select(col("node"), coalesce(col("__n"), lit(0L)).as("n_triangles"))
  }

  /**
   * Local clustering coefficient per node, in exact milli-units:
   * `1000 · 2·triangles / (deg·(deg−1))` via integer floor division
   * (coefficient 1.0 = 1000; nodes of degree < 2 report 0). The
   * "how clique-like is this node's neighborhood" signal — high-
   * coefficient neighborhoods in a near-dup graph are template families,
   * low-coefficient hubs are boilerplate bridging unrelated docs.
   * Cost: [[triangleCounts]] plus one degree aggregate and a join.
   */
  def clusteringCoefficients(edges: DataFrame): DataFrame = {
    val deg = edges.groupBy(col("src").as("node")).agg(count(lit(1)).as("deg"))
    triangleCounts(edges).join(deg, Seq("node"))
      .select(col("node"), col("deg"), col("n_triangles"),
        when(col("deg") >= 2,
          expr("(2000 * n_triangles) div (deg * (deg - 1))"))
          .otherwise(0L).as("coeff_milli"))
  }

  /**
   * Synchronous label propagation (Raghavan et al. 2007) for community
   * detection — the coarse corpus-clustering signal (topic/provenance
   * neighborhoods) that sits between connected components (too coarse:
   * one bridge edge merges communities) and full modularity methods
   * (not a bounded number of passes).
   *
   * Determinism: every node starts labeled with its own id; each round
   * every node SYNCHRONOUSLY adopts its neighbors' most frequent label,
   * ties broken by smallest label. No randomness, no asynchronous
   * update order — the same graph always yields the same labels at the
   * same `iters` (classic async LPA is run-order dependent; the
   * synchronous-deterministic variant trades possible oscillation on
   * bipartite structures for reproducibility, which is why `iters` is
   * bounded and explicit).
   *
   * Scale shape per round: one equi-join of the label vector with the
   * edge list, one (node, label) count aggregate, one per-node top-1
   * window PARTITIONED BY the node (bounded by degree, never a global
   * funnel). `iters` rounds unroll into one declarative plan like
   * [[pageRank]].
   */
  def labelPropagation(edges: DataFrame, iters: Int): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    import org.apache.spark.sql.expressions.Window
    var labels = edges.select(col("src").as("node")).distinct()
      .withColumn("label", col("node"))
    for (_ <- 1 to iters) {
      val votes = edges
        .join(labels.withColumnRenamed("node", "src"), Seq("src"))
        .groupBy(col("dst"), col("label")).agg(count(lit(1)).as("__n"))
      val w = Window.partitionBy(col("dst"))
        .orderBy(col("__n").desc, col("label").asc)
      labels = votes.withColumn("__r", row_number().over(w))
        .where(col("__r") === 1)
        .select(col("dst").as("node"), col("label"))
    }
    labels
  }

  /** [[louvainMoveWeighted]] on unit weights (`w = 1` per directed edge):
    * Σw = 2|E| and every weighted degree is the plain degree. A self-loop
    * rides its node's degree but is never a move candidate — the standard
    * Louvain treatment, since a node's internal edges move with it.
    * Output: `(node, label)`. */
  def louvainMove(edges: DataFrame, rounds: Int): DataFrame =
    louvainMoveWeighted(unitWeights(edges), rounds)

  /** `(src, dst)` edges as `(src, dst, w = 1)` — the unweighted graph the
    * weighted Louvain sweep and contraction run on. */
  private def unitWeights(edges: DataFrame): DataFrame =
    edges.select(col("src"), col("dst"), lit(1L).as("w"))

  /**
   * Synchronous Louvain local-move rounds over WEIGHTED `(src, dst, w)`
   * edges — modularity-GUIDED community detection, one step up from
   * [[labelPropagation]]'s frequency vote: every node simultaneously
   * adopts the neighbor community with the best exact modularity gain, or
   * stays put. This is the parallel local-move sweep distributed Louvain
   * implementations run (the sequential original visits nodes one at a
   * time — inherently serial and irreproducible under reordering; the
   * synchronous sweep is deterministic on any cluster layout and
   * oracle-mirrorable). The one sweep: [[louvainMove]] runs it on unit
   * weights, [[louvainLevels]] on each level's contraction.
   *
   * Exactness: with e2 = Σw (2|E| unweighted), the classical gain of
   * placing node i in community c is, up to the positive factor 2m²,
   *   score(i, c) = e2·e_{i→c} − k_i·(Σtot_c − [c = cur]·k_i)
   * — all integers (e_{i→c} is i's edge weight into c, self-loops
   * excluded; k_i is i's weighted degree, self-loops included; the
   * [c = cur] correction removes i's own degree from its current
   * community's total, the standard "gain of staying" normalization).
   * Argmax over the neighbor communities plus the current one; ties break
   * to the smaller community id. Both engines compute identical bits.
   * Scores ride Long up to Σw = [[SweepScoreLongSafeE2]] and auto-upgrade
   * to DECIMAL(38,0) past it ([[sweepScore]]).
   *
   * Oscillation control: a FULLY synchronous sweep 2-cycles on
   * symmetric structures (two tied nodes adopt each other's community
   * forever), so rounds alternate mover parity — round r moves only
   * nodes with `pmod(node, 2) = r % 2` (pmod, not `%`: Spark's `%`
   * keeps the dividend's sign, so a negative odd id would never match
   * either parity and silently never move), the rest hold their label.
   * This is the deterministic version of the mover-subset trick
   * distributed Louvain uses (random subsets / coloring); two rounds
   * together make one full sweep, and the alternation provably breaks
   * 2-cycles on bipartite-symmetric ties.
   *
   * Scale shape per round: ONE shuffle of edge-sized data (the grouped
   * e_{i→c} candidate build — the stay candidate rides the same
   * aggregate as a weight-0 union branch) plus one grouped argmax on
   * node id; the node-sized frames (labels, degrees) and the
   * community-sized Σtot broadcast into the scoring projection, and the
   * argmax is a partial-aggregable `max(struct(score, −label))` — no
   * window sort, no per-node collect. The label frame feeds four
   * consumers per round and the next round compounds that fan-out, so
   * each round's node-sized result is lineage-cut at the `rows`-sized
   * width. `rounds` is explicit and bounded like [[labelPropagation]].
   *
   * Output: `(node, label)` — the community assignment after `rounds`
   * alternating sweeps from singleton communities.
   */
  def louvainMoveWeighted(wEdges: DataFrame, rounds: Int,
      sumW: Option[Long] = None, rows: Option[Long] = None): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    import graft.recon.Checkpoints.cut
    // every lazy cut pays its subtree's AQE-off plan+codegen at
    // CONSTRUCTION time (~1-2 s each), so the cut count is the BUILD
    // knob: the label frame carries the node degree along (one cut per
    // round covers both the community state and the scoring inputs),
    // and nothing else is cut — measured at sf0.1 this shape beats both
    // the no-cut form (plan fan-out re-executes each round 4×, 25 s)
    // and the separate-deg-cut form (one more planned subtree).
    // Σw enters as a plan literal from ONE action instead of a per-round
    // broadcast-aggregate job (the cuts make round construction EXECUTE
    // eagerly through the broadcast chain, so every removed broadcast job
    // is serial wall time, not just plan nodes); callers that KNOW Σw
    // pass it via `sumW` and skip even that job ([[louvainLevels]]: Σw is
    // contraction-invariant, so the original edge count serves every level)
    val e2n = sumW.getOrElse(
      wEdges.agg(coalesce(sum(col("w")), lit(0L))).head().getLong(0))
    val score = sweepScore(lit(e2n), e2n > SweepScoreLongSafeE2) _
    // the sweep's shuffles all carry ≤ edge-row-count rows, and every
    // round is cut (planned AQE-off, so no runtime coalescing): size their
    // partitions from the row count instead of the session width (the
    // cuts' `rows`, and the same width on the explicit candidate
    // repartition; guide §2.2). Callers that know the ROW count pass it
    // via `rows` ([[louvainLevels]] reads each contraction's off its gate
    // row); otherwise Σw — an upper bound on the rows (integer weights
    // ≥ 1), equal to it on unit weights — is the free proxy
    val sweepRows = rows.getOrElse(e2n)
    val sweepParts = graft.recon.Checkpoints.parts(wEdges.sparkSession, sweepRows)
    // ROUND 1 IS SPECIALIZED: from singleton communities the label frame
    // IS the weighted-degree frame (label = node, Σtot_c = k_c), so the
    // first sweep derives everything from the edges directly — no
    // init-labels cut, no broadcast-labels join. Self-loops ride the
    // degree and Σtot but are never candidates. Only the MOVING PARITY is
    // scored in any round: non-movers hold their label whatever the
    // argmax says, so their half of the candidate shuffle would be waste.
    val wd = wEdges.groupBy(col("src").as("node")).agg(sum(col("w")).as("__k"))
    val links = wEdges.where(col("src") =!= col("dst"))
    def movers(df: DataFrame, keyCol: String, r: Int) =
      df.where(pmod(col(keyCol), lit(2)) === lit(r % 2))
    // ONE shuffle per round, not two: hash-partitioning on src alone
    // satisfies BOTH the (src, label) candidate aggregate and the src
    // argmax (same-key rows co-locate), so an explicit repartition(src)
    // replaces the two aggregate exchanges — and the partial-combine the
    // plain groupBy would run before its shuffle buys ~nothing here
    // (distinct edges ⇒ few duplicate (src, label) pairs per partition)
    val cand1 = movers(links, "src", 1)
      .select(col("src"), col("dst").as("label"), col("w").as("__w"))
      .unionByName(movers(wd, "node", 1).select(col("node").as("src"),
        col("node").as("label"), lit(0L).as("__w")))
      .repartition(sweepParts, col("src"))
      .groupBy(col("src"), col("label")).agg(sum(col("__w")).as("__w"))
    val scored1 = cand1
      .join(broadcast(wd.select(col("node").as("src"), col("__k"))), Seq("src"))
      .join(broadcast(wd.select(col("node").as("label"), col("__k").as("__tot"))),
        Seq("label"))
      .withColumn("__score", score(col("label") === col("src")))
    var labels = cut(louvainPickApply(scored1,
      wd.withColumn("label", col("node")), r = 1), rows = Some(sweepRows))
    for (r <- 2 to rounds) {
      val tot = labels.groupBy(col("label")).agg(sum(col("__k")).as("__tot"))
      // edge weight from a MOVING i into each neighbor community, PLUS the
      // current community at weight 0 so "stay" is always a candidate
      // (its true edge weight, if any, arrives from the neighbor side of
      // the union) — one half-edge shuffle builds the candidate table
      val cand = movers(links, "src", r)
        .join(broadcast(labels.select(col("node").as("dst"), col("label"))), Seq("dst"))
        .select(col("src"), col("label"), col("w").as("__w"))
        .unionByName(movers(labels, "node", r).select(col("node").as("src"),
          col("label"), lit(0L).as("__w")))
        .repartition(sweepParts, col("src"))
        .groupBy(col("src"), col("label")).agg(sum(col("__w")).as("__w"))
      val cur = labels.select(col("node").as("src"), col("label").as("__cur"),
        col("__k"))
      val scored = cand
        .join(broadcast(cur), Seq("src"))
        .join(broadcast(tot), Seq("label"))
        .withColumn("__score", score(col("label") === col("__cur")))
      labels = cut(louvainPickApply(scored, labels, r), rows = Some(sweepRows))
    }
    labels.select(col("node"), col("label"))
  }

  /** Largest Σw (= 2|E| unweighted) at which the Long sweep score is
    * provably overflow-free: |score| = |e2·e_{i→c} − k_i·(Σtot_c −
    * [stay]k_i)| ≤ 2·e2², so e2 ≤ 2·10⁹ keeps it under 2^63. Past this
    * bound (the 10¹³-edge 100 TB tier) the sweep scores in DECIMAL(38,0)
    * — exact to 10³⁸, same argmax, both engines agree — instead of
    * overflowing Long arithmetic (a raise under ANSI, a silent wrap
    * without it). Long stays the default below the bound because the
    * score projection is the hottest expression in the suite. */
  private[graft] val SweepScoreLongSafeE2 = 2000000000L

  /** One Louvain sweep round's gain score, `e2·e_{i→c} − k_i·(Σtot_c −
    * [stay]·k_i)`, over the candidate frame's `__w`/`__k`/`__tot`
    * columns — in Long, or in DECIMAL(38,0) when `dec` (the Σw >
    * [[SweepScoreLongSafeE2]] tier). */
  private[graft] def sweepScore(e2: Column, dec: Boolean)(stay: Column): Column = {
    def d(c: Column) = if (dec) c.cast("decimal(38,0)") else c
    d(e2) * col("__w") -
      d(col("__k")) * (col("__tot") - when(stay, col("__k")).otherwise(lit(0L)))
  }

  /** Shared tail of one Louvain sweep round: the partial-aggregable
    * struct-max argmax over the scored candidates ((score desc, label
    * asc) ≡ max of (score, −label) — no window sort), then the
    * parity-gated move applied to the current `(node, __k, label)` frame.
    * `pmod` (not `%`): Spark's `%` keeps the dividend's sign, so a
    * NEGATIVE odd node id would hash to −1, never match either parity,
    * and silently never move in any round. */
  private def louvainPickApply(scored: DataFrame, labels: DataFrame,
      r: Int): DataFrame = {
    val picked = scored
      .groupBy(col("src"))
      .agg(max(struct(col("__score"), (-col("label")).as("__neg"))).as("__m"))
      .select(col("src").as("node"), (-col("__m.__neg")).as("__new"))
    // LEFT join: only the moving parity was scored; everyone else has no
    // picked row and holds (the coalesce is safety — every scored mover
    // has at least its stay candidate, so movers are never null)
    labels.join(picked, Seq("node"), "left")
      .select(col("node"), col("__k"),
        when(pmod(col("node"), lit(2)) === lit(r % 2),
          coalesce(col("__new"), col("label")))
          .otherwise(col("label")).as("label"))
  }

  /** [[contractGraphWeighted]] of an unweighted `(src, dst)` edge list
    * (`w = 1` per directed edge): each super-edge weight is its edge
    * count. Output `(src, dst, w)`. */
  def contractGraph(edges: DataFrame, labels: DataFrame): DataFrame =
    contractGraphWeighted(unitWeights(edges), labels)

  /**
   * Contract a partition into its supernode multigraph — the coarsening
   * step between Louvain levels: every `(src, dst, w)` edge maps to its
   * endpoints' communities and its weight SUMS into a super-edge,
   * intra-community edges becoming self-loops (in the doubled directed
   * representation an internal undirected edge contributes 2w to its
   * community's self-loop). Σw and every supernode's weighted degree stay
   * exactly equal to its members' sums, so contracting a contraction
   * keeps the modularity bookkeeping exact across levels. Output
   * `(src, dst, w)` supernode edges; community-sized, usually far smaller
   * than |E|.
   */
  def contractGraphWeighted(wEdges: DataFrame, labels: DataFrame): DataFrame =
    wEdges
      // node-sized label frame broadcast TWICE (same contract as the
      // sweep rounds) — without the hint a cut LogicalRDD has no size
      // stats and Spark sort-merge-joins, shuffling the edge table twice
      .join(broadcast(labels.select(col("node").as("src"), col("label").as("__la"))),
        Seq("src"))
      .join(broadcast(labels.select(col("node").as("dst"), col("label").as("__lb"))),
        Seq("dst"))
      .groupBy(col("__la").as("src"), col("__lb").as("dst"))
      .agg(sum(col("w")).as("w"))

  /**
   * FULL multi-level Louvain with an exact-integer convergence gate —
   * the generalization of the hand-wired two-level chain: level 1 is
   * [[louvainMove]] on the unweighted edges; each partition then
   * contracts ([[contractGraph]] / [[contractGraphWeighted]]) into a
   * weighted supernode multigraph and the next level runs
   * [[louvainMoveWeighted]] on it. After each level the EXACT modularity
   * NUMERATOR over the original graph,
   *   Qnum = Σ_c (e2 · i2_c − dc_c²)   (over the constant denominator e2²,
   * computed in DECIMAL(38,0) so a 10¹³-edge corpus can't overflow it),
   * is compared as integers: a level that fails to raise Qnum is
   * discarded and the loop stops — the standard Louvain termination, with
   * no ε or float anywhere, so both engines agree on WHICH levels exist
   * bit for bit. `maxLevels` bounds the loop like every iterative op
   * here; the gate usually stops it earlier (a level that moves nothing
   * contracts to an identical graph, so the gate must fire).
   *
   * The per-level gate is one scalar action (driver-side loop control,
   * the [[graft.ops.Vocab]] trainer shape); each level's node-space
   * labels and its contraction are lineage-cut — every later level
   * consumes them several times.
   *
   * Output: `(level, node, label)` in ORIGINAL node space for every level
   * that RAN (level 1 always; level L+1 only if it raised Qnum).
   */
  def louvainLevels(edges: DataFrame, maxLevels: Int,
      roundsPerLevel: Int = 2): DataFrame = {
    require(maxLevels >= 1, s"maxLevels must be >= 1, got $maxLevels")
    import graft.recon.Checkpoints.cut
    // Σw is contraction-invariant — ONE count serves level 1's sweep and
    // every gate below
    val e2 = edges.count()
    // NO extra cut on the level-1 state: the sweep's final round already
    // lineage-cut its label frame, so every consumer below (the
    // contraction broadcasts, the out slice, the level-2 relabel join)
    // rescans that materialized RDD through a trivial projection — a
    // second cut here re-copied node-sized data and paid one more
    // AQE-off plan+codegen charge (~1.3 s) for nothing.
    var flat = louvainMoveWeighted(unitWeights(edges), roundsPerLevel,
      sumW = Some(e2)) // node space
    val out = scala.collection.mutable.ArrayBuffer(
      flat.select(lit(1).as("level"), col("node"), col("label")))
    if (maxLevels > 1) {
      // Every gate scalar comes off the CONTRACTION, never the original
      // edges: Qnum of a partition on G ≡ the singleton Qnum of its
      // contraction (self-loops carry i2_c, super-degrees carry dc —
      // exact integers both ways), and each level's contraction is built
      // anyway as the next level's input — at 100 TB the convergence
      // probe is contraction-sized, not corpus-sized. (The level's CUT
      // also carries the node-space relabel, so rejecting a level still
      // pays that one broadcast join inside the materialization — the
      // documented trade at the `combined` cut below.)
      val decZ = lit(null).cast("decimal(38,0)")
      // slice 1: super-edge rows of a contraction
      def tagged(con: DataFrame): DataFrame =
        con.select(lit(1).as("__slice"), col("src").as("__a"),
          col("dst").as("__b"), col("w").as("__w"), decZ.as("__sk2"))
      // (Qnum, contraction row count) per gate slice off the materialized
      // rows: by the contraction invariant Σ_n (e2·w_nn − k_n²) of the
      // SINGLETON partition of a contraction IS the numerator of the
      // partition the graph was contracted by — community-sized, never
      // corpus-sized
      def readGates(combo: DataFrame): Map[Int, (java.math.BigDecimal, Long)] =
        combo.where(col("__slice") >= 3)
          .select(col("__slice"), col("__a"), col("__sk2"), col("__b")).collect()
          .map { r =>
            r.getInt(0) -> (new java.math.BigDecimal(e2)
              .multiply(new java.math.BigDecimal(r.getLong(1)))
              .subtract(r.getDecimal(2)), r.getLong(3))
          }.toMap
      // the contraction subtree is edge-sized — size its partitions from
      // the measured edge count like the sweeps
      var contracted = cut(contractGraph(edges, flat), rows = Some(e2))
      // materialize the contraction now (it materializes either way at
      // the level's first action) and take its ROW count — the exact
      // partition-sizing input for everything level 2 plans, which Σw can
      // only bound from above. Later levels read theirs off the gate row.
      var supRows = contracted.count()
      // level 1's own Qnum is DEFERRED into level 2's cut (slice 4, an
      // aggregate over the already-cut level-1 contraction) — probing it
      // here would cost a whole extra planned action for a scalar the
      // level-2 materialization can carry along
      var q: java.math.BigDecimal = null
      var stopped = false
      for (level <- 2 to maxLevels if !stopped) {
        // per-round cuts unconditionally: even on a broadcast-scale
        // super-graph, planning the UNCUT two-round sweep as one deep
        // AQE-off tree measured slower (~4.8 s vs ~3.7 s at sf0.1 L3)
        // than two shallow round cuts whose execution is trivial
        val lv = louvainMoveWeighted(contracted, roundsPerLevel,
          sumW = Some(e2), rows = Some(supRows))
        // ONE cut frame per level carries ALL the level's products — the
        // contraction (__slice 1), the node-space relabel (__slice 2),
        // and the gate scalars (__slice 3; plus, at level 2 only, the
        // deferred level-1 gate as __slice 4): an accepted level always
        // consumes them together, so splitting them across cuts/actions
        // paid extra plan+codegen charges for no extra reuse. A rejected
        // level wastes one node-sized broadcast join inside the
        // materialization — cheaper than the cut it replaces, and it
        // happens at most once (rejection stops the loop).
        val con = contractGraphWeighted(contracted, lv)
        val base = tagged(con)
          .unionByName(flat
            .join(broadcast(lv.select(col("node").as("label"),
              col("label").as("__next"))), Seq("label"))
            .select(lit(2).as("__slice"), col("node").as("__a"),
              col("__next").as("__b"), lit(0L).as("__w"), decZ.as("__sk2")))
          .unionByName(louvainGateRow(con, 3))
        val combined = cut(
          if (level == 2) base.unionByName(louvainGateRow(contracted, 4)) else base,
          rows = Some(supRows))
        val gates = readGates(combined)
        if (level == 2) q = gates(4)._1
        val (qNext, nextRows) = gates(3)
        // exact integer compare — the level survives only if it RAISES Q
        if (qNext.compareTo(q) > 0) {
          flat = combined.where(col("__slice") === 2)
            .select(col("__a").as("node"), col("__b").as("label"))
          out += flat.select(lit(level).as("level"), col("node"), col("label"))
          contracted = combined.where(col("__slice") === 1)
            .select(col("__a").as("src"), col("__b").as("dst"),
              col("__w").as("w"))
          // the next level's partition-sizing input, off the gate row
          supRows = nextRows
          q = qNext
        } else stopped = true
      }
    }
    out.reduce(_ unionByName _)
  }

  /** The convergence-gate row [[louvainLevels]] materializes inside each
    * level's cut (as `__slice = slice`), aggregated from a contraction
    * `(src, dst, w)`: `__a` = Σ self-loop w, `__sk2` = Σ k² in
    * DECIMAL(38,0), and `__b` = the contraction's row count (summed from
    * a per-src count) — the next level's partition-sizing input, so no
    * separate count() job reads it. Materializing gate rows inside the
    * level's cut makes every convergence probe a filter-collect over an
    * already-computed RDD instead of a separately planned aggregate
    * action (~1.5-2 s of plan+codegen+job each at sf0.1); the aggregated
    * subtree executes once more inside the cut — community-sized, far
    * cheaper. */
  private[graft] def louvainGateRow(con: DataFrame, slice: Int): DataFrame =
    con.groupBy(col("src"))
      .agg(sum(col("w")).as("__k"),
        sum(when(col("dst") === col("src"), col("w")).otherwise(0L)).as("__self"),
        count(lit(1)).as("__n"))
      .agg(coalesce(sum(col("__self")), lit(0L)).as("__si2"),
        coalesce(sum(col("__k").cast("decimal(38,0)") * col("__k")),
          lit(0L).cast("decimal(38,0)")).as("__sk2"),
        coalesce(sum(col("__n")), lit(0L)).as("__rows"))
      .select(lit(slice).as("__slice"), col("__si2").as("__a"),
        col("__rows").as("__b"), lit(0L).as("__w"), col("__sk2"))

  /** The exact modularity numerator `Σ_c (e2·i2_c − dc_c²)` of a
    * partition over `edges`, in DECIMAL(38,0) — the scale-safe scalar
    * [[louvainLevels]]' convergence gate compares (e2 ≈ 10¹³ at the
    * 100 TB tier squares past Long). One aggregate pass over
    * [[modularityMicro]]-shaped inputs. */
  private[graft] def modularityNumExact(edges: DataFrame,
      labels: DataFrame): java.math.BigDecimal =
    modularityNumExactWith(edges, edges.count(), labels)

  /** [[modularityNumExact]] with 2|E| supplied — ONE distributed job:
    * the aggregate returns (Σ i2_c, Σ dc_c²) and the driver finishes
    * `e2·Σi2 − Σdc²` in BigDecimal (Σi2 ≤ e2 fits a Long; the square sum
    * rides DECIMAL(38,0)). */
  private def modularityNumExactWith(edges: DataFrame, e2: Long,
      labels: DataFrame): java.math.BigDecimal = {
    val lbl = labels.select(col("node"), col("label"))
    val deg = edges.groupBy(col("src").as("node")).agg(count(lit(1)).as("__deg"))
    val dsum = deg.join(broadcast(lbl), Seq("node"))
      .groupBy(col("label")).agg(sum(col("__deg")).as("__dc"))
    val intra = edges
      .join(broadcast(lbl.select(col("node").as("src"), col("label").as("__la"))),
        Seq("src"))
      .join(broadcast(lbl.select(col("node").as("dst"), col("label").as("__lb"))),
        Seq("dst"))
      .where(col("__la") === col("__lb"))
      .groupBy(col("__la").as("label")).agg(count(lit(1)).as("__i2"))
    val row = dsum.join(intra, Seq("label"), "left")
      .agg(coalesce(sum(coalesce(col("__i2"), lit(0L))), lit(0L)).as("__si2"),
        coalesce(sum(col("__dc").cast("decimal(38,0)") * col("__dc")),
          lit(0L).cast("decimal(38,0)")).as("__sdc2"))
      .head()
    new java.math.BigDecimal(e2)
      .multiply(new java.math.BigDecimal(row.getLong(0)))
      .subtract(row.getDecimal(1))
  }

  /**
   * Bounded-round k-core peeling: iteratively remove nodes of degree
   * < k from a SYMMETRIC edge list; survivors after `rounds` passes
   * approximate the k-core — the dense collaboration/co-occurrence
   * nucleus where every member has ≥ k neighbors also in the core
   * (hub-and-spoke inflation collapses: a popular node whose
   * neighbors are all one-off visitors peels away with them). Like
   * [[labelPropagation]], the round count is bounded and explicit:
   * each round is one degree aggregate + two semi-joins, `rounds`
   * rounds unroll into one plan. A fixpoint inside the budget makes
   * later rounds no-ops; callers needing certainty compare round
   * R and R−1 sizes.
   *
   * Output: `(node, degree)` of the surviving subgraph (degree within
   * the core, ≥ k if converged).
   */
  def kCore(edges: DataFrame, k: Int, rounds: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    var es = edges
    for (_ <- 1 to rounds) {
      val keep = es.groupBy("src").agg(count(lit(1)).as("__deg"))
        .where(col("__deg") >= k).select(col("src"))
      es = es.join(keep, Seq("src"), "left_semi")
        .join(keep.select(col("src").as("dst")), Seq("dst"), "left_semi")
    }
    es.groupBy(col("src")).agg(count(lit(1)).as("degree"))
      .select(col("src").as("node"), col("degree"))
  }

  /**
   * Bounded-round k-truss peel (Cohen 2008): the subgraph in which
   * every EDGE sits inside at least `k−2` triangles — the edge-grain
   * tightening of [[kCore]]'s node-degree criterion, and the standard
   * cohesive-subgraph primitive between "connected" (too loose) and
   * "clique" (too rigid). A bridge edge between two dense communities
   * has support 0 and peels immediately even when both endpoints pass
   * any degree screen — exactly the boilerplate-bridge edge a near-dup
   * community analysis wants cut.
   *
   * Per round: triangle enumeration on the CURRENT subgraph via the
   * [[triangleCounts]] (degree, id)-orientation (each undirected edge
   * survives in exactly one direction, wedges form only at the
   * lowest-ordered vertex — the skew bound), per-edge support as one
   * aggregate over the three edge projections of the triangle list,
   * then the filter. `rounds` bounds the loop like [[kCore]]; a peel
   * that removes nothing is a fixed point, so the reported support —
   * computed in the FINAL round's enumeration, i.e. the support that
   * justified survival — is stable once converged.
   *
   * Lineage cuts are MANDATORY here, not optional (the round-11 rule's
   * expensive-re-executed-subtree case, measured the hard way): the
   * oriented frame feeds three triangle-join legs, three support
   * projections and the survivor join, and the survivor frame feeds
   * both next-round directions — uncut, each round multiplies the
   * whole upstream ~7×, compounding per round (506 s at sf0.01 for two
   * rounds; ~8 s with the cuts).
   *
   * Input: symmetric `(src, dst)` edges, DISTINCT — a duplicated edge
   * row inflates every support count it touches (same precondition as
   * [[kCore]]'s degrees; [[coOccurrenceEdges]] satisfies it, the
   * no-dedup [[coOccurrencePairs]] does not). Output: canonical
   * `(src < dst, support)` rows of the peeled subgraph.
   */
  def kTruss(edges: DataFrame, k: Int, rounds: Int): DataFrame = {
    require(k >= 3, s"k must be >= 3, got $k")
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    import graft.recon.Checkpoints.cut
    // cut the INPUT edge list too: round 1's oriented-frame subtree
    // references it three times (directly + twice through the degree
    // aggregate), and ReuseExchange only dedups the exchanges, not the
    // derivation maps between them — for a co-occurrence self-join input
    // that re-executed the fan-out map stages per reference. The count
    // (a scan of the just-materialized blocks) sizes every round's cut
    // plans (`rows`; rounds only shrink the edge set, so the initial
    // count is a sound upper bound).
    var cur = cut(edges.select(col("src"), col("dst")))
    val m = cur.count()
    var kept: DataFrame = null
    for (_ <- 1 to rounds) {
      val deg = cur.groupBy("src").agg(count(lit(1)).as("__deg"))
      // one materialized oriented frame per round: 7 consumers below
      val f = cut(cur
        .join(deg.select(col("src").as("__ua"), col("__deg").as("__da")),
          col("src") === col("__ua"))
        .join(deg.select(col("src").as("__ub"), col("__deg").as("__db")),
          col("dst") === col("__ub"))
        .where(col("__da") < col("__db") ||
          (col("__da") === col("__db") && col("src") < col("dst")))
        .select(col("src").as("a"), col("dst").as("b")), rows = Some(m))
      // triangle list consumed by three support projections
      val tri = cut(f.select(col("a"), col("b").as("y"))
        .join(f.select(col("a"), col("b").as("z")), Seq("a"))
        .where(col("y") =!= col("z"))
        .join(f.select(col("a").as("y"), col("b").as("z")), Seq("y", "z"))
        .select(col("a").as("x"), col("y"), col("z")), rows = Some(m))
      val sup = tri.select(col("x").as("a"), col("y").as("b"))
        .unionAll(tri.select(col("x").as("a"), col("z").as("b")))
        .unionAll(tri.select(col("y").as("a"), col("z").as("b")))
        .groupBy(col("a"), col("b")).agg(count(lit(1)).as("support"))
      // survivors feed both next-round directions (and the final output)
      kept = cut(f.join(sup, Seq("a", "b"), "left")
        .select(col("a"), col("b"),
          coalesce(col("support"), lit(0L)).as("support"))
        .where(col("support") >= (k - 2).toLong), rows = Some(m))
      cur = kept.select(col("a").as("src"), col("b").as("dst"))
        .unionAll(kept.select(col("b").as("src"), col("a").as("dst")))
    }
    kept.select(least(col("a"), col("b")).as("src"),
      greatest(col("a"), col("b")).as("dst"), col("support"))
  }

  /**
   * Bounded-hop BFS: minimum hop distance from a SEED set, out to
   * `maxHops` — "what is within k clicks/copies/co-orders of this
   * set", the blast-radius query behind contamination spread and
   * recall-set expansion. Frontier style: each round expands only the
   * PREVIOUS round's newly-reached nodes and anti-joins everything
   * already reached, so a node's depth is final the round it first
   * appears (true min distance, no re-visits). Unreached nodes are
   * absent from the output — at 100 TB emitting "everything else,
   * depth ∞" would be the data-sized answer to a frontier-sized
   * question.
   *
   * Scale shape per round: one equi-join frontier×edges + one
   * anti-join against the reached set, both key-partitioned; `maxHops`
   * rounds unroll into one declarative plan like [[pageRank]].
   * Output: `(node, depth)` with depth 0 for the seeds themselves.
   */
  def bfsDepth(edges: DataFrame, seeds: DataFrame, maxHops: Int): DataFrame = {
    require(maxHops >= 1, s"maxHops must be >= 1, got $maxHops")
    var reached = seeds.select(col("node")).distinct()
      .withColumn("depth", lit(0L))
    for (h <- 1 to maxHops) {
      val next = reached.where(col("depth") === (h - 1L))
        .join(edges.select(col("src").as("node"), col("dst")), Seq("node"))
        .select(col("dst").as("node")).distinct()
        .join(reached.select("node"), Seq("node"), "left_anti")
        .withColumn("depth", lit(h.toLong))
      reached = reached.unionByName(next)
    }
    reached
  }

  /**
   * Personalized PageRank: same integer damped iteration as
   * [[pageRank]], but ALL teleport mass returns to the seed set
   * instead of spreading uniformly — rank becomes "influence relative
   * to these seeds" (the proximity signal behind seed-based curation:
   * docs/parts/users gravitating around a trusted or contaminated
   * core). Initial mass sits entirely on the seeds
   * (`1e6·N div |S|` each, so total mass stays ≈ N·1e6 and ranks are
   * comparable with [[pageRank]]'s scale); each round every node keeps
   * `dampMilli` of its inflow and seeds absorb the restart mass.
   * Non-seed nodes with no path from a seed stay at rank 0 — correct,
   * not a bug (their true PPR is 0). Same per-round shape as
   * [[pageRank]]: one edge join + one aggregate, `iters` rounds
   * unrolled into one plan.
   */
  def personalizedPageRank(edges: DataFrame, seeds: DataFrame, iters: Int = 3,
      dampMilli: Int = 850): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    require(dampMilli >= 0 && dampMilli <= 1000, s"dampMilli out of range: $dampMilli")
    val deg = edges.groupBy("src").agg(count(lit(1)).as("__deg"))
    val withDeg = edges.join(deg, Seq("src"))
    val seedSet = seeds.select(col("node")).distinct()
      .join(deg.select(col("src").as("node")), Seq("node"), "left_semi")
    val sizes = deg.agg(count(lit(1)).as("__N"))
      .crossJoin(seedSet.agg(count(lit(1)).as("__S")))
    val teleBase = 1000L - dampMilli
    // in-plan guard (same discipline as Selection's target probe): an
    // empty effective seed set would make every rank 0 silently. The
    // div stays integral — a double detour would lose exactness past
    // 2^53 at large N
    def overS(num: String) =
      when(col("__S") > 0, expr(s"($num) div __S"))
        .otherwise(raise_error(
          lit("personalizedPageRank: no seed is a node of the graph")).cast("long"))
    // per-seed teleport and initial mass, one broadcast row for the sizes
    val nodes = deg.select(col("src").as("node"))
      .join(seedSet.withColumn("__isSeed", lit(1L)), Seq("node"), "left")
      .crossJoin(broadcast(sizes))
      .select(col("node"),
        coalesce(col("__isSeed"), lit(0L)).as("__isSeed"),
        overS(s"$teleBase * 1000 * __N").as("__teleSeed"),
        overS("1000000 * __N").as("__initSeed"))
    dampedRounds(withDeg, nodes, col("__isSeed") * col("__teleSeed"),
      col("__isSeed") * col("__initSeed"), iters, dampMilli)
  }

  /**
   * Integer PageRank: `iters` damped rounds over a distinct edge list.
   * Every node starts at 1,000,000 micro-units; per round each node
   * sends `rank div out_degree` along each out-edge and folds to
   * `(1000 − dampMilli)·1000 + (dampMilli · Σ in) div 1000`. Nodes are
   * the sources of `edges` (on a symmetric graph: every connected
   * node). Output: `(node, rank_micro)`.
   *
   * Dangling mass: a node with no out-edges is not a source row, so its
   * rank leaks — pass a symmetric edge list (e.g.
   * [[coOccurrenceEdges]]) or pre-add sink back-edges if leakage
   * matters; the ranking semantics here follow the common
   * drop-dangling simplification.
   *
   * This is [[personalizedPageRank]] with every node seeded: with
   * |S| = N its seed mass `(1000 − dampMilli)·1000·N div N` and
   * `10⁶·N div N` are exact, so both run [[dampedRounds]] on the same
   * values.
   */
  def pageRank(edges: DataFrame, iters: Int = 3, dampMilli: Int = 850): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    require(dampMilli >= 0 && dampMilli <= 1000, s"dampMilli out of range: $dampMilli")
    val deg = edges.groupBy("src").agg(count(lit(1)).as("__deg"))
    dampedRounds(edges.join(deg, Seq("src")), deg.select(col("src").as("node")),
      lit((1000L - dampMilli) * 1000L), lit(1000000L), iters, dampMilli)
  }

  /** The damped round loop both PageRanks run, `iters` rounds unrolled
    * into one plan: each round pushes `rank_micro div __deg` along every
    * edge of `withDeg` (the edge list annotated with out-degrees), sums
    * the inflow per node and sets `rank = tele + (dampMilli·in) div
    * 1000`. `tele` and `init` are each node's teleport and initial mass,
    * as columns over `nodes` (one row per node, column `node`). */
  private def dampedRounds(withDeg: DataFrame, nodes: DataFrame, tele: Column,
      init: Column, iters: Int, dampMilli: Int): DataFrame = {
    var ranks = nodes.select(col("node"), init.as("rank_micro"))
    for (_ <- 1 to iters) {
      val in = withDeg
        .join(ranks, withDeg("src") === ranks("node"))
        // div, not /: long division through doubles can land one ulp
        // under the true quotient and truncate a full unit
        .select(col("dst"), expr("rank_micro div __deg").as("__c"))
        .groupBy("dst").agg(sum(col("__c")).as("__in"))
      ranks = nodes
        .join(in, col("node") === col("dst"), "left")
        .select(col("node"),
          (tele + expr(s"($dampMilli * coalesce(__in, 0L)) div 1000")).as("rank_micro"))
    }
    ranks
  }

  /**
   * Newman modularity of a node partition, per community in exact
   * micro-units — the "did community detection find real structure"
   * score (Q ≈ 0: no better than random; Q ≳ 0.3: strong communities).
   * For symmetric distinct edges (|edges| = 2m) and a community with
   * directed-intra-edge count i2 and degree sum d_c:
   * `q_micro = (10^6·i2) div 2m − (10^6·d_c²) div (2m)²` — each term
   * floor-quantized over DECIMAL(38,0), so the per-community rows (and
   * their sum, the partition's Q) are engine-exact integers. Cost: two
   * equi-joins of the edge list against the (node, label) frame and
   * bounded per-label aggregates — no wedges, no windows.
   *
   * PRECONDITION: `partition` must be a TOTAL partition of the edge
   * list's nodes — exactly one `(node, label)` row per node with an
   * edge. 2m is derived as the label-joined degree sum (it saves a
   * third full edge pass), so a partition frame missing nodes (or
   * duplicating them) silently rescales every q_micro's denominator
   * from true 2m to the covered-degree sum; it does NOT merely skip
   * the uncovered communities. Every in-repo caller passes the full
   * assignment a detection op returned.
   * Output: `(label, n_nodes, intra_edges, deg_sum, q_micro)`.
   */
  def modularityMicro(edges: DataFrame, partition: DataFrame): DataFrame = {
    val lbl = partition.select(col("node"), col("label"))
    val deg = edges.groupBy(col("src").as("node")).agg(count(lit(1)).as("__deg"))
    // the node-sized label frame broadcasts into every edge-sized join
    // (same contract as the louvain sweeps): cut LogicalRDDs carry no
    // size stats, so unhinted these were sort-merge edge shuffles
    val dsum = deg.join(broadcast(lbl), Seq("node"))
      .groupBy(col("label")).agg(sum(col("__deg")).as("__dc"),
        count(lit(1)).as("n_nodes"))
    // 2|E| = Σ degrees — read it off the label-sized dsum frame instead
    // of paying a third full edge pass for a count
    val tot = dsum.agg(sum(col("__dc")).as("__e2"))
    val intra = edges
      .join(broadcast(lbl.select(col("node").as("src"), col("label").as("__la"))),
        Seq("src"))
      .join(broadcast(lbl.select(col("node").as("dst"), col("label").as("__lb"))),
        Seq("dst"))
      .where(col("__la") === col("__lb"))
      .groupBy(col("__la").as("label")).agg(count(lit(1)).as("__i2"))
    dsum.join(intra, Seq("label"), "left")
      .withColumn("__i2", coalesce(col("__i2"), lit(0L)))
      .crossJoin(broadcast(tot))
      .select(col("label"), col("n_nodes"),
        expr("__i2 div 2").as("intra_edges"), col("__dc").as("deg_sum"),
        expr("""CAST((CAST(__i2 AS DECIMAL(38,0)) * 1000000) div __e2
               |  - (CAST(__dc AS DECIMAL(38,0)) * __dc * 1000000)
               |    div (CAST(__e2 AS DECIMAL(38,0)) * __e2) AS BIGINT)""".stripMargin)
          .as("q_micro"))
  }

  /**
   * Link prediction by common neighborhood: for every NON-adjacent pair
   * (a, b) sharing at least one neighbor, the common-neighbor count and
   * the resource-allocation index (Zhou/Lü/Zhang 2009 — like
   * Adamic–Adar but with 1/deg(z) instead of 1/log deg(z), which keeps
   * the score exact-integer in milli-units: `Σ_z 1000 div deg(z)`).
   * The "which items/docs SHOULD be connected" signal — candidate
   * generation for recommendation and for near-dup edges the sketch
   * pass missed.
   *
   * Scale: wedges are built at their CENTER z with fan-out deg(z)², so
   * a hub center is the skew risk. Centers with `deg > maxCenterDeg`
   * are skipped — at the default cap of 1000 this is LOSSLESS for the
   * milli-quantized RA score (1000 div deg = 0 beyond it) and only the
   * reported `cn` count loses those hub-mediated neighbors (documented
   * semantics: common neighbors via sub-cap centers). Existing edges
   * are removed by an equi-anti-join, never a filter over a cartesian.
   *
   * Output: `(node_a, node_b, cn, ra_milli)` with node_a < node_b, one
   * row per predicted pair.
   */
  def linkPrediction(edges: DataFrame, maxCenterDeg: Long = 1000L): DataFrame = {
    require(maxCenterDeg >= 1, s"maxCenterDeg must be >= 1: $maxCenterDeg")
    val deg = edges.groupBy(col("src").as("z")).agg(count(lit(1)).as("__deg"))
      .where(col("__deg") <= maxCenterDeg)
    // wedge a–z–b from the symmetric edge list: both (a,b) orders are
    // generated; keep a < b so each unordered pair aggregates once
    val wedges = edges.select(col("src").as("z"), col("dst").as("a"))
      .join(edges.select(col("src").as("z"), col("dst").as("b")), Seq("z"))
      .where(col("a") < col("b"))
      .join(deg, Seq("z"))
    val scored = wedges.groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("cn"),
        sum(expr("1000 div __deg")).as("ra_milli"))
    scored
      .join(edges.select(col("src").as("a"), col("dst").as("b")),
        Seq("a", "b"), "left_anti")
      .select(col("a").as("node_a"), col("b").as("node_b"),
        col("cn"), col("ra_milli"))
  }

  /**
   * Neighbor-set Jaccard link prediction — the size-normalized
   * complement of [[linkPrediction]]'s resource-allocation score:
   * `J(a,b) = |Γa ∩ Γb| / (deg a + deg b − |Γa ∩ Γb|)`, exact milli.
   * RA rewards RARE shared neighbors; Jaccard rewards shared FRACTION —
   * two low-degree nodes sharing most of their neighborhoods outrank a
   * pair that happens to share one rare hub. Same wedge generation and
   * hub-center cap (wedges through centers above `maxCenterDeg` are
   * skipped — the skew guard, documented undercount for hub-mediated
   * pairs); non-edges only.
   */
  def neighborJaccard(edges: DataFrame, maxCenterDeg: Long = 1000L): DataFrame = {
    require(maxCenterDeg >= 1, s"maxCenterDeg must be >= 1: $maxCenterDeg")
    val degAll = edges.groupBy(col("src").as("n")).agg(count(lit(1)).as("deg"))
    val degZ = degAll.where(col("deg") <= maxCenterDeg).select(col("n").as("z"))
    val wedges = edges.select(col("src").as("z"), col("dst").as("a"))
      .join(edges.select(col("src").as("z"), col("dst").as("b")), Seq("z"))
      .where(col("a") < col("b"))
      .join(degZ, Seq("z"))
    val cn = wedges.groupBy(col("a"), col("b")).agg(count(lit(1)).as("cn"))
    cn.join(edges.select(col("src").as("a"), col("dst").as("b")),
        Seq("a", "b"), "left_anti")
      .join(degAll.select(col("n").as("a"), col("deg").as("deg_a")), Seq("a"))
      .join(degAll.select(col("n").as("b"), col("deg").as("deg_b")), Seq("b"))
      .select(col("a").as("node_a"), col("b").as("node_b"), col("cn"),
        col("deg_a"), col("deg_b"),
        expr("(1000 * cn) div (deg_a + deg_b - cn)").as("jac_milli"))
  }
}
