package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Plain reference forms that graph specs check the operators in
  * `graft.ops.Graph` against. Nothing in the library calls them. */
object GraphOracles {

  /** Skip-gram context pairs from a WALK table `(start, walk, step, node)`
    * by a self-join per walk: `(center, context, n_pairs)` over every
    * step pair within `window` of each other on the same walk — the
    * join form `Graph.walkContextsFromPaths` must equal on the path form
    * of the same walks. */
  def walkContexts(walks: DataFrame, window: Int): DataFrame = {
    require(window >= 1, s"window must be >= 1: $window")
    val a = walks.select(col("start"), col("walk"),
      col("step").as("__sa"), col("node").as("center"))
    val b = walks.select(col("start"), col("walk"),
      col("step").as("__sb"), col("node").as("context"))
    a.join(b, Seq("start", "walk"))
      .where(col("__sb") =!= col("__sa") &&
        abs(col("__sb") - col("__sa")) <= window)
      .groupBy(col("center"), col("context"))
      .agg(count(lit(1)).as("n_pairs"))
  }

  /** The exact modularity numerator `Σ_c (e2·i2_c − dc_c²)` of a
    * partition `labels (node, label)` over `edges (src, dst)`, with
    * `e2 = |edges|` — the scalar `Graph.louvainLevels`' convergence gate
    * must strictly raise per emitted level. The aggregate returns
    * (Σ i2_c, Σ dc_c²) and the driver finishes `e2·Σi2 − Σdc²` in
    * BigDecimal (the square sum rides DECIMAL(38,0)). */
  def modularityNumExact(edges: DataFrame, labels: DataFrame): java.math.BigDecimal = {
    val e2 = edges.count()
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
}
