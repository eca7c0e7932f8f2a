package graft.tools

import graft.LocalSession
import org.apache.spark.sql.functions._

/** Scratch profiler for the louvainLevels cost: times the hierarchy
  * query's construction (which, via the in-loop gate actions, executes
  * every level) and the final output action separately, against the
  * public operator — so it can't drift from the implementation the way
  * an inlined replay would. For per-phase laps, temporarily add laps
  * inside [[graft.ops.Graph.louvainLevels]].
  * Usage: SPARK_GRAFT_CPUS=32 sbt "runMain graft.tools.HierProfile [sfDir]" */
object HierProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val spark = LocalSession.fromEnv(32)
    Warmup.warmJvm(spark)
    var t0 = System.nanoTime()
    def lap(tag: String): Unit = {
      val t = System.nanoTime()
      println(f"LAP $tag%-34s ${(t - t0) / 1e9}%7.2f s")
      t0 = t
    }
    import graft.ops.Graph
    import graft.recon.Checkpoints.cut
    for (pass <- 1 to 2) {
      println(s"== pass $pass ==")
      t0 = System.nanoTime()
      val edges = cut(Graph.coOccurrenceEdges(
        spark.read.parquet(s"$sfDir/lineitem.parquet"), "l_orderkey", "l_partkey"))
      lap("edges cut (plan)")
      val levels = Graph.louvainLevels(edges, maxLevels = 3, roundsPerLevel = 2)
      lap("louvainLevels BUILD (all gates)")
      val n = levels.count()
      lap(s"output action (rows=$n)")
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    }
    spark.stop()
  }
}
