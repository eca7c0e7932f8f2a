package graft.tools

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, GraftInternals, SparkSession}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.util.QueryExecutionListener
import graft.LocalSession

/**
 * Scale red-flag scan over every registered query's physical plan and
 * the plan of every lineage cut the query makes: cartesian products,
 * single-partition exchanges (global windows / unpartitioned sorts
 * funneling all rows through one task), and interpreted non-codegen
 * stages are exactly the patterns that pass a small-SF correctness check
 * and then die at 100×. Run ad hoc:
 *
 *   sbt "runMain graft.tools.PlanAudit [sfDir]"
 *
 * Prints one line per query; FLAG lines name the offending pattern, with
 * `(in cut)` when it sits in a cut subtree. The closing `AUDIT` line
 * counts the flagged queries and the cut plans audited.
 */
object PlanAudit {

  /** Builds `query` and returns it with the executed plan of every
    * lineage cut ([[graft.recon.Checkpoints.cut]]) made while building
    * it, in cut order. Downstream a cut subtree is a `LogicalRDD` leaf,
    * so these are the only view of what a cut runs. They come from a
    * listener on `spark`: a cut checkpoints under a `localCheckpoint` or
    * `checkpoint` action in a child session, which inherits the caller's
    * listeners. Delivery is asynchronous, so the listener bus is drained
    * before the listener is removed. */
  def cutPlans(spark: SparkSession)(query: => DataFrame): (DataFrame, Seq[SparkPlan]) = {
    val plans = new ConcurrentLinkedQueue[SparkPlan]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        if (funcName == "localCheckpoint" || funcName == "checkpoint") plans.add(qe.executedPlan)
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val df = query
      GraftInternals.drainListenerBus(spark.sparkContext)
      (df, plans.asScala.toSeq)
    } finally spark.listenerManager.unregister(listener)
  }

  /** The red-flag patterns for one executed plan — shared with
    * [[ScaleCheck]], which asserts the flag set stays IDENTICAL across
    * scale factors (a plan that turns cartesian only at 10× data is the
    * worst kind of scale bug: invisible at the correctness SF). Inspect
    * with AQE disabled — AdaptiveSparkPlanExec is a leaf to collect(). */
  def flagsOf(plan: org.apache.spark.sql.execution.SparkPlan): Seq[String] = {
    // typed node checks, not string grep: a SinglePartition exchange
    // under a global AGGREGATE is the normal tiny final-combine stage;
    // the killers are whole-input funnels (unpartitioned windows) and
    // cartesian joins
    // an unpartitioned window whose input passed through a global
    // limit of ≤ 100k rows is bounded by construction (e.g. a rank
    // stamp on a top-k result) — only flag whole-input funnels. The
    // limit must sit on the DIRECT input path: walk single-child
    // nodes only, and stop at anything that can re-multiply rows
    // after the limit (joins/unions via the multi-child case,
    // generate/explode explicitly) — a ≤100k limit under one join
    // side bounds nothing about the window's input
    def boundedByLimit(p: org.apache.spark.sql.execution.SparkPlan): Boolean = p match {
      case l: org.apache.spark.sql.execution.GlobalLimitExec if l.limit <= 100000 => true
      case t: org.apache.spark.sql.execution.TakeOrderedAndProjectExec
          if t.limit <= 100000 => true
      case _: org.apache.spark.sql.execution.GenerateExec => false
      case u if u.children.length == 1 => boundedByLimit(u.children.head)
      case _ => false // leaves and multi-child (join/union) nodes
    }
    // a window whose input is an aggregate GROUPED ON
    // spark_partition_id() is bounded by the partition count, not the
    // row count — the partition offsets behind every row index and
    // running sum (Sources.withPartitionPrefix) are exactly this shape.
    // Resolve the grouping attribute through child Projects to the
    // SparkPartitionID expression.
    def groupsOnPartitionId(p: org.apache.spark.sql.execution.SparkPlan): Boolean = {
      import org.apache.spark.sql.catalyst.expressions.{Attribute, SparkPartitionID}
      def producesPid(pl: org.apache.spark.sql.execution.SparkPlan,
          refs: Set[Attribute]): Boolean = pl match {
        case pr: org.apache.spark.sql.execution.ProjectExec =>
          pr.projectList.exists(ne => refs.contains(ne.toAttribute) &&
            ne.exists(_.isInstanceOf[SparkPartitionID])) ||
            pr.children.exists(producesPid(_, refs))
        case other => other.children.exists(producesPid(_, refs))
      }
      p match {
        case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec =>
          a.groupingExpressions.nonEmpty && a.groupingExpressions.forall { g =>
            g.exists(_.isInstanceOf[SparkPartitionID]) ||
              producesPid(a, g.references.toSet)
          }
        case u if u.children.length == 1 => groupsOnPartitionId(u.children.head)
        case _ => false
      }
    }
    plan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec
          if w.partitionSpec.isEmpty &&
            !w.children.exists(c => boundedByLimit(c) || groupsOnPartitionId(c)) =>
        "global window over all rows"
      case _: org.apache.spark.sql.execution.joins.CartesianProductExec =>
        "cartesian product"
    }.distinct
  }

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    val spark = LocalSession.fromEnv(8)
    // AQE OFF: AdaptiveSparkPlanExec is a leaf node — collect() would
    // never see inside it and every audit would be vacuously green. The
    // un-adapted plan is exactly the shape we need to inspect.
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.sparkContext.setLogLevel("ERROR")

    // iteration aid, mirrors Verify's SPARK_GRAFT_VERIFY_ONLY: audit a
    // comma-separated subset (full audits remain the committed gate)
    val only = sys.env.get("SPARK_GRAFT_AUDIT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    var flagged = 0
    var cutsAudited = 0
    graft.SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try {
        val (df, cuts) = cutPlans(spark)(fn(spark, sfDir))
        cutsAudited += cuts.size
        val flags = (flagsOf(df.queryExecution.executedPlan) ++
          cuts.flatMap(flagsOf).map(f => s"$f (in cut)")).distinct
        if (flags.nonEmpty) { flagged += 1; println(s"FLAG  $name: ${flags.mkString(", ")}") }
        else println(s"ok    $name")
      } catch {
        case e: Throwable => flagged += 1; println(s"ERR   $name: ${e.getMessage}")
      } finally {
        spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
      }
    }
    println(s"AUDIT flagged=$flagged cuts=$cutsAudited")
    spark.stop()
  }
}
