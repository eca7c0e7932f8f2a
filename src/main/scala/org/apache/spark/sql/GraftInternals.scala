package org.apache.spark.sql

import org.apache.spark.SparkContext
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ClassicConversions.castToImpl

/**
 * Bridge into Spark's `private[sql]` API — the standard pattern public
 * Spark extension libraries use (cf. the package-placement in
 * SNIPPETS.md [1]/[3]):
 *  - the Column↔Expression converters, to wrap custom Catalyst
 *    expressions as user-facing Columns on Spark 4's split Column API;
 *  - `cloneSession` and `Dataset.ofRows`, to plan a frame under a
 *    private copy of its session's conf and hand the result back to the
 *    caller's session ([[graft.recon.Checkpoints.cut]]);
 *  - the listener bus drain, to wait for asynchronously delivered
 *    listener events ([[graft.tools.PlanAudit.cutPlans]]).
 */
object GraftInternals {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** A child of `spark`: the same SparkContext and shared state, a COPY
    * of its session state and conf, with `overrides` set on the copy
    * only — `spark`'s own conf is never written. The child shares
    * `spark`'s artifact manager, so its jobs run under `spark`'s executor
    * classloader: Spark gives each session id its own, and the codegen
    * cache is keyed by classloader, so a child with its own recompiled
    * every stage it ran, and compiled code lived twice in the cache
    * (measured: ~90 compilations per warm dedup_components_alt run, and a
    * traced reconbench intraday batch 1.5× slower). */
  def cloneSession(spark: SparkSession, overrides: (String, String)*): SparkSession = {
    val child = spark.cloneSession()
    overrides.foreach { case (k, v) => child.sessionState.conf.setConfString(k, v) }
    val artifacts = classOf[internal.SessionState].getDeclaredField("artifactManager")
    artifacts.setAccessible(true)
    artifacts.set(child.sessionState, spark.sessionState.artifactManager)
    child
  }

  /** Block until every event posted so far has reached every listener. */
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** `df`'s analyzed plan as a frame of `spark`: optimized, planned and
    * executed under `spark`'s conf. */
  def ofRows(spark: SparkSession, df: DataFrame): DataFrame =
    classic.Dataset.ofRows(spark, df.logicalPlan)
}
