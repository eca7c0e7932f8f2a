package graft.recon

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame

/**
 * Lineage-cut policy for the engine's load-bearing materialization points
 * (pre-fan-out shingle tables, per-pass remanents, pre-sort candidate
 * sets). Catalyst re-executes a subplan once per consumer and
 * ReuseExchange only dedups identical exchanges, so these cuts are
 * correctness-of-cost, not correctness-of-result.
 *
 * Two modes:
 *  - default: `localCheckpoint(eager)` — blocks stay on executor local
 *    storage. Fastest, but non-replicated: on a real cluster an executor
 *    loss past the cut fails the job.
 *  - `spark.graft.checkpointDir` set: reliable `checkpoint()` into that
 *    (HDFS/object-store) directory — survives executor loss, the right
 *    setting for long multi-pass runs at the 100 TB scale. The directory
 *    is installed as the SparkContext checkpoint dir on first use, and the
 *    per-app UUID subdir is deleted at application end (multi-pass runs
 *    lay down one checkpoint per cut — without cleanup they accumulate
 *    unboundedly). For mid-run reclamation of checkpoints whose frames
 *    have been GC'd, additionally submit with
 *    `spark.cleaner.referenceTracking.cleanCheckpoints=true` (read at
 *    SparkContext construction — cannot be installed here).
 */
object Checkpoints {

  final val DirConf = "spark.graft.checkpointDir"

  private val cleanupHooked = new java.util.concurrent.atomic.AtomicBoolean(false)

  /** Delete the per-app checkpoint subdir when the application ends. */
  private def hookCleanup(sc: org.apache.spark.SparkContext): Unit =
    if (cleanupHooked.compareAndSet(false, true)) {
      sc.addSparkListener(new org.apache.spark.scheduler.SparkListener {
        override def onApplicationEnd(
            end: org.apache.spark.scheduler.SparkListenerApplicationEnd): Unit =
          sc.getCheckpointDir.foreach { d =>
            val p = new Path(d)
            try p.getFileSystem(sc.hadoopConfiguration).delete(p, true)
            catch { case _: java.io.IOException => () } // best-effort
          }
      })
    }

  /** Cut `df`'s lineage, per the session's checkpoint policy.
    *
    * LAZY (`eager = false`) in both modes: the returned frame's plan is a
    * `LogicalRDD` either way — the lineage cut and single-materialization
    * guarantee are identical — but materialization happens on the first
    * ACTION, not here at plan-construction time. Eager cuts charged query
    * BUILD with the whole upstream execution (r7 measured 11.7 s BUILD vs
    * 1.9 s RUN on the flagship multi-pass query) and materialized frames
    * the caller might never consume. For the reliable mode, lazy is
    * strictly cheaper: the checkpoint-write job recomputes partitions
    * regardless, so eager's extra `count()` job bought nothing.
    *
    * Pass `eager = true` ONLY when the caller is about to invalidate the
    * frame's INPUTS (e.g. delete the temp files it reads) — then the data
    * must be pinned before this call returns. */
  def cut(df: DataFrame, eager: Boolean = false): DataFrame = {
    val spark = df.sparkSession
    // scratch diagnostics: cut subtrees are LogicalRDD leaves downstream,
    // so Explain/PlanAudit never see inside them — this env-gated dump is
    // the only window into the plans that actually run
    if (sys.env.contains("GRAFT_CUT_EXPLAIN"))
      println(s"==== CUT SUBTREE (${df.schema.fieldNames.mkString(",")}) ====\n" +
        df.queryExecution.executedPlan.toString.take(
          sys.env.get("GRAFT_CUT_EXPLAIN").flatMap(_.toIntOption).getOrElse(8000)))
    // Lazy is only real if the subtree is planned WITHOUT AQE: checkpoint()
    // calls queryExecution.toRdd up front, and an AdaptiveSparkPlanExec
    // EXECUTES all its intermediate query stages inside execute() — i.e. at
    // plan-construction time, which is exactly the eager cost this mode
    // exists to avoid (measured: recon_pass_full BUILD 8.6 s with AQE-lazy
    // vs 11.7 s eager). Cut subtrees trade AQE's runtime re-planning for
    // laziness; the enclosing query (and the cluster-level skew/coalesce
    // handling that matters at 100 TB) still runs under AQE, and a cut is
    // by definition a boundary we've already chosen to materialize whole.
    // CONCURRENCY: this set/restore mutates the shared session RuntimeConfig
    // and assumes the driver plans one query at a time on this session (true
    // for every entry point in this repo — Verify, Bench, PlanAudit and the
    // specs are all sequential). A host application planning concurrently on
    // the SAME session (streaming microbatch thread, parallel query builders)
    // could have an unrelated query planned with AQE off, or its own conf
    // change clobbered by the restore; such callers should give each thread
    // its own `spark.newSession()` (separate SQLConf, shared context) and
    // build the frame there. Scoping the override per-plan instead would
    // need internal APIs (planning reads `sessionState.conf` directly, so
    // `SQLConf.withExistingConf`'s thread-local does not cover it).
    val AqeKey = "spark.sql.adaptive.enabled"
    def planned[T](body: => T): T =
      if (eager) body
      else {
        // an unset key is restored UNSET, not pinned to its default
        val prev = Option.when(spark.sessionState.conf.contains(AqeKey))(spark.conf.get(AqeKey))
        spark.conf.set(AqeKey, "false")
        try body
        finally prev match {
          case Some(v) => spark.conf.set(AqeKey, v)
          case None => spark.conf.unset(AqeKey)
        }
      }
    spark.conf.getOption(DirConf) match {
      case Some(dir) if dir.nonEmpty =>
        val sc = spark.sparkContext
        // setCheckpointDir installs a fully-QUALIFIED path ("file:/…",
        // "hdfs://…") plus a per-app UUID subdir — qualify the configured
        // dir the same way and compare it with the installed dir's PARENT,
        // or every cut would install a fresh subdir (and a string-prefix
        // test would take `/x/ck` for the installed `/x/ck2/<uuid>`)
        val p = new Path(dir)
        val qualified = p.getFileSystem(sc.hadoopConfiguration).makeQualified(p)
        if (!sc.getCheckpointDir.exists(cur => new Path(cur).getParent == qualified))
          sc.setCheckpointDir(dir)
        hookCleanup(sc)
        planned(df.checkpoint(eager = eager))
      case _ => planned(df.localCheckpoint(eager = eager))
    }
  }
}
