package graft.recon

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, GraftInternals, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD

/**
 * Lineage-cut policy for the engine's load-bearing materialization points
 * (pre-fan-out shingle tables, per-pass remanents, pre-sort candidate
 * sets). Catalyst re-executes a subplan once per consumer and
 * ReuseExchange only dedups identical exchanges, so these cuts are
 * correctness-of-cost, not correctness-of-result.
 *
 * [[cut]] is the one place that decides how a cut subtree is planned
 * (AQE, shuffle width): it plans in a child of the caller's session and
 * never writes the caller's conf, so concurrent planners on one session
 * cannot see each other's settings.
 *
 * Two storage modes:
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

  /** Target rows per shuffle partition in a `rows`-sized cut subtree.
    * The frames this governs are a few long/int columns wide (edge
    * lists, label vectors, candidate pairs) — 250k such rows is roughly
    * a 15–30 MB in-memory block, small enough to keep per-task state
    * trivial and large enough that per-task overhead stays amortized. */
  final val DefaultRowsPerPartition = 250000L

  /** Shuffle width for a frame of `rows` rows:
    * `ceil(rows / DefaultRowsPerPartition)`, clamped to [1, `spark`'s
    * shuffle partitions] — a cluster run with a properly sized
    * `spark.sql.shuffle.partitions` is unaffected until a frame is
    * genuinely small, which is when coalescing is right at any scale. */
  def parts(spark: SparkSession, rows: Long): Int = {
    val session = spark.sessionState.conf.numShufflePartitions
    val wanted = (rows + DefaultRowsPerPartition - 1) / DefaultRowsPerPartition
    math.max(1L, math.min(session.toLong, wanted)).toInt
  }

  /** Cut `df`'s lineage, per the session's checkpoint policy.
    *
    * The subtree is planned in a CHILD of `df`'s session
    * (`cloneSession`: same SparkContext, a private copy of the conf), and
    * the checkpointed plan is handed back to `df`'s session — so how a
    * cut is planned never touches the caller's conf, and any number of
    * threads may cut on one session at once. The child runs its jobs
    * under the caller's classloader (see `GraftInternals.cloneSession`)
    * and differs from the caller in at most two keys:
    *  - LAZY (`eager = false`) cuts plan with AQE off. `checkpoint()`
    *    calls `queryExecution.toRdd` up front, and an
    *    `AdaptiveSparkPlanExec` EXECUTES its intermediate stages inside
    *    `execute()` — with AQE on, a "lazy" cut would run its shuffles at
    *    construction (measured: recon_pass_full BUILD 8.6 s AQE-lazy vs
    *    11.7 s eager). Materialization happens on the first ACTION, not
    *    here: eager cuts charged query BUILD with the whole upstream
    *    execution and materialized frames the caller might never consume;
    *    in the reliable mode the checkpoint-write job recomputes
    *    partitions regardless, so eager's extra `count()` job bought
    *    nothing. The returned plan is a `LogicalRDD` either way, and the
    *    enclosing query still runs under AQE.
    *  - `rows` (a measured or bounding row count of the subtree's frames)
    *    sets its shuffle width to [[parts]]`(rows)`, with AQE off even
    *    when eager: AQE would re-size the chosen width, and an AQE-planned
    *    cut reports no output partitioning, so a consumer keyed on the
    *    cut's hash key would re-shuffle it. Without AQE nothing coalesces
    *    a cut's shuffles, and pushing a handful of rows through
    *    session-width stages is pure scheduling tax (guide §2.2; an
    *    in-session paired A/B of 32 → 8 partitions measured 0.35–0.59× on
    *    the louvain/components families). An implicit-width
    *    `repartition(col)` fixes its width when the frame is BUILT, in
    *    the caller's session — pass the width explicitly there.
    *
    * Pass `eager = true` ONLY when the caller is about to invalidate the
    * frame's INPUTS (e.g. delete the temp files it reads) or release an
    * upstream cut — then the data must be pinned before this call
    * returns. */
  def cut(df: DataFrame, eager: Boolean = false, rows: Option[Long] = None): DataFrame = {
    val spark = df.sparkSession
    val overrides =
      Option.when(!eager || rows.nonEmpty)("spark.sql.adaptive.enabled" -> "false") ++
        rows.map(r => "spark.sql.shuffle.partitions" -> parts(spark, r).toString)
    val planned = GraftInternals.ofRows(
      GraftInternals.cloneSession(spark, overrides.toSeq: _*), df)
    val checkpointed = spark.conf.getOption(DirConf) match {
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
        planned.checkpoint(eager = eager)
      case _ => planned.localCheckpoint(eager = eager)
    }
    GraftInternals.ofRows(spark, checkpointed)
  }

  /** Drop the stored blocks of every cut `df` reads directly. Only for a
    * cut nothing will read again — e.g. once an eager re-cut of it has
    * materialized: local-checkpoint blocks are otherwise reclaimed only
    * when the frame is garbage-collected. */
  def release(df: DataFrame): Unit =
    df.queryExecution.logical.foreach {
      case r: LogicalRDD => r.rdd.unpersist(blocking = false)
      case _ =>
    }
}
