package reconbench

import java.lang.management.ManagementFactory
import java.nio.file.Paths

import scala.collection.mutable.ArrayBuffer
import scala.io.Source

import org.apache.spark.sql.SparkSession

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of nothing")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  /** The highest order statistic with at least 10 samples above it, as
    * (value, percentile, samples); the maximum when there are fewer than
    * 11 samples. */
  def tail(xs: Seq[Double]): (Double, Double, Int) = {
    val s = xs.sorted
    val n = s.length
    if (n < 11) (s.last, 100.0, n)
    else (s(n - 11), 100.0 * (n - 10) / n, n)
  }
}

/** A metric as printed: name, value, unit. */
final case class Metric(name: String, value: Double, unit: String)

object Session {
  /** Local session, one executor thread per core, as many shuffle
    * partitions as cores; working files under `work`. */
  def create(cores: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("reconbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.default.parallelism", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def stop(s: SparkSession): Unit = {
    s.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }
}

/**
 * Benchmark entry point: one JVM, one closed-loop client running one batch at
 * a time.
 *
 * {{{
 * Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir>
 * }}}
 *
 * Prints a report (lines starting with `#`) and, as the last line, one
 * JSON object with `correct`, `attempted`, `failed` and `metrics`: the
 * end-to-end metrics with `--trace 0`, the per-layer ones with `--trace 1`.
 */
object Main {
  private val MinBatches = 3

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def opt(k: String) = opts.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val w = Workloads.byName(opt("workload"))
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val work = Paths.get(opt("work")).toAbsolutePath.toString
    val cores = math.min(4, Runtime.getRuntime.availableProcessors())
    val loadAvg = readLoadAvg()

    // Set-up runs from JVM start until the session is ready and one
    // untimed batch of the workload itself has run, so the timed batches do
    // not pay for first-use class loading and code generation. Input
    // generation runs in between and is not counted.
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = Session.create(cores, work)
    val sessionReady = (System.currentTimeMillis() - jvmStart) / 1e3
    val genStart = System.nanoTime()
    val inputs = Gen.write(spark, w, seed, s"$work/input")
    val genSeconds = (System.nanoTime() - genStart) / 1e9
    val warm = new Runner(spark, w, inputs, s"$work/warmup-results", new Tracer(spark.sparkContext))
      .run(0, 0, traced = false)
    val warmBatch = warm.wallNs / 1e9
    val setup = sessionReady + warmBatch

    val sc = spark.sparkContext
    val tracer = new Tracer(sc)
    val listener = new EngineListener
    val resultsRoot = s"$work/results"
    val runner = new Runner(spark, w, inputs, resultsRoot, tracer)
    val outcomes = ArrayBuffer.empty[BatchOutcome]
    val traces = ArrayBuffer.empty[BatchTrace]
    val loopStart = System.nanoTime()
    def elapsed = (System.nanoTime() - loopStart) / 1e9
    // the measured time is the batches' own wall, not the checks between
    // them. At least MinBatches run, so a median never rests on fewer
    // (and a traced run has traced and untraced batches). Carry-over keeps
    // state across the days of a week, so its run ends on a week boundary.
    def more = outcomes.size < MinBatches || outcomes.map(_.wallNs).sum / 1e9 < seconds ||
      (w.persist == CarriedStatuses && outcomes.last.input != w.batches - 1)
    // the resident high-water mark grows with the work done, so it is read
    // after the same work in every run: set-up and MinBatches batches
    var rssAtMinKb = Double.NaN
    var b = 0
    while (more) {
      // the traced run interleaves traced and untraced batches, so the
      // tracing overhead is measured under the same conditions
      val traceThis = traced && b % 2 == 1
      if (traceThis) sc.addSparkListener(listener)
      val o = runner.run(b, b % w.batches, traceThis)
      if (traceThis) {
        org.apache.spark.reconbench.SparkInternals.drain(sc)
        sc.removeSparkListener(listener)
        val root = tracer.spans.filter(s => s.batch == b && s.parent == 0L)
        root.foreach(r => traces += BatchTrace.of(r, tracer.spans, listener))
      }
      outcomes += o
      if (outcomes.size == MinBatches) rssAtMinKb = readVmHwmKb()
      b += 1
    }

    val inputBytes = outcomes.map(_.input).distinct.map(inputs.inputBytes).sum
    val storedBytes = Fs.bytesOf(Paths.get(resultsRoot))
    val storage = sc.getExecutorMemoryStatus.values.map(_._1).sum
    val failed = outcomes.count(!_.ok)
    val correct = failed == 0 && warm.ok

    val walls = outcomes.map(_.wallNs / 1e9)
    // the first timed batch is still warming up, so the tracing overhead
    // compares the traced batches with the later untraced ones
    val untracedWalls = outcomes.filter(o => !o.traced && o.batch > 0).map(_.wallNs / 1e9).toSeq
    val (tailValue, tailPct, tailN) = Stats.tail(walls.toSeq)
    val endToEnd = Seq(
      Metric("setup_s", setup, "s"),
      Metric("rows_per_s", outcomes.map(_.rows).sum / walls.sum, "1/s"),
      Metric("batch_s_p50", Stats.median(walls.toSeq), "s"),
      Metric("batch_s_tail", tailValue, "s"),
      Metric("peak_rss_mb", rssAtMinKb / 1024.0, "MB"),
      Metric("stored_bytes_per_input_byte", storedBytes.toDouble / inputBytes, "ratio"))
    val perLayer =
      if (traced) layerMetrics(outcomes.filter(_.traced).toSeq, traces.toSeq, untracedWalls, loadAvg) :+
        Metric("harness.warmup_batch_s", warmBatch, "s")
      else Nil

    val p = (s: String) => println(s"# $s")
    p(s"workload ${w.name}: ${w.batches} batch(es) of ~${w.txnsPerBatch} transactions, " +
      s"persist=${w.persist}, seed=$seed, input sha256=${inputs.sha256}")
    p(s"closed loop, 1 client, local[$cores], ${spark.conf.get("spark.sql.shuffle.partitions")} " +
      s"shuffle partitions, max heap ${Runtime.getRuntime.maxMemory() >> 20} MB, loadavg at start: $loadAvg")
    p(f"set-up $setup%.3f s: session ready $sessionReady%.3f s after JVM start, then warm-up batch " +
      f"$warmBatch%.3f s; not counted: input generation $genSeconds%.1f s")
    warm.error.foreach(e => p(s"FAILED warm-up batch: $e"))
    p(f"batches: ${outcomes.size}, failed: $failed, failed_batch_ratio: ${BatchOutcome.failedRatio(outcomes.toSeq)}%.4f" +
      f", timed loop ${elapsed}%.1f s of which checks ${outcomes.map(_.checkNs).sum / 1e9}%.1f s")
    p(s"batch walls (s): ${walls.map(x => f"$x%.3f").mkString(", ")}")
    p(f"batch_s_tail is the p$tailPct%.1f of $tailN batch(es)" +
      (if (tailN < 11) " (fewer than 11 samples: the maximum)" else " (10 samples above it)"))
    val cutPeak = outcomes.map(_.cutBytes).maxOption.getOrElse(0L)
    val cutDisk = outcomes.map(_.cutDiskBytes).maxOption.getOrElse(0L)
    p(f"cut blocks: up to ${cutPeak / 1048576.0}%.1f MB per batch, ${cutDisk / 1048576.0}%.1f MB of it on disk; " +
      f"storage memory ${storage / 1048576.0}%.0f MB" +
      (if (cutDisk == 0) " (cuts fit in memory)" else " (cuts spilled to disk)"))
    p(s"stored bytes $storedBytes under results for $inputBytes input bytes")
    outcomes.filterNot(_.ok).take(5).foreach(o => p(s"FAILED batch ${o.batch} (input ${o.input}): ${o.error.get}"))
    (endToEnd ++ perLayer).foreach(m => p(f"${m.name} = ${m.value} ${m.unit}"))
    if (traced) {
      val m = perLayer.map(x => x.name -> x.value).toMap
      val fixed = (m("sources.call_s") + m("reconciler.call_s") + m("engine.driver_gap_s")) / m("trace.batch_s")
      p(f"regimes: (sources.call_s + reconciler.call_s + engine.driver_gap_s) / batch wall = $fixed%.2f " +
        f"(planning inside the calls counts in both terms); engine.job_wall_s / batch wall = " +
        f"${m("engine.job_wall_s") / m("trace.batch_s")}%.2f")
    }

    val shown = if (traced) perLayer else endToEnd
    val json = shown.map(m => s""""${m.name}": {"value": ${m.value}, "unit": "${m.unit}"}""")
      .mkString("{", ", ", "}")
    println(s"""{"correct": $correct, "attempted": ${outcomes.size}, "failed": $failed, "metrics": $json}""")
    Session.stop(spark)
  }

  private def layerMetrics(batches: Seq[BatchOutcome], traces: Seq[BatchTrace],
      untracedWalls: Seq[Double], loadAvg: String): Seq[Metric] = {
    require(traces.nonEmpty, "no traced batch completed")
    def med(f: BatchTrace => Double) = Stats.median(traces.map(f))
    def medB(f: BatchOutcome => Double) = Stats.median(batches.map(f))
    def medC(f: Counts => Double) = Stats.median(batches.flatMap(_.counts).map(f) match {
      case Seq() => Seq(0.0) // no batch passed its check; the run is not correct
      case xs => xs
    })
    def layer(t: BatchTrace, l: String) = t.selfNsByLayer.getOrElse(l, 0L) / 1e9
    val mb = 1048576.0
    val run = traces.map(_.engine.runMs).sum
    val cpuNs = traces.map(_.engine.cpuNs).sum
    val tracedWall = Stats.median(traces.map(_.wallNs / 1e9))
    Seq(
      Metric("sources.call_s", med(layer(_, "Sources")), "s"),
      Metric("reconciler.call_s", med(layer(_, "Reconciler")), "s"),
      Metric("sinks.call_s", med(layer(_, "Sinks")), "s"),
      Metric("publish.call_s", med(layer(_, "Publish")), "s"),
      Metric("harness.self_s", med(layer(_, "Harness")), "s"),
      Metric("engine.driver_gap_s", med(_.driverGapNs / 1e9), "s"),
      Metric("engine.jobs", med(_.engine.jobs.toDouble), "count"),
      Metric("engine.stages", med(_.engine.stages.toDouble), "count"),
      Metric("engine.tasks", med(_.engine.tasks.toDouble), "count"),
      Metric("checkpoints.cuts", medB(_.cuts.toDouble), "count"),
      Metric("engine.job_wall_s", med(_.jobUnionNs / 1e9), "s"),
      Metric("engine.task_run_s", med(_.engine.runMs / 1e3), "s"),
      Metric("engine.task_cpu_s", med(_.engine.cpuNs / 1e9), "s"),
      Metric("engine.gc_s", med(_.engine.gcMs / 1e3), "s"),
      Metric("engine.shuffle_write_mb", med(_.engine.shuffleWrite / mb), "MB"),
      Metric("engine.shuffle_read_mb", med(_.engine.shuffleRead / mb), "MB"),
      Metric("engine.spill_mb", med(_.engine.spill / mb), "MB"),
      Metric("engine.peak_exec_mem_mb", med(_.engine.peakExecMem / mb), "MB"),
      Metric("checkpoints.cut_mb", medB(_.cutBytes / mb), "MB"),
      Metric("sinks.output_mb", medB(_.outputBytes / mb), "MB"),
      Metric("sinks.output_files", medB(_.outputFiles.toDouble), "count"),
      Metric("sinks.output_rows", medB(_.outputRows.toDouble), "count"),
      Metric("publish.versions_on_disk", medB(_.versionsOnDisk.toDouble), "count"),
      Metric("sources.input_mb", med(_.engine.bytesRead / mb), "MB"),
      Metric("sources.input_rows", med(_.engine.recordsRead.toDouble), "count"),
      Metric("reconciler.zero_effect_pairs", medC(_.zeroEffectPairs.toDouble), "count"),
      Metric("reconciler.matched_exact", medC(_.matchedExact.toDouble), "count"),
      Metric("reconciler.matched_tolerance", medC(_.matchedTolerance.toDouble), "count"),
      Metric("reconciler.displaced", medC(_.displaced.toDouble), "count"),
      Metric("reconciler.internal_remanent", medC(_.internalRemanent.toDouble), "count"),
      Metric("reconciler.external_remanent", medC(_.externalRemanent.toDouble), "count"),
      Metric("reconciler.pass_yield", medC(_.passYield), "ratio"),
      Metric("engine.cpu_ratio", if (run == 0) 0.0 else cpuNs / 1e6 / run, "ratio"),
      Metric("engine.failed_tasks", traces.map(_.engine.failedTasks).sum.toDouble, "count"),
      Metric("trace.batch_s", tracedWall, "s"),
      Metric("trace.overhead_ratio",
        if (untracedWalls.isEmpty) Double.NaN else tracedWall / Stats.median(untracedWalls), "ratio"),
      Metric("trace.driver_gap_share", med(t => t.driverGapNs.toDouble / t.wallNs), "ratio"),
      Metric("trace.plan_share",
        med(t => (layer(t, "Sources") + layer(t, "Reconciler")) / (t.wallNs / 1e9)), "ratio"),
      Metric("trace.job_wall_share", med(t => t.jobUnionNs.toDouble / t.wallNs), "ratio"),
      Metric("host.loadavg_1m", loadAvg.split(' ').head.toDouble, "load"))
  }

  private def readLoadAvg(): String = {
    val src = Source.fromFile("/proc/loadavg")
    try src.mkString.trim.split("\\s+").take(3).mkString(" ") finally src.close()
  }

  private def readVmHwmKb(): Double = {
    val src = Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble).getOrElse(Double.NaN)
    finally src.close()
  }
}
