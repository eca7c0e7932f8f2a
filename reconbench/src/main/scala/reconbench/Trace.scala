package reconbench

import scala.collection.mutable

import org.apache.spark.{SparkContext, Success}
import org.apache.spark.scheduler._
import org.apache.spark.storage.RDDBlockId

/** One timed call. `name` is `Layer.function`; times are `System.nanoTime`. */
final case class Span(id: Long, name: String, parent: Long, batch: Int, start: Long, end: Long) {
  def layer: String = name.takeWhile(_ != '.')
  def length: Long = end - start
}

object Intervals {
  /** Length covered by the union of `[start, end)` intervals. */
  def unionLength(iv: Seq[(Long, Long)]): Long = {
    var total, curStart, curEnd = 0L
    var open = false
    iv.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (open && s <= curEnd) curEnd = math.max(curEnd, e)
      else {
        if (open) total += curEnd - curStart
        curStart = s; curEnd = e; open = true
      }
    }
    if (open) total += curEnd - curStart
    total
  }

  def clip(iv: Seq[(Long, Long)], lo: Long, hi: Long): Seq[(Long, Long)] =
    iv.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }.filter { case (s, e) => e > s }

  /** Each span's duration minus the part of it its children cover. */
  def selfTimes(spans: Seq[Span]): Map[Long, Long] = {
    val children = spans.groupBy(_.parent)
    spans.map { s =>
      val kids = children.getOrElse(s.id, Nil).map(c => (c.start, c.end))
      s.id -> (s.length - unionLength(clip(kids, s.start, s.end)))
    }.toMap
  }
}

/**
 * Spans taken in the harness around each layer call. While a span is
 * open, its id is the SparkContext local property [[Tracer.SpanProp]], so
 * every job the call submits carries it (Spark copies local properties
 * to the threads that run broadcast and subquery jobs). Spans stay in
 * memory; nothing is written until the run ends.
 */
final class Tracer(sc: SparkContext) {
  var enabled = false
  var batch = -1
  private var nextId = 1L
  private var open = List.empty[Long]
  private val recorded = mutable.ArrayBuffer.empty[Span]

  def spans: Seq[Span] = recorded.toSeq

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = open.headOption.getOrElse(0L)
      val outer = sc.getLocalProperty(Tracer.SpanProp)
      sc.setLocalProperty(Tracer.SpanProp, id.toString)
      open = id :: open
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        open = open.tail
        sc.setLocalProperty(Tracer.SpanProp, outer)
        recorded += Span(id, name, parent, batch, t0, t1)
      }
    }
}

object Tracer {
  final val SpanProp = "reconbench.span"
}

/** Engine work attributed to one span. Times in ms unless named `Ns`. */
final class EngineTotals {
  var jobs, stages, tasks, failedTasks = 0L
  var runMs, cpuNs, gcMs = 0L
  var shuffleWrite, shuffleRead, spill, peakExecMem = 0L
  var bytesRead, recordsRead = 0L

  def add(o: EngineTotals): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; failedTasks += o.failedTasks
    runMs += o.runMs; cpuNs += o.cpuNs; gcMs += o.gcMs
    shuffleWrite += o.shuffleWrite; shuffleRead += o.shuffleRead; spill += o.spill
    peakExecMem = math.max(peakExecMem, o.peakExecMem)
    bytesRead += o.bytesRead; recordsRead += o.recordsRead
  }
}

/**
 * Attributes jobs, stages and tasks to the span that was open when the job
 * was submitted. Job intervals are kept on the `System.nanoTime` axis of
 * the spans (event times are wall-clock milliseconds, shifted by the
 * offset measured at construction).
 */
final class EngineListener extends SparkListener {
  private val nanoOffset = System.currentTimeMillis() * 1000000L - System.nanoTime()
  private def toNanos(ms: Long): Long = ms * 1000000L - nanoOffset

  private val jobSpan = mutable.Map.empty[Int, Long]
  private val jobStart = mutable.Map.empty[Int, Long]
  private val jobEnds = mutable.ArrayBuffer.empty[(Long, Long, Long)]
  private val stageSpan = mutable.Map.empty[Int, Long]
  private val totals = mutable.Map.empty[Long, EngineTotals]

  private def of(span: Long) = totals.getOrElseUpdate(span, new EngineTotals)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.SpanProp)))
      .map(_.toLong).getOrElse(0L)
    jobSpan(e.jobId) = span
    jobStart(e.jobId) = toNanos(e.time)
    e.stageIds.foreach(stageSpan(_) = span)
    of(span).jobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    for (span <- jobSpan.remove(e.jobId); start <- jobStart.remove(e.jobId))
      jobEnds += ((span, start, toNanos(e.time)))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    of(stageSpan.getOrElse(e.stageInfo.stageId, 0L)).stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val t = of(stageSpan.getOrElse(e.stageId, 0L))
    t.tasks += 1
    if (e.reason != Success) t.failedTasks += 1
    val m = e.taskMetrics
    if (m != null) {
      t.runMs += m.executorRunTime
      t.cpuNs += m.executorCpuTime
      t.gcMs += m.jvmGCTime
      t.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      t.shuffleRead += m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead
      t.spill += m.diskBytesSpilled
      t.peakExecMem = math.max(t.peakExecMem, m.peakExecutionMemory)
      t.bytesRead += m.inputMetrics.bytesRead
      t.recordsRead += m.inputMetrics.recordsRead
    }
  }

  /** Finished jobs as (span, start, end). */
  def jobs: Seq[(Long, Long, Long)] = synchronized(jobEnds.toSeq)

  /** Summed totals of the given spans. */
  def totalsOf(spans: Set[Long]): EngineTotals = synchronized {
    val sum = new EngineTotals
    totals.foreach { case (id, t) => if (spans.contains(id)) sum.add(t) }
    sum
  }
}

/**
 * The largest size each RDD block reached while the listener was
 * registered, from the block manager's updates. Unlike
 * `sc.getPersistentRDDs`, which holds RDDs weakly so a collection can drop
 * them mid-batch, it sees every persisted block.
 */
final class BlockListener extends SparkListener {
  private val sizes = mutable.Map.empty[RDDBlockId, (Long, Long)]

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit =
    e.blockUpdatedInfo.blockId match {
      case id: RDDBlockId => synchronized {
        val (mem, disk) = sizes.getOrElse(id, (0L, 0L))
        sizes(id) = (math.max(mem, e.blockUpdatedInfo.memSize), math.max(disk, e.blockUpdatedInfo.diskSize))
      }
      case _ =>
    }

  /** By RDD id, the summed (memory, disk) bytes of its blocks. */
  def rdds: Map[Int, (Long, Long)] = synchronized {
    sizes.toSeq.groupBy(_._1.rddId).map { case (rdd, blocks) =>
      rdd -> (blocks.map(_._2._1).sum, blocks.map(_._2._2).sum)
    }
  }
}

/** One traced batch, broken down by layer. */
final case class BatchTrace(
    wallNs: Long,
    selfNsByLayer: Map[String, Long],
    jobUnionNs: Long,
    engine: EngineTotals) {
  def driverGapNs: Long = wallNs - jobUnionNs
}

object BatchTrace {
  /** Break down the batch whose root span is `root`. */
  def of(root: Span, spans: Seq[Span], listener: EngineListener): BatchTrace = {
    val mine = spans.filter(_.batch == root.batch)
    val ids = mine.map(_.id).toSet
    val self = Intervals.selfTimes(mine)
    val byLayer = mine.groupBy(_.layer).map { case (l, ss) => l -> ss.map(s => self(s.id)).sum }
    val union = Intervals.unionLength(Intervals.clip(
      listener.jobs.collect { case (sp, s, e) if ids.contains(sp) => (s, e) }, root.start, root.end))
    BatchTrace(root.length, byLayer, union, listener.totalsOf(ids))
  }
}
