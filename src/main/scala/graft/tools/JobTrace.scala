package graft.tools

import org.apache.spark.scheduler._
import graft.LocalSession

/** Job-grain profile of one registry query: every Spark job's wall time
  * and summed task time, plus the driver-side GAPS between jobs (plan,
  * codegen, broadcast-build serialization — everything that isn't a
  * running job). The gap column is what the lineage-cut policy trades
  * against; the task-time column is the distributed work itself.
  *
  * Usage: SPARK_GRAFT_CPUS=32 sbt 'runMain graft.tools.JobTrace <query> [sfDir]'
  */
object JobTrace {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val spark = LocalSession.fromEnv(32)
    Warmup.warmJvm(spark)

    case class J(id: Int, submit: Long, var done: Long = 0L,
      var taskMs: Long = 0L, var nTasks: Int = 0, var nStages: Int = 0,
      var gcMs: Long = 0L, var deserMs: Long = 0L, var fetchWaitMs: Long = 0L,
      var shufWriteMs: Long = 0L, var shufReadB: Long = 0L,
      var shufWriteB: Long = 0L, var inputB: Long = 0L)
    val jobs = scala.collection.mutable.LinkedHashMap[Int, J]()
    val stageToJob = scala.collection.mutable.Map[Int, Int]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
        jobs(e.jobId) = J(e.jobId, e.time)
        e.stageIds.foreach(s => stageToJob(s) = e.jobId)
        jobs(e.jobId).nStages = e.stageIds.size
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
        jobs.get(e.jobId).foreach(_.done = e.time)
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
        for (jid <- stageToJob.get(e.stageId); j <- jobs.get(jid);
             m <- Option(e.taskMetrics)) {
          j.taskMs += m.executorRunTime; j.nTasks += 1
          j.gcMs += m.jvmGCTime
          j.deserMs += m.executorDeserializeTime
          j.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
          j.shufWriteMs += m.shuffleWriteMetrics.writeTime / 1000000L
          j.shufReadB += m.shuffleReadMetrics.totalBytesRead
          j.shufWriteB += m.shuffleWriteMetrics.bytesWritten
          j.inputB += m.inputMetrics.bytesRead
        }
      }
    }
    spark.sparkContext.addSparkListener(listener)
    for (pass <- 1 to 2) {
      jobs.clear(); stageToJob.clear()
      val t0 = System.nanoTime()
      val df = graft.SparkEntry.queries(name)(spark, sfDir)
      val tb = System.nanoTime()
      val n = df.count()
      val tr = System.nanoTime()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      Thread.sleep(300) // let listener events drain
      println(f"== pass $pass: $name rows=$n BUILD=${(tb - t0) / 1e9}%.2f " +
        f"RUN=${(tr - tb) / 1e9}%.2f ==")
      val js = jobs.values.toSeq.sortBy(_.submit)
      var prevEnd = js.headOption.map(_.submit).getOrElse(0L)
      var gapSum = 0.0; var wallSum = 0.0; var taskSum = 0.0
      var gcSum = 0.0; var fetchSum = 0.0; var deserSum = 0.0
      js.foreach { j =>
        val gap = (j.submit - prevEnd) / 1e3
        val wall = (j.done - j.submit) / 1e3
        gapSum += math.max(gap, 0); wallSum += wall; taskSum += j.taskMs / 1e3
        gcSum += j.gcMs / 1e3; fetchSum += j.fetchWaitMs / 1e3
        deserSum += j.deserMs / 1e3
        println(f"job=${j.id}%4d gap=$gap%6.2f wall=$wall%6.2f " +
          f"task=${j.taskMs / 1e3}%7.2f gc=${j.gcMs / 1e3}%6.2f " +
          f"deser=${j.deserMs / 1e3}%6.2f fetchW=${j.fetchWaitMs / 1e3}%5.2f " +
          f"sRd=${j.shufReadB / 1048576}%5dM sWr=${j.shufWriteB / 1048576}%5dM " +
          f"in=${j.inputB / 1048576}%5dM tasks=${j.nTasks}%4d")
        prevEnd = j.done
      }
      println(f"TOTAL jobs=${js.size} gapSum=$gapSum%.2f wallSum=$wallSum%.2f " +
        f"taskSum=$taskSum%.2f gcSum=$gcSum%.2f deserSum=$deserSum%.2f fetchSum=$fetchSum%.2f")
      System.gc()
    }
    spark.stop()
  }
}
