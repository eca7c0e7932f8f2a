package graft

import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.ops.Dedup
import graft.recon.{Checkpoints, KeyPair, FieldTypes, ReconConfig, Reconciler, ToleranceRule}
import graft.tools.PlanAudit

/** How `Checkpoints.cut` plans a cut subtree: in a child session of the
  * caller's, with AQE off for a lazy cut and the shuffle width sized from
  * `rows` — and never by writing the caller's conf, so cuts on one
  * session from several threads each keep their own plan. */
class CutPlanningSpec extends SparkSuite {
  import spark.implicits._

  /** A subtree with one shuffle: an aggregate over `n` rows. */
  private def shuffled(n: Long): DataFrame =
    spark.range(0, n).groupBy((col("id") % 97).as("k")).agg(count(lit(1)).as("c"))

  /** Partition count of the cut RDD `df` reads. */
  private def width(df: DataFrame): Int =
    df.queryExecution.analyzed.collectFirst { case r: LogicalRDD => r.rdd.getNumPartitions }
      .getOrElse(fail(s"no cut in ${df.queryExecution.analyzed}"))

  private def explicitConf: Map[String, String] = spark.sessionState.conf.getAllConfs

  /** Jobs `body` started on this thread. Listener events arrive
    * asynchronously, so a marker job is run after `body` and waited for:
    * every earlier job start has been delivered by then. */
  private def jobsDuring(body: => Unit): Int = {
    val sc = spark.sparkContext
    val tag = s"cut-probe-${System.nanoTime()}"
    val jobs = new AtomicInteger(0)
    val marker = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some(`tag`) => jobs.incrementAndGet()
          case Some(g) if g == s"$tag-marker" => marker.countDown()
          case _ =>
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(tag, "cut construction")
      try body finally sc.clearJobGroup()
      sc.setJobGroup(s"$tag-marker", "marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(marker.await(60, TimeUnit.SECONDS), "marker job never reached the listener")
      jobs.get()
    } finally sc.removeSparkListener(listener)
  }

  test("a lazy cut of a shuffle subtree runs no job at construction") {
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
    var plain: DataFrame = null
    var sized: DataFrame = null
    assert(jobsDuring {
      plain = Checkpoints.cut(shuffled(1000))
      sized = Checkpoints.cut(shuffled(1000), rows = Some(1000))
    } == 0)
    assert(plain.count() == 97 && sized.count() == 97)
  }

  test("rows sizes the cut's shuffles: ceil(rows / 250000), clamped to [1, session width]") {
    val session = spark.sessionState.conf.numShufflePartitions
    assert(session == 4)
    val cases = Seq(None -> session, Some(0L) -> 1, Some(1L) -> 1, Some(250000L) -> 1,
      Some(250001L) -> 2, Some(600000L) -> 3, Some(1000000000000L) -> session)
    for ((rows, want) <- cases) {
      val c = Checkpoints.cut(shuffled(500), rows = rows)
      assert(width(c) == want, s"rows=$rows")
      assert(c.agg(sum(col("c"))).head().getLong(0) == 500L, s"rows=$rows")
    }
    // an eager sized cut keeps the width and reports its hash partitioning
    val eager = Checkpoints.cut(shuffled(500), eager = true, rows = Some(600000L))
    assert(width(eager) == 3)
    assert(eager.queryExecution.analyzed.collectFirst {
      case r: LogicalRDD => r.outputPartitioning.numPartitions } == Some(3))
  }

  test("a repeated cut compiles nothing: child sessions share the codegen cache") {
    // an eager cut runs its job in the child session; each cut clones a new one
    def run(): Unit = Checkpoints.cut(shuffled(300), eager = true, rows = Some(300))
    run()
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    run()
    assert(CodegenMetrics.METRIC_COMPILATION_TIME.getCount == before)
  }

  test("the caller's explicit conf is identical after plain, rows-sized, eager and throwing cuts") {
    val cuts: Seq[(String, () => Unit)] = Seq(
      "plain" -> (() => Checkpoints.cut(shuffled(100)).count()),
      "rows-sized" -> (() => Checkpoints.cut(shuffled(100), rows = Some(1)).count()),
      "eager" -> (() => Checkpoints.cut(shuffled(100), eager = true, rows = Some(1))),
      "throwing" -> (() => intercept[Exception](Checkpoints.cut(
        spark.range(0, 10).select(raise_error(lit("cut failed"))), eager = true))))
    for ((name, run) <- cuts) {
      val before = explicitConf
      run()
      assert(explicitConf == before, name)
    }
  }

  test("two threads cutting on one session each keep their own width") {
    val pool = Executors.newFixedThreadPool(2)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val before = explicitConf
      def rounds(rows: Option[Long]): Future[Seq[Int]] =
        Future((1 to 50).map(_ => width(Checkpoints.cut(shuffled(200), rows = rows))))
      val narrow = rounds(Some(1))
      val session = rounds(None)
      assert(Await.result(narrow, 5.minutes).forall(_ == 1))
      assert(Await.result(session, 5.minutes).forall(_ == 4))
      assert(explicitConf == before)
    } finally pool.shutdown()
  }

  test("PlanAudit.cutPlans returns each cut's plan, so a flag inside a cut is seen") {
    // audited like PlanAudit: AQE off, or the outer plan is one opaque
    // AdaptiveSparkPlanExec and hides nothing to begin with
    val audit = spark.newSession()
    audit.conf.set("spark.sql.adaptive.enabled", "false")
    val (df, cuts) = PlanAudit.cutPlans(audit) {
      val numbered = Checkpoints.cut(audit.range(0, 1000)
        .withColumn("rn", row_number().over(Window.orderBy(col("id")))))
      val sized = Checkpoints.cut(audit.range(0, 1000)
        .groupBy((col("id") % 97).as("k")).agg(count(lit(1)).as("c")), rows = Some(1000))
      numbered.join(sized, col("id") === col("k"))
    }
    // the unpartitioned window is the query's only red flag, and it sits
    // in a LogicalRDD leaf of the outer plan
    assert(PlanAudit.flagsOf(df.queryExecution.executedPlan).isEmpty)
    assert(cuts.size == 2)
    assert(cuts.flatMap(PlanAudit.flagsOf) == Seq("global window over all rows"))
    // the plan that ran: the rows-sized cut shuffles into ceil(1000 / 250k) = 1 partition
    assert(cuts(1).collect { case e: ShuffleExchangeExec => e.outputPartitioning.numPartitions }
      == Seq(1))
    assert(df.count() == 97)
  }

  test("concurrent connectedComponents and Reconciler.iterate return their single-thread rows") {
    val pairs = ((1L until 10L).map(i => (i, i + 1)) ++ Seq((100L, 101L), (101L, 102L)))
      .toDF("doc1", "doc2")
    def components(): Set[Seq[Any]] = rowsOf(Dedup.connectedComponents(pairs))
    val conf = ReconConfig(
      keys = Seq(KeyPair("ext_code", "code"), KeyPair("ext_amount", "amount")),
      types = FieldTypes(doubleFields = Set("amount")),
      idField = "_id", externalId = "ext_id", orderField = "ext_row",
      tolerance = Some(ToleranceRule(KeyPair("ext_amount", "amount"), 0.1d)))
    val internal = Seq(
      ("a1", "c1", 10.0, "O", "t1", ""),
      ("a2", "c2", 20.0, "O", "t2", ""),
      ("a3", "c3", 30.0, "O", "t3", ""),
      ("a4", "c4", 40.0, "F", "", "t1")
    ).toDF("_id", "code", "amount", "kind", "ticket", "sale_ticket")
    val external = Seq(("e1", "c1", 10.0, 1L), ("e2", "c2", 20.05, 2L),
      ("e3", "cX", 99.0, 3L)).toDF("ext_id", "ext_code", "ext_amount", "ext_row")
    def reconciled(): Seq[Set[Seq[Any]]] = {
      val r = new Reconciler(conf).iterate(internal, external, col("ext_row"),
        Seq(conf.copy(tolerance = None), conf), truncateLineage = true)
      Seq(r.matched, r.internalRemanent, r.externalRemanent).map(rowsOf)
    }
    val (wantComponents, wantRecon) = (components(), reconciled())
    assert(wantComponents.size == 13 && wantRecon.head.nonEmpty)
    val pool = Executors.newFixedThreadPool(2)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val c = Future((1 to 3).map(_ => components()))
      val r = Future((1 to 3).map(_ => reconciled()))
      assert(Await.result(c, 5.minutes).forall(_ == wantComponents))
      assert(Await.result(r, 5.minutes).forall(_ == wantRecon))
    } finally pool.shutdown()
  }
}
