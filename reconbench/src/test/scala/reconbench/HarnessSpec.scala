package reconbench

import java.nio.file.Files

import org.apache.spark.reconbench.SparkInternals
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** End-to-end checks of the harness on a tiny workload. */
class HarnessSpec extends AnyFunSuite with BeforeAndAfterAll {
  private val work = Files.createTempDirectory("reconbench-spec").toString
  private lazy val spark: SparkSession = Session.create(2, work)
  private val tiny = Workload("tiny", batches = 3, txnsPerBatch = 400, lateShare = 0.1,
    windowMs = 24L * 3600 * 1000, persist = CsvFiles)

  override def afterAll(): Unit = {
    Session.stop(spark)
    Fs.deleteTree(java.nio.file.Paths.get(work))
  }

  test("the same seed gives byte-identical inputs; another seed does not") {
    val a = Gen.write(spark, tiny, 7L, s"$work/gen-a")
    val b = Gen.write(spark, tiny, 7L, s"$work/gen-b")
    val c = Gen.write(spark, tiny, 8L, s"$work/gen-c")
    assert(a.sha256 == b.sha256)
    assert(a.sha256 != c.sha256)
    assert(a.expected == b.expected)
  }

  test("every planted outcome class shows up in the expected summary") {
    val e = Gen.expected(tiny.copy(txnsPerBatch = 5000, persist = CarriedStatuses), 3L)
    assert(e.forall(x => x.zeroEffectPairs > 0 && x.matchedTolerance > 0 && x.displaced > 0))
    // late settlements carried in from earlier batches are matched later
    assert(e(0).matchedExact < e(1).matchedExact && e(1).internalRows > e(0).internalRows)
  }

  test("a batch is checked against the expected values; a wrong expectation is a failure") {
    val inputs = Gen.write(spark, tiny, 1L, s"$work/check-input")
    val good = new Runner(spark, tiny, inputs, s"$work/check-results", new Tracer(spark.sparkContext))
      .run(0, 0, traced = false)
    assert(good.ok, good.error)
    assert(good.counts.get.matchedTolerance == inputs.expected(0).matchedTolerance)

    val wrong = inputs.copy(expected = inputs.expected.updated(0,
      inputs.expected(0).copy(matchedTolerance = inputs.expected(0).matchedTolerance + 1)))
    val bad = new Runner(spark, tiny, wrong, s"$work/check-results", new Tracer(spark.sparkContext))
      .run(1, 0, traced = false)
    assert(!bad.ok)
    assert(bad.error.get.contains("matched_tolerance"))
    assert(BatchOutcome.failedRatio(Seq(good, bad)) == 0.5)
  }

  test("carried-over remanents re-enter later batches and are matched there") {
    val w = tiny.copy(persist = CarriedStatuses)
    val inputs = Gen.write(spark, w, 2L, s"$work/carry-input")
    val runner = new Runner(spark, w, inputs, s"$work/carry-results", new Tracer(spark.sparkContext))
    (0 until w.batches).foreach { k =>
      val o = runner.run(k, k, traced = false)
      assert(o.ok, o.error)
    }
  }

  test("traced batch: job union within the batch wall, layer self times sum to it") {
    val inputs = Gen.write(spark, tiny, 5L, s"$work/trace-input")
    val sc = spark.sparkContext
    val tracer = new Tracer(sc)
    val listener = new EngineListener
    sc.addSparkListener(listener)
    val o = new Runner(spark, tiny, inputs, s"$work/trace-results", tracer).run(0, 0, traced = true)
    SparkInternals.drain(sc)
    sc.removeSparkListener(listener)
    assert(o.ok, o.error)
    assert(o.cuts > 0 && o.cutBytes > 0)

    val root = tracer.spans.find(_.parent == 0L).get
    val t = BatchTrace.of(root, tracer.spans, listener)
    assert(t.engine.jobs > 0 && t.engine.tasks > 0)
    assert(t.jobUnionNs > 0 && t.jobUnionNs <= t.wallNs)
    // the summed job walls may exceed the union, never the other way round
    val ids = tracer.spans.map(_.id).toSet
    val summed = listener.jobs.collect { case (sp, s, e) if ids.contains(sp) => e - s }.sum
    assert(summed >= t.jobUnionNs)
    val selfSum = t.selfNsByLayer.values.sum
    assert(math.abs(selfSum - t.wallNs).toDouble / t.wallNs <= 0.05)
    assert(Set("Sources", "Reconciler", "Sinks", "Publish").subsetOf(t.selfNsByLayer.keySet))
  }
}
