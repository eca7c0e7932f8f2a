package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.execution.{SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.catalyst.optimizer.BuildRight
import graft.recon.Sources

class RunningSumSpec extends SparkSuite {
  import spark.implicits._

  test("withRunningSumRanged equals the global-window prefix sum") {
    val df = (1 to 500).map(i => (i.toLong, (i * 7 % 13).toLong))
      .toDF("k", "v").repartition(7)
    val ranged = Sources.withRunningSumRanged(df, "cum", col("v"), Seq(col("k")))
      .select("k", "cum").as[(Long, Long)].collect().toMap
    val window = df.withColumn("cum",
        sum(col("v")).over(Window.orderBy(col("k"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select("k", "cum").as[(Long, Long)].collect().toMap
    assert(ranged == window)
  }

  test("withRunningSumRanged: descending order and layout independence") {
    val df = Seq(("a", 5L), ("b", 3L), ("c", 5L), ("d", 1L), ("e", 9L))
      .toDF("k", "v")
    def run(parts: Int) =
      Sources.withRunningSumRanged(df.repartition(parts), "cum", col("v"),
          Seq(col("v").desc, col("k")))
        .select("k", "cum").as[(String, Long)].collect().toMap
    // e(9) -> a(5) -> c(5) -> b(3) -> d(1)
    val expect = Map("e" -> 9L, "a" -> 14L, "c" -> 19L, "b" -> 22L, "d" -> 23L)
    assert(run(1) == expect)
    assert(run(4) == expect)
  }

  test("withRunningSumRanged preserves the input columns plus the sum") {
    val df = Seq((1L, 2L, "x")).toDF("a", "b", "c")
    val out = Sources.withRunningSumRanged(df, "s", col("b") * 2, Seq(col("a")))
    assert(out.columns.toSeq == Seq("a", "b", "c", "s"))
    assert(out.select("s").as[Long].head() == 4L)
  }

  /** (k, SUM(v) OVER (ORDER BY k)) — the single-partition reference. */
  private def windowSum(df: DataFrame): Map[Long, Long] =
    df.withColumn("cum", sum(col("v")).over(Window.orderBy(col("k"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select("k", "cum").as[(Long, Long)].collect().toMap

  private def rangedSum(df: DataFrame): Map[Long, Long] =
    Sources.withRunningSumRanged(df, "cum", col("v"), Seq(col("k")))
      .select("k", "cum").as[(Long, Long)].collect().toMap

  test("withRunningSumRanged over empty partitions, zeros and negatives") {
    // fewer rows than range partitions (defaultParallelism), and 5 rows
    // spread over 16 partitions; values as Intervals passes them
    // (plus − minus: zeros and negatives)
    val few = Seq((3L, -1L), (1L, 0L), (2L, 2L)).toDF("k", "v")
    assert(spark.sparkContext.defaultParallelism > 3)
    assert(rangedSum(few) == Map(1L -> 0L, 2L -> 2L, 3L -> 1L))
    val five = Seq((5L, 1L), (4L, -1L), (3L, 0L), (2L, 1L), (1L, -1L))
      .toDF("k", "v").repartition(16)
    assert(rangedSum(five) == windowSum(five))
    assert(rangedSum(five) == Map(1L -> -1L, 2L -> 0L, 3L -> 0L, 4L -> -1L, 5L -> 0L))
  }

  test("withRunningSumRanged: re-executing one frame restarts every task from zero") {
    // each collect runs fresh task attempts over the same cut; a
    // running sum that kept state across attempts would drift
    val df = spark.range(0, 3000, 1, 16)
      .select(col("id").as("k"), (col("id") % 7 - 3).as("v"))
    val cum = Sources.withRunningSumRanged(df, "cum", col("v"), Seq(col("k")))
      .select("k", "cum").as[(Long, Long)]
    val first = cum.collect().toMap
    assert(cum.collect().toMap == first)
    assert(first == windowSum(df))
  }

  test("withRunningSumRanged: the interpreted path equals the codegen'd one") {
    val df = spark.range(0, 500, 1, 7)
      .select(col("id").as("k"), (col("id") * 13 % 11 - 5).as("v"))
    val codegen = rangedSum(df)
    assert(codegen == windowSum(df))
    /** `rangedSum(df)` with `settings` set on the session, then restored. */
    def under(settings: (String, String)*): Map[Long, Long] = {
      val saved = settings.map { case (k, _) => k -> spark.conf.getOption(k) }
      settings.foreach { case (k, v) => spark.conf.set(k, v) }
      try rangedSum(df) finally saved.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None)    => spark.conf.unset(k)
      }
    }
    // whole-stage codegen off: a generated per-row projection, then no
    // generated code at all (interpreted eval)
    assert(under("spark.sql.codegen.wholeStage" -> "false") == codegen)
    assert(under("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN") == codegen)
  }

  /** Every node of an executed plan, read through AQE's stage wrappers. */
  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec        => q +: nodes(q.plan)
    case other                    => other +: other.children.flatMap(nodes)
  }

  /** The row side of the partition-offset join, down to the cut's scan. */
  private def rowSide(df: DataFrame): Seq[SparkPlan] = {
    df.collect()
    val joins = nodes(df.queryExecution.executedPlan).collect { case j: BroadcastHashJoinExec => j }
    assert(joins.size == 1, df.queryExecution.executedPlan.treeString)
    val j = joins.head
    nodes(if (j.buildSide == BuildRight) j.left else j.right)
  }

  test("the row side of the offsets join neither shuffles nor sorts") {
    val df = spark.range(0, 200, 1, 5)
      .select(col("id").as("k"), (col("id") % 3).as("v"))
    for (out <- Seq(Sources.withRunningSumRanged(df, "cum", col("v"), Seq(col("k"))),
        Sources.withRowIndex(df, "rn"))) {
      val row = rowSide(out)
      assert(row.exists(_.nodeName.contains("ExistingRDD")), row.map(_.nodeName))
      val extra = row.filter {
        case _: ShuffleExchangeLike | _: SortExec | _: WindowExec => true
        case _ => false
      }
      assert(extra.isEmpty, row.map(_.simpleString(200)).mkString("\n", "\n", ""))
    }
  }
}
