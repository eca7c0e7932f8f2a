package graft.ops

import org.apache.spark.sql.{DataFrame, Column}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/**
 * Sequence packing for LLM pre-training: documents ordered by a
 * deterministic key are virtually concatenated and split into
 * `budget`-sized token chunks; each document is assigned the chunk
 * (`pack_id`) its first token lands in — the standard concat-then-chunk
 * batching scheme. Weights must be non-negative.
 *
 * Two shapes, one contract:
 *  - [[packByBudget]]: a running-sum window PER GROUP (e.g. per language) —
 *    the natural form when packing is already group-local. Parallelism is
 *    bounded by group cardinality; a single giant group funnels through one
 *    task, so for a global order use the second form.
 *  - [[packGlobal]]: the same rule over one global order, through the
 *    engine's distributed prefix sum
 *    ([[graft.recon.Sources.withRunningSumRanged]]). No single-partition
 *    stage at any point.
 *
 * The reference has no packing surface — LLM-pipeline extension.
 */
object Packing {

  /**
   * Group-local packing: `pack_id` = (running token count before this row)
   * div budget, running within each `groupCols` partition ordered by
   * `orderCols`. Exact integral division (`div`), never a double `floor` —
   * cumulative sums past 2^53 would lose precision in a double quotient.
   */
  def packByBudget(df: DataFrame, weightCol: String, orderCols: Seq[Column],
      budget: Long, groupCols: Seq[String], outCol: String = "pack_id"): DataFrame = {
    require(budget > 0, "budget must be positive")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(groupCols.map(col): _*).orderBy(orderCols: _*)
      .rowsBetween(Window.unboundedPreceding, 0)
    df.withColumn("__cum", sum(col(weightCol)).over(w))
      .withColumn(outCol, expr(s"(__cum - $weightCol) div ${budget}L"))
      .drop("__cum")
  }

  /**
   * Globally-ordered packing: `pack_id` = (running weight before this row
   * in `orderCols` order) div budget. Requires `weightCol` to be LongType;
   * a negative or null weight fails the query in-plan.
   */
  def packGlobal(df: DataFrame, weightCol: String, orderCols: Seq[Column],
      budget: Long, outCol: String = "pack_id"): DataFrame = {
    require(budget > 0, "budget must be positive")
    require(df.schema(weightCol).dataType == LongType,
      s"$weightCol must be LongType (cast token counts to long first)")
    val w = col(weightCol)
    val checked = when(w.isNull || w < 0L, raise_error(concat(
        lit(s"packGlobal: negative weight in $weightCol: "),
        coalesce(w.cast("string"), lit("null")))).cast(LongType))
      .otherwise(w)
    graft.recon.Sources.withRunningSumRanged(df, "__cum", checked, orderCols)
      .withColumn(outCol, expr(s"(__cum - `$weightCol`) div ${budget}L"))
      .drop("__cum")
  }
}
