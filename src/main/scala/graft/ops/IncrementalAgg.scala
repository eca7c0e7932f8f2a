package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/**
 * Incremental aggregation maintenance: keep per-group aggregate STATE
 * (count / non-null count / sum / min / max) that merges with the
 * state of each new ingest batch — so a 100 TB fact table's rollup is
 * maintained by aggregating ONLY the day's delta and merging two
 * group-sized frames, never rescanning history. This is the
 * partial-aggregate algebra Spark already uses inside one job
 * (map-side combine), lifted to a persistable cross-batch artifact.
 *
 * The invariant specs + the registry query pin:
 * `merge(state(old), state(delta)) ≡ state(old ∪ delta)` — exactly,
 * not approximately: sums run in DECIMAL(38,9) (associative, unlike
 * double addition, so the split point cannot change a bit), counts are
 * longs, min/max are selections. All five are commutative monoids,
 * which is the whole contract: states merge in any order and any
 * grouping. Deletions are NOT supported — count/sum would retract but
 * min/max are monoids, not groups; retractable rollups need a rebuild
 * from a retained base or a different structure entirely.
 */
object IncrementalAgg {

  private val StateCols = Seq("n_rows", "n_vals", "sum_val", "min_val", "max_val")

  /** Per-group state of one batch: one shuffle on the group keys with
    * map-side partial combine; output is group-cardinality-sized. */
  def state(df: DataFrame, keys: Seq[String], valueCol: String): DataFrame = {
    require(keys.nonEmpty, "no group keys")
    df.groupBy(keys.map(col): _*).agg(
      count(lit(1)).as("n_rows"),
      count(col(valueCol)).as("n_vals"),
      sum(col(valueCol).cast(DecimalType(38, 9))).as("sum_val"),
      min(col(valueCol)).as("min_val"),
      max(col(valueCol)).as("max_val"))
  }

  /** Merge any number of states (all produced by [[state]] with the
    * same keys): groups absent from one side pass through unchanged.
    * Cost is proportional to summed state size, independent of the
    * base-table rows behind them. */
  def merge(keys: Seq[String], states: Seq[DataFrame]): DataFrame = {
    require(states.nonEmpty, "no states to merge")
    states.foreach { s =>
      val missing = (keys ++ StateCols).filterNot(s.columns.contains)
      require(missing.isEmpty, s"state is missing columns: ${missing.mkString(", ")}")
    }
    states.reduce(_.unionByName(_))
      .groupBy(keys.map(col): _*).agg(
        // coalesce only to restore non-nullability: a group always has
        // ≥1 contributing state row, so the sums are never actually null
        coalesce(sum(col("n_rows")), lit(0L)).as("n_rows"),
        coalesce(sum(col("n_vals")), lit(0L)).as("n_vals"),
        sum(col("sum_val")).as("sum_val"),
        min(col("min_val")).as("min_val"),
        max(col("max_val")).as("max_val"))
  }
}
