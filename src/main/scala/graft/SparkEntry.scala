package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  * Queries are assembled from per-domain registries; each registry entry
  * pairs the Spark implementation with its DuckDB oracle SQL. */
object SparkEntry {

  private def registries: Seq[QuerySpec] = {
    val all = graft.demo.ReconQueries.all ++ graft.demo.OpsQueries.all ++
      graft.demo.CurationQueries.all ++ graft.demo.ScaleQueries.all ++
      graft.demo.SketchQueries.all ++ graft.demo.EntityQueries.all ++
      graft.demo.InferenceQueries.all
    // a duplicate name would silently shadow one query in the Maps below
    // and the loser's oracle would check the winner's output — fail loudly
    val dups = all.groupBy(_.name).filter(_._2.length > 1).keys
    require(dups.isEmpty, s"duplicate query names in registries: ${dups.mkString(", ")}")
    all
  }

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * Full reference pipeline: zero-effect → exact match → tolerance pass. */
  def entry(spark: SparkSession): DataFrame = {
    import graft.demo.TpcMapping
    val dir = "/root/testdata/sf0.001"
    val recon = new graft.recon.Reconciler(TpcMapping.conf)
    val a0 = TpcMapping.internal(spark, dir)
    val (a, _) = recon.applyZeroEffect(a0, TpcMapping.conf.zeroEffect.get, col("row_order"))
    val b = TpcMapping.external(spark, dir)
    recon.reconcilePass(a, b, col("ext_row")).matched
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    registries.map(q => q.name -> q.fn).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables — every registered query has one. */
  def oracleSql: Map[String, String] =
    registries.map(q => q.name -> q.oracle).toMap
}
