package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {

  /** JSON string escape: backslash, quote, and ALL control chars (<0x20)
    * — a tab or CR in builder-authored SQL would otherwise make the
    * driver's json.load fail and silently zero the round's correctness. */
  private[graft] def jsonStr(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** Run every query, dump each result to `outDir/<name>`, return the
    * names that threw. Factored out of main so a spec can prove a forced
    * failure is REPORTED, not just logged — round 8's 14 per-query stderr
    * failures scrolled past unseen and the run looked complete. */
  private[graft] def runAll(spark: SparkSession, sfDir: String, outDir: String,
      queries: Seq[(String, (SparkSession, String) => DataFrame)]): Seq[String] = {
    val failed = scala.collection.mutable.ArrayBuffer.empty[String]
    queries.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        failed += name
      }
      // release this query's lineage-cut blocks before the next one
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    }
    failed.toSeq
  }

  private[graft] def summaryJson(failed: Seq[String]): String =
    s"""{"failed":${failed.sorted.map(jsonStr).mkString("[", ",", "]")},"n_failed":${failed.size}}"""

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = LocalSession.fromEnv(4)
    new java.io.File(outDir).mkdirs()
    // optional allowlist for fast single-query iteration (builder-side;
    // the driver never sets it). Unknown names fail loudly, like Bench.
    val only = sys.env.get("SPARK_GRAFT_VERIFY_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    only.foreach { names =>
      val unknown = names.diff(SparkEntry.queries.keySet)
      require(unknown.isEmpty,
        s"SPARK_GRAFT_VERIFY_ONLY names not in the registry: ${unknown.mkString(", ")}")
    }
    val failed = runAll(spark, sfDir, outDir,
      SparkEntry.queries.toSeq.filter { case (n, _) => only.forall(_.contains(n)) })
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${jsonStr(k)}: ${jsonStr(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // one terminal summary on stdout, after the dumps
    println(summaryJson(failed))
    spark.stop()
  }
}
