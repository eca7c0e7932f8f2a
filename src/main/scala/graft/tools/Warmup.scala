package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Shared JVM warm-up for every timing tool (Bench, Explain, ConfAB,
  * ScaleCheck): one hash-aggregate job exercises
  * classloading, codegen, and the shuffle machinery outside any timed
  * window, so the first real query isn't charged ~3 s of JIT. One
  * definition — a tuned warm-up that diverged across tools would
  * silently skew their timings against each other. */
object Warmup {
  def warmJvm(spark: SparkSession): Unit = {
    spark.range(200000)
      .select(col("id"), md5(col("id").cast("string")).as("h"))
      .groupBy(pmod(xxhash64(col("h")), lit(16))).count().count()
    ()
  }
}
