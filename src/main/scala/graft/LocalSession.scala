package graft

import org.apache.spark.sql.SparkSession

/** The one place a local SparkSession is built. Every main and the specs
  * share its policy: `local[n]` with `n` shuffle partitions, UTC session
  * time zone, parquet nanosecond timestamps read as longs, AQE on, no UI,
  * WARN logging. `getOrCreate` semantics: a session already active in the
  * JVM is returned as is. A caller that needs a different setting (e.g.
  * `PlanAudit`'s AQE off) sets it on the returned session's runtime conf. */
object LocalSession {

  def apply(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** A session over `SPARK_GRAFT_CPUS` cores, `defaultCpus` when unset. */
  def fromEnv(defaultCpus: Int): SparkSession =
    apply(sys.env.get("SPARK_GRAFT_CPUS").fold(defaultCpus)(_.toInt))
}
