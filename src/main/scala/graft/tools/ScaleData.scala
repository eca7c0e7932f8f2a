package graft.tools

import graft.LocalSession
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * sf1 test-data generator for the ScaleCheck HEADROOM tier (VERDICT r12
 * #7): inflates the driver's read-only sf0.1 tables 10× into a local
 * directory, so the "designed for 100×" claim rests on TWO measured
 * decades (sf0.01→sf0.1 and sf0.1→sf1) instead of one. The driver's
 * testdata is never touched.
 *
 * Inflation is 10 deterministic copies with per-copy perturbation chosen
 * so the DATA DISTRIBUTION scales the way a real corpus grows — naive
 * copies would make every document/vector a 10-way exact duplicate and
 * turn the near-dup benches into quadratic pair explosions that measure
 * the perturbation, not the plan:
 *
 *   - keyed tables (lineitem/orders/customer/supplier/part/events):
 *     keys shift by copy·10⁷ — a stride divisible by every modulus the
 *     registry samples with, so per-copy sampling rates are preserved;
 *     event timestamps keep their range (10× density, like real growth)
 *   - documents: every token gets a per-copy suffix (copy 0 = identity),
 *     so the VOCABULARY grows with the corpus the way a real crawl's
 *     does — within-copy duplicate structure and Zipf shape are
 *     preserved, cross-copy shingle spaces are disjoint. (A first
 *     attempt ROTATED the fixed 31-token vocabulary instead: shingle
 *     doc-frequencies then grew 10× and every prefix-filter/banded
 *     candidate join went quadratic — measuring the generator, not the
 *     plan. Token-identity growth is the realistic scaling.)
 *   - embeddings: copies beyond the first get unit-renormalized
 *     hash-noise dominated vectors (cross-copy cosine ≈ 0) — fresh
 *     vectors occupying the same space
 *   - region/nation: dimension tables copy verbatim (dims don't scale)
 *
 * Run once: `SPARK_GRAFT_CPUS=32 sbt "runMain graft.tools.ScaleData"`
 * (writes target/testdata-sf1). Builder-side tooling, not library code.
 */
object ScaleData {

  private val Stride = 10000000L

  def main(args: Array[String]): Unit = {
    val srcDir = sys.env.getOrElse("SPARK_GRAFT_SCALEDATA_SRC", "/root/testdata/sf0.1")
    val outDir = if (args.nonEmpty) args(0) else "target/testdata-sf1"
    val copies = sys.env.getOrElse("SPARK_GRAFT_SCALEDATA_COPIES", "10").toInt
    require(copies >= 1, s"copies must be >= 1: $copies")
    val spark = LocalSession.fromEnv(16)

    def read(t: String) = spark.read.parquet(s"$srcDir/$t.parquet")
    def write(t: String, df: DataFrame): Unit = {
      df.write.mode("overwrite").parquet(s"$outDir/$t.parquet")
      println(s"SCALEDATA table=$t rows=${spark.read.parquet(s"$outDir/$t.parquet").count()}")
    }
    def inflate(df: DataFrame, perCopy: (DataFrame, Int) => DataFrame): DataFrame =
      (0 until copies).map(c => perCopy(df, c)).reduce(_ unionByName _)
    def shift(c: Int, cols: String*): DataFrame => DataFrame = df =>
      cols.foldLeft(df)((d, k) => d.withColumn(k, col(k) + lit(c * Stride)))

    // dimension tables: verbatim (they don't grow with scale)
    Seq("region", "nation").foreach(t => write(t, read(t)))

    write("customer", inflate(read("customer"), (d, c) => shift(c, "c_custkey")(d)))
    write("supplier", inflate(read("supplier"), (d, c) => shift(c, "s_suppkey")(d)))
    write("part", inflate(read("part"), (d, c) => shift(c, "p_partkey")(d)))
    write("orders", inflate(read("orders"), (d, c) =>
      shift(c, "o_orderkey", "o_custkey")(d)))
    write("lineitem", inflate(read("lineitem"), (d, c) =>
      shift(c, "l_orderkey", "l_partkey", "l_suppkey")(d)))
    // events: ids/users shift, timestamps keep their range (10× density)
    write("events", inflate(read("events"), (d, c) =>
      shift(c, "event_id", "user_id")(d)))

    // documents: per-copy token suffixing (see scaladoc) — vocabulary
    // grows ×copies, cross-copy shingle spaces are disjoint
    val docs = read("documents")
    write("documents", inflate(docs, (d, c) =>
      if (c == 0) d
      else d.withColumn("doc_id", col("doc_id") + lit(c * Stride))
        .withColumn("text", array_join(
          transform(split(col("text"), " "),
            t => when(length(t) > 0, concat(t, lit(s"x$c"))).otherwise(t)), " "))
        .withColumn("n_chars", length(col("text")).cast("long"))))

    // embeddings: copies beyond the first become unit-renormalized
    // hash-noise vectors (deterministic in (copy, vec_id, dim))
    val embs = read("embeddings")
    write("embeddings", inflate(embs, (d, c) =>
      if (c == 0) d
      else {
        val noisy = transform(col("embedding"), (x, i) =>
          x.cast("double") +
            (pmod(xxhash64(concat_ws(":",
              col("vec_id").cast("string"), lit(c.toString), i.cast("string"))),
              lit(2000L)).cast("double") / 1000.0d - 1.0d))
        val norm = sqrt(aggregate(noisy, lit(0.0d), (acc, x) => acc + x * x))
        d.withColumn("vec_id", col("vec_id") + lit(c * Stride))
          .withColumn("embedding",
            transform(noisy, x => (x / norm).cast("float")))
      }))

    spark.stop()
  }
}
