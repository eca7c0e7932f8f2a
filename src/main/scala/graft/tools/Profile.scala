package graft.tools

import graft.LocalSession
import org.apache.spark.sql.functions._
import graft.ops.Dedup

/** Dev utility: stage-by-stage timing of the MinHash near-dup pipeline.
  * Usage: sbt "runMain graft.tools.Profile [sfDir]" */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val spark = LocalSession(32)
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")

    def time(tag: String)(f: => Long): Unit = (1 to 2).foreach { i =>
      val t0 = System.nanoTime()
      val n = f
      println(f"STAGE=$tag#$i ROWS=$n SECONDS=${(System.nanoTime() - t0) / 1e9}%.2f")
    }

    if (args.length > 1 && args(1) == "ivfpq") {
      import graft.ops.Similarity
      val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
        .select(col("vec_id"), col("embedding"), col("label"))
      // warm
      e.count()
      time("kmeans_i1")(Similarity.kmeansCentroids(e, "vec_id", "embedding",
        k = 16, iters = 1, modulus = 50).count())
      time("pq_cb_trained")(Similarity.pqCodebookTrained(e, "vec_id", "embedding",
        m = 32, subDim = 2, nCentroids = 32, iters = 1, modulus = 5).count())
      val cents = Similarity.kmeansCentroids(e, "vec_id", "embedding", 16, 1, 50)
      val cb = Similarity.pqCodebookTrained(e, "vec_id", "embedding", 32, 2, 32, 1, 5)
      time("encodeL2")(Similarity.pqEncodeL2(e, "vec_id", "embedding", cb, 32, 2).count())
      time("cells")(Similarity.ivfIndexWith(e, "vec_id", "embedding", cents).count())
      time("full_topk")(Similarity.ivfpqTopKWith(e,
        e.where(col("vec_id") % 100 === 0), "vec_id", "embedding",
        k = 5, cents, cb, m = 32, subDim = 2, nprobe = 6).count())
      spark.stop()
      return
    }
    time("shingles")(Dedup.shingleTable(docs, "text", "doc_id", 3).count())
    time("signatures")(Dedup.minHashSignatures(docs, "text", "doc_id", 3, 64).count())
    time("candidates")(Dedup.minHashCandidates(docs, "text", "doc_id", 3, 64, 8, 100).count())
    time("full")(Dedup.minHashNearDups(docs, "text", "doc_id", 3, 64, 8, 0.5, 100).count())
    time("simhash_pairs")(
      Dedup.simHashNearDups(docs, "text", "doc_id", 3, 1000).count())
    time("components")(
      Dedup.connectedComponents(
        Dedup.simHashNearDups(docs, "text", "doc_id", 3, 1000), verbose = true).count())
    spark.stop()
  }
}
