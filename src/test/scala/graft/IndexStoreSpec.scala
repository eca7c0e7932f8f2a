package graft

import org.apache.spark.sql.functions._
import graft.ops.{Dedup, IndexStore}
import java.nio.file.Files

/** Round-trip lifecycle of the persisted incremental-dedup indexes:
  * build → write → load → probe must equal the in-memory incremental
  * run bit-for-bit, the IVF-PQ append must fold a batch in without
  * touching history semantics, and the meta sidecar must refuse
  * mis-typed loads. */
class IndexStoreSpec extends SparkSuite {
  import spark.implicits._

  private def tmp(): String = {
    val d = Files.createTempDirectory("index_store").toFile
    d.deleteOnExit()
    d.getAbsolutePath
  }

  private val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
  private def seenDocs = Seq(
    (10L, base),
    (11L, "one two three four five six seven eight nine ten"),
    (12L, "cats dogs birds fish mice horses cows pigs goats sheep")
  ).toDF("doc_id", "text")
  private def newDocs = Seq(
    (20L, base + " lambda"),                                  // near-dup of 10
    (21L, "totally different fresh words appearing nowhere else at all ok")
  ).toDF("doc_id", "text")

  test("minhash: probe-from-disk equals the in-memory incremental run") {
    val dir = tmp()
    IndexStore.writeMinHashIndex(seenDocs, "text", "doc_id", dir,
      shingleN = 2, k = 32, bands = 8)
    val fromDisk = IndexStore.minHashProbe(newDocs, "text", "doc_id", dir,
      minAgreement = 0.5d, maxBucket = 100)
    val inMemory = Dedup.minHashIncremental(newDocs, seenDocs, "text", "doc_id",
      shingleN = 2, k = 32, bands = 8, minAgreement = 0.5d, maxBucket = 100)
    assert(rowsOf(fromDisk) === rowsOf(inMemory))
    assert(fromDisk.where(col("new_doc") === 20L && col("seen_doc") === 10L).count() === 1L)
  }

  private def vec(xs: Double*): Array[Float] = xs.map(_.toFloat).toArray
  private def seenVecs = Seq(
    (1L, vec(1, 0, 0, 0)), (2L, vec(0, 1, 0, 0)), (3L, vec(0, 0, 1, 0))
  ).toDF("vec_id", "embedding")
  private def newVecs = Seq(
    (10L, vec(0.99, 0.1, 0, 0)),   // near-dup of 1
    (11L, vec(0, 0, 0, 1))
  ).toDF("vec_id", "embedding")

  test("embedding LSH: probe-from-disk equals the in-memory incremental run") {
    val dir = tmp()
    IndexStore.writeEmbeddingIndex(seenVecs, "vec_id", "embedding", dir, h = 2)
    val fromDisk = IndexStore.embeddingProbe(newVecs, dir,
      threshold = 0.5d, maxBucket = 100, cosine = true)
    val inMemory = Dedup.embeddingIncrementalNearDups(newVecs,
      graft.ops.Similarity.lshIndex(seenVecs, "vec_id", "embedding", 2),
      "vec_id", "embedding", threshold = 0.5d, h = 2, maxBucket = 100, cosine = true)
    assert(rowsOf(fromDisk) === rowsOf(inMemory))
  }

  test("minhash: the sketch-hash algorithm round-trips through meta") {
    val dir = tmp()
    IndexStore.writeMinHashIndex(seenDocs, "text", "doc_id", dir,
      shingleN = 2, k = 32, bands = 8, hash = Dedup.SketchHash.Fast)
    // probe must pick Fast up from meta, not assume Portable — a
    // Portable-probe of Fast signatures would bucket nothing together
    assert(IndexStore.loadMinHashMeta(spark, dir).hash === Dedup.SketchHash.Fast)
    val fromDisk = IndexStore.minHashProbe(newDocs, "text", "doc_id", dir,
      minAgreement = 0.5d, maxBucket = 100)
    val inMemory = Dedup.minHashIncremental(newDocs, seenDocs, "text", "doc_id",
      shingleN = 2, k = 32, bands = 8, minAgreement = 0.5d, maxBucket = 100,
      hash = Dedup.SketchHash.Fast)
    assert(rowsOf(fromDisk) === rowsOf(inMemory))
    assert(fromDisk.where(col("new_doc") === 20L && col("seen_doc") === 10L).count() === 1L)
  }

  test("ivfpq: idempotent append replays to a no-op; probe(old ∪ appended) ≡ rebuilt") {
    // 12 vectors in two clean clusters around (1,0,0,0) and (0,0,1,0);
    // the frozen training set is the OLD slice so append exercises
    // encode-with-loaded-centroids, never a retrain
    def v(i: Long): Array[Float] = {
      val axis = if (i % 2 == 0) 0 else 2
      val arr = Array.fill(4)(0.05f * ((i % 3).toInt + 1))
      arr(axis) = 1.0f + 0.01f * (i % 5)
      arr
    }
    val all = (0L until 12L).map(i => (i, v(i))).toDF("vec_id", "embedding")
    val old = all.where(col("vec_id") < 9L)
    val batch = all.where(col("vec_id") >= 9L)
    def build(dir: String, df: org.apache.spark.sql.DataFrame): Unit =
      IndexStore.writeIvfPqIndex(df, "vec_id", "embedding", dir,
        kCells = 2, ivfIters = 1, ivfModulus = 4, m = 2, subDim = 2,
        pqC = 2, pqIters = 1, pqModulus = 3, train = Some(old))
    val incDir = tmp()
    build(incDir, old)
    assert(IndexStore.mergeIntoIvfPqIndexIdempotent(batch, incDir) === 3L)
    // crash replay of the SAME batch: exactly-once, zero appended
    assert(IndexStore.mergeIntoIvfPqIndexIdempotent(batch, incDir) === 0L)
    assert(IndexStore.loadIvfPqCodes(spark, incDir).count() === 12L)
    // the appended index answers value-identically to a from-scratch
    // rebuild over the full corpus with the same frozen training set
    val fullDir = tmp()
    build(fullDir, all)
    val queries = all.where(col("vec_id") % 3 === 0)
    val probeInc = IndexStore.ivfPqProbe(queries, incDir, k = 3, nprobe = 2)
    val probeFull = IndexStore.ivfPqProbe(queries, fullDir, k = 3, nprobe = 2)
    assert(rowsOf(probeInc) === rowsOf(probeFull))
    assert(probeInc.count() > 0L)
  }

  test("meta sidecar refuses a mis-typed load") {
    val dir = tmp()
    IndexStore.writeMinHashIndex(seenDocs, "text", "doc_id", dir,
      shingleN = 2, k = 32, bands = 8)
    val ex = intercept[IllegalArgumentException] {
      IndexStore.loadEmbeddingMeta(spark, dir)
    }
    assert(ex.getMessage.contains("expected 'embed_lsh'"))
  }
}
