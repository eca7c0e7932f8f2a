package graft

import org.apache.spark.sql.functions._
import graft.ops.{IndexStore, IngestGate}

/** The near-dup ingest gate: index-vs-batch and in-batch screening, and
  * decisions that replay bit-identically. */
class IngestGateSpec extends SparkSuite {
  import spark.implicits._

  private def tmpDir(tag: String): String = {
    val d = java.nio.file.Files.createTempDirectory(s"graft_$tag").toFile
    d.deleteOnExit()
    d.getAbsolutePath
  }

  // distinctive texts: near-dups share almost all 3-shingles
  private val seedDocs = Seq(
    (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
    (2L, "one two three four five six seven eight nine ten eleven twelve"))

  private def writeIndex(dir: String): Unit =
    IndexStore.writeMinHashIndex(seedDocs.toDF("doc_id", "text"), "text", "doc_id",
      dir, shingleN = 3, k = 32, bands = 8)

  test("gateBatch: index dups rejected, in-batch first survives, novel admitted") {
    val idx = tmpDir("gate_idx")
    writeIndex(idx)
    val batch = Seq(
      // 10: near-dup of seed doc 1 (one word changed)
      (10L, "alpha beta gamma delta epsilon zeta eta theta iota KAPPA2"),
      // 11 and 12: in-batch near-dups of each other; 11 (smaller) survives
      (11L, "red orange yellow green blue indigo violet ultraviolet infrared"),
      (12L, "red orange yellow green blue indigo violet ultraviolet INFRARED2"),
      // 13: novel
      (13L, "completely different words about ships sailing across wide oceans tonight")
    ).toDF("doc_id", "text")
    val out = IngestGate.gateBatch(batch, "text", "doc_id", idx,
        minAgreement = 0.5d, maxBucket = 100)
      .select("doc_id", "n_index_matches", "n_batch_matches", "admitted")
      .as[(Long, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    assert(out(10L)._2 >= 1L && out(10L)._4 == 0L, s"10 should hit the index: ${out(10L)}")
    assert(out(11L) == ((11L, 0L, 0L, 1L)), s"11 is the in-batch survivor: ${out(11L)}")
    assert(out(12L)._3 >= 1L && out(12L)._4 == 0L, s"12 should hit 11: ${out(12L)}")
    assert(out(13L) == ((13L, 0L, 0L, 1L)), s"13 is novel: ${out(13L)}")
  }

  test("gateBatch replays identically once the index holds the batch's admitted docs") {
    val idx = tmpDir("gate_idx3")
    writeIndex(idx)
    val batch = Seq(
      (40L, "red orange yellow green blue indigo violet ultraviolet infrared"),
      (41L, "alpha beta gamma delta epsilon zeta eta theta iota KAPPA3"))
      .toDF("doc_id", "text")
    val before = IngestGate.gateBatch(batch, "text", "doc_id", idx)
      .collect().map(_.toSeq).toSet
    assert(before.map(r => r(0) -> r(3)) == Set(40L -> 1L, 41L -> 0L))
    // the replay window: admitted doc 40 already sits in the index
    val idxAfter = tmpDir("gate_idx3_after")
    IndexStore.writeMinHashIndex(
      seedDocs.toDF("doc_id", "text").unionByName(batch.where(col("doc_id") === 40L)),
      "text", "doc_id", idxAfter, shingleN = 3, k = 32, bands = 8)
    assert(IndexStore.loadMinHashSignatures(spark, idxAfter).count() == 3L)
    // decisions replay BIT-IDENTICALLY: the probe excludes the batch's
    // own ids from the seen side
    val after = IngestGate.gateBatch(batch, "text", "doc_id", idxAfter)
      .collect().map(_.toSeq).toSet
    assert(after == before)
  }
}
