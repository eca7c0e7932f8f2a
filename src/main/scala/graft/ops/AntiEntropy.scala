package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/**
 * Anti-entropy reconciliation digests — the scale path for "are these
 * two 100 TB replicas equal, and if not, WHERE?". A full row-level
 * compare (reference: src/reconciliatior.py joins every row of both
 * ledgers) reads both tables completely; replica drift after an
 * incident is typically confined to a few ingest ranges, so the
 * Dynamo/Cassandra-style repair plan is: hash-bucket both sides,
 * compare per-bucket DIGESTS (bucket-count-sized frames), and pay
 * row-level work ([[SnapshotDiff]]) only inside the buckets that
 * disagree.
 *
 * Digest algebra: each row's canonical string (every field
 * length-prefixed and null-marked, so the encoding is injective even
 * when values contain the would-be separator — `concat_ws` alone
 * would conflate (a, NULL) with a NULL-less shift, and a sentinel
 * character appearing IN a value would alias two different rows)
 * hashes to 60 bits; a bucket's digest is the SUM of
 * row hashes in DECIMAL(38,0) — commutative (partition-order-free),
 * map-side combinable, and exact: 10^18 rows × 2^60 ≈ 10^36 < 10^38,
 * no wraparound divergence between engines. Count rides alongside so
 * compensating hash collisions with different cardinalities still
 * surface.
 */
object AntiEntropy {

  /** Canonical row string, injective for a fixed column list: each
    * field encodes as `N` when NULL, else `V<charlen>:<value>` — the
    * length prefix makes every field self-delimiting, so no character
    * a VALUE can contain (including any would-be separator) lets two
    * different rows serialize identically. Mirror this encoding
    * character-for-character in any oracle SQL. */
  private def field(c: String): Column = {
    val v = col(c).cast("string")
    when(v.isNull, lit("N"))
      .otherwise(concat(lit("V"), length(v).cast("string"), lit(":"), v))
  }

  private def canonical(cols: Seq[String]): Column = concat(cols.map(field): _*)

  /** Per-bucket digest of `df`: `(bucket, n_rows, digest)` with
    * `bucket = keyHash(keys) % nBuckets`. `cols` is the full compared
    * column list (keys included — order matters, fix it). */
  def bucketDigests(df: DataFrame, keyCols: Seq[String], cols: Seq[String],
      nBuckets: Int): DataFrame = {
    require(keyCols.nonEmpty, "no key columns")
    require(cols.nonEmpty, "no compared columns")
    require(nBuckets >= 1, s"nBuckets must be >= 1: $nBuckets")
    df.select(
        (Sampling.keyHash(canonical(keyCols)) % nBuckets).as("bucket"),
        Sampling.keyHash(canonical(cols)).cast(DecimalType(38, 0)).as("__h"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_rows"), sum(col("__h")).as("digest"))
  }

  /** Buckets whose digests disagree between two [[bucketDigests]]
    * frames (same keys/cols/nBuckets — the caller's contract):
    * `(bucket, n_a, n_b, status)` with status 'missing_a'/'missing_b'/
    * 'mismatch'. Equal buckets are NOT emitted — at scale the output
    * is drift-sized, not bucket-count-sized. */
  def diffDigests(a: DataFrame, b: DataFrame): DataFrame = {
    val l = a.select(col("bucket"), col("n_rows").as("n_a"), col("digest").as("__da"))
    val r = b.select(col("bucket"), col("n_rows").as("n_b"), col("digest").as("__db"))
    l.join(r, Seq("bucket"), "full_outer")
      .withColumn("status",
        when(col("__da").isNull, lit("missing_a"))
          .when(col("__db").isNull, lit("missing_b"))
          .when(col("__da") =!= col("__db") || col("n_a") =!= col("n_b"),
            lit("mismatch")))
      .where(col("status").isNotNull)
      .select(col("bucket"), col("n_a"), col("n_b"), col("status"))
  }

  /** Two-level (Merkle) digest drill-down: localize replica divergence
    * to fine buckets while COMPARING coarse-level digests first, so the
    * cross-replica exchange is O(nCoarse + divergent·nFine) digest rows
    * instead of O(nCoarse·nFine) — the log-levels trick that lets two
    * 100 TB replicas agree they're equal by exchanging kilobytes.
    *
    * The Merkle property does the heavy lifting: a parent's digest is
    * the SUM of its children's digests (sums of 60-bit row hashes in
    * DECIMAL(38,0) are associative), so the coarse level is derived by
    * re-aggregating the fine digest table — one extra aggregation over
    * a bucket-count-sized frame, NOT a second scan of the data. Fine
    * bucket = keyHash % (nCoarse·nFine); coarse = fine div nFine, so
    * each coarse bucket owns a contiguous block of nFine children.
    *
    * Output: one row per fine bucket under a DIVERGENT coarse bucket
    * whose own digests disagree — `(coarse, fine, n_a, n_b, status)`
    * with the [[diffDigests]] status vocabulary. Fine buckets under
    * agreeing coarse buckets are never compared (that's the savings),
    * and agreeing fine buckets under divergent parents are filtered
    * the same way. */
  def localizeTwoLevel(a: DataFrame, b: DataFrame, keyCols: Seq[String],
      cols: Seq[String], nCoarse: Int, nFine: Int): DataFrame = {
    require(nCoarse >= 2 && nFine >= 2, s"need >=2 buckets per level: $nCoarse, $nFine")
    def fine(df: DataFrame): DataFrame = graft.recon.Checkpoints.cut(
      df.select(
          (Sampling.keyHash(canonical(keyCols)) % (nCoarse.toLong * nFine)).as("fine"),
          Sampling.keyHash(canonical(cols)).cast(DecimalType(38, 0)).as("__h"))
        .groupBy(col("fine"))
        .agg(count(lit(1)).as("n_rows"), sum(col("__h")).as("digest"))
        .withColumn("coarse", expr(s"fine div $nFine")))
    val fa = fine(a)
    val fb = fine(b)
    def coarse(f: DataFrame): DataFrame =
      f.groupBy(col("coarse").as("bucket"))
        .agg(sum(col("n_rows")).as("n_rows"), sum(col("digest")).as("digest"))
    val divergent = diffDigests(coarse(fa), coarse(fb))
      .select(col("bucket").as("coarse"))
    def restricted(f: DataFrame, nCol: String, dCol: String): DataFrame =
      f.join(broadcast(divergent), Seq("coarse"), "left_semi")
        .select(col("coarse"), col("fine"),
          col("n_rows").as(nCol), col("digest").as(dCol))
    restricted(fa, "n_a", "__da")
      .join(restricted(fb, "n_b", "__db"), Seq("coarse", "fine"), "full_outer")
      .withColumn("status",
        when(col("__da").isNull, lit("missing_a"))
          .when(col("__db").isNull, lit("missing_b"))
          .when(col("__da") =!= col("__db") || col("n_a") =!= col("n_b"),
            lit("mismatch")))
      .where(col("status").isNotNull)
      .select(col("coarse"), col("fine"), col("n_a"), col("n_b"), col("status"))
  }
}
