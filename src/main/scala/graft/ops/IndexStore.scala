package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * On-disk lifecycle for the incremental dedup indexes — the piece that
 * turns [[Dedup.minHashIncremental]] / [[Dedup.embeddingIncrementalNearDups]]
 * from "twin frames in one session" into a production daily-ingest loop:
 * build an index once over history, persist it, and probe each new batch
 * against the loaded index (history text/vectors never rescanned); the
 * IVF-PQ index also takes accepted batches in by an idempotent append.
 *
 * Layout (all plain parquet — readable by any engine, splittable,
 * column-pruned on probe):
 *
 *   <dir>/meta/          one row of build parameters. The parameters ARE
 *                        the index's identity: probing k=64 signatures
 *                        with k=16 banding silently produces garbage, so
 *                        every probe/merge re-reads meta and uses ITS
 *                        values, and [[readMeta]] fails loudly on an
 *                        unknown layout version.
 *   <dir>/signatures/    MinHash: (doc, h0..h{k-1}).
 *   <dir>/index/         embedding LSH: (vec_id-col, vec-col, bucket).
 *
 * Scale shape: writes are straight columnar dumps of frames the build
 * already produces (signatures: k longs per doc); probes read the
 * signature/index parquet with column pruning and join on band/bucket
 * keys exactly like the in-memory forms. An append adds the new batch's
 * rows — history files are immutable.
 *
 * Concurrency contract: SINGLE WRITER, and no probe concurrent with an
 * append. Plain parquet has no commit protocol, so a probe racing an
 * append can see a partially-appended index. A deployment needing
 * concurrent writers should front this with a table format that has a
 * log (Delta/Iceberg) — the layout maps 1:1.
 */
object IndexStore {

  final case class MinHashMeta(shingleN: Int, k: Int, bands: Int,
      hash: Dedup.SketchHash)
  final case class EmbedLshMeta(h: Int, idCol: String, vecCol: String)

  private val Version = 1L

  private def hashName(h: Dedup.SketchHash): String = h match {
    case Dedup.SketchHash.Portable => "portable"
    case Dedup.SketchHash.Fast     => "fast"
  }

  private def hashFor(name: String): Dedup.SketchHash = name match {
    case "portable" => Dedup.SketchHash.Portable
    case "fast"     => Dedup.SketchHash.Fast
    case other => throw new IllegalArgumentException(
      s"index meta names unknown sketch hash '$other' (known: portable, fast)")
  }

  private def writeMeta(spark: SparkSession, dir: String,
      kind: String, fields: Map[String, String]): Unit = {
    val cols = lit(Version).as("version") +: lit(kind).as("kind") +:
      fields.toSeq.sortBy(_._1).map { case (k, v) => lit(v).as(k) }
    spark.range(1).select(cols: _*)
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/meta")
  }

  private def readMeta(spark: SparkSession, dir: String, kind: String): Map[String, String] = {
    val row = spark.read.parquet(s"$dir/meta").head()
    val m = row.schema.fieldNames.map(n => n -> row.getAs[Any](n).toString).toMap
    require(m.get("version").contains(Version.toString),
      s"index at $dir has layout version ${m.get("version")}, expected $Version")
    require(m.get("kind").contains(kind),
      s"index at $dir is a '${m.getOrElse("kind", "?")}' index, expected '$kind'")
    m
  }

  // ---- MinHash text index ------------------------------------------------

  /** Build and persist a MinHash index over `df`: the signatures are the
    * index. The sketch-hash algorithm is part of the index identity
    * (probing Portable signatures with Fast banding is silent garbage),
    * so it is persisted in meta alongside shingle_n/k/bands and every
    * probe reads it from there. */
  def writeMinHashIndex(df: DataFrame, textCol: String, idCol: String, dir: String,
      shingleN: Int = 3, k: Int = 64, bands: Int = 8,
      hash: Dedup.SketchHash = Dedup.SketchHash.Portable): Unit = {
    require(k % bands == 0, "bands must divide k")
    val spark = df.sparkSession
    val sig = Dedup.minHashSignatures(df, textCol, idCol, shingleN, k, hash)
    sig.write.mode("overwrite").parquet(s"$dir/signatures")
    writeMeta(spark, dir, "minhash", Map(
      "shingle_n" -> shingleN.toString, "k" -> k.toString, "bands" -> bands.toString,
      "hash" -> hashName(hash)))
  }

  def loadMinHashMeta(spark: SparkSession, dir: String): MinHashMeta = {
    val m = readMeta(spark, dir, "minhash")
    // indexes written before the hash field existed were all Portable
    // (the only algorithm the old probe used), so that is the safe default
    MinHashMeta(m("shingle_n").toInt, m("k").toInt, m("bands").toInt,
      hashFor(m.getOrElse("hash", "portable")))
  }

  /** The persisted signature frame (doc, h0..h{k-1}). */
  def loadMinHashSignatures(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/signatures")

  /** Probe a NEW batch against the persisted index. All index-shape
    * parameters come from the index's own meta — the caller cannot
    * mis-pair them with the stored signatures. */
  def minHashProbe(newDf: DataFrame, textCol: String, idCol: String, dir: String,
      minAgreement: Double = 0.5d, maxBucket: Int = 100): DataFrame = {
    val spark = newDf.sparkSession
    val meta = loadMinHashMeta(spark, dir)
    val sigN = graft.recon.Checkpoints.cut(
      Dedup.minHashSignatures(newDf, textCol, idCol, meta.shingleN, meta.k, meta.hash))
    Dedup.minHashIncrementalOf(sigN, loadMinHashSignatures(spark, dir),
      meta.k, meta.bands, minAgreement, maxBucket, meta.hash)
  }

  // ---- embedding sign-LSH index ------------------------------------------

  /** Build and persist a sign-LSH embedding index ([[Similarity.lshIndex]]
    * shape at rest: id, vector, bucket). The hyperplanes are derived from
    * (plane, dim) seeds — no RNG state to persist; `h` in meta is the
    * complete reconstruction recipe. */
  def writeEmbeddingIndex(df: DataFrame, idCol: String, vecCol: String, dir: String,
      h: Int): Unit = {
    val spark = df.sparkSession
    Similarity.lshIndex(df, idCol, vecCol, h)
      .write.mode("overwrite").parquet(s"$dir/index")
    writeMeta(spark, dir, "embed_lsh", Map(
      "h" -> h.toString, "id_col" -> idCol, "vec_col" -> vecCol))
  }

  def loadEmbeddingMeta(spark: SparkSession, dir: String): EmbedLshMeta = {
    val m = readMeta(spark, dir, "embed_lsh")
    EmbedLshMeta(m("h").toInt, m("id_col"), m("vec_col"))
  }

  def loadEmbeddingIndex(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/index")

  /** Probe a NEW vector batch against the persisted index; `h` and the
    * column names come from meta. */
  def embeddingProbe(newDf: DataFrame, dir: String, threshold: Double,
      maxBucket: Int = 4096, cosine: Boolean = false): DataFrame = {
    val spark = newDf.sparkSession
    val meta = loadEmbeddingMeta(spark, dir)
    Dedup.embeddingIncrementalNearDups(newDf, loadEmbeddingIndex(spark, dir),
      meta.idCol, meta.vecCol, threshold, meta.h, maxBucket, cosine)
  }

  // ---- trained IVF-PQ ANN index ------------------------------------------

  final case class IvfPqMeta(m: Int, subDim: Int, idCol: String, vecCol: String)

  /**
   * Train and persist the full IVF-PQ serving index: IVF routing
   * centroids, per-subspace PQ codebooks, and the coded corpus
   * `(id, centroid_id, codes)`. This is THE operational shape of ANN at
   * the 100 TB tier — training (two k-means passes) and encoding are a
   * build-time cost paid once; a probe then reads `m` small ints + a
   * cell id per vector and never the raw embeddings. Centroids and
   * codebooks are broadcast-sized and written `coalesce(1)`; the coded
   * corpus writes at full parallelism.
   */
  def writeIvfPqIndex(df: DataFrame, idCol: String, vecCol: String, dir: String,
      kCells: Int, ivfIters: Int, ivfModulus: Long,
      m: Int, subDim: Int, pqC: Int, pqIters: Int, pqModulus: Long,
      train: Option[DataFrame] = None): Unit = {
    val spark = df.sparkSession
    // `train` caps the Lloyd/codebook training set (a deterministic
    // sample of `df`) while the ENCODED corpus stays `df` in full — at
    // 100 TB training on everything buys nothing the sample doesn't
    val trainDf = train.getOrElse(df)
    val cents = Similarity.kmeansCentroids(trainDf, idCol, vecCol, kCells, ivfIters, ivfModulus)
    val cb = Similarity.pqCodebookTrained(trainDf, idCol, vecCol, m, subDim, pqC,
      pqIters, pqModulus)
    // cell assignment + L2 encode fused into ONE narrow corpus pass (both
    // are per-row broadcast argmaxes); the former two-frame build paid a
    // full corpus join on the id to reunite them (guide §2.4)
    Similarity.withCodesL2(Similarity.ivfIndexWith(df, idCol, vecCol, cents),
        vecCol, cb, m, subDim)
      .select(col(idCol), col("codes"), col("centroid_id"))
      .write.mode("overwrite").parquet(s"$dir/codes")
    cents.coalesce(1).write.mode("overwrite").parquet(s"$dir/ivf_centroids")
    cb.coalesce(1).write.mode("overwrite").parquet(s"$dir/pq_codebook")
    writeMeta(spark, dir, "ivfpq", Map(
      "m" -> m.toString, "sub_dim" -> subDim.toString,
      "id_col" -> idCol, "vec_col" -> vecCol))
  }

  def loadIvfPqMeta(spark: SparkSession, dir: String): IvfPqMeta = {
    val mm = readMeta(spark, dir, "ivfpq")
    IvfPqMeta(mm("m").toInt, mm("sub_dim").toInt, mm("id_col"), mm("vec_col"))
  }

  def loadIvfPqCentroids(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/ivf_centroids")

  def loadIvfPqCodebook(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/pq_codebook")

  /** The coded corpus at rest: `(id, centroid_id, codes)`. */
  def loadIvfPqCodes(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/codes")

  /** Top-k probe against the persisted index — routing, reconstruction
    * and scoring all come from the files; column names from meta, so a
    * probe cannot pair the wrong columns with the wrong index. */
  def ivfPqProbe(queries: DataFrame, dir: String, k: Int, nprobe: Int): DataFrame = {
    val spark = queries.sparkSession
    val meta = loadIvfPqMeta(spark, dir)
    Similarity.ivfpqTopKFromIndex(loadIvfPqCodes(spark, dir), queries,
      meta.idCol, meta.vecCol, k,
      loadIvfPqCentroids(spark, dir), loadIvfPqCodebook(spark, dir), nprobe)
  }

  /** Merge a new vector batch into the index: assign cells and encode
    * with the EXISTING centroids/codebooks (training is a build-time
    * decision — daily ingest never retrains; re-train and rebuild when
    * drift warrants it, the standard IVF-PQ operating posture) and append
    * the coded rows; history code files are immutable, like the minhash
    * signatures. IDEMPOTENT for crash replays: only batch ids NOT
    * already in the coded corpus are encoded
    * and appended, so a batch re-merged after a crash between merge and
    * commit is a no-op instead of a double-append that would return
    * duplicate neighbors from every probe of the touched cells. The
    * fresh slice is pinned EAGERLY before the append so the anti-join
    * can't read the directory it is writing. Returns the number of
    * vectors actually appended. Single-writer contract, like every other
    * merge here. */
  def mergeIntoIvfPqIndexIdempotent(batch: DataFrame, dir: String): Long = {
    val spark = batch.sparkSession
    val meta = loadIvfPqMeta(spark, dir)
    val fresh = graft.recon.Checkpoints.cut(
      batch.join(loadIvfPqCodes(spark, dir).select(col(meta.idCol)),
        Seq(meta.idCol), "left_anti"),
      eager = true)
    val n = fresh.count()
    // fused assign+encode pass, like [[writeIvfPqIndex]]
    if (n > 0)
      Similarity.withCodesL2(
          Similarity.ivfIndexWith(fresh, meta.idCol, meta.vecCol,
            loadIvfPqCentroids(spark, dir)),
          meta.vecCol, loadIvfPqCodebook(spark, dir), meta.m, meta.subDim)
        .select(col(meta.idCol), col("codes"), col("centroid_id"))
        .write.mode("append").parquet(s"$dir/codes")
    n
  }
}
