package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, LongType, StructField, StructType}

/**
 * Distributed spectral analysis of an embedding column with EXACT
 * cross-engine arithmetic: power iteration on the (uncentered) second
 * moment C = Σᵣ xᵣxᵣᵀ without ever materializing C — each step is
 * C·v = Σᵣ xᵣ(xᵣ·v), i.e. one per-row dot product and one per-dim sum,
 * computed in ONE corpus pass per step over the row-wise ARRAY frame:
 * the per-row dot `xᵣ·v` rides a zip_with/aggregate projection against
 * the broadcast-free dim-indexed literal `v`, and the per-dim sums are a
 * map-side-combined aggregate of the per-row contribution arrays. The
 * d-vector algebra between passes (renormalization, Rayleigh/deflation
 * dot products) is DIMENSION-sized — metadata by the same contract as
 * Lloyd centroids — and runs on the driver in BigInteger, replicating
 * the engine's integer ops bit for bit.
 *
 * This shape replaced a join-based formulation whose every step shuffled
 * the corpus-sized exploded frame through a sort-merge join against the
 * row-dot table (guide §2.4: remove shuffles outright — the row dot is a
 * per-row projection, so no join is fundamentally required) and
 * lineage-cut ~10 d-row frames per query (each cut a plan+codegen
 * charge). Per step the new plan is: one scan of the quantized arrays,
 * zero joins, zero corpus shuffles, one 64-group aggregate.
 *
 * Exactness: components quantize to `floor(x·10⁶)` (exactly summable
 * integers, the same trick as the drift/centroid queries), every moment
 * rides DECIMAL(38,0), and the iterate is renormalized after each step
 * by an ADAPTIVE integer divisor `max|u| div B + 1` — data-dependent but
 * itself exact, so any engine mirroring the computation lands on
 * bit-identical integers at every step. Division truncates toward zero
 * (BigInteger.divide ≡ Spark's `div` on the non-negative operands the
 * sign split produces). With |v| ≤ ~10⁸ and 10⁶-scaled components, the
 * largest moment is n·10¹¹·(d·10¹⁴) — inside DECIMAL(38,0) headroom for
 * any real corpus and dimension; the deflated operator's tighter 10⁴
 * iterate bound keeps its extra vvᵀ products inside the same headroom.
 *
 * PRECONDITION: embedding array elements are non-null (the testdata
 * schema contract pins float32 arrays). C is a sum over ROWS — duplicate
 * ids contribute one term per row.
 */
object Spectral {

  private val Dec38 = DecimalType(38, 0)
  private type JBD = java.math.BigDecimal
  private type JBI = java.math.BigInteger
  // type aliases don't carry statics — bind the companion object too
  private val BiZero = java.math.BigInteger.ZERO
  private val BiOne = java.math.BigInteger.ONE

  /** Quantized row-wise array frame: (__id, q) with
    * q[i] = floor(x[i]·10⁶) as DECIMAL(38,0). Lineage-cut once: every
    * power step and the trace re-read it. */
  private def quantizedArr(emb: DataFrame, idCol: String, vecCol: String) =
    graft.recon.Checkpoints.cut(
      emb.select(col(idCol).as("__id"),
        transform(col(vecCol), x =>
          floor(x.cast("double") * 1000000d).cast(Dec38)).as("q")))

  /** One matrix-free corpus pass u ← C·v (v = None is the implicit
    * all-ones start): per row dt = q·v as a projection, then the per-dim
    * contribution sums via posexplode + hash aggregate (a row's dims are
    * adjacent, so the partial combine collapses to d rows per partition
    * before the only — d-row — exchange). Returns the dense d-vector. */
  private def applyC(qarr: DataFrame, v: Option[IndexedSeq[JBD]]): Array[JBD] =
    applyCWithTrace(qarr, v, withTrace = false)._1

  /** As [[applyC]]; `withTrace = true` additionally folds the trace
    * Σᵣ qᵣ·qᵣ into the SAME pass as one extra exploded slot (index d) —
    * the consumers always need both, and a separate trace pass would
    * re-scan the corpus for one scalar. */
  private def applyCWithTrace(qarr: DataFrame, v: Option[IndexedSeq[JBD]],
      withTrace: Boolean): (Array[JBD], Option[JBD]) = {
    val dt = v match {
      case None => aggregate(col("q"), lit(0L).cast(Dec38), (a, x) => a + x)
      case Some(vs) =>
        val vl = array(vs.map(b => lit(b).cast(Dec38)): _*)
        aggregate(zip_with(col("q"), vl, (a, b) => a * b),
          lit(0L).cast(Dec38), (a, x) => a + x)
    }
    val contrib = transform(col("q"), x => x * col("__dt"))
    val slots =
      if (!withTrace) contrib
      else concat(contrib, array(aggregate(transform(col("q"), x => x * x),
        lit(0L).cast(Dec38), (a, x) => a + x)))
    val rows = qarr.select(col("q"), dt.as("__dt"))
      .select(posexplode(slots).as(Seq("dim", "__c")))
      .groupBy(col("dim")).agg(sum(col("__c")).as("u"))
      .collect()
    if (rows.isEmpty) (Array.empty[JBD], None)
    else {
      val dMax = rows.map(_.getInt(0)).max + 1
      val all = Array.fill[JBD](dMax)(java.math.BigDecimal.ZERO)
      rows.foreach(r => all(r.getInt(0)) =
        Option(r.getDecimal(1)).getOrElse(java.math.BigDecimal.ZERO))
      if (withTrace) (all.init, Some(all.last)) else (all, None)
    }
  }

  /** Truncation-toward-zero rescale to |out| ≤ bound by the adaptive
    * exact divisor `max|val| div bound + 1` — driver-side BigInteger on
    * the d-vector, replicating the engine-side decimal identity
    * (x − x % b) / b (exact: the division has no remainder; x ≥ 0 makes
    * floor = trunc). */
  private def rescaledD(u: Array[JBD], bound: Long): Array[JBD] = {
    if (u.isEmpty) return u
    val b = java.math.BigInteger.valueOf(bound)
    val maxAbs = u.map(_.toBigInteger.abs).reduce((a, c) => a.max(c))
    val sc = maxAbs.divide(b).add(BiOne)
    u.map { x =>
      val xi = x.toBigInteger
      val q = xi.abs.divide(sc)
      new JBD(if (xi.signum < 0) q.negate else q)
    }
  }

  private def dot(a: Array[JBD], b: Array[JBD]): JBI =
    a.iterator.zip(b.iterator)
      .map { case (x, y) => x.toBigInteger.multiply(y.toBigInteger) }
      .foldLeft(BiZero)(_.add(_))

  private def l1(a: Array[JBD]): JBI =
    a.iterator.map(_.toBigInteger.abs).foldLeft(BiZero)(_.add(_))

  /** `iters` power rounds from the all-ones start; the trace rides the
    * first pass (it is v-independent). Returns (final unnormalized
    * iterate, the rescaled v that produced it — None when iters = 1 —
    * and the trace). */
  private def powerU(qarr: DataFrame, iters: Int)
      : (Array[JBD], Option[Array[JBD]], Option[JBD]) = {
    var (u, tr) = applyCWithTrace(qarr, None, withTrace = true)
    var vPrev: Option[Array[JBD]] = None
    for (_ <- 2 to iters) {
      val v = rescaledD(u, 100000000L)
      vPrev = Some(v)
      u = applyC(qarr, Some(v.toIndexedSeq))
    }
    (u, vPrev, tr)
  }

  private def signedMilliShare(valCol: String, sabsCol: String): Column =
    when(col(sabsCol) === 0, lit(0L))
      .when(col(valCol) >= 0, expr(s"($valCol * 1000) div $sabsCol"))
      .otherwise(-expr(s"((-$valCol) * 1000) div $sabsCol"))

  /** The d-row (dim, u) frame from a driver vector — dimension-sized,
    * the LocalRelation the final projection reads. */
  private def vecDf(spark: org.apache.spark.sql.SparkSession,
      u: Array[JBD], valName: String): DataFrame = {
    val schema = StructType(Seq(StructField("dim", LongType, nullable = false),
      StructField(valName, Dec38, nullable = true)))
    val rows: java.util.List[org.apache.spark.sql.Row] =
      scala.jdk.CollectionConverters.SeqHasAsJava(
        u.toIndexedSeq.zipWithIndex.map { case (x, i) =>
          org.apache.spark.sql.Row(i.toLong, x.setScale(0))
        }).asJava
    // LocalRelation, not an RDD: the d-row output frame should cost no job
    spark.createDataFrame(rows, schema)
  }

  private def litDec(x: JBI): Column = lit(new JBD(x)).cast(Dec38)

  /**
   * Top principal direction of `vecCol` (array&lt;float&gt;, fixed
   * dimension) by `iters` rounds of matrix-free power iteration from the
   * all-ones start vector. Returns one row per dimension:
   * `dim` (0-based), `loading_milli` (signed per-dim share of the
   * direction's L1 mass, exact integer), and `explained_share` (Rayleigh
   * quotient over the trace — the fraction of total energy along the
   * direction; the one double in the output, produced by a fixed-shape
   * expression over exact integers so it is bit-identical across
   * engines). The all-ones start makes the sign deterministic.
   */
  def topDirection(emb: DataFrame, idCol: String, vecCol: String,
      iters: Int = 2): DataFrame = {
    require(iters >= 1 && iters <= 4, s"iters out of range [1,4]: $iters")
    val qarr = quantizedArr(emb, idCol, vecCol)
    val (u, vPrev, tr) = powerU(qarr, iters)
    // Rayleigh numerator vᵀCv = Σᵣ(qᵣ·v)² ≥ 0; with v0 = ones, den = d
    val (num, den, sabs) = vPrev match {
      case Some(v) => (dot(u, v), dot(v, v), l1(u))
      case None => (u.foldLeft(BiZero)((a, x) => a.add(x.toBigInteger)),
        java.math.BigInteger.valueOf(u.length.toLong), l1(u))
    }
    vecDf(emb.sparkSession, u, "u")
      .withColumn("sabs", litDec(sabs))
      .withColumn("num", litDec(num))
      .withColumn("den", litDec(den))
      .withColumn("tr", tr.map(t => lit(t).cast(Dec38))
        .getOrElse(lit(null).cast(Dec38)))
      .select(col("dim"),
        signedMilliShare("u", "sabs").as("loading_milli"),
        when(col("den") === 0 || col("tr") === 0, lit(null).cast("double"))
          .otherwise(col("num").cast("double") / col("den").cast("double")
            / col("tr").cast("double")).as("explained_share"))
  }

  /**
   * SECOND principal direction by exact-integer deflation: power
   * iteration on T = (vᵀv)·C − v(vᵀC), the top direction scaled out of
   * the operator without ever dividing (multiplying the projector
   * through by vᵀv keeps every step integral — a true Hotelling
   * deflation C − λv̂v̂ᵀ needs a rational λ). T annihilates v and acts as
   * (vᵀv)·C on v's orthogonal complement, so its dominant direction is
   * C's second one. `v` is the [[topDirection]] iterate after
   * `itersTop` rounds, rescaled to |v| ≤ 10⁴; the start vector is the
   * all-ones vector projected off v, and each T-step renormalizes to
   * |w| ≤ 10⁴ so the largest product (vᵀv)·(C·w) stays within
   * DECIMAL(38,0) headroom. Only the C applications touch the corpus —
   * one pass each; the projector algebra is d-sized driver BigInteger.
   *
   * Output per dimension: `dim`, `loading_milli` (signed L1 share of
   * the final iterate), `explained_share` (Rayleigh wᵀCw/(wᵀw) over the
   * trace — the energy fraction along the SECOND direction), and
   * `cos_to_top` (cosine between the reported direction and v — a
   * near-zero value is the orthogonality self-check; both doubles are
   * fixed-shape expressions over exact integers). On rank-1 data the
   * deflated iterate is quantization noise renormalized — the READABLE
   * signal is explained_share ≈ 0, not the loadings; only when the
   * residual vanishes exactly (e.g. axis-aligned data) does the iterate
   * collapse to zero with NULL doubles.
   */
  def secondDirection(emb: DataFrame, idCol: String, vecCol: String,
      itersTop: Int = 2, itersDeflate: Int = 2): DataFrame = {
    require(itersTop >= 1 && itersTop <= 4,
      s"itersTop out of range [1,4]: $itersTop")
    require(itersDeflate >= 1 && itersDeflate <= 4,
      s"itersDeflate out of range [1,4]: $itersDeflate")
    val qarr = quantizedArr(emb, idCol, vecCol)
    val (u1, _, tr) = powerU(qarr, itersTop)
    val vs = rescaledD(u1, 10000L)
    val vv = dot(vs, vs)
    val sv = vs.foldLeft(BiZero)((a, x) => a.add(x.toBigInteger))
    // w0 = (vᵀv)·1 − v·(vᵀ1), the ones vector projected off v
    var w = rescaledD(
      vs.map(vi => new JBD(vv.subtract(vi.toBigInteger.multiply(sv)))),
      10000L)
    var cwF = Array.empty[JBD]
    for (i <- 1 to itersDeflate) {
      val cw = applyC(qarr, Some(w.toIndexedSeq))
      val vc = dot(vs, cw)
      val tw = vs.indices.map { j =>
        new JBD(vv.multiply(cw(j).toBigInteger)
          .subtract(vs(j).toBigInteger.multiply(vc)))
      }.toArray
      w = rescaledD(tw, 10000L)
    }
    cwF = applyC(qarr, Some(w.toIndexedSeq))
    val num = dot(w, cwF)
    val den = dot(w, w)
    val sabs = l1(w)
    val vw = dot(vs, w)
    vecDf(emb.sparkSession, w, "w")
      .withColumn("sabs", litDec(sabs))
      .withColumn("num", litDec(num))
      .withColumn("den", litDec(den))
      .withColumn("vw", litDec(vw))
      .withColumn("vv", litDec(vv))
      .withColumn("tr", tr.map(t => lit(t).cast(Dec38))
        .getOrElse(lit(null).cast(Dec38)))
      .select(col("dim"),
        signedMilliShare("w", "sabs").as("loading_milli"),
        when(col("den") === 0 || col("tr") === 0, lit(null).cast("double"))
          .otherwise(col("num").cast("double") / col("den").cast("double")
            / col("tr").cast("double")).as("explained_share"),
        when(col("vv") === 0 || col("den") === 0, lit(null).cast("double"))
          .otherwise(col("vw").cast("double") /
            (sqrt(col("vv").cast("double")) * sqrt(col("den").cast("double"))))
          .as("cos_to_top"))
  }
}
