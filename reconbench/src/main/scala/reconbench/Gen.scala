package reconbench

import java.io.{BufferedWriter, FileInputStream, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Path, Paths}
import java.security.MessageDigest

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Exact outcome of one batch, known from how the generator planted it.
  * Amounts are integer cents. `internalRows`/`externalRows` count every
  * row that enters the batch, carried-over remanents included;
  * `statusRows` is the published status table's size after the batch
  * (carry-over only). */
final case class Expected(
    zeroEffectPairs: Long,
    matchedExact: Long,
    matchedTolerance: Long,
    displaced: Long,
    internalRemanent: Long,
    externalRemanent: Long,
    conciliatedCents: Long,
    internalRemanentCents: Long,
    externalRemanentCents: Long,
    internalRows: Long,
    externalRows: Long,
    statusRows: Long) {
  def conciliated: Long = matchedExact + matchedTolerance
}

/** A workload's generated inputs: the internal side as parquet
  * partitioned by `batch`, the external side as one CSV per batch. */
final case class Inputs(
    internalRoot: String,
    externalRoot: String,
    expected: IndexedSeq[Expected],
    inputBytes: IndexedSeq[Long],
    sha256: String) {
  def externalPath(batch: Int): String = s"$externalRoot/batch=$batch"
}

/**
 * Seeded, deterministic input generator. Every value of transaction `j`
 * of batch `b` is a pure function of (seed, b, j), so the same seed gives
 * byte-identical files whatever the partitioning of the writing job.
 *
 * Each transaction is planted in one outcome class; the class letter is
 * the last character of every id it produces, so a result row can be
 * audited against the class that produced it.
 */
object Gen {
  /** Partitions of the generating job, hence part files per input batch. */
  final val Slices = 4

  final val Exact = 'X'     // identical keys on both sides
  final val Tol = 'T'       // settlement amount +0.05 against a 0.1 tolerance
  final val Dup = 'D'       // settled twice: first line matches ...
  final val DupLast = 'B'   // ... the second is displaced to the remanents
  final val Sale = 'Z'      // SALE half of a zero-effect pair
  final val Void = 'V'      // VOID half of a zero-effect pair
  final val IntOnly = 'I'   // never settled
  final val ExtOnly = 'E'   // settlement line with no internal row
  final val Late = 'L'      // settles 1–2 batches after the internal row

  private val Base = 1714521600000L // 2024-05-01T00:00:00Z
  private val Processor = "Kushki Acquirer Processor"

  final case class Txn(batch: Int, j: Int, cls: Char, cents: Long, ts: Long,
      code: String, bin: String, card: String, last4: String, approval: String,
      merchant: Int, delay: Int, ref: String)

  private def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  def txn(w: Workload, seed: Long, batch: Int, j: Int): Txn = {
    val h0 = mix(mix(seed) ^ mix(batch.toLong << 32 | j.toLong))
    def h(i: Int): Long = mix(h0 + i)
    val u = (h0 >>> 11).toDouble / (1L << 53)
    val exactEnd = 0.85 - w.lateShare
    val cls =
      if (u < exactEnd) Exact
      else if (u < 0.85) Late
      else if (u < 0.90) Tol
      else if (u < 0.93) Dup
      else if (u < 0.95) Sale
      else if (u < 0.975) IntOnly
      else ExtOnly
    val step = w.windowMs / w.txnsPerBatch
    Txn(batch, j, cls,
      cents = 100 + mod(h(1), 500000L),
      ts = Base + batch * w.windowMs + j * step,
      code = "K" + digits(batch, 3) + digits(j, 7) + hex(h(2) & 0xffffffL, 6),
      bin = digits(4 + (h(3) & 1), 1) + digits(mod(h(3) >>> 1, 10000000L), 7),
      card = if ((h(4) & 1) == 0) "credit" else "debit",
      last4 = digits(mod(h(4) >>> 1, 10000L), 4),
      approval = digits(mod(h(5), 1000000L), 6),
      merchant = mod(h(5) >>> 20, 500L).toInt,
      delay = 1 + (h(6) & 1).toInt,
      ref = hex(h(7), 16) + hex(h(8), 16))
  }

  private def mod(v: Long, m: Long): Long = java.lang.Math.floorMod(v, m)

  /** `v` (non-negative) left-padded with zeros to `width` digits. */
  private def digits(v: Long, width: Int): String = {
    val s = v.toString
    if (s.length >= width) s else "0" * (width - s.length) + s
  }

  private def hex(v: Long, width: Int): String = {
    val s = java.lang.Long.toHexString(v)
    if (s.length >= width) s else "0" * (width - s.length) + s
  }

  val internalSchema: StructType = StructType(
    Schema.internalFields.map(f => StructField(f, Schema.types.sparkTypeOf(f))) :+
      StructField("batch", IntegerType, nullable = false))

  def internalRows(t: Txn): Seq[Row] = {
    def row(id: Char, code: String, kind: String, ticket: String, saleTicket: String, ts: Long) =
      Row(s"i${t.batch}-${t.j}$id", s"R$code", t.approval, "ACQUIRER", s"M${t.merchant}",
        Processor, code, "APPROVED", kind, ticket, saleTicket, t.bin, t.card, t.last4,
        ts, t.cents / 100.0, t.batch)
    t.cls match {
      case ExtOnly => Nil
      case Sale => Seq(
        row(Sale, t.code, "SALE", s"T${t.code}", null, t.ts),
        row(Void, s"${t.code}V", "VOID", s"TV${t.code}", s"T${t.code}", t.ts + 1))
      case c => Seq(row(c, t.code, "SALE", s"T${t.code}", null, t.ts))
    }
  }

  /** Settlement lines of `t`, in file order. */
  def externalLines(t: Txn): Seq[String] = {
    def line(id: Char, cents: Long) = Seq(
      s"e${t.batch}-${t.j}$id", t.ref, java.math.BigDecimal.valueOf(cents, 2).toPlainString,
      "SALE", t.approval, "APPROVED", t.ts.toString, t.bin, t.card, t.last4, t.code,
      Processor, "Ecuador", "ACQUIRER", s"T${t.code}").mkString(",")
    t.cls match {
      case Sale | IntOnly => Nil
      case Tol => Seq(line(Tol, t.cents + 5))
      case Dup => Seq(line(Dup, t.cents), line(DupLast, t.cents))
      case c => Seq(line(c, t.cents))
    }
  }

  /** Transactions whose settlement lines land in `batch`'s file. */
  private def settling(w: Workload, seed: Long, batch: Int): Iterator[Txn] = {
    val own = (0 until w.txnsPerBatch).iterator.map(txn(w, seed, batch, _)).filter(_.cls != Late)
    val late = (1 to 2).iterator.filter(d => w.lateShare > 0 && batch - d >= 0).flatMap { d =>
      (0 until w.txnsPerBatch).iterator.map(txn(w, seed, batch - d, _))
        .filter(t => t.cls == Late && t.delay == d)
    }
    own ++ late
  }

  /** The exact outcome of every batch of one pass over the workload. */
  def expected(w: Workload, seed: Long): IndexedSeq[Expected] = {
    val carries = w.persist == CarriedStatuses
    // internal rows still unsettled: (cents, batch whose file settles them)
    var pending = Vector.empty[(Long, Int)]
    var statusRows = 0L
    (0 until w.batches).map { b =>
      var ze, exact, tol, disp, intRem, extRem = 0L
      var concC, intRemC, extRemC, intRows, extRows, newStatuses = 0L
      val carried = pending
      val next = ArrayBuffer.empty[(Long, Int)]
      carried.foreach { case (c, due) =>
        if (carries) {
          intRows += 1
          if (due == b) { exact += 1; concC += c; extRows += 1 }
          else { intRem += 1; intRemC += c; next += ((c, due)) }
        } else if (due == b) {
          // without carry-over a late settlement line finds no internal row
          extRem += 1; extRemC += c; extRows += 1
        } else next += ((c, due))
      }
      (0 until w.txnsPerBatch).foreach { j =>
        val t = txn(w, seed, b, j)
        val c = t.cents
        t.cls match {
          case Exact => exact += 1; concC += c; intRows += 1; extRows += 1
          case Tol => tol += 1; concC += c; intRows += 1; extRows += 1
          case Dup =>
            exact += 1; disp += 1; concC += c; extRem += 1; extRemC += c
            intRows += 1; extRows += 2
          case Sale => ze += 1; intRows += 2
          case IntOnly =>
            intRem += 1; intRemC += c; intRows += 1
            if (carries) next += ((c, Int.MaxValue))
          case ExtOnly => extRem += 1; extRemC += c; extRows += 1
          case Late =>
            intRem += 1; intRemC += c; intRows += 1; next += ((c, b + t.delay))
        }
        if (t.cls != Sale && t.cls != ExtOnly) newStatuses += 1
      }
      pending = next.toVector
      statusRows += newStatuses + extRem
      Expected(ze, exact, tol, disp, intRem, extRem, concC, intRemC, extRemC,
        intRows, extRows, if (carries) statusRows else 0L)
    }
  }

  /** Write the workload's inputs under `dir` and describe them. Any
    * previous contents of `dir` are removed first. */
  def write(spark: SparkSession, w: Workload, seed: Long, dir: String): Inputs = {
    Fs.deleteTree(Paths.get(dir))
    Fs.createDirectories(Paths.get(dir))
    val internalRoot = s"$dir/internal"
    val externalRoot = s"$dir/external"
    val n = w.txnsPerBatch
    val total = w.batches.toLong * n
    val rows = spark.sparkContext.range(0L, total, 1L, Slices).flatMap { id =>
      internalRows(txn(w, seed, (id / n).toInt, (id % n).toInt))
    }
    spark.createDataFrame(rows, internalSchema)
      .write.partitionBy("batch").parquet(internalRoot)
    normalizePartFiles(Paths.get(internalRoot))

    (0 until w.batches).foreach { b =>
      val d = Paths.get(externalRoot, s"batch=$b")
      Fs.createDirectories(d)
      val out = new BufferedWriter(new OutputStreamWriter(
        new FileOutputStream(d.resolve("part-00000.csv").toFile), UTF_8), 1 << 16)
      try {
        out.write(Schema.externalColumns.mkString(","))
        out.write('\n')
        settling(w, seed, b).foreach(t => externalLines(t).foreach { l => out.write(l); out.write('\n') })
      } finally out.close()
    }

    val inputBytes = (0 until w.batches).map(b =>
      Fs.bytesOf(Paths.get(internalRoot, s"batch=$b")) +
        Fs.bytesOf(Paths.get(externalRoot, s"batch=$b")))
    Inputs(internalRoot, externalRoot, expected(w, seed), inputBytes,
      Fs.sha256(Paths.get(dir)))
  }

  /** Give Spark's part files stable names (they carry a per-job UUID)
    * and drop checksum side files, so equal contents mean equal trees. */
  private def normalizePartFiles(root: Path): Unit =
    Fs.regularFiles(root).foreach { p =>
      val name = p.getFileName.toString
      if (name.endsWith(".crc")) java.nio.file.Files.delete(p)
      else if (name.startsWith("part-")) {
        val stable = name.replaceFirst("^(part-\\d+)-.*?(\\.[^.]+\\.parquet)$", "$1$2")
        if (stable != name) java.nio.file.Files.move(p, p.resolveSibling(stable))
      }
    }
}

/** Small filesystem helpers over java.nio. */
object Fs {
  def createDirectories(p: Path): Unit = java.nio.file.Files.createDirectories(p)

  def deleteTree(p: Path): Unit =
    if (java.nio.file.Files.exists(p)) {
      val all = java.nio.file.Files.walk(p)
      try all.iterator().asScala.toSeq.reverse.foreach(java.nio.file.Files.delete)
      finally all.close()
    }

  def regularFiles(root: Path): Seq[Path] =
    if (!java.nio.file.Files.exists(root)) Nil
    else {
      val all = java.nio.file.Files.walk(root)
      try all.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_)).toVector.sorted
      finally all.close()
    }

  def bytesOf(root: Path): Long = regularFiles(root).map(java.nio.file.Files.size).sum

  /** Data files under `root`: everything but checksums, markers and the
    * publish pointer. */
  def dataFiles(root: Path): Seq[Path] = regularFiles(root).filterNot { p =>
    val n = p.getFileName.toString
    n.startsWith(".") || n.startsWith("_")
  }

  /** SHA-256 over every file's relative path and contents, in path order. */
  def sha256(root: Path): String = {
    val md = MessageDigest.getInstance("SHA-256")
    val buf = new Array[Byte](1 << 16)
    regularFiles(root).foreach { p =>
      md.update(root.relativize(p).toString.getBytes(UTF_8))
      val in = new FileInputStream(p.toFile)
      try {
        var k = in.read(buf)
        while (k > 0) { md.update(buf, 0, k); k = in.read(buf) }
      } finally in.close()
    }
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }
}
