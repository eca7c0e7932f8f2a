package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Typed media row: opaque binary payload + typed metadata — the multimodal
  * column model (image/audio/video as `binary`, never parsed by Spark). */
final case class MediaRecord(
    media_id: Long,
    media_type: String,
    payload: Array[Byte],
    n_bytes: Int,
    format: String)

/** Decoded-media features. Width/height/duration come from the decoder;
  * in this environment the decode step is STUBBED (see [[Multimodal.decodeStub]]). */
final case class MediaFeatures(
    media_id: Long,
    media_type: String,
    n_bytes: Int,
    width: Int,
    height: Int,
    duration_ms: Long,
    content_hash: Long)

/** REAL-decode features ([[Multimodal.decodeReal]]): a failed decode
  * surfaces as NULL metadata + `decode_ok = false` — never fake numbers —
  * so [[Multimodal.integrityAudit]]'s `null_metadata` check catches it. */
final case class RealFeatures(
    media_id: Long,
    media_type: String,
    n_bytes: Int,
    width: Option[Int],
    height: Option[Int],
    duration_ms: Option[Long],
    decode_ok: Boolean)

/** Sample-level PCM statistics ([[Multimodal.audioSampleStats]]): exact
  * integers from a real int16 scan; a failed walk is NULLs + `decode_ok
  * = false`, same contract as [[RealFeatures]]. */
final case class AudioStats(
    media_id: Long,
    n_bytes: Int,
    n_samples: Option[Long],
    sum_abs: Option[Long],
    peak_abs: Option[Long],
    n_crossings: Option[Long],
    decode_ok: Boolean)

/**
 * Multimodal-column plumbing: binary payloads with typed metadata, decoded /
 * feature-extracted in partition-batches. TWO decode paths:
 *
 *   - [[decodeReal]] — a REAL JDK-only decoder: PNG/JPEG width·height via
 *     `javax.imageio.ImageIO`, WAV duration via a RIFF chunk walk. No new
 *     dependencies; failures surface as NULL metadata + `decode_ok=false`,
 *     which [[integrityAudit]]'s `null_metadata` check counts. Formats the
 *     JDK cannot decode (mp4 video) stay out of this path.
 *   - [[decodeFeatures]]/[[decodeStub]] — the deterministic fake decoder
 *     for opaque/unsupported payloads (video containers need codecs this
 *     container lacks); it exercises schema, batching, and downstream joins
 *     with payload-derived dimensions. Swap it for a JNI/javacpp decoder in
 *     production; nothing else changes.
 *
 * Batch shape: `mapPartitions` over a typed Dataset is the Scala analog of
 * arrow-batched `mapInPandas` — one iterator per partition, no per-row
 * ser/deser boundary crossings, pipeline-friendly at 100 TB (decode cost
 * scales with splits, no shuffle).
 */
object Multimodal {

  /** Wrap a text table into fake media rows: payload = utf-8 bytes.
    * Deterministic — stands in for reading real blobs from object storage. */
  def syntheticMedia(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(
      col(idCol).cast("long").as("media_id"),
      // deterministic fake modality from the id
      element_at(array(lit("image"), lit("audio"), lit("video")),
        (pmod(col(idCol), lit(3)) + 1).cast("int")).as("media_type"),
      col(textCol).cast("binary").as("payload"),
      octet_length(col(textCol)).as("n_bytes"),
      element_at(array(lit("png"), lit("wav"), lit("mp4")),
        (pmod(col(idCol), lit(3)) + 1).cast("int")).as("format"))

  /**
   * STUB decoder: in production this calls the real image/audio/video
   * decoder on `payload`. Here it derives deterministic fake dimensions
   * from the payload bytes so the full pipeline (schema, batching,
   * downstream joins) is exercised end-to-end.
   */
  private[ops] def decodeStub(r: MediaRecord): MediaFeatures = {
    // ??? <- real decoder goes here; deterministic fake below
    var h = 1125899906842597L
    var i = 0
    val n = math.min(r.payload.length, 64)
    while (i < n) { h = 31 * h + r.payload(i); i += 1 }
    MediaFeatures(
      media_id = r.media_id,
      media_type = r.media_type,
      n_bytes = r.n_bytes,
      width = if (r.media_type == "audio") 0 else 64 + (math.abs(h) % 1024).toInt,
      height = if (r.media_type == "audio") 0 else 64 + (math.abs(h >> 10) % 1024).toInt,
      duration_ms = if (r.media_type == "image") 0L else math.abs(h >> 20) % 600000L,
      content_hash = h)
  }

  /** Partition-batched decode/feature-extract (mapInPandas analog). */
  def decodeFeatures(media: Dataset[MediaRecord]): Dataset[MediaFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.map(decodeStub))
  }

  /** Typed view of a media DataFrame. */
  def asMedia(df: DataFrame): Dataset[MediaRecord] = {
    import df.sparkSession.implicits._
    df.as[MediaRecord]
  }

  // ---------------------------------------------------------------- real decode

  // ImageIO's default scratch is a TEMP FILE per decode — executor-thread
  // hostile; in-memory caching is what a 32-thread decode stage wants.
  // Applied LAZILY at the decode/encode entry points, not at object init:
  // setUseCache is a JVM-GLOBAL mutation affecting every other ImageIO
  // user in the process, so merely class-loading this object for an
  // unrelated member (e.g. [[syntheticMedia]]) must not flip it.
  private lazy val imageIoNoCache: Unit = javax.imageio.ImageIO.setUseCache(false)

  private def b(a: Array[Byte], i: Int): Int = a(i) & 0xff

  private[ops] def isPng(a: Array[Byte]): Boolean =
    a.length >= 8 && b(a, 0) == 0x89 && b(a, 1) == 'P' && b(a, 2) == 'N' && b(a, 3) == 'G'

  private[ops] def isJpeg(a: Array[Byte]): Boolean =
    a.length >= 3 && b(a, 0) == 0xff && b(a, 1) == 0xd8 && b(a, 2) == 0xff

  private[ops] def isWav(a: Array[Byte]): Boolean =
    a.length >= 16 &&
      a(0) == 'R' && a(1) == 'I' && a(2) == 'F' && a(3) == 'F' &&
      a(8) == 'W' && a(9) == 'A' && a(10) == 'V' && a(11) == 'E'

  private def leInt(a: Array[Byte], i: Int): Int =
    b(a, i) | (b(a, i + 1) << 8) | (b(a, i + 2) << 16) | (b(a, i + 3) << 24)

  /** WAV duration in ms from a RIFF chunk walk: `fmt ` gives the byte
    * rate, `data` gives the payload length; duration = dataLen·1000/rate
    * (floored). None when either chunk is missing/corrupt. `pos` is a
    * LONG: a hostile chunk size near Int.MAX must overflow into "walked
    * past the end → None", never into a negative Int index that throws
    * out of this helper instead of returning the documented None. */
  private[graft] def wavDurationMs(a: Array[Byte]): Option[Long] = {
    var pos = 12L
    var byteRate = 0
    var dataLen = -1L
    while (pos + 8 <= a.length && (byteRate == 0 || dataLen < 0)) {
      val p = pos.toInt // safe: pos + 8 <= a.length bounds it
      val id = new String(a, p, 4, java.nio.charset.StandardCharsets.US_ASCII)
      val size = leInt(a, p + 4)
      if (size < 0) return None
      if (id == "fmt " && pos + 32 <= a.length) byteRate = leInt(a, p + 16)
      if (id == "data") dataLen = size.toLong
      pos += 8L + size + (size & 1) // RIFF chunks are word-aligned
    }
    if (byteRate > 0 && dataLen >= 0) Some(dataLen * 1000L / byteRate) else None
  }

  /**
   * REAL PCM16 sample statistics from a WAV payload — the audio analog
   * of decoding pixels, one level deeper than [[wavDurationMs]]'s
   * header math: walk the RIFF chunks to the `data` chunk, then scan
   * its little-endian int16 mono samples for (count, Σ|s|, max|s|, and
   * the number of strict sign crossings — the classic zero-crossing
   *-rate numerator). All-integer, exactly mirrorable by an oracle that
   * knows the generation formula. None for truncated/hostile payloads:
   * corruption is data, never an exception or a fabricated statistic.
   */
  private[graft] def wavPcm16Stats(a: Array[Byte]): Option[(Long, Long, Long, Long)] = {
    if (!isWav(a)) return None
    var pos = 12L
    var dataOff = -1L
    var dataLen = -1L
    while (pos + 8 <= a.length && dataLen < 0) {
      val p = pos.toInt
      val id = new String(a, p, 4, java.nio.charset.StandardCharsets.US_ASCII)
      val size = leInt(a, p + 4)
      if (size < 0) return None
      if (id == "data") { dataOff = pos + 8; dataLen = size.toLong }
      pos += 8L + size + (size & 1)
    }
    if (dataLen < 0 || dataOff + dataLen > a.length) return None
    val n = dataLen / 2
    var i = 0L
    var sumAbs = 0L
    var peak = 0L
    var crossings = 0L
    var prevNeg = false
    while (i < n) {
      val p = (dataOff + 2 * i).toInt
      val s = ((a(p + 1) << 8) | (a(p) & 0xff)).toShort.toLong
      val abs = if (s < 0) -s else s
      sumAbs += abs
      if (abs > peak) peak = abs
      val neg = s < 0
      if (i > 0 && neg != prevNeg) crossings += 1
      prevNeg = neg
      i += 1
    }
    Some((n, sumAbs, peak, crossings))
  }

  // ------------------------------------------------------------- mp4 box walk

  private def beInt(a: Array[Byte], i: Int): Long =
    (b(a, i).toLong << 24) | (b(a, i + 1).toLong << 16) |
      (b(a, i + 2).toLong << 8) | b(a, i + 3).toLong

  private def beLong(a: Array[Byte], i: Int): Long =
    (beInt(a, i) << 32) | beInt(a, i + 4)

  /** ISO-BMFF magic: bytes 4..7 of the first box spell `ftyp`. */
  private[graft] def isMp4(a: Array[Byte]): Boolean =
    a.length >= 12 && a(4) == 'f' && a(5) == 't' && a(6) == 'y' && a(7) == 'p'

  /** Size of the ISO-BMFF box starting at `pos`, honoring the 64-bit
    * `size == 1` largesize form; None when the header is truncated or the
    * size is corrupt (smaller than its own header, or past the payload). */
  private def boxSize(a: Array[Byte], pos: Long): Option[Long] = {
    if (pos + 8 > a.length) return None
    val s32 = beInt(a, pos.toInt)
    val (size, hdr) =
      if (s32 == 1L) {
        if (pos + 16 > a.length) return None
        (beLong(a, pos.toInt + 8), 16L)
      } else (s32, 8L)
    if (size < hdr || pos + size > a.length) None else Some(size)
  }

  /**
   * REAL mp4 metadata via a `moov/mvhd` box walk — the same pure
   * byte-arithmetic discipline as [[wavDurationMs]], zero new
   * dependencies (the JDK cannot decode mp4 FRAMES, but container
   * metadata is just big-endian box headers): find the top-level `moov`
   * box, find its `mvhd` child, read (timescale, duration) honoring both
   * the version-0 (32-bit) and version-1 (64-bit) field layouts.
   * Returns `(timescale, duration_ms)` with duration_ms =
   * duration·1000/timescale (floored); None for any truncated box,
   * hostile size, missing moov/mvhd, or zero timescale — corrupt boxes
   * are DATA that lands in `null_metadata`, never fabricated numbers.
   */
  private[graft] def mp4Metadata(a: Array[Byte]): Option[(Long, Long)] = {
    if (!isMp4(a)) return None
    def boxType(pos: Long): String =
      new String(a, pos.toInt + 4, 4, java.nio.charset.StandardCharsets.US_ASCII)
    // walk siblings from `pos` to `end`, returning the offset of `want`
    def find(pos0: Long, end: Long, want: String): Option[Long] = {
      var pos = pos0
      while (pos + 8 <= end) {
        boxSize(a, pos) match {
          case None => return None
          case Some(size) =>
            if (boxType(pos) == want) return Some(pos)
            pos += size
        }
      }
      None
    }
    for {
      moov <- find(0L, a.length.toLong, "moov")
      moovSize <- boxSize(a, moov)
      mvhd <- find(moov + 8L, moov + moovSize, "mvhd")
      mvhdSize <- boxSize(a, mvhd)
      version = b(a, mvhd.toInt + 8)
      // v0: ver/flags 4 + creation 4 + modification 4 → ts at +20, dur at +24 (4 bytes)
      // v1: ver/flags 4 + creation 8 + modification 8 → ts at +28, dur at +32 (8 bytes)
      tsDur <-
        if (version == 0 && mvhdSize >= 28 && mvhd + 28 <= a.length)
          Some((beInt(a, mvhd.toInt + 20), beInt(a, mvhd.toInt + 24)))
        else if (version == 1 && mvhdSize >= 40 && mvhd + 40 <= a.length)
          Some((beInt(a, mvhd.toInt + 28), beLong(a, mvhd.toInt + 32)))
        else None
      (timescale, duration) = tsDur
      if timescale > 0 && duration >= 0
    } yield (timescale, duration * 1000L / timescale)
  }

  /**
   * REAL decode of one media record, JDK-only: PNG/JPEG through
   * `javax.imageio.ImageIO.read` (width·height), WAV through
   * [[wavDurationMs]], mp4 container metadata through [[mp4Metadata]]
   * (duration — the JDK has no mp4 frame codec; pixel dims live in tkhd
   * per-track boxes and stay out of this movie-level walk, reported 0
   * like audio). Anything else — or a payload whose magic matches but
   * whose body does not parse — returns NULL metadata with
   * `decode_ok = false`: corruption is DATA, never an exception that
   * kills a 100 TB stage, and never a silently fabricated dimension.
   */
  private[graft] def decodeReal(r: MediaRecord): RealFeatures = {
    def fail = RealFeatures(r.media_id, r.media_type, r.n_bytes, None, None, None,
      decode_ok = false)
    try {
      if (isPng(r.payload) || isJpeg(r.payload)) {
        imageIoNoCache
        val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(r.payload))
        if (img == null) fail
        else RealFeatures(r.media_id, r.media_type, r.n_bytes,
          Some(img.getWidth), Some(img.getHeight), Some(0L), decode_ok = true)
      } else if (isWav(r.payload)) {
        wavDurationMs(r.payload) match {
          case Some(ms) => RealFeatures(r.media_id, r.media_type, r.n_bytes,
            Some(0), Some(0), Some(ms), decode_ok = true)
          case None => fail
        }
      } else if (isMp4(r.payload)) {
        mp4Metadata(r.payload) match {
          case Some((_, ms)) => RealFeatures(r.media_id, r.media_type, r.n_bytes,
            Some(0), Some(0), Some(ms), decode_ok = true)
          case None => fail
        }
      } else fail
    } catch { case scala.util.control.NonFatal(_) => fail }
  }

  /** Partition-batched REAL decode — same `mapPartitions` shape as
    * [[decodeFeatures]], genuine bytes in, genuine dimensions out. */
  def decodeRealFeatures(media: Dataset[MediaRecord]): Dataset[RealFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.map(decodeReal))
  }

  /** A real PNG payload: `w`×`h` RGB, deterministic solid fill from the
    * dimensions. JDK encoder, no dependencies. */
  private[graft] def pngBytes(w: Int, h: Int): Array[Byte] = {
    imageIoNoCache
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    val rgb = ((w * 31 + h) * 2654435761L & 0xffffffL).toInt
    var y = 0
    while (y < h) { var x = 0; while (x < w) { img.setRGB(x, y, rgb); x += 1 }; y += 1 }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** A real canonical WAV payload: PCM mono 16-bit at `sampleRate`,
    * `nSamples` silent samples — 44-byte RIFF header + data. */
  private[graft] def wavBytes(nSamples: Int, sampleRate: Int = 8000): Array[Byte] = {
    val dataLen = nSamples * 2
    val bb = java.nio.ByteBuffer.allocate(44 + dataLen)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataLen)
      .put("WAVE".getBytes("US-ASCII"))
      .put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1).putShort(1) // PCM, mono
      .putInt(sampleRate).putInt(sampleRate * 2) // byte rate
      .putShort(2).putShort(16) // block align, bits/sample
      .put("data".getBytes("US-ASCII")).putInt(dataLen)
    bb.array()
  }

  /**
   * A real minimal mp4 container: `ftyp` + `moov{mvhd}` boxes with a
   * version-0 mvhd carrying the given timescale and a duration of
   * `durationMs·timescale/1000` units (callers pick values where that is
   * integral, so the decode round-trips exactly). Full 108-byte mvhd —
   * rate/volume/matrix/next-track-id populated with their spec defaults —
   * so any conforming walker, not just ours, parses it. Pure byte
   * emission, no dependencies.
   */
  private[graft] def mp4Bytes(durationMs: Long, timescale: Int = 600): Array[Byte] = {
    require(timescale > 0 && durationMs >= 0 &&
      durationMs * timescale % 1000L == 0L,
      s"durationMs·timescale must be a whole number of units: $durationMs @ $timescale")
    val duration = (durationMs * timescale / 1000L).toInt
    val bb = java.nio.ByteBuffer.allocate(16 + 8 + 108) // big-endian default
    bb.putInt(16).put("ftyp".getBytes("US-ASCII"))
      .put("isom".getBytes("US-ASCII")).putInt(0) // major brand, minor version
    bb.putInt(8 + 108).put("moov".getBytes("US-ASCII"))
    bb.putInt(108).put("mvhd".getBytes("US-ASCII"))
      .putInt(0) // version 0 + flags
      .putInt(0).putInt(0) // creation, modification
      .putInt(timescale).putInt(duration)
      .putInt(0x00010000).putShort(0x0100.toShort).putShort(0) // rate 1.0, volume 1.0, reserved
      .putInt(0).putInt(0) // reserved
      .putInt(0x00010000).putInt(0).putInt(0) // identity matrix
      .putInt(0).putInt(0x00010000).putInt(0)
      .putInt(0).putInt(0).putInt(0x40000000)
      .putInt(0).putInt(0).putInt(0).putInt(0).putInt(0).putInt(0) // pre_defined
      .putInt(2) // next_track_ID
    bb.array()
  }

  /** A real non-silent WAV payload: PCM mono 16-bit at `sampleRate`,
    * sample i = ((id·31 + i·7) mod 2003) − 1001 — pure integer
    * arithmetic both engines can compute, amplitude inside int16. */
  private[graft] def toneWavBytes(id: Long, nSamples: Int,
      sampleRate: Int = 8000): Array[Byte] = {
    val a = wavBytes(nSamples, sampleRate)
    val bb = java.nio.ByteBuffer.wrap(a).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.position(44)
    var i = 0
    while (i < nSamples) {
      bb.putShort((((id * 31 + i.toLong * 7) % 2003) - 1001).toShort)
      i += 1
    }
    a
  }

  /**
   * GENUINE non-silent audio rows from an id column: every id carries an
   * actual PCM16 WAV ([[toneWavBytes]]) of 80·(1+id%25) samples whose
   * waveform is the deterministic integer tone above — so sample-level
   * statistics have an exact oracle. `corruptMod > 0` truncates 1-in-mod
   * payloads to 8 bytes (the stats walk MUST fail into NULLs).
   * Partition-local generation like [[realMedia]].
   */
  def realAudioMedia(df: DataFrame, idCol: String, corruptMod: Int = 0): Dataset[MediaRecord] = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long")).as[Long].mapPartitions(_.map { id =>
      val whole = toneWavBytes(id, nSamples = 80 * (1 + (id % 25)).toInt)
      val payload =
        if (corruptMod > 0 && id % corruptMod == 0) whole.take(8) else whole
      MediaRecord(id, "audio", payload, payload.length, "wav")
    })
  }

  /** Partition-batched PCM16 sample statistics over real WAV bytes —
    * (n_samples, sum_abs, peak_abs, n_crossings) per media row, NULLs +
    * `decode_ok = false` when the RIFF walk or sample scan fails. */
  def audioSampleStats(media: Dataset[MediaRecord]): Dataset[AudioStats] = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.map { r =>
      wavPcm16Stats(r.payload) match {
        case Some((n, sumAbs, peak, x)) =>
          AudioStats(r.media_id, r.n_bytes, Some(n), Some(sumAbs), Some(peak),
            Some(x), decode_ok = true)
        case None =>
          AudioStats(r.media_id, r.n_bytes, None, None, None, None,
            decode_ok = false)
      }
    })
  }

  /**
   * GENUINE video rows from an id column — the mp4 member of the
   * [[realMedia]] family: every id carries an actual ISO-BMFF container
   * ([[mp4Bytes]]) with duration 40·(1+id%50) ms at timescale 600 (so the
   * unit math is exact and the oracle is pure id arithmetic). When
   * `corruptMod > 0`, ids divisible by it ship only the first 8 payload
   * bytes — a truncated container whose box walk MUST fail, routing the
   * row to `null_metadata`. Partition-local generation like [[realMedia]].
   */
  def realVideoMedia(df: DataFrame, idCol: String, corruptMod: Int = 0): Dataset[MediaRecord] = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long")).as[Long].mapPartitions(_.map { id =>
      val whole = mp4Bytes(durationMs = 40L * (1 + id % 50), timescale = 600)
      val payload =
        if (corruptMod > 0 && id % corruptMod == 0) whole.take(8) else whole
      MediaRecord(id, "video", payload, payload.length, "mp4")
    })
  }

  /**
   * GENUINE media rows derived deterministically from an id column —
   * the real-bytes twin of [[syntheticMedia]]: even ids carry an actual
   * PNG (width 64+id%29, height 64+id%31 — inside the decodable
   * 64..1087 band), odd ids an actual WAV (80·(1+id%25) samples at
   * 8 kHz ⇒ duration 10·(1+id%25) ms). When `corruptMod > 0`, every
   * id divisible by it ships only the first 8 payload bytes — a
   * truncated file whose decode MUST fail — so integrity plumbing can
   * be tested against known-bad rows. Generation is partition-local
   * `mapPartitions` (encode cost scales with splits, no shuffle).
   */
  def realMedia(df: DataFrame, idCol: String, corruptMod: Int = 0): Dataset[MediaRecord] = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long")).as[Long]
      .mapPartitions(_.map(id => realRecord(id, corruptMod)))
  }

  /** A real PNG with a deterministic pseudo-random pixel PATTERN (an
    * integer mix of (x, y, seed) — NOT a solid fill or a monotone
    * gradient, whose 8×8 averages would collapse aHash onto a handful
    * of direction patterns). Same class seed ⇒ byte-identical image. */
  private[graft] def patternPngBytes(w: Int, h: Int, seed: Int): Array[Byte] = {
    imageIoNoCache
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    val px = Array.ofDim[Int](w * h) // bulk raster write — per-pixel setRGB
    var y = 0                        // pays a color-model lookup per call
    while (y < h) {
      var x = 0
      while (x < w) {
        val v = x * 2654435761L + y * 40503L + seed * 97L
        val g = (((v >> 16) ^ v) & 0xffL).toInt
        px(y * w + x) = (g << 16) | (g << 8) | g
        x += 1
      }
      y += 1
    }
    img.setRGB(0, 0, w, h, px, 0, w)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /**
   * REAL average-hash (aHash) over decoded pixels: 8×8 area-averaged
   * luminance, one bit per cell — set iff the cell's mean is at or
   * above the global mean (compared by integer cross-multiplication,
   * so ragged cell sizes stay exact). The production perceptual hash
   * [[phashNearDups]]'s doc promises — computed from GENUINE pixels,
   * not payload bytes. None when the payload does not decode.
   */
  private[graft] def aHash64(payload: Array[Byte]): Option[Long] = {
    try {
      imageIoNoCache
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(payload))
      if (img == null) return None
      val w = img.getWidth
      val h = img.getHeight
      if (w < 8 || h < 8) return None
      val cellSum = Array.ofDim[Long](64)
      val cellN = Array.ofDim[Long](64)
      var total = 0L
      val px = img.getRGB(0, 0, w, h, null, 0, w) // bulk raster read
      var y = 0
      while (y < h) {
        val cy = y * 8 / h
        var x = 0
        while (x < w) {
          val rgb = px(y * w + x)
          // integer Rec.601 luminance: (299R + 587G + 114B)
          val lum = 299L * ((rgb >> 16) & 0xff) + 587L * ((rgb >> 8) & 0xff) +
            114L * (rgb & 0xff)
          val c = cy * 8 + x * 8 / w
          cellSum(c) += lum
          cellN(c) += 1
          total += lum
          x += 1
        }
        y += 1
      }
      val nPix = w.toLong * h
      var hash = 0L
      var c = 0
      while (c < 64) {
        // cell mean >= global mean, cross-multiplied (exact)
        if (cellSum(c) * nPix >= total * cellN(c)) hash |= (1L << c)
        c += 1
      }
      Some(hash)
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** Per-JVM cache of the class payloads: a class's image is a pure
    * function of its class index, so each executor encodes it ONCE —
    * |classes| encodes per JVM, not |rows|. */
  private val classPayloadCache =
    new java.util.concurrent.ConcurrentHashMap[Int, Array[Byte]]()

  private[graft] def classPayload(c: Int): Array[Byte] =
    classPayloadCache.computeIfAbsent(c,
      k => patternPngBytes(64 + k % 29, 64 + k % 31, k))

  /**
   * Class-seeded real media: every id carries an actual PNG whose
   * dimensions AND pixel pattern depend only on `id % classes` — ids in
   * one class ship byte-identical images, ids in different classes ship
   * visually distinct ones (MultimodalDecodeSpec pins the classes'
   * aHashes pairwise FAR apart). The generator behind the real-pixel
   * near-dup oracle: which pairs a correct decoder+hash must emit is
   * pure id arithmetic.
   */
  def classedMedia(df: DataFrame, idCol: String, classes: Int): Dataset[MediaRecord] = {
    require(classes >= 1, s"classes must be >= 1: $classes")
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long")).as[Long].mapPartitions(_.map { id =>
      val payload = classPayload((id % classes).toInt)
      MediaRecord(id, "image", payload, payload.length, "png")
    })
  }

  /** Partition-batched REAL pixel hash: `(media_id, content_hash)` rows
    * for every payload that decodes; failures are dropped (they carry
    * no pixels to hash — route them through [[integrityAudit]]). */
  def decodeAHash(media: Dataset[MediaRecord]): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions(_.flatMap(r =>
      aHash64(r.payload).map(h => (r.media_id, h))))
      .toDF("media_id", "content_hash")
  }

  /**
   * 64-bit AUDIO fingerprint from REAL PCM16 samples — the acoustic
   * analog of [[aHash64]]: the data chunk splits into 64 equal-share
   * blocks and bit b is set when block b's sample mean exceeds the
   * global mean (exact integer cross-multiplication, `Σ_b·n > Σ·n_b` —
   * no division, so ragged block boundaries stay exact). Loudness-shape
   * invariant to uniform gain, the property that makes it a near-dup
   * key. None below 64 samples or on any walk failure.
   */
  private[graft] def audioFingerprint64(a: Array[Byte]): Option[Long] = {
    wavPcm16Stats(a) match {
      case None => None
      case Some((n, _, _, _)) if n < 64 => None
      case Some((n, _, _, _)) =>
        // second pass over the located data chunk for the block sums
        var pos = 12L
        var dataOff = -1L
        while (pos + 8 <= a.length && dataOff < 0) {
          val p = pos.toInt
          val id = new String(a, p, 4, java.nio.charset.StandardCharsets.US_ASCII)
          val size = leInt(a, p + 4)
          if (size < 0) return None
          if (id == "data") dataOff = pos + 8
          pos += 8L + size + (size & 1)
        }
        def sample(i: Long): Long = {
          val p = (dataOff + 2 * i).toInt
          ((a(p + 1) << 8) | (a(p) & 0xff)).toShort.toLong
        }
        var total = 0L
        var i = 0L
        while (i < n) { total += sample(i); i += 1 }
        var fp = 0L
        var b = 0
        while (b < 64) {
          val start = b.toLong * n / 64
          val end = (b + 1).toLong * n / 64
          var s = 0L
          var j = start
          while (j < end) { s += sample(j); j += 1 }
          // block mean > global mean  ⟺  s·n > total·(end−start), compared
          // in 128-bit (|s| ≤ 32767·n/64 makes s·n ≈ 512·n² overflow Long
          // past n ≈ 1.3e8 samples — a ~270 MB chunk is a legal WAV, and a
          // silent wrap here flips fingerprint bits)
          if (cmpProd128(s, n, total, end - start) > 0) fp |= (1L << b)
          b += 1
        }
        Some(fp)
    }
  }

  /** Exact sign of `a·b − c·d` over full signed-64 ranges: both products
    * evaluated as signed 128-bit (hi via `Math.multiplyHigh`, lo wrapping)
    * and compared lexicographically — no overflow anywhere. */
  private[graft] def cmpProd128(a: Long, b: Long, c: Long, d: Long): Int = {
    val hi1 = Math.multiplyHigh(a, b); val lo1 = a * b
    val hi2 = Math.multiplyHigh(c, d); val lo2 = c * d
    if (hi1 != hi2) java.lang.Long.compare(hi1, hi2)
    else java.lang.Long.compareUnsigned(lo1, lo2)
  }

  private val audioClassPayloadCache =
    new java.util.concurrent.ConcurrentHashMap[Int, Array[Byte]]()

  /** Class-seeded REAL audio payload: same class ⇒ byte-identical WAV.
    * Samples come from an integer bit-mix of (class, i) — NOT the
    * sawtooth tone, whose near-periodic block means collapse distinct
    * classes onto close fingerprints (measured: 8-bit separation; the
    * mixed waveform gives ~32) — length 640 + 16·(c % 25) samples. */
  private[graft] def audioClassPayload(c: Int): Array[Byte] =
    audioClassPayloadCache.computeIfAbsent(c, k => {
      val n = 640 + 16 * (k % 25)
      val a = wavBytes(n)
      val bb = java.nio.ByteBuffer.wrap(a).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.position(44)
      var i = 0
      while (i < n) {
        var x = 7919L * k + 13L + i.toLong * 0x9E3779B97F4A7C15L
        x ^= x >>> 31; x *= 0xBF58476D1CE4E5B9L; x ^= x >>> 27
        bb.putShort(((x % 1001L).toShort))
        i += 1
      }
      a
    })

  /** GENUINE class-seeded audio rows — the WAV member of the
    * [[classedMedia]] family: same class ⇒ byte-identical waveform ⇒
    * fingerprint Hamming 0, so the near-dup answer is pure id math. */
  def classedAudioMedia(df: DataFrame, idCol: String, classes: Int): Dataset[MediaRecord] = {
    require(classes >= 1, s"classes must be >= 1: $classes")
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long")).as[Long].mapPartitions(_.map { id =>
      val payload = audioClassPayload((id % classes).toInt)
      MediaRecord(id, "audio", payload, payload.length, "wav")
    })
  }

  /** Partition-batched REAL audio fingerprints: `(media_id,
    * content_hash)` for every payload whose sample walk succeeds —
    * the acoustic input to [[phashNearDups]]'s banded Hamming join. */
  def decodeAudioFingerprint(media: Dataset[MediaRecord]): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions(_.flatMap(r =>
      audioFingerprint64(r.payload).map(h => (r.media_id, h))))
      .toDF("media_id", "content_hash")
  }

  private[ops] def realRecord(id: Long, corruptMod: Int): MediaRecord = {
    val image = id % 2 == 0
    val whole =
      if (image) pngBytes(64 + (id % 29).toInt, 64 + (id % 31).toInt)
      else wavBytes(nSamples = 80 * (1 + (id % 25).toInt))
    val payload =
      if (corruptMod > 0 && id % corruptMod == 0) whole.take(8) else whole
    MediaRecord(id, if (image) "image" else "audio", payload, payload.length,
      if (image) "png" else "wav")
  }

  /**
   * Deterministic frame sampling for video payloads: `k` evenly-spaced
   * frame indices from the (stub-decoded) duration at the given fps —
   * pure column math, no decode in the planning path.
   */
  def sampleFrameOffsets(features: DataFrame, k: Int, fps: Double = 30.0d): DataFrame =
    features.where(col("media_type") === "video")
      .withColumn("n_frames", greatest(lit(1L),
        (col("duration_ms").cast("double") / lit(1000.0d) * lit(fps)).cast("long")))
      .withColumn("frame_indices",
        transform(sequence(lit(0), lit(k - 1)),
          i => least(col("n_frames") - 1,
            ((i.cast("long") * col("n_frames")) / lit(k.toLong)).cast("long"))))
      .select(col("media_id"), col("n_frames"), col("frame_indices"))

  /**
   * Media integrity audit — the multimodal twin of the embedding audit:
   * one scan over the decoded feature frame, stacked into
   * `(check, n_violations, n_total)` rows. Checks: empty payloads,
   * modality/container mismatches, image dimensions outside the
   * decodable range, still images carrying a duration, audio carrying
   * pixel dimensions. At 100 TB each violation class routes to a
   * quarantine partition before training ever sees the shard.
   *
   * Null-safety: a decode failure leaves metadata columns NULL, and a
   * three-valued predicate would silently pass such a row through every
   * check. Missing metadata is surfaced TWICE: an explicit
   * `null_metadata` check row counts rows with any NULL metadata column,
   * and each per-class check coalesces to TRUE when its own inputs are
   * NULL but the modality is known (an image with a NULL width IS a
   * bad-dims violation, not a pass).
   */
  def integrityAudit(features: DataFrame, formatCol: Option[String] = None): DataFrame = {
    val fmtOk = formatCol.map { f =>
      (col("media_type") === "image" && col(f) === "png") ||
        (col("media_type") === "audio" && col(f) === "wav") ||
        (col("media_type") === "video" && col(f) === "mp4")
    }.getOrElse(lit(true))
    val metaCols = Seq("media_type", "n_bytes", "width", "height", "duration_ms") ++
      formatCol.toSeq
    val anyNull = metaCols.map(c => col(c).isNull).reduce(_ || _)
    // modality-scoped checks: NULL inputs under a KNOWN modality violate
    val isImage = col("media_type") === "image"
    val isAudio = col("media_type") === "audio"
    val checks: Seq[(String, Column)] = Seq(
      "null_metadata" -> anyNull,
      "empty_payload" -> coalesce(col("n_bytes") <= 0, lit(true)),
      "type_format_mismatch" -> coalesce(!fmtOk, lit(true)),
      "image_bad_dims" -> (coalesce(isImage, lit(false)) &&
        coalesce(col("width") < 64 || col("width") >= 1088 ||
          col("height") < 64 || col("height") >= 1088, lit(true))),
      "image_with_duration" -> (coalesce(isImage, lit(false)) &&
        coalesce(col("duration_ms") =!= 0L, lit(true))),
      "audio_with_dims" -> (coalesce(isAudio, lit(false)) &&
        coalesce(col("width") =!= 0 || col("height") =!= 0, lit(true))))
    val agg = features.agg(count(lit(1)).as("n_total"),
      checks.map { case (name, cond) =>
        coalesce(sum(when(cond, 1L).otherwise(0L)), lit(0L)).as(s"__v_$name")
      }: _*)
    checks.map { case (name, _) =>
      agg.select(lit(name).as("check_name"), col(s"__v_$name").as("n_violations"),
        col("n_total"))
    }.reduce(_ union _)
  }

  /** The aspect-ratio ladder image-training pipelines bucket into —
    * SDXL-style fixed shapes; `ratio_milli = 1000·w div h`. */
  val AspectLadder: Seq[(String, Long)] = Seq(
    ("1:2", 500L), ("9:16", 562L), ("3:4", 750L), ("1:1", 1000L),
    ("4:3", 1333L), ("16:9", 1778L), ("2:1", 2000L))

  /**
   * Aspect-ratio bucketing — the batch-planning step of every image
   * training pipeline (resize distorts less within a bucket, and a batch
   * must share one shape): each image snaps to the NEAREST ladder ratio
   * (ties to the smaller target), buckets report their population, ratio
   * range, and batch count at `batchSize`. The ladder is a 7-row
   * broadcast; the nearest-bucket window partitions per image (bounded
   * by ladder size) — one aggregate shuffle total, exact integer math
   * throughout.
   */
  def aspectBuckets(features: DataFrame, batchSize: Int): DataFrame = {
    require(batchSize >= 1, s"batchSize must be >= 1: $batchSize")
    val spark = features.sparkSession
    import spark.implicits._
    val ladder = AspectLadder.toDF("bucket", "target_milli")
    val imgs = features.where(col("media_type") === "image")
      .select(col("media_id"), expr("(1000 * width) div height").as("ratio_milli"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("media_id"))
      .orderBy(abs(col("ratio_milli") - col("target_milli")), col("target_milli"))
    imgs.crossJoin(broadcast(ladder))
      .withColumn("__r", row_number().over(w))
      .where(col("__r") === 1)
      .groupBy(col("bucket"), col("target_milli"))
      .agg(count(lit(1)).as("n_images"),
        min(col("ratio_milli")).as("min_ratio_milli"),
        max(col("ratio_milli")).as("max_ratio_milli"))
      .withColumn("n_batches",
        expr(s"(n_images + ${batchSize - 1}) div $batchSize"))
  }

  /**
   * Near-duplicate media via banded Hamming join over the 64-bit
   * content hash (in production a true perceptual hash — pHash/aHash —
   * lands in `content_hash` via the decoder; the banding math is
   * identical). A pair within `maxHamming` bit flips must agree exactly
   * on at least one of the `bands` hash slices (pigeonhole — hence the
   * `maxHamming < bands` requirement, which keeps the equi-join
   * COMPLETE: no false negatives), so candidates come from `bands`
   * equi-joins on 16-bit slices, never an all-pairs XOR scan; one exact
   * popcount per candidate settles the pair. Crowded slices (a constant
   * hash region) would fan out — production adds the same `maxBucket`
   * cap [[Similarity.lshTopK]] uses.
   */
  def phashNearDups(features: DataFrame, maxHamming: Int = 3): DataFrame = {
    val bands = 4
    require(maxHamming >= 0 && maxHamming < bands,
      s"banding completeness needs 0 <= maxHamming < $bands: $maxHamming")
    val banded = features
      .select(col("media_id"), col("content_hash"),
        explode(sequence(lit(0), lit(bands - 1))).as("band"))
      .withColumn("bv",
        expr("shiftrightunsigned(content_hash, band * 16) % 65536"))
    val pairs = banded.alias("x").join(banded.alias("y"),
        col("x.band") === col("y.band") && col("x.bv") === col("y.bv") &&
          col("x.media_id") < col("y.media_id"))
      .select(col("x.media_id").as("media_id_a"),
        col("y.media_id").as("media_id_b"),
        col("x.content_hash").as("__ha"), col("y.content_hash").as("__hb"))
      .distinct()
    pairs
      .withColumn("hamming", expr("cast(bit_count(__ha ^ __hb) as bigint)"))
      .where(col("hamming") <= maxHamming)
      .select(col("media_id_a"), col("media_id_b"), col("hamming"))
  }
}
