package graft

import org.apache.spark.sql.functions._
import graft.ops.Multimodal
import graft.streaming.EventPipeline

class MultimodalStreamingSpec extends SparkSuite {
  import spark.implicits._

  test("syntheticMedia builds binary payloads with typed metadata") {
    val docs = Seq((0L, "hello"), (1L, "world!"), (2L, "video doc")).toDF("doc_id", "text")
    val media = Multimodal.syntheticMedia(docs, "doc_id", "text")
    val byId = media.select("media_id", "media_type", "n_bytes", "format")
      .as[(Long, String, Int, String)].collect().map(r => r._1 -> r).toMap
    assert(byId(0L)._2 == "image" && byId(0L)._4 == "png" && byId(0L)._3 == 5)
    assert(byId(1L)._2 == "audio" && byId(2L)._2 == "video")
    assert(media.schema("payload").dataType.typeName == "binary")
  }

  test("decodeFeatures is deterministic and partition-independent") {
    val docs = Seq((0L, "aaa"), (1L, "bbb"), (2L, "ccc")).toDF("doc_id", "text")
    val m = Multimodal.asMedia(Multimodal.syntheticMedia(docs, "doc_id", "text"))
    val once = Multimodal.decodeFeatures(m).collect().map(f => f.media_id -> f.content_hash).toMap
    val again = Multimodal.decodeFeatures(
      Multimodal.asMedia(Multimodal.syntheticMedia(docs.repartition(3), "doc_id", "text")))
      .collect().map(f => f.media_id -> f.content_hash).toMap
    assert(once == again)
    // audio has no dimensions; image has no duration
    val feats = Multimodal.decodeFeatures(m).collect().map(f => f.media_id -> f).toMap
    assert(feats(1L).width == 0 && feats(0L).duration_ms == 0L)
  }

  test("sampleFrameOffsets yields k in-range evenly spaced indices") {
    val docs = Seq((2L, "some video payload bytes here")).toDF("doc_id", "text")
    val feats = Multimodal.decodeFeatures(
      Multimodal.asMedia(Multimodal.syntheticMedia(docs, "doc_id", "text"))).toDF()
    val row = Multimodal.sampleFrameOffsets(feats, k = 4).
      select("n_frames", "frame_indices").as[(Long, Seq[Long])].head()
    assert(row._2.size == 4)
    assert(row._2.forall(i => i >= 0 && i < row._1))
    assert(row._2 == row._2.sorted)
  }

  // ---- event-time operators ----

  private def eventsDf = Seq(
    (1L, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), 1L, "click", 1.0),
    (2L, java.sql.Timestamp.valueOf("2024-01-01 00:03:00"), 1L, "click", 2.0),
    (3L, java.sql.Timestamp.valueOf("2024-01-01 00:30:00"), 1L, "view", 4.0),
    (4L, java.sql.Timestamp.valueOf("2024-01-01 00:01:00"), 2L, "view", 8.0)
  ).toDF("event_id", "ts", "user_id", "event_type", "value")

  test("asOf join picks the most recent prior-or-simultaneous right row per key") {
    import graft.ops.AsOfJoin
    val clicks = Seq((1L, 10L, 100L), (2L, 20L, 100L), (3L, 30L, 200L), (9L, 5L, 300L))
      .toDF("event_id", "ms", "user_id")
    val views = Seq((50L, 10L, 100L, 1.5), (51L, 15L, 100L, 2.5), (52L, 25L, 200L, 9.0))
      .toDF("event_id", "ms", "user_id", "value")
    val out = AsOfJoin.asOf(clicks, views, Seq("user_id"), "ms", "ms",
      valueCols = Seq("value"), tiebreak = col("event_id"))
      .select("event_id", "asof_value").as[(Long, Option[Double])].collect().toMap
    assert(out(1L) == Some(1.5))   // simultaneous view at ms=10 is visible
    assert(out(2L) == Some(2.5))   // latest of the two prior views
    assert(out(3L) == Some(9.0))
    assert(out(9L) == None)        // no prior view for user 300
  }

  test("asOfForward picks the earliest at-or-after right row; ties to smallest id") {
    import graft.ops.AsOfJoin
    val clicks = Seq((1L, 10L, 100L), (2L, 20L, 100L), (3L, 30L, 200L), (9L, 50L, 300L))
      .toDF("event_id", "ms", "user_id")
    val purch = Seq(
      (50L, 10L, 100L, 1.5), (49L, 10L, 100L, 7.5), // simultaneous pair: id 49 wins
      (51L, 25L, 100L, 2.5), (52L, 25L, 200L, 9.0))
      .toDF("event_id", "ms", "user_id", "value")
    val out = AsOfJoin.asOfForward(clicks, purch, Seq("user_id"), "ms", "ms",
      valueCols = Seq("event_id", "value"), tiebreak = col("event_id"))
      .select(col("event_id"), col("asof_event_id"), col("asof_value"))
      .as[(Long, Option[Long], Option[Double])].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(out(1L) == ((Some(49L), Some(7.5)))) // at-or-after incl. ties -> min id
    assert(out(2L) == ((Some(51L), Some(2.5)))) // next one forward, not the past 10
    assert(out(3L) == ((None, None)))           // user 200's purchase was BEFORE
    assert(out(9L) == ((None, None)))           // user 300 has none
  }

  test("rangeJoin binning finds exactly the within-window pairs, once each") {
    import graft.ops.RangeJoin
    val l = Seq((1L, 100L), (2L, 250L), (3L, 999L)).toDF("lid", "lms")
    val r = Seq((10L, 50L), (11L, 199L), (12L, 310L), (13L, 2000L)).toDF("rid", "rms")
    val got = RangeJoin.withinWindow(l, r, "lms", "rms", window = 100L)
      .select("lid", "rid").as[(Long, Long)].collect().toList
    // brute-force truth at |Δ| ≤ 100
    val want = for {
      (lid, lms) <- Seq((1L, 100L), (2L, 250L), (3L, 999L))
      (rid, rms) <- Seq((10L, 50L), (11L, 199L), (12L, 310L), (13L, 2000L))
      if math.abs(lms - rms) <= 100L
    } yield (lid, rid)
    assert(got.sorted == want.sorted)          // complete AND duplicate-free
  }

  test("rangeJoin buckets exactly for |ts| > 2^53 and negative timestamps") {
    import graft.ops.RangeJoin
    // at 2^62 doubles have spacing 1024: q+511 rounds DOWN to q while
    // q+513 rounds UP to q+1024, so double-division bucket ids for this
    // Δ=2 pair differ by ~146 windows and the pair silently vanishes —
    // integral floor division must keep it
    val q = 1L << 62
    val l = Seq((1L, q + 513L), (2L, -5L)).toDF("lid", "lms")
    val r = Seq((10L, q + 511L), (11L, 3L)).toDF("rid", "rms")
    val got = RangeJoin.withinWindow(l, r, "lms", "rms", window = 7L)
      .select("lid", "rid").as[(Long, Long)].collect().toSet
    assert(got == Set((1L, 10L)))              // Δ=2 found; Δ=8 (−5 vs 3) excluded
    val got2 = RangeJoin.withinWindow(l, r, "lms", "rms", window = 8L)
      .select("lid", "rid").as[(Long, Long)].collect().toSet
    assert(got2 == Set((1L, 10L), (2L, 11L))) // negative-ts floor is exact too
  }

  test("sessionize splits on gap and aggregates per session") {
    val s = EventPipeline.sessionize(eventsDf, gapMs = 600000L)
      .select("user_id", "session_seq", "n_events", "total_value")
      .as[(Long, Long, Long, Double)].collect().toSet
    assert(s == Set((1L, 1L, 2L, 3.0), (1L, 2L, 1L, 4.0), (2L, 1L, 1L, 8.0)))
  }

  test("tumblingAgg buckets by window") {
    val t = EventPipeline.tumblingAgg(eventsDf, windowMs = 300000L)
      .select("bucket_start", "event_type", "n_events").as[(Long, String, Long)].collect().toSet
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime
    assert(t == Set((base, "click", 2L), (base, "view", 1L), (base + 1800000L, "view", 1L)))
  }

  test("hopping/tumbling windows floor-align pre-1970 timestamps like window()") {
    // negative epoch-ms: a truncating div would shift starts up one slide;
    // compare against Spark's own window() (batch form) which floor-aligns
    val ev = Seq(
      (1L, new java.sql.Timestamp(-7_200_000L + 123L), 1L, "click", 1.0),  // 1969-12-31 22:00
      (2L, new java.sql.Timestamp(-1L), 1L, "click", 2.0),                 // 1ms before epoch
      (3L, new java.sql.Timestamp(450_000L), 2L, "view", 3.0)              // post-epoch control
    ).toDF("event_id", "ts", "user_id", "event_type", "value")

    val win = 600_000L
    val slide = 300_000L
    def viaWindow(size: Long, sl: Long) = ev
      .groupBy(window(col("ts"), s"$size milliseconds", s"$sl milliseconds"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .select(unix_millis(col("window.start")).as("win_start"), col("event_type"), col("n_events"))
      .as[(Long, String, Long)].collect().toSet

    val hop = EventPipeline.hoppingAgg(ev, win, slide)
      .select(col("win_start"), col("event_type"), col("n_events"))
      .as[(Long, String, Long)].collect().toSet
    assert(hop == viaWindow(win, slide))

    val tum = EventPipeline.tumblingAgg(ev, win)
      .select(col("bucket_start"), col("event_type"), col("n_events"))
      .as[(Long, String, Long)].collect().toSet
    assert(tum == viaWindow(win, win))
    // the -7_200_000+123 event's bucket must be floor (-7_200_000), not
    // truncation toward zero (-6_600_000)
    assert(tum.contains((-7_200_000L, "click", 1L)))
  }

  test("funnelWindowed enforces the deadline at every stage") {
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val ev = Seq(
      // user 1: full conversion inside the windows
      (1L, ts("2024-01-01 00:00:00"), 1L, "signup", 0.0),
      (2L, ts("2024-01-01 00:30:00"), 1L, "click", 0.0),
      (3L, ts("2024-01-01 00:50:00"), 1L, "purchase", 0.0),
      // user 2: click arrives AFTER the 1h window → stalls at signup
      (4L, ts("2024-01-01 00:00:00"), 2L, "signup", 0.0),
      (5L, ts("2024-01-01 02:00:00"), 2L, "click", 0.0),
      // user 3: click BEFORE signup doesn't count; the later one does,
      // but its purchase misses the click's window
      (6L, ts("2024-01-01 00:10:00"), 3L, "click", 0.0),
      (7L, ts("2024-01-01 00:20:00"), 3L, "signup", 0.0),
      (8L, ts("2024-01-01 00:40:00"), 3L, "click", 0.0),
      (9L, ts("2024-01-01 03:00:00"), 3L, "purchase", 0.0),
      // user 4: never signs up
      (10L, ts("2024-01-01 00:00:00"), 4L, "view", 0.0)
    ).toDF("event_id", "ts", "user_id", "event_type", "value")
    val r = EventPipeline.funnelWindowed(ev, windowMs = 3600000L).collect().head
    assert(r.getAs[Long]("n_users") == 4L)
    assert(r.getAs[Long]("n_signed_up") == 3L)
    assert(r.getAs[Long]("n_clicked_in_window") == 2L, "users 1 and 3")
    assert(r.getAs[Long]("n_converted") == 1L, "only user 1 converts in time")
  }

  test("sessionPaths: gap-split sessions with struct-sorted deterministic paths") {
    // user 1: 0:00 click, 0:03 view (one session, gap 10 min), then
    // 0:30 purchase (new session); layout must not affect path order
    val df = Seq(
      (1L, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), 1L, "click", 1.0),
      (2L, java.sql.Timestamp.valueOf("2024-01-01 00:03:00"), 1L, "view", 2.0),
      (3L, java.sql.Timestamp.valueOf("2024-01-01 00:30:00"), 1L, "purchase", 4.0),
      (4L, java.sql.Timestamp.valueOf("2024-01-01 00:01:00"), 2L, "view", 8.0)
    ).toDF("event_id", "ts", "user_id", "event_type", "value")
    def paths(in: org.apache.spark.sql.DataFrame) =
      EventPipeline.sessionPaths(in, gapMs = 600000L)
        .select("user_id", "session_seq", "path", "n_events")
        .as[(Long, Long, String, Long)].collect().toSet
    val want = Set(
      (1L, 1L, "click>view", 2L),
      (1L, 2L, "purchase", 1L),
      (2L, 1L, "view", 1L))
    assert(paths(df) == want)
    assert(paths(df.repartition(5)) == want) // collect_list order irrelevance
    val top = EventPipeline.pathCounts(df, 600000L, k = 2)
      .as[(String, Long)].collect().toSeq
    assert(top.head._2 == 1L && top.size == 2) // ties broken by path asc
    assert(top.map(_._1) == top.map(_._1).sorted)
  }

  test("aspectBuckets: nearest ladder snap with smaller-target ties; ceil batches") {
    // widths/heights chosen so ratios land at 900 (-> 1:1, |900-1000|=100 beats
    // |900-750|=150), exactly 1166 (equidistant 1000 vs 1333 -> tie to 1:1),
    // and 2500 (-> 2:1)
    val feats = Seq(
      (1L, "image", 900, 1000), (2L, "image", 1166, 1000),
      (3L, "image", 2500, 1000), (4L, "image", 2500, 1000),
      (5L, "audio", 0, 0) // ignored: not an image
    ).toDF("media_id", "media_type", "width", "height")
    val out = Multimodal.aspectBuckets(feats, batchSize = 3)
      .select("bucket", "n_images", "min_ratio_milli", "max_ratio_milli", "n_batches")
      .as[(String, Long, Long, Long, Long)].collect().toSet
    assert(out == Set(
      ("1:1", 2L, 900L, 1166L, 1L),
      ("2:1", 2L, 2500L, 2500L, 1L)))
  }

  test("integrityAudit: each violation class counted; clean classes zero") {
    val feats = Seq(
      // clean image / audio / video
      (1L, "image", 10, 100, 100, 0L, "png"),
      (2L, "audio", 10, 0, 0, 5L, "wav"),
      (3L, "video", 10, 100, 100, 5L, "mp4"),
      (4L, "image", 0, 100, 100, 0L, "png"),   // empty payload
      (5L, "image", 10, 100, 100, 0L, "mp4"),  // wrong container
      (6L, "image", 10, 32, 100, 0L, "png"),   // undecodable dims
      (7L, "image", 10, 100, 100, 9L, "png"),  // still with duration
      (8L, "audio", 10, 64, 0, 5L, "wav")      // audio with pixels
    ).toDF("media_id", "media_type", "n_bytes", "width", "height",
      "duration_ms", "format")
    val m = Multimodal.integrityAudit(feats, formatCol = Some("format"))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(m == Map(
      "null_metadata" -> ((0L, 8L)),
      "empty_payload" -> ((1L, 8L)),
      "type_format_mismatch" -> ((1L, 8L)),
      "image_bad_dims" -> ((1L, 8L)),
      "image_with_duration" -> ((1L, 8L)),
      "audio_with_dims" -> ((1L, 8L))))
  }

  test("integrityAudit: NULL metadata is surfaced, not passed through 3-valued logic") {
    val feats = Seq[(Long, String, Integer, Integer, Integer, java.lang.Long, String)](
      (1L, "image", 10, 100, 100, 0L, "png"),          // clean
      (2L, "image", 10, null, null, null, "png"),      // decode failure
      (3L, "audio", 10, null, null, null, "wav")       // decode failure
    ).toDF("media_id", "media_type", "n_bytes", "width", "height",
      "duration_ms", "format")
    val m = Multimodal.integrityAudit(feats, formatCol = Some("format"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(m("null_metadata") == 2L)
    // a KNOWN-modality row with unknown dims/duration is a violation of
    // its modality checks, never a silent pass
    assert(m("image_bad_dims") == 1L && m("image_with_duration") == 1L)
    assert(m("audio_with_dims") == 1L)
    assert(m("empty_payload") == 0L && m("type_format_mismatch") == 0L)
  }

  test("phashNearDups: hamming counted exactly; beyond-threshold pairs drop") {
    // 1 and 2 differ in 2 bits (hamming 2, share bands 1-3); 3 is 1's exact
    // copy (hamming 0); 4 flips one bit in EVERY band (hamming 4 > 3, and
    // no shared band -> never even a candidate)
    val h1 = 0x0123456789abcdefL
    val feats = Seq(
      (1L, h1), (2L, h1 ^ 0x3L), (3L, h1),
      (4L, h1 ^ ((1L << 0) | (1L << 16) | (1L << 32) | (1L << 48)))
    ).toDF("media_id", "content_hash")
    val out = Multimodal.phashNearDups(feats, maxHamming = 3)
      .as[(Long, Long, Long)].collect().toSet
    assert(out == Set((1L, 2L, 2L), (2L, 3L, 2L), (1L, 3L, 0L)))
    intercept[IllegalArgumentException] {
      Multimodal.phashNearDups(feats, maxHamming = 4)
    }
  }

  test("phashNearDups survives sign-boundary hashes (top band of a negative hash)") {
    val out = Multimodal.phashNearDups(
      Seq((1L, -1L), (2L, -1L ^ (1L << 63))).toDF("media_id", "content_hash"),
      maxHamming = 1).as[(Long, Long, Long)].collect().toSet
    assert(out == Set((1L, 2L, 1L))) // differ only in the sign bit
  }
}
