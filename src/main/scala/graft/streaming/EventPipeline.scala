package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Batch event-time transformations over the `events` table: windowed
 * counts, sessions, attribution, funnels and per-user caps. The reference
 * has no streaming surface (SURVEY §2.8), and neither does this object:
 * each operator is a plain `DataFrame => DataFrame` over an event-time
 * column, run by a registered query and checked by its oracle.
 */
object EventPipeline {

  /** Tumbling-window counts/sums per event type. */
  def tumblingAgg(events: DataFrame, windowMs: Long): DataFrame = {
    // same exact floor alignment as hoppingAgg: pmod is non-negative for
    // negative epoch-ms, and no double quotient (exact past 2^53)
    val ms = unix_millis(col("ts").cast("timestamp"))
    events
      .withColumn("bucket_start", ms - pmod(ms, lit(windowMs)))
      .groupBy(col("bucket_start"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        // money-style sum through decimal: exact + order-independent
        sum(col("value").cast("decimal(18,2)")).cast("double").as("total_value"))
  }

  /**
   * Hopping (sliding) window counts/sums: window `windowMs`, advancing
   * every `slideMs` (must divide it). Each event lands in exactly
   * windowMs/slideMs windows — assigned via an explode of that constant
   * fan-out, then one partial-combined aggregation; identical window
   * boundaries to Structured Streaming's `window(ts, size, slide)`
   * (starts aligned to multiples of the slide). Window starts use exact
   * integer FLOOR alignment (`__ms - pmod(__ms, slide)`): `pmod` is
   * non-negative for any sign of `__ms`, so pre-1970 (negative epoch-ms)
   * events land in the same floor-aligned windows as `window()` — a
   * truncating `div` would shift their starts up by one slide — and no
   * double quotient ever touches the math (exact past 2^53).
   */
  def hoppingAgg(events: DataFrame, windowMs: Long, slideMs: Long): DataFrame = {
    require(windowMs % slideMs == 0, "slide must divide window")
    val nWin = (windowMs / slideMs).toInt
    val starts = (0 until nWin).map(i => col("__base") - lit(i.toLong * slideMs))
    events
      .withColumn("__ms", unix_millis(col("ts").cast("timestamp")))
      .withColumn("__base", col("__ms") - pmod(col("__ms"), lit(slideMs)))
      .withColumn("win_start", explode(array(starts: _*)))
      .groupBy(col("win_start"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("total_value"))
  }

  /**
   * Rendezvous shard routing, batch form: per tumbling window × shard,
   * event count and exact cents mass — the fan-out accounting a
   * stream router emits. The shard is the HRW argmax of the user key
   * ([[graft.ops.Sharding.rendezvousShard]]), so a capacity change
   * re-routes ~1/(N+1) of keys instead of ~all of them; the routing
   * itself is pure per-row expression work, no extra shuffle beyond
   * the windowed aggregation.
   */
  def shardRouteCounts(events: DataFrame, nShards: Int, windowMs: Long): DataFrame =
    events
      .withColumn("__ms", unix_millis(col("ts").cast("timestamp")))
      .withColumn("window_start", col("__ms") - pmod(col("__ms"), lit(windowMs)))
      .withColumn("shard",
        graft.ops.Sharding.rendezvousShard(col("user_id"), nShards))
      .groupBy(col("window_start"), col("shard"))
      .agg(count(lit(1)).as("n_events"),
        sum(expr("cast(floor(value * 100) as bigint)")).as("cents"))

  /**
   * Local-DP ingest accounting, batch form: every event's type passes
   * through Warner randomized response
   * ([[graft.ops.Privacy.randomizedResponse]]) BEFORE any aggregation —
   * the collector's ledger only ever holds REPORTED categories, the
   * whole point of the local model — then per tumbling window ×
   * reported type, a count. Downstream debiasing
   * ([[graft.ops.Privacy.rrFrequencyEstimate]]'s channel inversion) is
   * a deterministic function of these rows per window. The response is
   * a stateless per-row projection (sticky md5 draws), so the only
   * state is the windowed count aggregation.
   */
  def rrRouteCounts(events: DataFrame, categories: Seq[String], pMilli: Int,
      salt: String, windowMs: Long): DataFrame =
    graft.ops.Privacy.randomizedResponse(events, "event_type", "event_id",
        categories, pMilli, salt)
      .withColumn("__ms", unix_millis(col("ts").cast("timestamp")))
      .withColumn("window_start", col("__ms") - pmod(col("__ms"), lit(windowMs)))
      .groupBy(col("window_start"), col("reported"))
      .agg(count(lit(1)).as("n_reported"))

  /**
   * Gap-based sessionization, batch form: a new session starts when the
   * user's inter-event gap exceeds `gapMs`. One shuffle on user_id; the
   * per-user window sort is the standard lag+cumsum sessionizer.
   */
  def sessionize(events: DataFrame, gapMs: Long): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val ms = unix_millis(col("ts").cast("timestamp"))
    events
      .withColumn("__ms", ms)
      .withColumn("__prev", lag(col("__ms"), 1).over(byUser))
      .withColumn("__new_session",
        when(col("__prev").isNull || col("__ms") - col("__prev") > gapMs, 1L).otherwise(0L))
      .withColumn("session_seq", sum(col("__new_session")).over(
        byUser.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("user_id"), col("session_seq"))
      .agg(
        min(col("__ms")).as("session_start"),
        max(col("__ms")).as("session_end"),
        count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("total_value"))
  }

  /**
   * Per-session behavior PATHS: each session's time-ordered event-type
   * sequence joined into one string ("signup>click>purchase") — the
   * journey-analysis view of the event log, and the sequence-extraction
   * step a behavior-model pipeline exports. Sessionization is the same
   * gap rule as [[sessionize]]; within a session the path order is made
   * deterministic by sorting the collected (ms, event_id, type) structs
   * rather than trusting `collect_list`'s arrival order (which is
   * partition-layout-dependent). Per-session rows; path strings stay
   * strings (the registry's no-array-outputs rule). Per-user windows
   * and a per-session aggregate: one shuffle on user_id.
   */
  def sessionPaths(events: DataFrame, gapMs: Long): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val ms = unix_millis(col("ts").cast("timestamp"))
    events
      .withColumn("__ms", ms)
      .withColumn("__prev", lag(col("__ms"), 1).over(byUser))
      .withColumn("__new_session",
        when(col("__prev").isNull || col("__ms") - col("__prev") > gapMs, 1L).otherwise(0L))
      .withColumn("session_seq", sum(col("__new_session")).over(
        byUser.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("user_id"), col("session_seq"))
      .agg(min(col("__ms")).as("session_start"),
        array_join(
          transform(
            array_sort(collect_list(struct(col("__ms"), col("event_id"), col("event_type")))),
            x => x.getField("event_type")),
          ">").as("path"),
        count(lit(1)).as("n_events"))
  }

  /** Corpus-level path frequencies: the top `k` session paths by count
    * (ties broken by path) — the "which journeys dominate" dashboard.
    * Global top-k via TakeOrderedAndProject; only k rows travel. */
  def pathCounts(events: DataFrame, gapMs: Long, k: Int = 50): DataFrame =
    sessionPaths(events, gapMs)
      .groupBy("path").agg(count(lit(1)).as("n_sessions"))
      .orderBy(col("n_sessions").desc, col("path"))
      .limit(k)

  /**
   * ENGINE-NATIVE session windows: Catalyst's `session_window` operator —
   * gap-merged event-time sessions with no hand-rolled state, the
   * Spark-first twin of [[sessionize]]'s lag+cumsum form. Semantics
   * differ at one boundary, deliberately kept native: two events merge
   * iff their gap is STRICTLY under `gapMs` (each event opens
   * `[ts, ts+gap)`; an event landing exactly at a window's end starts a
   * new session), and `session_end` extends `gapMs` past the last event.
   */
  def sessionWindowAgg(events: DataFrame, gapMs: Long): DataFrame =
    events
      .groupBy(col("user_id"), session_window(col("ts"), s"$gapMs milliseconds"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("total_value"))
      .select(col("user_id"),
        unix_millis(col("session_window.start")).as("session_start"),
        unix_millis(col("session_window.end")).as("session_end"),
        col("n_events"), col("total_value"))

  /**
   * Click→purchase attribution pairs: every (click, purchase) of the
   * same user with the purchase inside `[click, click + windowMs]`.
   * An equi-join on the user key with a time-band post-filter.
   */
  def attribution(events: DataFrame, windowMs: Long): DataFrame = {
    val clicks = events.where(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("click_id"),
        unix_millis(col("ts").cast("timestamp")).as("click_ms"))
    val purchases = events.where(col("event_type") === "purchase")
      .select(col("user_id").as("__pu"), col("event_id").as("purchase_id"),
        unix_millis(col("ts").cast("timestamp")).as("purchase_ms"))
    clicks.join(purchases,
        col("user_id") === col("__pu") &&
          col("purchase_ms") >= col("click_ms") &&
          col("purchase_ms") <= col("click_ms") + lit(windowMs))
      .select(col("user_id"), col("click_id"), col("purchase_id"),
        col("click_ms"), col("purchase_ms"))
  }

  /** Per-user event cap: the first `cap` events per
    * user in (ts, event_id) order — the ingestion-side quota that stops
    * a runaway producer from dominating a user's training trace (the
    * event-stream sibling of [[graft.ops.Sampling.capPerStratum]],
    * which caps by hash; here ORDER is the semantic: keep the
    * earliest). Window is user-partitioned. */
  def userCap(events: DataFrame, cap: Int): DataFrame = {
    require(cap >= 1, s"cap must be >= 1: $cap")
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    events.select(col("user_id"), col("event_id"),
        unix_millis(col("ts").cast("timestamp")).as("ms"), col("ts"))
      .withColumn("keep_rank", row_number().over(w).cast("long"))
      .where(col("keep_rank") <= cap)
      .select("user_id", "event_id", "ms", "keep_rank")
  }

  /**
   * TIME-BOUNDED conversion funnel: per user, the FIRST signup, then the
   * first click strictly after it and within `windowMs`, then the first
   * purchase strictly after that click and within `windowMs` — the
   * "converted within a day" product question, which a global
   * first-touch comparison can't answer (a click three weeks after
   * signup would still count there).
   *
   * Shape: two anchored passes — aggregate the anchor time per user,
   * equi-join it back on user_id, and take the CONDITIONAL min over
   * events inside the window. Every step is a keyed aggregate or an
   * equi-join on user_id: a hot user costs a scan of their events,
   * never a per-user pair expansion. Timestamps ride as unix millis
   * (≡ DuckDB `epoch_ms`). Output: one row of global stage counts.
   */
  def funnelWindowed(events: DataFrame, windowMs: Long): DataFrame = {
    require(windowMs > 0, s"windowMs must be positive: $windowMs")
    val ms = unix_millis(col("ts").cast("timestamp"))
    val anchors = events.groupBy(col("user_id"))
      .agg(min(when(col("event_type") === "signup", ms)).as("t_signup"))
    val clicks = events.join(anchors, "user_id")
      .where(col("event_type") === "click" &&
        ms > col("t_signup") && ms <= col("t_signup") + windowMs)
      .groupBy(col("user_id")).agg(min(ms).as("t_click"))
    val purchases = events.join(clicks, "user_id")
      .where(col("event_type") === "purchase" &&
        ms > col("t_click") && ms <= col("t_click") + windowMs)
      .groupBy(col("user_id")).agg(min(ms).as("t_purchase"))
    anchors
      .join(clicks, Seq("user_id"), "left")
      .join(purchases, Seq("user_id"), "left")
      .agg(
        count(lit(1)).as("n_users"),
        sum(when(col("t_signup").isNotNull, 1L).otherwise(0L)).as("n_signed_up"),
        sum(when(col("t_click").isNotNull, 1L).otherwise(0L)).as("n_clicked_in_window"),
        sum(when(col("t_purchase").isNotNull, 1L).otherwise(0L)).as("n_converted"))
  }

}
