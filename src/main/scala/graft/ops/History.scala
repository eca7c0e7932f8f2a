package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Event-history reshaping: collapse an append-only event stream into
 * versioned entity state (the warehouse "slowly changing dimension
 * type 2" build) and first-order behavior statistics (Markov transition
 * counts). Both are pure window/aggregate plans partitioned by the
 * entity key — per-entity history is rarely more than a few thousand
 * events, so the windows stay bounded and the shuffles partition on the
 * natural key at any corpus size.
 */
object History {

  /**
   * SCD-2 intervals from an event log: per `entityCol`, consecutive
   * events carrying the same `stateCol` value collapse into one
   * validity interval. Output per (entity, version):
   * `(entityCol, state, valid_from, valid_to, n_events, version)` —
   * `valid_from` = first event ts of the run, `valid_to` = the NEXT
   * run's `valid_from` (null for the entity's current state), intervals
   * are half-open `[from, to)` and tile each entity's timeline exactly.
   *
   * Ordering must be total for the run-detection to be deterministic:
   * `tieCol` breaks equal-timestamp events (an event id; uniqueness is
   * the caller's contract). Gaps-and-islands via one running sum of
   * change flags — the same per-entity-window discipline as
   * [[Dedup.maximalSpans]], no global window anywhere.
   */
  def scd2(events: DataFrame, entityCol: String, stateCol: String,
      tsCol: String, tieCol: String): DataFrame = {
    val byTime = Window.partitionBy(col(entityCol))
      .orderBy(col(tsCol), col(tieCol))
    val change = when(lag(col(stateCol), 1).over(byTime).isNull ||
      lag(col(stateCol), 1).over(byTime) =!= col(stateCol), 1L).otherwise(0L)
    val versioned = events.select(col(entityCol), col(stateCol), col(tsCol), col(tieCol))
      .withColumn("version",
        sum(change).over(byTime.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val runs = versioned
      .groupBy(col(entityCol), col("version"))
      .agg(min(col(stateCol)).as("state"), // constant within the run
        min(col(tsCol)).as("valid_from"),
        count(lit(1)).as("n_events"))
    val byVersion = Window.partitionBy(col(entityCol)).orderBy(col("version"))
    runs.withColumn("valid_to", lead(col("valid_from"), 1).over(byVersion))
      .select(col(entityCol), col("state"), col("valid_from"),
        col("valid_to"), col("n_events"), col("version"))
  }

  /** Time-to-event with right-censoring: per entity, the first
    * `fromVal` instant, the first `toVal` instant AT OR AFTER it, the
    * delta in ms, and `censored = 1` when the entity started but never
    * converted — the row shape survival analysis consumes (medians via
    * [[RobustStats.medianX2]], never a mean: censored deltas are
    * unbounded). Entities without a `fromVal` event are absent. One
    * grouped aggregate: t0 is a conditional min; t1 is the min of a
    * conditional struct ordered by (ts) gated on type and ts ≥ t0 —
    * computed in the same pass via a two-stage aggregate on the
    * entity key only. */
  def timeToEvent(events: DataFrame, entityCol: String, tsCol: String,
      typeCol: String, fromVal: String, toVal: String): DataFrame = {
    val t0 = events.where(col(typeCol) === fromVal)
      .groupBy(col(entityCol)).agg(min(col(tsCol)).as("t_start"))
    val t1 = events.where(col(typeCol) === toVal)
      .select(col(entityCol), col(tsCol).as("__t"))
      .join(t0, Seq(entityCol))
      .where(col("__t") >= col("t_start"))
      .groupBy(col(entityCol)).agg(min(col("__t")).as("t_convert"))
    t0.join(t1, Seq(entityCol), "left")
      .select(col(entityCol), col("t_start"), col("t_convert"),
        (unix_millis(col("t_convert")) - unix_millis(col("t_start")))
          .as("delta_ms"),
        when(col("t_convert").isNull, 1L).otherwise(0L).as("censored"))
  }

  /**
   * Kaplan–Meier survival curve over (time, event) rows — the estimator
   * that makes censored time-to-convert data honest (dropping censored
   * users biases conversion time DOWN; treating them as converts biases
   * it up; KM does neither). Times bucket to `bucketMs` grain; per
   * bucket: events `d`, censorings `c`, at-risk `n` (arrivals minus
   * everything dropped in EARLIER buckets, via the distributed ranged
   * running sum — no global window), the step survival
   * `q_milli = 1000·(n−d) div n`, and the curve
   * `s_milli = Π q (fixed-point: (acc·q) div 1000` per step — the
   * [[SetSimilarity.sCurveDetectMilli]] recipe, deterministic ~1‰ floor
   * bias per step, identical in both engines). The cumulative product
   * folds over ONE collected (bucket, q) array — bounded by the bucket
   * count (a curve with millions of steps is a plotting smell, not an
   * engine limit).
   *
   * Output: (w, n_at_risk, d, c, q_milli, s_milli), one row per
   * occupied bucket; `n_at_risk ≥ d + c ≥ 1` so the division is safe.
   */
  def survivalKm(df: DataFrame, timeCol: String, eventCol: String,
      bucketMs: Long): DataFrame = {
    require(bucketMs >= 1L, s"bucketMs must be >= 1: $bucketMs")
    val b = df
      .select(expr(s"$timeCol div ${bucketMs}L").as("w"),
        col(eventCol).cast("long").as("__e"))
      .groupBy(col("w"))
      .agg(sum(col("__e")).as("d"), sum(lit(1L) - col("__e")).as("c"))
    val cum = graft.recon.Sources.withRunningSumRanged(
      b, "__thr", col("d") + col("c"), Seq(col("w")))
    val total = b.agg(sum(col("d") + col("c")).as("__n"))
    val atRisk = graft.recon.Checkpoints.cut(cum.crossJoin(broadcast(total))
      .withColumn("n_at_risk", col("__n") - (col("__thr") - col("d") - col("c")))
      .withColumn("q_milli", expr("(1000 * (n_at_risk - d)) div n_at_risk"))
      .select(col("w"), col("n_at_risk"), col("d"), col("c"), col("q_milli")))
    val curve = atRisk
      .agg(sort_array(collect_list(struct(col("w"), col("q_milli")))).as("__qs"))
      .select(explode(expr(
        """arrays_zip(
          |  transform(__qs, x -> x.w),
          |  transform(sequence(1, size(__qs)), i ->
          |    aggregate(slice(__qs, 1, i), 1000L,
          |      (acc, x) -> (acc * x.q_milli) div 1000)))""".stripMargin))
        .as("__z"))
      .select(col("__z.0").as("w"), col("__z.1").as("s_milli"))
    atRisk.join(curve, Seq("w"))
  }

  /**
   * Log-rank test between TWO survival cohorts (`groupCol` ∈ {0, 1}) —
   * "do these cohorts convert at the same rate", censoring-honest: per
   * bucket, cohort 1's expected events under the null are
   * `e1 = d·n1/n` (hypergeometric mean) and the variance
   * `v = d·n1·n2·(n−d) / (n²·(n−1))`; the statistic is
   * `z = (O1 − E1)/√V`. Everything is exact integer milli/micro floors
   * until the final fixed-shape division and ONE correctly-rounded sqrt
   * (z = (1000·O1 − Σe1_milli)/√(Σv_micro) — the units cancel), so both
   * engines emit identical bits. At-risk counts ride two ranged running
   * sums over the bucket frame (cut once); one summary row.
   */
  def logRank(df: DataFrame, timeCol: String, eventCol: String,
      groupCol: String, bucketMs: Long): DataFrame = {
    require(bucketMs >= 1L, s"bucketMs must be >= 1: $bucketMs")
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val b = graft.recon.Checkpoints.cut(df
      .select(expr(s"$timeCol div ${bucketMs}L").as("w"),
        col(eventCol).cast("long").as("__e"), col(groupCol).cast("long").as("__g"))
      .groupBy(col("w"))
      .agg(sum(when(col("__g") === 0, col("__e")).otherwise(0L)).as("d1"),
        sum(when(col("__g") === 0, lit(1L) - col("__e")).otherwise(0L)).as("c1"),
        sum(when(col("__g") === 1, col("__e")).otherwise(0L)).as("d2"),
        sum(when(col("__g") === 1, lit(1L) - col("__e")).otherwise(0L)).as("c2")))
    val cum1 = graft.recon.Sources.withRunningSumRanged(
      b, "__thr1", col("d1") + col("c1"), Seq(col("w")))
    val cum = graft.recon.Sources.withRunningSumRanged(
      cum1, "__thr2", col("d2") + col("c2"), Seq(col("w")))
    val tot = b.agg(sum(col("d1") + col("c1")).as("__t1"),
      sum(col("d2") + col("c2")).as("__t2"))
    val perBucket = cum.crossJoin(broadcast(tot))
      .withColumn("n1", col("__t1") - (col("__thr1") - col("d1") - col("c1")))
      .withColumn("n2", col("__t2") - (col("__thr2") - col("d2") - col("c2")))
      .withColumn("d", col("d1") + col("d2"))
      .withColumn("n", (col("n1") + col("n2")).cast(dec))
      .withColumn("e1_milli",
        when(col("n") > 0, expr("(1000 * d * n1) div n")).otherwise(0L).cast("long"))
      .withColumn("v_micro",
        when(col("n") > 1, expr(
          """(1000000 * cast(d as decimal(38,0)) * n1 * n2 * (n - d))
            | div (n * n * (n - 1))""".stripMargin)).otherwise(0L).cast("long"))
    perBucket.agg(sum(col("d1")).as("o1"), sum(col("d2")).as("o2"),
        sum(col("e1_milli")).as("e1_milli"), sum(col("v_micro")).as("v_micro"))
      .withColumn("z",
        when(col("v_micro") > 0,
          (lit(1000L) * col("o1") - col("e1_milli")).cast("double") /
            sqrt(col("v_micro").cast("double"))))
  }

  /** Enrich a fact frame with the [[scd2]] dimension state valid at
    * each fact's own probe instant (`probeCol`, a timestamp column of
    * `facts` — shift it for "state just BEFORE this event" semantics):
    * an equi-join on the entity plus interval containment in the join
    * condition. Intervals tile, so at most one dimension row matches
    * per fact; facts probing before the entity's first interval keep
    * null state (left join). The equi key carries the shuffle; the
    * containment band only filters within the entity's few intervals.
    * Output: all fact columns + `asof_state`, `asof_version`. */
  def enrichAsOf(facts: DataFrame, dim: DataFrame, entityCol: String,
      probeCol: String): DataFrame = {
    val d = dim.select(col(entityCol).as("__de"), col("state"),
      col("valid_from"), col("valid_to"), col("version"))
    facts.join(d,
        facts(entityCol) === d("__de") &&
          facts(probeCol) >= d("valid_from") &&
          (d("valid_to").isNull || facts(probeCol) < d("valid_to")),
        "left")
      .select(facts.columns.map(facts(_)) :+
        d("state").as("asof_state") :+ d("version").as("asof_version"): _*)
  }

  /** Point-in-time reconstruction from an [[scd2]] frame: each entity's
    * state row whose half-open `[valid_from, valid_to)` interval covers
    * `at` — "the dimension as the world saw it at T". A pure filter
    * over the interval table (partition-prunable when the table is
    * written partitioned on `valid_from` ranges); entities that did
    * not exist yet at `at` are absent, as they should be. */
  def stateAsOf(scd2Frame: DataFrame, at: Column): DataFrame =
    scd2Frame.where(col("valid_from") <= at &&
      (col("valid_to").isNull || col("valid_to") > at))

  /**
   * First-order transition counts: for each entity's time-ordered event
   * sequence, count (previous state → state) adjacencies across the
   * whole log, plus the exact-integer milli-probability
   * `p_milli = n·1000 div Σn(from_type)` — the row-normalized Markov
   * matrix in a form both engines compute bit-identically (no float
   * division). The final window partitions by `from_type`, bounded by
   * the state-alphabet size, not the data.
   */
  /**
   * Bounded rolling features over each entity's time-ordered event
   * stream — the lag/rolling-sum/recency feature block a training
   * pipeline materializes before modeling. All value arithmetic is in
   * integer cents (`floor(value·100)` — identical IEEE semantics in
   * both engines) so the rolling sums are exact and order-independent;
   * float rolling sums would disagree across engines on summation
   * order alone. Output per event:
   * `(entityCol, tieCol, tsCol, value_cents, prev_cents, roll_cents,
   * gap_ms, seq)` where `roll_cents` sums the current + previous
   * `window−1` events and `gap_ms` is the time since the previous
   * event (null on each entity's first).
   *
   * Scale shape: one shuffle on the entity key; every frame is
   * ROWS-bounded by `window`, the running index is a per-entity
   * row_number — no global or data-sized window partitions.
   */
  def rollingFeatures(events: DataFrame, entityCol: String, valueCol: String,
      tsCol: String, tieCol: String, window: Int = 4): DataFrame = {
    require(window >= 1, s"window must be >= 1, got $window")
    val byTime = Window.partitionBy(col(entityCol)).orderBy(col(tsCol), col(tieCol))
    val frame = byTime.rowsBetween(-(window - 1), Window.currentRow)
    val ms = unix_millis(col(tsCol).cast("timestamp"))
    events
      .select(col(entityCol), col(tieCol), col(tsCol),
        floor(col(valueCol) * 100).cast("long").as("value_cents"), ms.as("__ms"))
      .withColumn("prev_cents", lag(col("value_cents"), 1).over(byTime))
      .withColumn("roll_cents", sum(col("value_cents")).over(frame))
      .withColumn("gap_ms", col("__ms") - lag(col("__ms"), 1).over(byTime))
      .withColumn("seq", row_number().over(byTime).cast("long"))
      .drop("__ms")
  }

  /**
   * Time-RANGE rolling aggregates per entity: for each event, the
   * count and exact cent-sum of that entity's events in
   * `(t − windowMs, t]`. [[rollingFeatures]] bounds the frame by event
   * COUNT; this bounds it by TIME, which is what "last-7-days
   * activity" features actually mean — a burst of 50 events in an hour
   * is 50 rows deep here and only `window` rows deep there. The frame
   * is a `rangeBetween` over epoch milliseconds, so timestamp ties are
   * peers and all see the full tied set — deterministic with no tie
   * column needed. One shuffle on the entity key; frame size is
   * bounded by the entity's event density inside the window, never
   * data-sized.
   */
  def rollingTimeWindow(events: DataFrame, entityCol: String,
      valueCol: String, tsCol: String, windowMs: Long): DataFrame = {
    require(windowMs >= 1, s"windowMs must be >= 1, got $windowMs")
    val w = Window.partitionBy(col(entityCol)).orderBy(col("ts_ms"))
      .rangeBetween(-(windowMs - 1), Window.currentRow)
    events
      .select(col(entityCol),
        unix_millis(col(tsCol).cast("timestamp")).as("ts_ms"),
        floor(col(valueCol) * 100).cast("long").as("value_cents"))
      .withColumn("n_window", count(lit(1)).over(w))
      .withColumn("sum_window_cents", sum(col("value_cents")).over(w))
  }

  /**
   * Debounce: keep only the FIRST event of each burst, where a burst
   * is a gaps-and-islands chain of events whose inter-arrival gap is
   * ≤ `gapMs` (the same island rule as sessionization) — the event
   * hygiene step against double-fires, retry storms, and mechanical
   * repeats that would otherwise dominate a user's trace. Keyed by
   * `entityCols` (typically user + event type). A gap strictly larger
   * than `gapMs` starts a new burst, so isolated events always
   * survive. One shuffle on the entity key; windows are
   * entity-partitioned.
   */
  def debounceFirst(events: DataFrame, entityCols: Seq[String], tsCol: String,
      tieCol: String, gapMs: Long): DataFrame = {
    require(entityCols.nonEmpty, "no entity columns")
    require(gapMs >= 0, s"gapMs must be >= 0: $gapMs")
    val byTime = Window.partitionBy(entityCols.map(col): _*)
      .orderBy(col(tsCol), col(tieCol))
    val ms = unix_millis(col(tsCol).cast("timestamp"))
    events
      .withColumn("__ms", ms)
      .withColumn("__gap", col("__ms") - lag(col("__ms"), 1).over(byTime))
      .where(col("__gap").isNull || col("__gap") > gapMs)
      .drop("__ms", "__gap")
  }

  /**
   * Per-entity TEMPORAL split: each entity's first `trainMilli/1000` of
   * events (by time order) go to 'train', the rest to 'eval' — the
   * leakage rule for sequence models, where a random split would let
   * the model peek at each user's future. The cut is exact-integer
   * (`rn·1000 ≤ cnt·trainMilli` — the floor convention: an entity whose
   * `cnt·trainMilli < 1000`, e.g. a single-event user at 800 milli,
   * lands entirely in eval), so both engines agree row-for-row. One
   * shuffle on the entity key; both windows are entity-partitioned.
   */
  def temporalSplit(events: DataFrame, entityCol: String, tsCol: String,
      tieCol: String, trainMilli: Int = 800): DataFrame = {
    require(trainMilli >= 0 && trainMilli <= 1000,
      s"trainMilli out of [0,1000]: $trainMilli")
    val byTime = Window.partitionBy(col(entityCol)).orderBy(col(tsCol), col(tieCol))
    val byEntity = Window.partitionBy(col(entityCol))
    events.select(col(entityCol), col(tieCol), col(tsCol))
      .withColumn("__rn", row_number().over(byTime).cast("long"))
      .withColumn("__cnt", count(lit(1)).over(byEntity))
      .withColumn("split",
        when(col("__rn") * 1000 <= col("__cnt") * trainMilli, "train").otherwise("eval"))
      .select(col(entityCol), col(tieCol), col(tsCol), col("split"))
  }

  /**
   * Markov next-state prediction EVAL under a temporal split: learn the
   * per-state argmax transition on events before `cutMs`, score it on
   * consecutive pairs strictly after — the "is yesterday's transition
   * matrix worth anything tomorrow" check that separates a usable
   * behavior model from a memorized one. Pairs never straddle the
   * split (both ends must be in their half — the leak-free convention).
   * Per from-state: the learned prediction, eval pair count, hits, and
   * exact milli accuracy; eval states unseen in training surface with a
   * null prediction and zero hits rather than vanishing. Windows
   * partition per entity (pair building) or per state (argmax, bounded
   * by the state alphabet).
   */
  def markovEval(events: DataFrame, entityCol: String, stateCol: String,
      tsCol: String, tieCol: String, cutMs: Long): DataFrame = {
    val ms = unix_millis(col(tsCol).cast("timestamp"))
    def pairs(df: DataFrame) = {
      val byTime = Window.partitionBy(col(entityCol))
        .orderBy(col(tsCol), col(tieCol))
      df.select(col(entityCol), col(stateCol), col(tsCol), col(tieCol))
        .withColumn("to_type", col(stateCol))
        .withColumn("from_type", lag(col(stateCol), 1).over(byTime))
        .where(col("from_type").isNotNull)
    }
    val pred = pairs(events.where(ms < cutMs))
      .groupBy(col("from_type"), col("to_type")).agg(count(lit(1)).as("__n"))
      .withColumn("__r", row_number().over(Window.partitionBy(col("from_type"))
        .orderBy(col("__n").desc, col("to_type"))))
      .where(col("__r") === 1)
      .select(col("from_type"), col("to_type").as("prediction"))
    pairs(events.where(ms >= cutMs))
      .join(pred, Seq("from_type"), "left")
      .groupBy(col("from_type"))
      .agg(max(col("prediction")).as("prediction"),
        count(lit(1)).as("n_pairs"),
        sum(when(col("to_type") === col("prediction"), 1L).otherwise(0L))
          .as("n_correct"))
      .withColumn("acc_milli", expr("(1000 * n_correct) div n_pairs"))
  }

  def transitionCounts(events: DataFrame, entityCol: String, stateCol: String,
      tsCol: String, tieCol: String): DataFrame = {
    val byTime = Window.partitionBy(col(entityCol))
      .orderBy(col(tsCol), col(tieCol))
    val adj = events
      .select(col(entityCol), col(stateCol), col(tsCol), col(tieCol))
      .withColumn("to_type", col(stateCol))
      .withColumn("from_type", lag(col(stateCol), 1).over(byTime))
      .where(col("from_type").isNotNull)
    val counts = adj.groupBy(col("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n"))
    val byFrom = Window.partitionBy(col("from_type"))
    counts.withColumn("__tot", sum(col("n")).over(byFrom))
      // `div`, not `/`: long division through doubles could land one ulp
      // under an integer and floor() it down a full unit
      .withColumn("p_milli", expr("(n * 1000) div __tot"))
      .select(col("from_type"), col("to_type"), col("n"), col("p_milli"))
  }
}
