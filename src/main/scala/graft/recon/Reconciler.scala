package graft.recon

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * The reconciliation algebra: match / anti / zero-effect / tolerance /
 * order-aware dedup / iterative passes. All pure `DataFrame => DataFrame` —
 * Spark-first analog of the reference's Reconciliator
 * (reference: src/reconciliatior.py) with one deliberate semantic upgrade:
 * every order-dependent Polars `unique(keep=first/last, maintain_order=True)`
 * becomes an explicit pick over a named order column ([[Reconciler.keepFirstBy]],
 * and the first/last aggregate in [[reconcilePass]]), because Spark has no
 * implicit row order (SURVEY §4, §7.3-1).
 *
 * Contract: the internal ("a") and external ("b") DataFrames carry disjoint
 * column names (external columns are `ext_`-prefixed at source prep,
 * reference: src/data_extractor.py:104-110), so joins never collide and no
 * key coalescing happens.
 */
final class Reconciler(val conf: ReconConfig) extends Serializable {
  import Reconciler.keepFirstBy

  /** Multi-key equi-join condition between the two sides
    * (reference: src/reconciliatior.py:66-74). Null keys never match. */
  def joinCond(a: DataFrame, b: DataFrame): Column =
    conf.keys.map(kp => a(kp.internal) === b(kp.external)).reduce(_ && _)

  /** Matched records: multi-key inner equi-join (J1,
    * reference: src/reconciliatior.py:66-74). Catalyst picks
    * broadcast-hash vs sort-merge; both sides shuffle on the full key set
    * only when neither is broadcastable. */
  def matchRecords(a: DataFrame, b: DataFrame): DataFrame =
    a.join(b, joinCond(a, b), "inner")

  /** Internal remanents: rows of `a` with no match in `b` (J2,
    * reference: src/reconciliatior.py:76-83). */
  def notMatchInternal(a: DataFrame, b: DataFrame): DataFrame =
    a.join(b, joinCond(a, b), "left_anti")

  /** External remanents: rows of `b` with no match in `a` (J3,
    * reference: src/reconciliatior.py:85-91). */
  def notMatchExternal(a: DataFrame, b: DataFrame): DataFrame =
    b.join(a, joinCond(a, b), "left_anti")

  // ---------------------------------------------------------------- dedup

  /** Rows whose `keys` occur more than once (P4, reference
    * `is_duplicated()` at src/reconciliatior.py:21).
    *
    * Aggregate-then-semi-join rather than a `count().over(partitionBy(keys))`
    * window: the aggregation gets map-side partial combine, so the first
    * shuffle carries one (key, count) per key per partition instead of every
    * row, and AQE broadcasts the (usually tiny) duplicate-key set for the
    * semi join — the input rows then never shuffle at all. The window form
    * shuffles AND sorts the full input by `keys`.
    */
  def duplicated(df: DataFrame, keys: Seq[String]): DataFrame = {
    val dupKeys = df.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("__dup_count"))
      .where(col("__dup_count") > 1)
      .drop("__dup_count")
    df.join(dupKeys, keys, "left_semi")
  }

  /**
   * Duplicate handling on the matched set (reference `_process_duplicates`,
   * src/reconciliatior.py:20-59): when one internal row matched several
   * external rows, keep the first pairing by external provenance order —
   * then symmetrically one external row keeps only its first internal
   * pairing. Displaced rows fall out and rejoin the remanents via the
   * caller's anti-joins.
   */
  def processDuplicates(matched: DataFrame, extOrder: Column): DataFrame = {
    // the external id rides along as a secondary order key so the pick is
    // total even when extOrder ties (see reconcilePass)
    val oneExtPerInternal =
      keepFirstBy(matched, Seq(conf.idField), Seq(extOrder, col(conf.externalId)))
    keepFirstBy(oneExtPerInternal, Seq(conf.externalId), Seq(col(conf.idField)))
  }

  // ---------------------------------------------------------- zero-effect

  /**
   * Zero-effect cancellation (J4, reference: src/reconciliatior.py:162-199):
   * a SALE row and its VOID row inside the internal set cancel; both leave
   * before reconciliation. Returns (reducedInternal, cancelledPairs).
   *
   * The pair join keys come from the rule (ticket_code↔sale_ticket_code +
   * amount in the reference). Each side is deduped to one row per join key
   * before pairing so one VOID cannot cancel two SALEs.
   */
  def applyZeroEffect(a: DataFrame, rule: ZeroEffectRule, order: Column): (DataFrame, DataFrame) = {
    // one row per pairing key on each side (deterministic via the explicit
    // order column) so one VOID cannot cancel two SALEs
    val s1 = keepFirstBy(a.where(col(rule.kindField) === rule.saleKind), rule.saleCols, Seq(order)).alias("s")
    val v1 = keepFirstBy(a.where(col(rule.kindField) === rule.voidKind), rule.voidCols, Seq(order)).alias("v")

    val cond = rule.saleCols.zip(rule.voidCols)
      .map { case (sc, vc) => col(s"s.$sc") === col(s"v.$vc") }
      .reduce(_ && _)

    val pairs = s1.join(v1, cond, "inner")
      .select(
        col(s"s.${rule.idField}").as("sale_id"),
        col(s"v.${rule.idField}").as("void_id"))

    // reference removes BOTH sides via two anti-joins on _id / _id_right
    // (src/reconciliatior.py:196-198)
    val reduced = a
      .join(pairs.select(col("sale_id").as(rule.idField)), Seq(rule.idField), "left_anti")
      .join(pairs.select(col("void_id").as(rule.idField)), Seq(rule.idField), "left_anti")

    (reduced, pairs)
  }

  // ----------------------------------------------------------- tolerance

  /**
   * Tolerance pass (J5, reference: src/reconciliatior.py:93-151): drop the
   * tolerance field from the equi-keys, join on the rest, accept
   * |a.amount − b.amount| <= tol, then greedily keep the best (smallest-diff)
   * candidate per internal row. Ties break on the external order column so
   * the result is deterministic (the reference relied on sort + keep-first
   * row order, src/reconciliatior.py:128-141).
   *
   * Catalyst plans this as an equi-join on the reduced keys with the band
   * predicate as a residual filter — no cross join.
   */
  def toleranceMatch(aRem: DataFrame, bRem: DataFrame, rule: ToleranceRule, extOrder: Column): DataFrame = {
    val reduced = conf.keys.filterNot(_ == rule.pair)
    require(reduced.nonEmpty, "tolerance rule would leave zero equi-keys (cross join)")
    // both remanent frames descend from the same scans, so qualify via
    // aliases to avoid ambiguous-attribute resolution in the self-join
    val ta = aRem.alias("__tol_a")
    val tb = bRem.alias("__tol_b")
    val equiCond = reduced
      .map(kp => col(s"__tol_a.${kp.internal}") === col(s"__tol_b.${kp.external}"))
      .reduce(_ && _)
    val diff = abs(col(s"__tol_a.${rule.pair.internal}") - col(s"__tol_b.${rule.pair.external}"))

    val candidates = ta
      .join(tb, equiCond && diff <= lit(rule.tolerance), "inner")
      .withColumn("tolerance_diff", diff)

    // greedy best-per-internal-row: window beats orderBy+dropDuplicates,
    // which does NOT guarantee keep-first in Spark (SURVEY §2.3 J5)
    keepFirstBy(candidates, Seq(conf.idField), Seq(col("tolerance_diff"), extOrder))
  }

  /**
   * Full tolerance step: matches plus both rebuilt remanent sides
   * (reference: anti-join rebuild at src/reconciliatior.py:143-148).
   *
   * After the per-internal greedy pick, a symmetric keep-first per
   * EXTERNAL id enforces the one-external-used-once invariant: two
   * internal rows sharing reduced keys would otherwise both claim the
   * same external row while `bLeft` removes it only once. Ties break on
   * (diff, internal id) for determinism. The internal rows displaced by
   * this second pick simply stay in `aLeft` (their id is absent from the
   * final matches), eligible for the next pass.
   */
  def applyTolerance(aRem: DataFrame, bRem: DataFrame, rule: ToleranceRule, extOrder: Column)
      : (DataFrame, DataFrame, DataFrame) = {
    val best = toleranceMatch(aRem, bRem, rule, extOrder)
    val matches = keepFirstBy(best, Seq(conf.externalId),
      Seq(col("tolerance_diff"), col(conf.idField)))
    val aLeft = aRem.join(matches.select(col(conf.idField)), Seq(conf.idField), "left_anti")
    val bLeft = bRem.join(matches.select(col(conf.externalId)), Seq(conf.externalId), "left_anti")
    (matches, aLeft, bLeft)
  }

  // ----------------------------------------------------------- iteration

  /** Diagonal concat: union by name, missing columns null-filled (U2,
    * reference: pl.concat(how="diagonal") at src/reconciliatior.py:52-54). */
  def diagonalUnion(dfs: Seq[DataFrame]): DataFrame =
    dfs.reduce(_.unionByName(_, allowMissingColumns = true))

  /**
   * One full reconciliation pass: exact match + duplicate displacement +
   * optional tolerance second chance, remanents out (reference pass
   * structure: src/reconciliation.py:60-65 plus new_rc_step at
   * src/reconciliatior.py:201-206).
   *
   * Duplicate displacement follows the reference's `_process_duplicates`
   * exactly (src/reconciliatior.py:20-59, invoked from match_records at
   * :73): when one internal row matched several external rows, the FIRST
   * pairing (by external provenance order) stays matched, the LAST
   * pairing's external row is re-added to the external remanents, and any
   * middle pairings drop outright — faithful to the reference's
   * keep="first" / keep="last" pair, quirks included. The reference
   * reconstructs the re-added external row from its `exd_` shadow keys
   * (Polars coalesces the right-hand join keys away); our joins keep both
   * sides' columns, so a projection onto `b`'s columns suffices.
   *
   * Both outcomes come from ONE hash aggregation over the matched set
   * (min_by + max_by + count per internal id, map-side combined) — not a
   * keep-first window plus a duplicate probe plus a keep-last pass, which
   * would re-execute the match join three times.
   */
  /**
   * @param truncate materialize the first/last aggregation and the
   *   pre-tolerance remanents once ([[Checkpoints.cut]]). The aggregation
   *   feeds the matched output AND the displaced-external branch, and each
   *   remanent side feeds the tolerance join plus its rebuild anti-join —
   *   uncut, Catalyst re-executes the match-join subtree once per
   *   consumer. Off by default for single-consumer callers.
   */
  def reconcilePass(a: DataFrame, b: DataFrame, extOrder: Column,
      truncate: Boolean = false): ReconResult = {
    def cut(df: DataFrame): DataFrame = if (truncate) Checkpoints.cut(df) else df
    val exact = matchRecords(a, b)
    val others = exact.columns.filterNot(_ == conf.idField)
    val row = struct(others.map(col).toIndexedSeq: _*)
    // the external id is a secondary order key: extOrder alone is only
    // assumed unique, and min_by/max_by pick independently — on an extOrder
    // tie they could otherwise resolve to the SAME external row, which
    // would then sit in the matched set AND be re-added to the remanents
    // (double-consumed). (ext ids are distinct within an internal id's
    // pairings, so the extended ordering is total.)
    val ord = struct(extOrder, col(conf.externalId))
    val fl = cut(exact.groupBy(col(conf.idField)).agg(
      min_by(row, ord).as("__first"),
      max_by(row, ord).as("__last"),
      count(lit(1)).as("__n")))
    val kept = fl
      .select((col(conf.idField) +: others.map(c => col(s"__first.$c").as(c))).toIndexedSeq: _*)
      .select(exact.columns.map(col).toIndexedSeq: _*)
    val displaced = fl.where(col("__n") > 1)
      .select(others.map(c => col(s"__last.$c").as(c)).toIndexedSeq: _*)
      .select(b.columns.map(col).toIndexedSeq: _*)
    val aRem0 = notMatchInternal(a, b)
    val bRem0 = notMatchExternal(a, b).unionByName(displaced)
    conf.tolerance match {
      case Some(rule) =>
        // only the tolerance path fans each remanent out to 2 consumers —
        // with no tolerance the caller is the single consumer, so cutting
        // here would just double-materialize under iterate()
        val (tol, aRem, bRem) = applyTolerance(cut(aRem0), cut(bRem0), rule, extOrder)
        ReconResult(
          matched = diagonalUnion(Seq(kept.withColumn("tolerance_diff", lit(0.0d)), tol)),
          internalRemanent = aRem,
          externalRemanent = bRem)
      case None =>
        ReconResult(kept, aRem0, bRem0)
    }
  }

  /**
   * Iterative multi-pass reconciliation: remanents of pass N re-enter pass
   * N+1 (reference new_rc_step loop, src/reconciliatior.py:201-206). Each
   * pass's inputs are the previous remanents, so with a fixed config extra
   * passes are idempotent — the hook exists for per-pass config changes
   * (the reference relaxes keys between passes).
   *
   * @param truncateLineage cut the base frames and each pass's remanent
   *   lineage with an eager checkpoint ([[Checkpoints.cut]]: executor-local
   *   by default, reliable when `spark.graft.checkpointDir` is set). Off by
   *   default (small inputs re-plan fine); turn on for many passes over
   *   large inputs, where the accumulated anti-join-of-anti-join plan
   *   re-executes pass 1..N-1 inside pass N and the diagonal-union lineage
   *   grows unboundedly (SURVEY §7.3-6).
   * @throws IllegalArgumentException on empty `passes`: with no pass there
   *   is no matched frame, and no `ext_*` schema to give an empty one
   */
  def iterate(a: DataFrame, b: DataFrame, extOrder: Column,
      passes: Seq[ReconConfig], truncateLineage: Boolean = false): ReconResult = {
    require(passes.nonEmpty, "iterate needs at least one pass")
    def cut(df: DataFrame): DataFrame =
      if (truncateLineage) Checkpoints.cut(df) else df
    // materialize the base frames too: pass 1 consumes each side in three
    // places (match + both antis), so an uncut source derivation would
    // execute three times before pass 2 even starts. (Measured: an eager
    // block cut beats Dataset.cache here — the columnar InMemoryRelation
    // build costs more than the three scans it saves.)
    var aCur = cut(a)
    var bCur = cut(b)
    var acc: Option[DataFrame] = None
    passes.zipWithIndex.foreach { case (pc, i) =>
      val r = new Reconciler(pc).reconcilePass(aCur, bCur, extOrder, truncate = truncateLineage)
      acc = Some(acc.fold(r.matched)(m => diagonalUnion(Seq(m, r.matched))))
      // the LAST pass's remanents have no next pass to feed — leave them
      // lazy (cutting them would eagerly materialize frames the caller
      // may never consume)
      val last = i == passes.length - 1
      aCur = if (last) r.internalRemanent else cut(r.internalRemanent)
      bCur = if (last) r.externalRemanent else cut(r.externalRemanent)
    }
    ReconResult(acc.get, aCur, bCur)
  }
}

object Reconciler {

  /** Keep the first row per key by explicit order — the engine's one keyed
    * keep-first (A3 keep="first", reference `unique(keep="first",
    * maintain_order=True)` at src/reconciliatior.py:24-26 and
    * src/data_extractor.py:85-93 — but order is explicit here).
    *
    * Implemented as a `min_by(wholeRow, orderTuple)` hash aggregation, not
    * a `row_number()` window: the aggregate gets map-side partial merge
    * (shuffle carries one candidate row per key per partition) and no
    * per-key sort — the window form shuffles and sorts every row. Order
    * columns must be non-null and should form a total order per key for
    * determinism (same requirement the window form has).
    */
  def keepFirstBy(df: DataFrame, keys: Seq[String], order: Seq[Column]): DataFrame = {
    val others = df.columns.filterNot(keys.contains)
    df.groupBy(keys.map(col): _*)
      .agg(min_by(struct(others.map(col).toIndexedSeq: _*), struct(order: _*)).as("__row"))
      .select(keys.map(col) ++ others.map(c => col(s"__row.$c").as(c)): _*)
      .select(df.columns.map(col).toIndexedSeq: _*)
  }
}

/** Output of a reconciliation pass: the three result sets the reference
  * persists (matched / internal remanent / external remanent,
  * src/reconciliatior.py:61-64). */
final case class ReconResult(
    matched: DataFrame,
    internalRemanent: DataFrame,
    externalRemanent: DataFrame)
