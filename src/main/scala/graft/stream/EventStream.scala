package graft.stream

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.model.{BlockHeader, LogAction}

/** Structured-Streaming layer (SURVEY.md §2.8): the reference's live tail —
  * head subscription (S4), reorg-aware CDC output (T4), confirmation-depth
  * window (T5) — plus the standard event-time operators (T11 capability).
  *
  * Design choices:
  *  - the tail is a streaming DataFrame of headers/logs; retraction is an
  *    explicit `action` column (add/del) because sinks don't natively
  *    retract (SURVEY.md §1.1d);
  *  - reorg state (last K headers per filter) lives in
  *    `flatMapGroupsWithState` keyed by filter hash — bounded state, the
  *    watermark analog of the reference's `MaxBlockBacklog`;
  *  - checkpointing is Spark's own (`checkpointLocation` = dir per filter
  *    hash), replacing the reference's `lastBlock_<hash>` KV row (T3).
  */
object EventStream {

  // ── event-time operators (capability layer T11) ────────────────────────

  /** Tumbling-window count/sum with watermark (late data bounded). */
  def tumblingAgg(events: DataFrame, window_ : String, watermark: String): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), window_), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
      .select(col("window.start").as("w_start"), col("event_type"),
        col("n"), col("sum_value"))

  /** Session windows: gap-based grouping per user. */
  def sessionAgg(events: DataFrame, gap: String, watermark: String): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("session_window.start").as("s_start"),
        col("session_window.end").as("s_end"), col("user_id"), col("n_events"))

  /** Streaming dedup within the watermark (exactly-once per key). */
  def dedupWithinWatermark(events: DataFrame, watermark: String): DataFrame =
    events
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("event_id")

  /** Stream-stream interval join: each left event pairs with right events
    * of the same key whose `ts` falls in [l.ts - lower, l.ts + upper].
    * Watermarks on BOTH sides plus the two-sided time bound let Spark
    * evict join state once the watermark passes an event's join window —
    * without them a stream-stream join buffers both streams forever.
    * Both inputs need (keyCol, ts) columns.
    *
    * @return (keyCol, l_ts, r_ts) — one row per qualifying pair
    */
  def intervalJoin(left: DataFrame, right: DataFrame, keyCol: String,
      watermark: String, lower: String, upper: String): DataFrame = {
    val l = left.withWatermark("ts", watermark).alias("l")
    val r = right.withWatermark("ts", watermark).alias("r")
    l.join(r,
        col(s"l.$keyCol") === col(s"r.$keyCol") &&
          col("r.ts") >= col("l.ts") - expr(s"INTERVAL $lower") &&
          col("r.ts") <= col("l.ts") + expr(s"INTERVAL $upper"))
      .select(col(s"l.$keyCol").as(keyCol),
        col("l.ts").as("l_ts"), col("r.ts").as("r_ts"))
  }

  /** Input row for [[funnelTail]]: one event per entity. */
  final case class FunnelEvent(entity: Long, ts: Long, eventType: String)

  /** Emitted whenever an entity advances one funnel step: `step` is
    * 1-based, `ts` the completing event's time.
    */
  final case class FunnelProgress(entity: Long, step: Int, ts: Long)

  /** Per-entity funnel state: completion times of the steps reached so
    * far, oldest first — bounded at `steps.length` longs, and removed
    * outright once the funnel completes.
    */
  final case class FunnelState(times: List[Long])

  /** Streaming form of [[graft.ops.EventOps.funnel]]: per entity, advance a
    * step whenever an event of the next step's type arrives strictly after
    * (and, with `maxGap`, within the conversion window of) the previous
    * completion. Emits one [[FunnelProgress]] row per advance — the
    * real-time conversion feed; aggregate downstream for live funnel
    * counts.
    *
    * Completion RESETS the state machine: a later first-step event starts
    * a new funnel (repeat-conversion tracking), and the reset behaves
    * identically whether the re-entry event shares the completing
    * micro-batch or arrives later. The FIRST completion's step times equal
    * the batch operator's (t_1..t_n); re-entries are additional progress
    * rows the batch form (which reports first conversions only) does not
    * produce.
    *
    * State is O(steps) longs per in-flight entity and is REMOVED when the
    * last step completes, so only entities mid-funnel occupy memory; with
    * `idleTimeout` set, entities that stall mid-funnel are also evicted
    * after that much processing-time inactivity (an unbounded stream of
    * one-step visitors would otherwise grow state forever — the funnel
    * twin of the reorg tail's bounded backlog). An evicted entity that
    * re-appears starts a fresh funnel from step 1.
    * Within a micro-batch events are re-ordered by `ts` (shuffle scrambles
    * row order); ACROSS batches the source must deliver each entity's
    * events in event-time order for the result to match the batch operator
    * — the same in-order-per-key contract as [[reorgTail]]'s sequenced
    * heads. An event-time-ordered replay of any prefix therefore yields
    * exactly the batch funnel's (t_1..t_k) as every entity's first
    * completion sequence (asserted in StreamSpec).
    */
  def funnelTail(
      events: Dataset[FunnelEvent],
      steps: Seq[String],
      maxGap: Option[Long] = None,
      idleTimeout: Option[String] = None
  ): Dataset[FunnelProgress] = {
    require(steps.nonEmpty, "funnel needs at least one step")
    import events.sparkSession.implicits._
    events
      .groupByKey(_.entity)
      .flatMapGroupsWithState(OutputMode.Append,
        idleTimeout.map(_ => GroupStateTimeout.ProcessingTimeTimeout)
          .getOrElse(GroupStateTimeout.NoTimeout))(
        funnelAdvance(steps, maxGap, idleTimeout))
  }

  /** The funnel state function (public, like [[reconcileHead]], so the
    * timeout path is unit-testable via `TestGroupState` — a
    * processing-time timeout cannot be driven deterministically through a
    * real streaming query).
    */
  def funnelAdvance(
      steps: Seq[String],
      maxGap: Option[Long],
      idleTimeout: Option[String]
  )(
      key: Long,
      it: Iterator[FunnelEvent],
      state: GroupState[FunnelState]
  ): Iterator[FunnelProgress] = {
    if (state.hasTimedOut) {
      state.remove()
      return Iterator.empty
    }
    var times = state.getOption.map(_.times).getOrElse(Nil)
    val out = scala.collection.mutable.ArrayBuffer.empty[FunnelProgress]
    // (ts, eventType) — a ts-only sort leaves equal-timestamp events of
    // different types in nondeterministic shuffle order, and e.g. a
    // funnel-completing event vs a step-1 re-entry at the same ts would
    // emit or drop the re-entry depending on arrival order, breaking
    // batch-boundary independence for ties
    it.toSeq.sortBy(e => (e.ts, e.eventType)).foreach { ev =>
      // a COMPLETED funnel resets on the next event: re-entry starts a
      // fresh state machine. Doing the reset here (not only via the
      // end-of-batch state removal) makes re-entry independent of where
      // the micro-batch boundary falls — a post-completion step-1 event
      // behaves identically whether it shares the completing batch or
      // arrives in a later one.
      if (times.length == steps.length) times = Nil
      val k = times.length // completed steps; next wanted: steps(k)
      if (ev.eventType == steps(k)) {
        val afterPrev = times.lastOption.forall(t =>
          ev.ts > t && maxGap.forall(g => ev.ts <= t + g))
        if (afterPrev) {
          times = times :+ ev.ts
          out += FunnelProgress(key, times.length, ev.ts)
        }
      }
    }
    if (times.length == steps.length) state.remove()
    else if (times.nonEmpty) {
      state.update(FunnelState(times))
      idleTimeout.foreach(state.setTimeoutDuration)
    } else if (state.exists) {
      // completion followed by a non-step-1 event reset `times` to empty:
      // without this remove, the PRE-completion state written by an
      // earlier batch would survive and a later final-step event would
      // re-fire the funnel without any re-entry
      state.remove()
    }
    out.iterator
  }

  /** Per-entity state of [[funnelAnyTail]]: one in-flight chain per step-1
    * anchor, oldest anchor first — bounded at `maxAnchors × steps.length`
    * longs, removed once any chain completes.
    */
  final case class FunnelAnyState(chains: Seq[Seq[Long]])

  /** Streaming form of [[graft.ops.EventOps.funnelAnyAnchor]]: chains run
    * from each of the FIRST `maxAnchors` step-1 events (the batch
    * operator's bound, so the two agree; a sliding last-m variant is a
    * one-line eviction change), and a [[FunnelProgress]] row is emitted
    * whenever the entity's DEEPEST chain reaches a new depth — the ts is
    * the first time ANY chain achieved that depth. Note the deliberate
    * semantic split vs batch: the batch form reports one best chain's own
    * timestamps; the stream reports first-achievement times across chains
    * (the live-dashboard reading). Final depth equals the batch n_steps
    * for the same events (both are max over the same chain set).
    *
    * Completion resets like [[funnelTail]] (re-entry starts fresh); state
    * is bounded, removed on completion, and evictable via `idleTimeout`.
    * Same per-batch (ts, eventType) ordering and in-order-across-batches
    * contract as [[funnelAdvance]]; batch-boundary invariance is fuzzed in
    * StreamSpec.
    */
  def funnelAnyTail(
      events: Dataset[FunnelEvent],
      steps: Seq[String],
      maxGap: Option[Long] = None,
      maxAnchors: Int = 4,
      idleTimeout: Option[String] = None
  ): Dataset[FunnelProgress] = {
    require(steps.nonEmpty, "funnel needs at least one step")
    require(maxAnchors >= 1, s"maxAnchors must be >= 1, got $maxAnchors")
    import events.sparkSession.implicits._
    events
      .groupByKey(_.entity)
      .flatMapGroupsWithState(OutputMode.Append,
        idleTimeout.map(_ => GroupStateTimeout.ProcessingTimeTimeout)
          .getOrElse(GroupStateTimeout.NoTimeout))(
        funnelAnyAdvance(steps, maxGap, maxAnchors, idleTimeout))
  }

  /** The any-anchor state function (public for TestGroupState drills,
    * like [[funnelAdvance]]).
    */
  def funnelAnyAdvance(
      steps: Seq[String],
      maxGap: Option[Long],
      maxAnchors: Int,
      idleTimeout: Option[String]
  )(
      key: Long,
      it: Iterator[FunnelEvent],
      state: GroupState[FunnelAnyState]
  ): Iterator[FunnelProgress] = {
    if (state.hasTimedOut) {
      state.remove()
      return Iterator.empty
    }
    var chains = state.getOption.map(_.chains).getOrElse(Nil)
    val out = scala.collection.mutable.ArrayBuffer.empty[FunnelProgress]
    it.toSeq.sortBy(e => (e.ts, e.eventType)).foreach { ev =>
      // completed → reset on the next event (same batch-boundary-
      // independent re-entry as funnelAdvance)
      if (chains.exists(_.length == steps.length)) chains = Nil
      val prevMax = if (chains.isEmpty) 0 else chains.map(_.length).max
      // advance every chain whose next expected step matches — an event
      // can extend several anchors' chains at once
      chains = chains.map { c =>
        val k = c.length
        if (k < steps.length && ev.eventType == steps(k) &&
          ev.ts > c.last && maxGap.forall(g => ev.ts <= c.last + g))
          c :+ ev.ts
        else c
      }
      // a step-1 event opens a new chain while anchor slots remain (the
      // SAME event may also have extended an older chain above — distinct
      // roles, distinct chains)
      if (ev.eventType == steps.head && chains.length < maxAnchors)
        chains = chains :+ Seq(ev.ts)
      val newMax = if (chains.isEmpty) 0 else chains.map(_.length).max
      if (newMax > prevMax) out += FunnelProgress(key, newMax, ev.ts)
    }
    if (chains.exists(_.length == steps.length)) state.remove()
    else if (chains.nonEmpty) {
      state.update(FunnelAnyState(chains))
      idleTimeout.foreach(state.setTimeoutDuration)
    } else if (state.exists) {
      state.remove()
    }
    out.iterator
  }

  // ── reorg-aware tail (T4/T5) ───────────────────────────────────────────

  /** Incoming header observation for [[reorgTail]]: one head-of-chain
    * sample per micro-batch row.
    *
    * `seq` is the per-filter arrival order (monotonically increasing, like
    * the reference blocktracker's sequential head delivery). It matters
    * because a micro-batch's rows reach the state function in SHUFFLE
    * order, not arrival order: when one batch spans several reorgs of the
    * same heights, sorting by block number alone processes a later fork's
    * lower block before the earlier events and retracts the wrong lineage
    * (caught by the randomized-batching fuzz in IntegrationSpec). Sources
    * that can emit at most one reorg per batch may leave it unset (-1) —
    * number order is then sufficient.
    */
  final case class HeadObservation(filterHash: String, number: Long,
      hash: String, parentHash: String, seq: Long = -1L)

  /** State: the hot backlog of canonical headers, newest last; bounded at
    * `maxBacklog` (T5 — confirmation-depth window, ref `tracker.go:296`).
    */
  final case class Backlog(headers: List[BlockHeader])

  /** Emitted CDC row: add/del of a block at a height. */
  final case class HeaderAction(filterHash: String, action: String,
      number: Long, hash: String)

  /** The stateful reorg reconciler: per filter hash, keep the last
    * `maxBacklog` headers; each observed head either extends the chain
    * (emit `add`, possibly backfilling skipped heights — T6), repeats a
    * known block (emit nothing — idempotence, ref case "already-known"),
    * or contradicts a stored header (emit `del` for every stored block
    * above the fork point, oldest-first, then `add` the new lineage — T4).
    */
  def reconcileHead(
      maxBacklog: Int
  )(
      key: String,
      it: Iterator[HeadObservation],
      state: GroupState[Backlog]
  ): Iterator[HeaderAction] = {
    var backlog = state.getOption.getOrElse(Backlog(Nil)).headers
    val out = scala.collection.mutable.ArrayBuffer.empty[HeaderAction]
    // arrival order matters: re-establish it from the explicit sequence
    // (shuffle scrambles within-batch row order), falling back to block
    // number for unsequenced sources
    it.toSeq.sortBy(o => (o.seq, o.number)).foreach { obs =>
      val h = BlockHeader(obs.number, obs.hash, obs.parentHash)
      val known = backlog.exists(b => b.number == h.number && b.hash == h.hash)
      if (!known) {
        // fork point: highest stored header the new one links to
        var keep = backlog.takeWhile(b => b.number < h.number)
        val droppedAbove = backlog.drop(keep.size)
        // direct-parent consistency: a head whose parentHash contradicts the
        // stored header at h−1 invalidates that header too. With contiguous
        // ascending delivery (T6 contract) deeper stale prefixes are
        // retracted incrementally as each replacement arrives; this check is
        // the safety net for a source that skipped the replacement parent.
        val staleParent = keep.lastOption.exists(b =>
          b.number == h.number - 1 && b.hash != h.parentHash)
        val dropped =
          if (staleParent) { val d = keep.last; keep = keep.dropRight(1); d +: droppedAbove }
          else droppedAbove
        // retractions emit oldest-first (revertLogs semantics,
        // ref tracker.go:756-761 + tracker_test.go:584-590)
        dropped.foreach(d =>
          out += HeaderAction(key, "del", d.number, d.hash))
        out += HeaderAction(key, "add", h.number, h.hash)
        backlog = (keep :+ h).takeRight(maxBacklog)
      }
    }
    state.update(Backlog(backlog))
    out.iterator
  }

  /** Wire [[reconcileHead]] into a streaming Dataset of head observations.
    * Output is a CDC stream of header add/del actions; joining it to the
    * per-block log fetch (S2) and applying add/del to the log table happens
    * in `foreachBatch` (see [[applyCdc]]).
    */
  def reorgTail(
      heads: Dataset[HeadObservation],
      maxBacklog: Int
  ): Dataset[HeaderAction] = {
    import heads.sparkSession.implicits._
    heads
      .groupByKey(_.filterHash)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout)(reconcileHead(maxBacklog))
  }

  /** CDC application: per micro-batch, apply retractions before appends —
    * a `foreachBatch` body (per-micro-batch atomicity = the reference's
    * per-batch store transaction).
    */
  def applyCdc(
      table: graft.store.LogStore,
      liveLogs: DataFrame
  )(batch: Dataset[HeaderAction], batchId: Long): Unit = {
    // One micro-batch can carry several reorgs of the SAME height — e.g.
    // del(7,A) add(7,B) del(7,B) add(7,C). A naive all-dels-then-all-adds
    // application would re-append BOTH B and C. Fold to the LAST action
    // per (filter, hash) instead: a hash whose final action is del stays
    // out; one whose final action is add goes in (even if a del of it
    // precedes the add — the chain reorged back to it). Row order is the
    // emission order: flatMapGroupsWithState emits each group's actions
    // from a single task in iterator order and no shuffle sits between it
    // and foreachBatch.
    val rows = batch.collect()
    val last = scala.collection.mutable.LinkedHashMap
      .empty[(String, String), HeaderAction]
    rows.foreach(a => last((a.filterHash, a.hash)) = a)
    val dels = rows.filter(_.action == "del")
    if (dels.nonEmpty) {
      val minNum = dels.map(_.number).min
      table.firstIndexAbove(minNum - 1).foreach(table.removeLogsFrom)
    }
    val adds = last.values.filter(_.action == "add").toSeq
    if (adds.nonEmpty) {
      val hashes = adds.map(_.hash)
      // idempotent apply: a head observed both by backfill and by the tail
      // (the hand-off block) must not be double-appended. Probe only the
      // added hashes AND only the batch's height range — block_num bounds
      // let the scan prune to the tail partitions instead of reading the
      // whole append-only table every micro-batch.
      val (lo, hi) = (adds.map(_.number).min, adds.map(_.number).max)
      val existing = table.read
        .where(col("block_num").between(lo, hi) &&
          col("block_hash").isin(hashes: _*))
        .select("block_hash").distinct()
        .collect().map(_.getString(0)).toSet
      val fresh = hashes.filterNot(existing)
      if (fresh.nonEmpty)
        table.storeLogs(liveLogs.where(col("block_hash").isin(fresh: _*)))
    }
  }
}
