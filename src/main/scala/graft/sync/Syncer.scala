package graft.sync

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._

import graft.model.{BlockHeader, FilterConfig}
import graft.reorg.Reconciler
import graft.store.{KvStore, LogTable}

/** Provider abstraction — the engine's view of the upstream source
  * (ref `tracker.go:125-131`, the `Provider` interface over JSON-RPC).
  * The harness implementation scans parquet; a live implementation would be
  * a DataSourceV2 over `eth_getLogs` (SURVEY.md §4 custom-code item 2).
  */
trait Provider {

  /** S1 — ranged log scan `[from, to]` with the filter pushed down.
    * May throw [[Provider.TooManyResults]] — the 10k-result cap the
    * reference AIMD reacts to (ref `tracker.go:332`).
    */
  def getLogs(from: Long, to: Long, filter: FilterConfig): DataFrame

  /** S2 — logs of exactly one block by hash (ref `tracker.go:797-800`). */
  def getLogsByHash(blockHash: String, filter: FilterConfig): DataFrame

  /** S3 — point header lookup. */
  def getBlock(number: Long): Option[BlockHeader]

  def latestBlock(): BlockHeader

  def genesisHash(): String

  def chainId(): String
}

object Provider {
  /** Upstream refused the range — too many results (ref `tracker.go:332`). */
  final class TooManyResults(msg: String) extends RuntimeException(msg)
}

/** S5 — fastTrack: discover the first block an address ever logged so a
  * fresh filter starts there instead of at genesis (ref
  * `tracker.go:446-519`, Etherscan REST in the reference; any index works).
  */
trait FirstLogLocator {
  /** Earliest block with a log from any of `addresses`; None = unknown. */
  def firstLogBlock(addresses: Seq[String]): Option[Long]
}

/** Locator that scans the provider itself — the harness stand-in for the
  * external REST index (same min-over-addresses aggregation, A1).
  */
final class ProviderScanLocator(provider: Provider, headHint: Long)
    extends FirstLogLocator {
  override def firstLogBlock(addresses: Seq[String]): Option[Long] = {
    import org.apache.spark.sql.functions.{col, min}
    // a busy address can exceed the provider's result cap on this one
    // unbounded probe — that must DEGRADE (start from filter.start, like a
    // locator-less sync), not crash the first sync it was meant to speed up
    try {
      val logs = provider.getLogs(0L, headHint,
        graft.model.FilterConfig(addresses = addresses))
      val r = logs.agg(min(col("block_num"))).head()
      if (r.isNullAt(0)) None else Some(r.getLong(0))
    } catch {
      case _: Provider.TooManyResults => None
    }
  }
}

/** The sync engine (SURVEY.md §2.8): backfill-then-tail with AIMD batch
  * sizing, chain-identity guard, checkpoint/resume and reorg retraction —
  * the reference's `tracker.go` control plane re-expressed over Spark jobs.
  *
  * Execution shape at scale: each AIMD batch is one append of whatever
  * the provider returns, and the driver loop carries the
  * batch-size/checkpoint control state, like the reference's sync
  * goroutine. A distributed provider's batch (a parquet scan) stays
  * distributed through the store's ranged index assignment. Rows reach
  * the driver only where they are bounded by construction: a JSON-RPC
  * answer (capped by the node) and a tail block's logs, which are held
  * on the driver (as the provider built them, or collected once) so the
  * file stores write them there with no Spark job
  * ([[graft.ops.LogOps.withAppendIndexes]]).
  *
  * Provider round trips follow the reference: the chain-identity guard
  * runs on an instance's first [[sync]] only, the tail reuses headers the
  * sync already holds, and a reorg walks back only to its ancestor. Over
  * JSON-RPC a one-block sync is 3 requests and a depth-d fork at most
  * 2d + 6 (the table in ARCHITECTURE.md).
  *
  * The root's checkpoint is the KV `lastBlock_<filter>` key this class
  * writes: rows in a store with no checkpoint are the orphans of a crashed
  * first sync, and [[sync]] truncates them.
  */
final class Syncer(
    spark: SparkSession,
    provider: Provider,
    root: String,
    filter: FilterConfig,
    batchSize: Long = 100L,          // ref tracker.go:35 defaultBatchSize
    maxBlockBacklog: Int = 10,       // ref tracker.go:34
    locator: Option[FirstLogLocator] = None, // S5 fastTrack (tracker.go:446)
    fetchRetries: Int = 5,           // ref tracker.go:806-811
    fetchRetryDelayMs: Long = 0L,    // 500 in the reference; 0 in tests
    /** Store backend: false = partitioned parquet ([[graft.store.LogTable]],
      * journaled physical truncation), true = the manifest-committed
      * [[graft.store.TxLogTable]] (metadata-only truncation/append — the
      * reference's in-store transactional truncate,
      * `bolt_store.go:180-197`, without the rewrite).
      */
    transactionalStore: Boolean = false,
    /** Explicit backend injection — how a THIRD conformant backend (the
      * RDBMS pair [[graft.store.JdbcLogStore]]/[[graft.store.JdbcKvStore]],
      * the reference's `postgresql_store.go` shape) plugs in without a
      * boolean per backend. Overrides `transactionalStore` when set.
      */
    storeOverride: Option[graft.store.LogStore] = None,
    kvOverride: Option[graft.store.KeyValueStore] = None
) {

  /** T8 — fixed-backoff retry for per-block tail fetches (a freshly
    * announced head may not be served by an unsynced node yet,
    * ref `tracker.go:803-812`).
    */
  private def withRetry[A](what: String)(f: => A): A = {
    var attempt = 0
    while (true) {
      try return f
      catch {
        case e: Exception =>
          attempt += 1
          if (attempt >= fetchRetries)
            throw new IllegalStateException(
              s"$what failed after $fetchRetries attempts", e)
          if (fetchRetryDelayMs > 0) Thread.sleep(fetchRetryDelayMs)
      }
    }
    sys.error("unreachable")
  }

  val filterHash: String = filter.hash
  val table: graft.store.LogStore = storeOverride.getOrElse {
    if (transactionalStore) new graft.store.TxLogTable(spark, root, filterHash)
    else new LogTable(spark, root, filterHash)
  }
  val kv: graft.store.KeyValueStore =
    kvOverride.getOrElse(new KvStore(spark, root))

  // ── progress surface (T7, ref tracker.go:362-367) ─────────────────────
  private val listeners =
    new java.util.concurrent.CopyOnWriteArrayList[SyncListener]()

  /** Register a progress consumer (idempotent per instance). */
  def addListener(l: SyncListener): Unit =
    if (!listeners.contains(l)) listeners.add(l)

  def removeListener(l: SyncListener): Unit = listeners.remove(l)

  /** Deliver a tick to every listener; a throwing listener loses that tick
    * (lossy-by-contract) and the sync proceeds.
    */
  private def emit(phase: String, origin: Long, target: Long, current: Long,
      appended: Long, startNs: Long): Unit = {
    if (!listeners.isEmpty) {
      val p = SyncProgress(phase, origin, target, current, appended,
        (System.nanoTime() - startNs) / 1000000L)
      listeners.forEach { l =>
        try l.onProgress(p) catch { case _: Throwable => () }
      }
    }
  }

  private val lastBlockKey = s"lastBlock_$filterHash" // ref tracker.go:219
  private val filterKey = s"filter_$filterHash"       // ref tracker.go:195

  // ── chain guard (P4, ref tracker.go:402-444) ──────────────────────────
  /** Set once [[preSyncCheck]] has passed on this instance. */
  @volatile private var guarded = false

  /** Chain-identity guard: every recorded `genesis`/`chainID` must match
    * the provider, a fresh store records both, and the filter is
    * registered. [[sync]] runs it on this instance's first call only, as
    * the reference runs it once when its `Sync` starts: a fresh instance
    * over the same root validates again, a provider that switches chains
    * under a running instance is not re-checked.
    */
  def preSyncCheck(): Unit = {
    // validate every PRESENT key (a crash between first-run writes must
    // not let a wrong-chain provider slip past the guard on restart), and
    // write both keys in ONE atomic KV commit so no partial state exists
    val (g0, c0) = (kv.get("genesis"), kv.get("chainID"))
    g0.foreach(g => if (g != provider.genesisHash()) sys.error("bad genesis"))
    c0.foreach(c => if (c != provider.chainId()) sys.error("bad chain id"))
    if (g0.isEmpty || c0.isEmpty)
      kv.setAll(Map(
        "genesis" -> provider.genesisHash(),
        "chainID" -> provider.chainId()))
    // idempotent filter registry (T10, ref tracker.go:177-211)
    if (kv.get(filterKey).isEmpty)
      kv.set(filterKey, filter.addresses.mkString(",") + "|" +
        filter.topics.map(_.getOrElse("empty")).mkString(","))
    guarded = true
  }

  // ── checkpoint (T3/S11, ref tracker.go:218-247) ───────────────────────
  private val backlogKey = s"headers_$filterHash"

  def checkpoint(): Option[BlockHeader] =
    kv.get(lastBlockKey).filter(_.nonEmpty).map(parseHeader)

  /** The persisted hot-window headers — the blocktracker backlog the
    * reference keeps in memory (`tracker.go:605-609`), durable here so a
    * restarted tracker can reconcile a reorg that happened while it was
    * down, even across blocks that carried no logs.
    */
  def storedBacklog(): Seq[BlockHeader] =
    kv.get(backlogKey).toSeq
      .flatMap(_.split(";").filter(_.nonEmpty).map(parseHeader))

  /** `number|hash|parentHash[|difficulty]` — difficulty (ref
    * `tracker.go:237-240` serializes it with the checkpointed block) was
    * added later; 3-field strings from older stores parse as difficulty 0,
    * the same default the reference applies to a nil Difficulty.
    */
  private def parseHeader(s: String): BlockHeader = {
    val parts = s.split("\\|", 4)
    val d = if (parts.length > 3 && parts(3).nonEmpty) BigInt(parts(3))
      else BigInt(0)
    BlockHeader(parts(0).toLong, parts(1), parts(2), d)
  }

  private def fmtHeader(b: BlockHeader): String =
    s"${b.number}|${b.hash}|${b.parentHash}|${b.difficulty}"

  private def writeCheckpoint(b: BlockHeader): Unit = {
    // one KV rewrite carries both the last block and the header backlog;
    // entries at or above b are dropped first, so a post-reorg re-apply
    // self-heals the stored lineage
    val kept = (storedBacklog().filter(_.number < b.number) :+ b)
      .sortBy(_.number).takeRight(maxBlockBacklog)
    kv.setAll(Map(
      lastBlockKey -> fmtHeader(b),
      backlogKey -> kept.map(fmtHeader).mkString(";")))
  }

  // ── AIMD batch loop (T1, ref tracker.go:327-394) ──────────────────────
  /** Sync `[from, to]` in adaptively-sized batches: halve on a
    * TooManyResults error (multiplicative decrease, ref `tracker.go:356`),
    * recover by +10% of the configured size per success, capped
    * (additive increase, ref `tracker.go:342, 391-394`).
    * Returns the number of batches executed (telemetry for tests).
    */
  def batchSync(from: Long, to: Long): Long = {
    var current = from
    var size = batchSize
    var batches = 0L
    var appended = 0L
    // storeLogs returns the post-append lastIndex; successive differences
    // count this pass's appends from ONE watermark read up front
    var lastEnd = table.lastIndex()
    val startNs = System.nanoTime()
    while (current <= to) {
      val limit = math.min(current + size - 1, to)
      try {
        val logs = provider.getLogs(current, limit, filter)
        val newEnd = table.storeLogs(logs)
        appended += newEnd - lastEnd
        lastEnd = newEnd
        provider.getBlock(limit).foreach(writeCheckpoint)
        batches += 1
        current = limit + 1
        // additive increase toward the configured target
        size = math.min(batchSize, size + math.max(1L, batchSize / 10))
        emit("bulk", from, to, limit, appended, startNs)
      } catch {
        case e: Provider.TooManyResults =>
          // multiplicative decrease; a 1-block range that still overflows
          // can never succeed — surface it instead of livelocking
          if (size <= 1)
            throw new IllegalStateException(
              s"provider rejects a single-block range at $current", e)
          size = math.max(1L, size / 2)
      }
    }
    batches
  }

  /** S5/A1 — fresh filter with a locator: start at (first logged block − 1)
    * like the reference (`tracker.go:500-519`), never before `filter.start`.
    */
  private def fastTrackOrigin(): Long =
    locator
      .filter(_ => filter.addresses.nonEmpty)
      .flatMap(_.firstLogBlock(filter.addresses))
      .map(b => math.max(filter.start, math.max(0L, b - 1)))
      .getOrElse(filter.start)

  /** T2 — full sync: guard (first call only), resume from the checkpoint
    * (or the fastTrack start), bulk-sync up to `head − maxBlockBacklog`,
    * then tail-sync the hot window block-by-block under reorg protection
    * (ref `tracker.go:582-715`).
    *
    * With no checkpoint nothing in the store is committed: its rows were
    * appended by a sync that crashed before its first checkpoint, and they
    * are truncated from index 0 before the sync starts.
    */
  def sync(): SyncReport = {
    if (!guarded) preSyncCheck()
    val head = provider.latestBlock()
    val origin = checkpoint() match {
      case Some(last) =>
        if (last.number > head.number)
          sys.error("store is more advanced than the chain") // T9
        // crash recovery: a torn batch may have appended logs whose
        // checkpoint write never landed — drop everything beyond the
        // checkpoint so the resume is idempotent. The store answers the
        // probe from its metadata (manifest, footer stats, index), so a
        // clean restart runs no Spark job here
        table.firstIndexAbove(last.number).foreach(table.removeLogsFrom)
        if (replacedOffline(last, head)) return reorgResync()
        last.number + 1
      case None =>
        if (table.lastIndex() > 0L) table.removeLogsFrom(0L)
        fastTrackOrigin()
    }
    syncRange(origin, head, Map.empty)
  }

  /** Did the chain replace the checkpointed block while the tracker was
    * down? At the head's height the head's hash answers. When the resume
    * starts in the tail window, the first tail block's parent link answers
    * in [[syncRange]]. Only a resume that starts in the bulk range, whose
    * batches check no links, fetches the checkpointed block again.
    */
  private def replacedOffline(last: BlockHeader, head: BlockHeader): Boolean =
    if (last.number == head.number) last.hash != head.hash
    else if (last.number >= head.number - maxBlockBacklog) false
    else provider.getBlock(last.number).exists(_.hash != last.hash)

  /** Bulk-sync `[origin, head − maxBlockBacklog]`, then tail-sync up to
    * `head`. The tail takes a block's header from `held` (live headers this
    * sync already fetched, by height) or from `head` before asking the
    * provider, and checks every block's parent link either way.
    */
  private def syncRange(origin: Long, head: BlockHeader,
      held: Map[Long, BlockHeader]): SyncReport = {
    if (origin > head.number)
      return SyncReport(0, 0, 0, head.number)
    val bulkEnd = head.number - maxBlockBacklog
    var batches = 0L
    if (bulkEnd >= origin) batches = batchSync(origin, bulkEnd)
    // tail: per-block by hash, reorg-safe (S2, ref tracker.go:699-714)
    val tailStart = math.max(origin, bulkEnd + 1)
    val known = held + (head.number -> head)
    var added = 0L
    // linkage guard: each tail head must extend the previously stored
    // block (ref blocktracker reconcile, tracker.go:571-609) — a
    // parentHash mismatch means the chain forked, offline or mid-tail;
    // appending would mix lineages
    var prev: Option[BlockHeader] = checkpoint()
    var n = tailStart
    val tailStartNs = System.nanoTime()
    while (n <= head.number) {
      // T8 covers the HEADER fetch too: a None from a transiently-unsynced
      // node must not silently skip the block (its logs would be lost
      // forever and the parent-linkage guard would go blind across the gap)
      val b = known.getOrElse(n, withRetry(s"header of block $n") {
        provider.getBlock(n).getOrElse(
          throw new IllegalStateException(s"block $n not served yet"))
      })
      if (prev.exists(p =>
          p.number == b.number - 1 && p.hash != b.parentHash)) {
        val r = reorgResync()
        return SyncReport(batches + r.batches, added + r.added,
          r.removed, r.headNumber)
      }
      // T8: tolerate a transiently-unsynced node on the hot tail. The
      // block's rows must be on the driver when the retry ends: storeLogs
      // evaluates its input, and a lazy provider DataFrame would hit the
      // provider again OUTSIDE the retry (unprotected, and possibly
      // returning different rows than were counted). A frame that is a
      // LocalRelation as built (HttpRpcProvider parses the answer inside
      // this retry) already is, and is used as it is; any other is
      // collected here and rebuilt as one. The tail block's logs are small
      // by construction (one block), and either way they append with no
      // Spark job on both file stores.
      val (logs, c) = withRetry(s"logs of block ${b.hash}") {
        val df = provider.getLogsByHash(b.hash, filter)
        df.queryExecution.logical match {
          case l: LocalRelation => (df, l.data.size.toLong)
          case _ =>
            val rows = df.collect()
            (spark.createDataFrame(java.util.Arrays.asList(rows: _*),
              df.schema), rows.length.toLong)
        }
      }
      added += c
      table.storeLogs(logs)
      writeCheckpoint(b)
      emit("tail", tailStart, head.number, n, added, tailStartNs)
      prev = Some(b)
      n += 1
    }
    SyncReport(batches, added, 0, head.number)
  }

  /** T4 — the chain replaced stored blocks. Walk live headers down from
    * the top stored height and stop at the first whose hash agrees (the
    * reference's `findAncestor`, `tracker.go:291-314`): d+1 `getBlock`
    * calls for a depth-d fork. [[Reconciler.reconcile]] checks the walk
    * against the stored backlog; a walk with no agreeing height has
    * fetched every stored height and throws "reorg deeper than backlog"
    * (ref `tracker.go:313`). Then truncate (retract) the logs above the
    * ancestor, checkpoint the ancestor's walked header, and sync forward to
    * a fresh head with the walked headers held — no second guard or
    * checkpoint re-check. The head is fetched again because the one that
    * led here may be the stale header.
    */
  private def reorgResync(): SyncReport = {
    val last = checkpoint().get
    // prefer the persisted header backlog (covers log-less blocks); fall
    // back to reconstructing hashes from the log table for stores written
    // before the backlog existed
    val stored = {
      val persisted = storedBacklog()
      if (persisted.nonEmpty) persisted
      else {
        // one ranged query for the whole window, not one job per height
        val lo = math.max(0L, last.number - maxBlockBacklog + 1)
        table.read.where(col("block_num").between(lo, last.number))
          .select("block_num", "block_hash").distinct()
          .collect()
          .map(r => BlockHeader(r.getLong(0), r.getString(1), ""))
          .sortBy(_.number).toSeq
      }
    }
    // walk at the STORED heights — the fork point must be provable inside
    // the stored window; anchoring at the current head would make a
    // shallow offline reorg look "deeper than backlog" once the chain has
    // advanced past the window. The walk comes back oldest-first.
    @annotation.tailrec
    def walk(down: List[BlockHeader], acc: List[BlockHeader]): List[BlockHeader] =
      down match {
        case s :: rest => provider.getBlock(s.number) match {
          case Some(live) if live.hash == s.hash => live :: acc
          case live => walk(rest, live.toList ::: acc)
        }
        case Nil => acc
      }
    val walked = walk(stored.sortBy(-_.number).toList, Nil)
    val res = Reconciler.reconcile(stored, walked, maxBlockBacklog)
    // truncate stored logs above the ancestor (S9) — retractions.
    // Indices are dense from 0, so the retracted count is the next index
    // read before the cut minus the cut: metadata only, no Spark job
    val removed = table.firstIndexAbove(res.ancestor).fold(0L) { cut =>
      val next = table.lastIndex()
      table.removeLogsFrom(cut)
      next - cut
    }
    // reset the checkpoint to the common ancestor (prunes forked backlog
    // entries) and resync forward through the normal bulk+tail path —
    // this handles an arbitrarily long gap between ancestor and head.
    // No common block at all (full divergence within tolerance) ⇒ clear
    // the checkpoint entirely so the forward sync restarts fresh instead
    // of re-detecting the same mismatch forever
    val anchor = walked.find(_.number == res.ancestor)
    anchor match {
      case Some(a) => writeCheckpoint(a)
      case None => kv.setAll(Map(lastBlockKey -> "", backlogKey -> ""))
    }
    val head = provider.latestBlock()
    val origin = anchor.fold(fastTrackOrigin()) { a =>
      if (a.number > head.number)
        sys.error("store is more advanced than the chain") // T9
      a.number + 1
    }
    val fwd = syncRange(origin, head, walked.map(h => h.number -> h).toMap)
    // a second fork during the forward resync contributes its own
    // retractions and a fresher head — aggregate, don't drop them
    SyncReport(fwd.batches, fwd.added, removed + fwd.removed, fwd.headNumber)
  }
}

final case class SyncReport(
    batches: Long,
    added: Long,
    removed: Long,
    headNumber: Long
)

/** T7 — one progress tick of a running sync (the reference's lossy SyncCh
  * events, `tracker.go:362-367`): a consumer watching a months-long
  * backfill sees (origin, target, how far, how many logs, how long) after
  * every batch instead of silence until the final [[SyncReport]].
  *
  * @param phase    "bulk" (AIMD batched backfill) or "tail" (per-block hot
  *                 window)
  * @param origin   first block of the current sync pass
  * @param target   last block the pass will reach (the chain head seen at
  *                 sync start)
  * @param current  highest block synced so far
  * @param appended logs appended so far in this pass (cumulative)
  * @param elapsedMs wall-clock since the pass started
  */
final case class SyncProgress(
    phase: String,
    origin: Long,
    target: Long,
    current: Long,
    appended: Long,
    elapsedMs: Long
)

/** Progress consumer. Ticks are emitted from the sync driver loop between
  * batches; a listener that throws is ignored for that tick (delivery is
  * lossy-by-contract, like the reference's buffered channel with
  * select/default — `tracker.go:362-367`), so a misbehaving consumer can
  * never stall or kill a sync.
  */
trait SyncListener {
  def onProgress(p: SyncProgress): Unit
}

/** SyncCh-twin mailbox: a capacity-1 box the producer OVERWRITES — a slow
  * poller sees only the freshest tick, never backpressures the sync
  * (ref `tracker.go:362-367` select/default drop).
  */
final class LatestTickBox extends SyncListener {
  private val box = new java.util.concurrent.atomic.AtomicReference[SyncProgress]()
  override def onProgress(p: SyncProgress): Unit = box.set(p)
  /** The freshest tick, or None before the first emission. */
  def poll(): Option[SyncProgress] = Option(box.get())
}
