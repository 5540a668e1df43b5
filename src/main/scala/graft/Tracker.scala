package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.model.{BlockHeader, FilterConfig}
import graft.reorg.Reconciler
import graft.sync.{FirstLogLocator, Provider, SyncReport, Syncer}

/** Porcelain facade — the `NewTracker → Sync → events` surface of the
  * reference (`tracker.go:151-261`, SURVEY.md §3), one object per standing
  * filter:
  *
  * {{{
  *   val t = Tracker(spark, provider, "/data/tracker", filter)
  *   t.sync()                       // backfill-then-tail batch sync (T2)
  *   t.logs                         // the tracked log as a DataFrame
  *   t.logs.groupBy("address").count()
  *   t.lastBlock                    // checkpoint (T3)
  *   t.reconcile(liveHeaders)       // CDC delta for an incoming chain (T4)
  * }}}
  *
  * Everything here delegates to the layer modules (`sync.Syncer`,
  * `store.LogTable`, `reorg.Reconciler`) — the facade adds no behavior,
  * only the reference-shaped surface.
  */
final class Tracker private (
    provider: Provider,
    val filter: FilterConfig,
    syncer: Syncer,
    maxBlockBacklog: Int
) {

  /** The per-filter log table (S6–S11 store surface). */
  def table: graft.store.LogStore = syncer.table

  /** The tracked log as a queryable DataFrame. */
  def logs: DataFrame = syncer.table.read

  /** T2 — chain guard (first call only) + resume + bulk backfill +
    * reorg-safe tail.
    */
  def sync(): SyncReport = syncer.sync()

  /** T7 — watch a running sync: per-batch [[graft.sync.SyncProgress]]
    * ticks (lossy-by-contract, the reference's SyncCh events,
    * `tracker.go:362-367`). Poll-style consumers can register a
    * [[graft.sync.LatestTickBox]].
    */
  def addSyncListener(l: graft.sync.SyncListener): Unit =
    syncer.addListener(l)

  def removeSyncListener(l: graft.sync.SyncListener): Unit =
    syncer.removeListener(l)

  /** T3 — the checkpointed last-synced block. */
  def lastBlock: Option[BlockHeader] = syncer.checkpoint()

  /** T4 — CDC delta (add/del rows, retractions oldest-first) for an
    * incoming canonical header set, without mutating the store.
    */
  def reconcile(liveHeaders: Seq[BlockHeader]): DataFrame = {
    val stored = syncer.storedBacklog()
    // the tolerance is the tracker's configured backlog, not a re-default
    val res = Reconciler.reconcile(stored, liveHeaders, maxBlockBacklog)
    // fetch ONLY the blocks the reconcile actually adds — logDelta filters
    // to those hashes anyway, and each fetch is a provider round-trip
    val liveLogs = res.added
      .map(h => provider.getLogsByHash(h.hash, filter))
      .reduceOption(_ unionByName _)
      .getOrElse(logs.limit(0)) // no new blocks ⇒ empty add side
    Reconciler.logDelta(logs, liveLogs, res)
  }
}

object Tracker {
  def apply(
      spark: SparkSession,
      provider: Provider,
      root: String,
      filter: FilterConfig = FilterConfig(),
      batchSize: Long = 100L,
      maxBlockBacklog: Int = 10,
      locator: Option[FirstLogLocator] = None,
      /** Store backend of the sync: false = journaled parquet, true =
        * the manifest-committed transactional table (see
        * [[graft.store.TxLogTable]]).
        */
      transactionalStore: Boolean = false
  ): Tracker =
    new Tracker(provider, filter,
      new Syncer(spark, provider, root, filter, batchSize, maxBlockBacklog,
        locator, transactionalStore = transactionalStore),
      maxBlockBacklog)
}
