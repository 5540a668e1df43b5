package graft.store

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.ops.LogOps.HeldRows

/** The backend-agnostic store surface (ref `store/store.go:6-36`): what
  * the sync engine and the streaming ingest actually consume. Two
  * implementations ship:
  *
  *  - [[LogTable]] — plain partitioned parquet; truncation physically
  *    rewrites the affected tail partitions under a crash-safe journal;
  *  - [[TxLogTable]] — a manifest-committed table where truncation and
  *    append are METADATA-ONLY commits (the Delta/Iceberg shape, built
  *    natively: this build deliberately adds no table-format dependency).
  *
  * The two watermark probes the sync loop runs on every pass,
  * [[lastIndex]] and [[firstIndexAbove]], are answered from metadata the
  * store already keeps (the manifest, parquet footers, a primary-key
  * index) with no Spark job; only the trait default scans.
  */
trait LogStore {
  def read: DataFrame
  def lastIndex(): Long

  /** Smallest `indx` whose `block_num > block`; None when no stored log
    * lies above `block`. The sync loop's orphan and reorg cut point: the
    * store is truncated from here. This default scans [[read]].
    */
  def firstIndexAbove(block: Long): Option[Long] =
    LogStore.minIndex(read.where(col("block_num") > block))

  def storeLogs(batch: DataFrame): Long
  def removeLogsFrom(n: Long): DataFrame
  def getLog(n: Long): DataFrame
  def compact(): Unit
}

private[store] object LogStore {
  /** The `block_range` of a driver-held row: `block_num` div
    * `blocksPerRange`, None for a null `block_num`. The value Spark's
    * `floor(block_num / blocksPerRange)` gives the distributed write.
    */
  def blockRange(held: HeldRows,
      blocksPerRange: Long): InternalRow => Option[Long] = {
    val b = held.at("block_num")
    val t = held.schema(b).dataType
    row => if (row.isNullAt(b)) None
      else Some(Math.floorDiv(
        row.get(b, t).asInstanceOf[Number].longValue(), blocksPerRange))
  }

  /** `min(indx)` of `rows`; None when it is empty. */
  def minIndex(rows: DataFrame): Option[Long] = {
    val r = rows.agg(min("indx")).head()
    if (r.isNullAt(0)) None else Some(r.getLong(0))
  }

  /** A stored part's bounds (a data file, a manifest entry): its first
    * visible index and a block range that contains every visible row's
    * `block_num` (it may be wider).
    */
  final case class Span(minIndx: Long, minBlock: Long, maxBlock: Long)

  /** [[LogStore.firstIndexAbove]] from per-part bounds: a part with
    * `maxBlock <= block` holds nothing above `block`, and one with
    * `minBlock > block` holds only rows above it, so its first index is
    * `minIndx`. Only the straddling parts that could still lower that
    * answer are scanned, through `scan`, so the common probe (nothing
    * stored above the checkpoint) runs no Spark job.
    */
  def firstIndexAbove[A](block: Long, parts: Seq[A])(span: A => Span)(
      scan: Seq[A] => DataFrame): Option[Long] = {
    val (clear, straddling) = parts.filter(span(_).maxBlock > block)
      .partition(span(_).minBlock > block)
    val best = clear.map(span(_).minIndx).minOption
    val todo = straddling.filter(p => best.forall(span(p).minIndx < _))
    val scanned =
      if (todo.isEmpty) None
      else minIndex(scan(todo).where(col("block_num") > block))
    (best.toSeq ++ scanned).minOption
  }
}

/** Transactional log table: immutable per-commit parquet directories plus
  * a versioned MANIFEST naming the live directories — the snapshot-
  * isolation design of Delta Lake / Iceberg, built on the machinery this
  * store layer already trusts ([[KvStore]]'s create-if-absent version
  * commit is the atomic pointer).
  *
  * Why: [[LogTable]]'s truncation is crash-safe but PHYSICAL — survivors
  * of the affected tail partitions are rewritten and swapped under a
  * journal. The reference's backends truncate atomically in the store
  * (`/root/reference/store/boltdb/bolt_store.go:180-197`,
  * `postgresql_store.go:153-158`); here a truncation is ONE manifest
  * commit that drops whole entries and puts an exclusive index CAP on the
  * boundary entry (a deletion-vector-lite readers apply as an `indx <
  * cap` filter) — O(1) files touched at ANY table size, no journal, no
  * rename windows, no recovery protocol beyond the manifest pointer
  * itself.
  *
  * The manifest is VERSIONED: every commit advances `version` by one and
  * retains the last [[retainVersions]] manifests in the same atomic KV
  * commit (read and written on the driver, with no Spark job), giving
  * `VERSION AS OF` time travel ([[readAt]]), a `DESCRIBE HISTORY` surface
  * ([[history]]), and snapshot-protected [[vacuum]]. Commits are
  * optimistic compare-and-sets: a writer that loses the race gets
  * [[ConcurrentCommitException]] and REBASES (an append recomputes its
  * indices from the fresh watermark), so concurrent appenders serialize
  * with contiguous indices and no loss.
  *
  * Commit protocol (optimistic writers, concurrent readers):
  *  1. append: write the batch to a fresh `data/c<nanos>` directory
  *     (invisible — not in any manifest), then commit a manifest that
  *     appends one entry {dir, minIndx, maxIndx, minBlock, maxBlock,
  *     cap=∞}. A crash before the commit leaves an orphan dir that
  *     [[vacuum]] sweeps once stale; a crash after is a complete append.
  *  2. truncate at n: commit a manifest that drops entries with
  *     minIndx ≥ n and caps the boundary entry at n. NO data I/O —
  *     dropped directories stay on disk (still serving any in-flight
  *     reader of the OLD snapshot) until [[vacuum]].
  *  3. compact: rewrite the live rows (caps applied) into one fresh
  *     directory, then commit a single-entry manifest — same two-step
  *     append shape, so it needs no journaled partition swap at all
  *     (contrast [[PartitionSwap]]).
  *
  * Scale: the manifest is O(live commits) driver-side metadata (bounded
  * by compaction), never row data; reads prune whole directories by the
  * manifest's [minIndx, effective-max] (and [minBlock, maxBlock]) before
  * parquet footer stats prune within them; appends assign indices
  * through the same [[graft.ops.LogOps.withAppendIndexes]] as
  * [[LogTable.storeLogs]] — a driver-held batch is written on the driver
  * with no Spark job, then the manifest commit; any other batch takes the
  * ranged two-pass scheme with no single-partition stage.
  */
final class TxLogTable(spark: SparkSession, root: String, filterHash: String,
    val blocksPerRange: Long = 10000L,
    val retainVersions: Int = 32,
    kvRetainVersions: Int = KvStore.retainKvVersions) extends LogStore {

  private val dataDir = TxLogTable.dataDir(root, filterHash)

  /** The manifest log ([[TxLogTable.manifestLog]]). `kvRetainVersions` is
    * the reader-window dial on that pointer store: raise it when a commit
    * storm (streaming micro-commits) overlaps slow manifest readers (a
    * long CDC poll, a pinned history scan).
    */
  private val meta =
    TxLogTable.manifestLog(spark, root, filterHash, kvRetainVersions)

  import TxLogTable.{dec, enc, historyPrefix, manifestKey, Entry, Manifest}

  private[store] def manifest(): Manifest = TxLogTable.manifestOf(meta)

  /** Current manifest plus the KV commit version it was read at — the
    * snapshot every mutation validates against at commit time (optimistic
    * concurrency: the manifest pointer can only advance from the state
    * the mutation was computed on).
    */
  private def current(): (Manifest, Long) = {
    val (v, kv) = meta.getWithVersion(manifestKey)
    (v.filter(_.nonEmpty).map(dec).getOrElse(Manifest(0L, Seq.empty)), kv)
  }

  /** One atomic KV commit carries the advanced pointer, the new history
    * snapshot, and the history prune — so time travel can never observe a
    * pointer/history mismatch. `expectedKv` makes it a compare-and-set:
    * a concurrent committer's interleaved commit aborts this one with
    * [[ConcurrentCommitException]] and the caller rebases.
    */
  private def commit(m0: Manifest, expectedKv: Long): Unit = {
    // stamp the commit wall-clock (TIMESTAMP AS OF; best-effort across
    // writers, the Delta caveat — versions, not clocks, are the truth)
    val m = m0.copy(ts = System.currentTimeMillis())
    val floorV = m.version - retainVersions + 1
    meta.setAll(
      Map(manifestKey -> enc(m), s"$historyPrefix${m.version}" -> enc(m)),
      drop = k => k.startsWith(historyPrefix) && {
        val p = k.stripPrefix(historyPrefix)
        p.forall(_.isDigit) && p.toLong < floorV
      },
      expectedVersion = Some(expectedKv))
  }

  private def logSchema = TxLogTable.logSchema

  private def emptyLogs: DataFrame =
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], logSchema)

  private def path(e: Entry): String = s"$dataDir/${e.name}"

  def exists: Boolean = manifest().entries.nonEmpty

  /** Snapshot read: the union of live directories with each capped
    * entry's deletion filter applied. Uncapped entries (the overwhelming
    * majority — at most a handful of boundary entries carry caps between
    * compactions) scan as ONE multi-path parquet relation, so file
    * listing, schema and footer pruning stay a single scan node.
    */
  def read: DataFrame = readOf(manifest())

  private def readOf(m: Manifest): DataFrame =
    if (m.entries.isEmpty) emptyLogs
    else {
      val (capped, uncapped) = m.entries.partition(_.capped)
      val parts =
        (if (uncapped.nonEmpty)
          Seq(spark.read.schema(logSchema).parquet(uncapped.map(path): _*))
        else Seq.empty) ++
        capped.map(e => spark.read.schema(logSchema).parquet(path(e))
          .where(col("indx") < e.cap))
      parts.reduce(_ unionByName _)
    }

  /** Current table version — advances by one per committed mutation. */
  def version(): Long = manifest().version

  private def retained(): Seq[Manifest] = TxLogTable.retainedOf(meta)

  /** Time travel: the table exactly as of commit `version` — dropped
    * directories outlive their manifest until [[vacuum]] (which protects
    * every RETAINED snapshot), so any of the last [[retainVersions]]
    * states reads with full snapshot isolation. This is the Delta/Iceberg
    * `VERSION AS OF` shape, free once commits are immutable manifests.
    */
  def readAt(version: Long): DataFrame =
    retained().find(_.version == version) match {
      case Some(m) => readOf(m)
      case None =>
        val have = retained().map(_.version)
        throw new IllegalArgumentException(
          s"version $version not retained (have ${have.mkString(",")}; " +
            s"retainVersions=$retainVersions)")
    }

  /** `TIMESTAMP AS OF`: the newest retained snapshot committed at or
    * before `tsMillis` — the Delta shape, resolved against the commit
    * stamps the manifests carry. Commit clocks are best-effort across
    * writers (versions are the truth; a wall-clock regression between
    * racing writers resolves to the highest qualifying VERSION, not the
    * latest clock).
    */
  def readAtTimestamp(tsMillis: Long): DataFrame = {
    val candidates = retained().filter(_.ts <= tsMillis)
    if (candidates.isEmpty) {
      val oldest = retained().headOption.map(_.ts)
      throw new IllegalArgumentException(
        s"no retained commit at or before $tsMillis" +
          oldest.map(t => s" (oldest retained committed at $t)").getOrElse(""))
    }
    readOf(candidates.maxBy(_.version))
  }

  /** Change-data-feed between two retained versions — the Delta CDF
    * `table_changes` shape: one row per changed log per commit, tagged
    * `_change_type` (insert | delete) and `_commit_version`.
    *
    * The table's visible content at any version is exactly the contiguous
    * index interval `[0, lastIndex)` (appends extend it, truncations cut
    * it, compactions preserve it), so the feed is pure INTERVAL
    * arithmetic over the retained manifests — no join, no diff shuffle:
    * an append contributes its `[prev, cur)` inserts read from its own
    * snapshot, a truncation contributes `[cur, prev)` deletes read from
    * the PRE-truncation snapshot (the dropped rows live on in its
    * retained data files), and compaction/zorder contribute nothing. The
    * per-commit index filters push down to the parquet scans, so each
    * step reads only its delta. A reorg shows up exactly as the
    * reference's reconciler emits it: deletes of the orphaned suffix at
    * the truncation commit, inserts of the canonical replacement at the
    * next append.
    */
  def changesBetween(fromVersion: Long, toVersion: Long): DataFrame = {
    require(fromVersion <= toVersion,
      s"fromVersion $fromVersion > toVersion $toVersion")
    // version 0 is the implicit empty table, so from=0 means "everything
    // since creation" (valid while commit 1 is still retained)
    val byV = retained().map(m => m.version -> m).toMap +
      (0L -> Manifest(0L, Seq.empty))
    (fromVersion to toVersion).foreach(v => require(byV.contains(v),
      s"version $v not retained (have ${byV.keys.toSeq.sorted.mkString(",")})"))
    // entries pruned per commit BEFORE any scan exists (same arithmetic
    // as the streaming source's planner) — a capped boundary entry whose
    // visible range misses the interval contributes no plan branch at all
    def slice(m: Manifest, lo: Long, hi: Long): Option[DataFrame] =
      m.entries.flatMap { e =>
        val l = math.max(lo, e.minIndx)
        val h = math.min(hi, math.min(e.cap, e.maxIndx + 1))
        if (l < h)
          Some(spark.read.schema(logSchema).parquet(path(e))
            .where(col("indx") >= l && col("indx") < h))
        else None
      }.reduceOption(_ unionByName _)
    val tagged = (fromVersion + 1 to toVersion).flatMap { v =>
      val (prev, cur) = (byV(v - 1), byV(v))
      (cur.op match {
        case "append" => slice(cur, prev.lastIndex, cur.lastIndex)
          .map(_.withColumn("_change_type", lit("insert")))
        case "truncate" => slice(prev, cur.lastIndex, prev.lastIndex)
          .map(_.withColumn("_change_type", lit("delete")))
        case _ => None // compact/zorder: physical only, no logical change
      }).map(_.withColumn("_commit_version", lit(v)))
    }
    if (tagged.isEmpty)
      emptyLogs.withColumn("_change_type", lit(""))
        .withColumn("_commit_version", lit(0L)).limit(0)
    else tagged.reduce(_ unionByName _)
  }

  /** Commit log, newest first — `DESCRIBE HISTORY` parity: one row per
    * retained commit (version, operation, commit wall-clock, resulting
    * watermark, live entry/capped-entry counts).
    */
  def history(): DataFrame = {
    import spark.implicits._
    retained().sortBy(-_.version)
      .map(m => (m.version, m.op, m.ts, m.lastIndex,
        m.entries.length.toLong, m.entries.count(_.capped).toLong))
      .toDF("version", "operation", "commit_ts", "last_index", "entries",
        "capped_entries")
  }

  /** O(1): the manifest carries the watermark — no scan, no max() job
    * (contrast [[LogTable.lastIndex]], which lists the data files and
    * reads each new file's footer once).
    */
  def lastIndex(): Long = manifest().lastIndex

  /** From the manifest entries' bounds: every live entry's `minIndx` is
    * visible (`minIndx < cap`), and its block bounds cover its visible
    * rows. Only a straddling entry is scanned, with its cap applied.
    */
  override def firstIndexAbove(block: Long): Option[Long] =
    LogStore.firstIndexAbove(block, manifest().entries)(e =>
      LogStore.Span(e.minIndx, e.minBlock, e.maxBlock)) {
      _.map(e => spark.read.schema(logSchema).parquet(path(e))
        .where(col("indx") < e.cap)).reduce(_ unionByName _)
    }

  def storeLogs(batch: DataFrame): Long = storeLogs(batch, crashAt = "")

  /** Test seam: runs between the invisible data write and the manifest
    * commit — a spec injects a competing committer here to exercise the
    * rebase path deterministically (thread races would be flaky).
    */
  private[graft] var beforeCommit: () => Unit = () => ()

  /** Append = one invisible data write + one manifest commit. The data
    * write of a driver-held batch runs on the driver through Spark's
    * parquet write support ([[Bridge.ParquetFiles]], java.nio on a local
    * root): one file in the new commit dir, no job and no query plan. Any
    * other batch is one Spark write. The commit
    * is a compare-and-set against the manifest read at entry; losing the
    * race REBASES — the batch's indices derive from the stale lastIndex,
    * so the data is rewritten from the fresh base and the stale directory
    * becomes vacuum garbage. Two concurrent appenders thus serialize with
    * contiguous indices and no loss (contrast the blind read-modify-write
    * this replaces, which would silently drop the first committer's rows).
    */
  private[graft] def storeLogs(batch: DataFrame, crashAt: String): Long = {
    var attempt = 0
    while (true) {
      val (m, kv) = current()
      val base = m.lastIndex
      try {
        return graft.ops.LogOps.withAppendIndexes(batch, base) { b =>
          if (b.n == 0L) base
          else {
            val name = s"c${System.nanoTime()}"
            // the commit dir is invisible until the manifest names it, so
            // a driver-held batch is written straight to its final name
            b.held match {
              case Some(h) =>
                val (schema, rows) = asLogSchema(h)
                new Bridge.ParquetFiles(spark, schema)
                  .write(new Path(s"$dataDir/$name"), rows)
              case None => b.rows
                .withColumn("block_range",
                  floor(col("block_num") / lit(blocksPerRange)))
                .select(logSchema.fieldNames.map(col): _*)
                .write.parquet(s"$dataDir/$name")
            }
            InjectedCrash.at("after-data-write", crashAt)
            beforeCommit()
            commit(Manifest(base + b.n, m.entries :+ Entry(name, base,
              base + b.n - 1, b.minBlock, b.maxBlock, Long.MaxValue),
              m.version + 1, "append"), kv)
            base + b.n
          }
        }
      } catch {
        case _: ConcurrentCommitException if attempt < 16 => attempt += 1
        // the stale `name` dir is unreferenced garbage for vacuum
      }
    }
    sys.error("unreachable")
  }

  /** A driver-held batch as the Spark write lays it out: `logSchema`'s
    * columns in its order under the batch's types, with `block_range`
    * computed per row and typed as `floor(block_num / n)` types it, a
    * nullable long.
    */
  private def asLogSchema(h: HeldRows): (StructType, Iterator[InternalRow]) = {
    val range = LogStore.blockRange(h, blocksPerRange)
    val src = logSchema.fieldNames.toSeq
      .map(f => if (f == "block_range") -1 else h.at(f))
    val types = h.schema.map(_.dataType)
    (StructType(src.map(i =>
      if (i < 0) StructField("block_range", LongType) else h.schema(i))),
      h.rows.iterator.map(r => InternalRow.fromSeq(src.map(i =>
        if (i < 0) range(r).map(Long.box).orNull else r.get(i, types(i))))))
  }

  /** S9 — truncation as ONE metadata commit: drop entries fully above
    * `n`, cap the boundary entries at `n`. Zero data I/O on the live
    * table — the store parity point this class exists for (bolt/postgres
    * truncate transactionally in the store; LogTable must rewrite).
    *
    * Returns the removed logs ascending as a LAZY, DISTRIBUTED frame
    * over the retained pre-truncation snapshot — no driver
    * materialization, so `removeLogsFrom(0)` on a billion-row table is a
    * metadata commit plus a DataFrame the caller scans like any other
    * (contrast [[LogTable.removeLogsFrom]], which pins the reorg-bounded
    * removed set driver-side). The dropped directories outlive the
    * commit under snapshot retention, and [[vacuum]] additionally gates
    * deletion on age-since-dereference, so the result stays readable for
    * the full retention + grace window.
    */
  def removeLogsFrom(n: Long): DataFrame = {
    var attempt = 0
    while (true) {
      val (m, kv) = current()
      val hit = m.entries.filter(_.effectiveMax >= n)
      if (hit.isEmpty) return emptyLogs
      // per-entry reads so an already-capped entry's INVISIBLE tail (rows
      // a previous truncation removed) cannot resurface in this removal's
      // result
      val removed = hit.map { e =>
        spark.read.schema(logSchema).parquet(path(e))
          .where(col("indx") >= n && col("indx") < e.cap)
      }.reduce(_ unionByName _)
      val survivors = m.entries.flatMap { e =>
        if (e.minIndx >= n) None
        else if (e.effectiveMax >= n) Some(e.copy(cap = n))
        else Some(e)
      }
      try {
        commit(Manifest(math.min(m.lastIndex, n), survivors,
          m.version + 1, "truncate"), kv)
        return removed.orderBy("indx")
      } catch {
        // pure metadata recompute — rebase by re-reading the manifest
        case _: ConcurrentCommitException if attempt < 16 => attempt += 1
      }
    }
    sys.error("unreachable")
  }

  /** S10 — point read: the manifest prunes to the ONE directory whose
    * effective range contains `n` before any file is listed.
    */
  def getLog(n: Long): DataFrame = {
    val hits = manifest().entries
      .filter(e => e.minIndx <= n && n <= e.effectiveMax)
    if (hits.isEmpty) emptyLogs
    else spark.read.schema(logSchema).parquet(hits.map(path): _*)
      .where(col("indx") === n)
  }

  /** Layout maintenance, transactionally: rewrite the live rows (caps
    * applied) clustered by block order into ONE fresh directory, commit a
    * single-entry manifest. The old directories become unreferenced
    * garbage for [[vacuum]] — no journaled partition swap, because the
    * manifest pointer IS the swap.
    */
  def compact(): Unit =
    compactClustered(df => df.repartitionByRange(col("indx"))
      .sortWithinPartitions("indx"), "compact")

  /** Two-dimensional layout maintenance, transactionally — the
    * [[LogTable.compactZOrdered]] twin: one fresh commit clustered by a
    * Morton key over (partition-relative block, address hash), so both
    * ranged scans and address-filtered standing queries prune row
    * groups; the manifest pointer is the whole swap.
    */
  def compactZOrdered(bits: Int = 16): Unit = {
    val z = graft.ops.Layout.logZorderKey(blocksPerRange, bits)
    compactClustered(df => df.repartition(col("block_range"))
      .sortWithinPartitions(z), "zorder")
  }

  private def compactClustered(
      cluster: DataFrame => DataFrame, op: String): Unit = {
    var attempt = 0
    while (attempt <= 16) {
      val (m, kv) = current()
      if (m.entries.isEmpty) return
      val name = s"c${System.nanoTime()}"
      cluster(readOf(m)).write.parquet(s"$dataDir/$name")
      val minIndx = m.entries.map(_.minIndx).min
      val maxIndx = m.entries.map(_.effectiveMax).max
      // block bounds carried conservatively (a cap can only shrink them;
      // pruning stays correct with the wider bound)
      try {
        commit(Manifest(m.lastIndex, Seq(Entry(name, minIndx, maxIndx,
          m.entries.map(_.minBlock).min, m.entries.map(_.maxBlock).max,
          Long.MaxValue)), m.version + 1, op), kv)
        return
      } catch {
        // a concurrent append/truncate invalidated the rewrite; the stale
        // dir is vacuum garbage — redo over the fresh snapshot
        case _: ConcurrentCommitException if attempt < 16 => attempt += 1
      }
    }
  }

  /** Auto-compaction policy for commit-per-micro-batch writers (the
    * streaming ingest appends one entry per batch): when the live
    * manifest exceeds `maxEntries`, INCREMENTALLY bin-pack it — the
    * Delta OPTIMIZE / Iceberg binpack shape, not a full rewrite.
    *
    * Policy (one physical commit, op `optimize`):
    *  1. adjacent entries below `smallRows` visible rows merge into one
    *     directory each run — under streaming this collapses the tail of
    *     per-batch micro-commits into one growing entry that FREEZES once
    *     it crosses `smallRows`, so per-maintain I/O is bounded by
    *     `smallRows + maxEntries·batch` rows NO MATTER HOW LARGE the
    *     table is (the old policy rewrote the whole table: O(table)
    *     amortized per `maxEntries` appends);
    *  2. if the manifest would still exceed `maxEntries ⁄ 2` entries
    *     (many frozen runs), the adjacent pair with the fewest combined
    *     rows merges, repeatedly — an LSM-style ladder that bounds the
    *     manifest at O(maxEntries) with amortized O(log table) rewrites
    *     per row, the floor for bounded-metadata compaction.
    *
    * Untouched entries keep their directories byte-identical (physical-
    * only commit for them), the feed and time travel are unaffected
    * (`optimize` contributes nothing to the CDF), and history retention
    * protects pre-optimize snapshots until they age out. Explicit
    * [[compact]]/[[compactZOrdered]] remain the full-rewrite tools.
    * Returns true when it committed an optimize.
    */
  def maintain(maxEntries: Int = 64, smallRows: Long = 64L * 1024): Boolean = {
    require(maxEntries > 0, s"maxEntries must be positive, got $maxEntries")
    var attempt = 0
    while (attempt <= 16) {
      val (m, kv) = current()
      if (m.entries.length <= maxEntries) return false
      val groups = TxLogTable.binpackGroups(m.entries,
        math.max(1, maxEntries / 2), smallRows)
      if (!groups.exists(_.length > 1)) return false
      val newEntries = groups.map { g =>
        if (g.length == 1) g.head
        else {
          val name = s"c${System.nanoTime()}"
          g.map(e => spark.read.schema(logSchema).parquet(path(e))
              .where(col("indx") < e.cap))
            .reduce(_ unionByName _)
            .repartitionByRange(col("indx")).sortWithinPartitions("indx")
            .write.parquet(s"$dataDir/$name")
          Entry(name, g.map(_.minIndx).min, g.map(_.effectiveMax).max,
            g.map(_.minBlock).min, g.map(_.maxBlock).max, Long.MaxValue)
        }
      }
      try {
        commit(Manifest(m.lastIndex, newEntries, m.version + 1, "optimize"),
          kv)
        return true
      } catch {
        // a concurrent append/truncate moved the manifest; the stale
        // rewrite dirs are vacuum garbage — replan over the fresh snapshot
        case _: ConcurrentCommitException => attempt += 1
      }
    }
    false
  }

  /** Export a snapshot as PLAIN parquet plus a one-file manifest — the
    * external-engine interop path: the tx table's manifest format is
    * deliberately homegrown (no Delta/Iceberg dependency), so snapshots
    * cross the engine boundary as ordinary parquet any reader (DuckDB in
    * the harness) scans directly. Data lands index-clustered under
    * `path/data`; `path/MANIFEST` records the snapshot version, its
    * lastIndex and the exported file names (`k=v` lines + one `file=`
    * line per part, the same plain codec style as the manifest).
    *
    * The export is a MATERIALIZED copy, not a view: the snapshot's cap
    * filters are applied while writing, so external readers need zero
    * knowledge of entries/caps — and the copy stays readable after the
    * source version ages out of retention or is vacuumed. The declared
    * `tx_export` query proves the round trip: DuckDB reads the export
    * and hash-matches [[readAt]] of the same version.
    *
    * @return the exported snapshot's version
    */
  def exportSnapshot(path: String, version: Option[Long] = None): Long = {
    val (v, df) = version match {
      case Some(x) => (x, readAt(x))
      case None    => val m = manifest(); (m.version, readOf(m))
    }
    val lastIdx = version match {
      case Some(x) => retained().find(_.version == x).map(_.lastIndex)
        .getOrElse(manifest().lastIndex)
      case None => manifest().lastIndex
    }
    df.repartitionByRange(col("indx")).sortWithinPartitions("indx")
      .write.mode("overwrite").parquet(s"$path/data")
    val dataPath = new org.apache.hadoop.fs.Path(s"$path/data")
    val fs = dataPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files = fs.listStatus(dataPath).toSeq
      .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
      .map(_.getPath.getName).sorted
    val manifestTxt =
      (Seq(s"version=$v", s"last_index=$lastIdx", s"files=${files.length}") ++
        files.map(f => s"file=$f")).mkString("", "\n", "\n")
    val out = fs.create(
      new org.apache.hadoop.fs.Path(path, "MANIFEST"), true)
    try out.write(manifestTxt.getBytes("UTF-8")) finally out.close()
    v
  }

  /** Import a PLAIN-parquet snapshot (an [[exportSnapshot]] layout, or
    * any externally-written schema-conforming parquet under
    * `path/data`) as ONE new commit that REPLACES the table's visible
    * content — the inverse of [[exportSnapshot]], closing the interop
    * loop: export → foreign engine → import → [[readAt]] equality
    * (TxStoreSpec round-trips it; the declared `tx_import` query's
    * DuckDB oracle reads the same export).
    *
    * Conformance is by NAME, not position: `block_range` is derived when
    * absent (external writers don't know the clustering column), other
    * columns are cast to the log schema. The index contract is
    * validated, not trusted — indices must be non-negative, dense and
    * duplicate-free (`count == max−min+1 == countDistinct` plus
    * `min ≥ 0`; a gapped or duplicated external file would silently
    * corrupt watermark arithmetic downstream). `lastIndex` comes from `path/MANIFEST`
    * when present (an exported-after-truncation snapshot can carry a
    * watermark above max+1), else `max indx + 1`.
    *
    * Replace semantics keep it a snapshot RESTORE (prior content stays
    * time-travelable for the retention window, like any commit);
    * importing as an append is just `storeLogs(spark.read.parquet(...))`
    * and needs no new surface.
    *
    * @return the new table version
    */
  def importSnapshot(path: String): Long = {
    val src = spark.read.parquet(s"$path/data")
    val withRange =
      if (src.columns.contains("block_range")) src
      else src.withColumn("block_range",
        floor(col("block_num") / lit(blocksPerRange)))
    val rows = withRange
      .select(logSchema.fields.toIndexedSeq.map(f =>
        col(f.name).cast(f.dataType).as(f.name)): _*)
      .persist()
    try {
      val st = rows.agg(count(lit(1)), min("indx"), max("indx"),
        min("block_num"), max("block_num"),
        countDistinct(col("indx"))).head()
      val n = st.getLong(0)
      require(n > 0, s"empty snapshot under $path/data")
      val (minI, maxI) = (st.getLong(1), st.getLong(2))
      // count == max−min+1 alone admits a duplicate paired with a gap
      // ([0,2,2] has min=0 max=2 count=3); the distinct count closes it
      require(minI >= 0 && maxI - minI + 1 == n && st.getLong(5) == n,
        s"snapshot indices must be dense, duplicate-free and " +
          s"non-negative: min=$minI max=$maxI count=$n " +
          s"distinct=${st.getLong(5)}")
      val manifestLastIndex = {
        val p = new org.apache.hadoop.fs.Path(path, "MANIFEST")
        val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        if (!fs.exists(p)) None
        else {
          val in = fs.open(p)
          val txt =
            try scala.io.Source.fromInputStream(in, "UTF-8").mkString
            finally in.close()
          txt.linesIterator.collectFirst {
            case l if l.startsWith("last_index=") =>
              l.stripPrefix("last_index=").trim.toLong
          }
        }
      }
      val lastIdx = manifestLastIndex.getOrElse(maxI + 1L)
      require(lastIdx >= maxI + 1L,
        s"snapshot watermark $lastIdx below max index $maxI + 1")
      val name = s"c${System.nanoTime()}"
      rows
        .repartitionByRange(col("indx")).sortWithinPartitions("indx")
        .write.parquet(s"$dataDir/$name")
      var attempt = 0
      while (true) {
        val (m, kv) = current()
        try {
          commit(Manifest(lastIdx, Seq(Entry(name, minI, maxI,
            st.getLong(3), st.getLong(4), Long.MaxValue)),
            m.version + 1, "import"), kv)
          return m.version + 1
        } catch {
          // the data directory is base-independent (indices come from
          // the snapshot, not the manifest) — rebase is re-reading the
          // pointer, never rewriting data
          case _: ConcurrentCommitException if attempt < 16 => attempt += 1
        }
      }
      sys.error("unreachable")
    } finally rows.unpersist()
  }

  /** Sweep data directories no RETAINED manifest references —
    * truncation/compaction garbage (once its snapshots age out of the
    * history window), crashed pre-commit appends, and rebased-away append
    * attempts. Time-travel safety: every directory any retained snapshot
    * names survives, so [[readAt]] stays whole for the full
    * [[retainVersions]] window.
    *
    * `olderThanMs` is AGE SINCE DEREFERENCE, not age since write: the
    * first vacuum pass that observes a directory unreferenced stamps a
    * hidden `.dropped` marker inside it (hidden files are invisible to
    * every reader); deletion requires the marker itself to be at least
    * `olderThanMs` old. A directory written hours ago whose snapshot
    * aged out a moment ago therefore survives a full grace window for
    * any in-flight reader of that just-expired snapshot — as does an
    * in-flight append's not-yet-committed directory: a marker stamped
    * during the pre-commit window is DELETED here the moment the
    * directory is observed live (without this sweep the stale marker
    * would survive inside the committed directory, and the first vacuum
    * after a later genuine dereference would see a clock already past
    * the grace and delete with zero grace for draining readers). Tests
    * pass 0 to collect immediately.
    */
  def vacuum(olderThanMs: Long = 60L * 60 * 1000): Int = {
    val live = (manifest().entries ++ retained().flatMap(_.entries))
      .map(_.name).toSet
    val base = new org.apache.hadoop.fs.Path(dataDir)
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(base)) return 0
    val now = System.currentTimeMillis()
    val listing = fs.listStatus(base).toSeq
    // live directories shed any marker a racing pre-commit vacuum left:
    // the grace clock must start at DEREFERENCE, never earlier
    listing
      .filter(st => st.isDirectory && live.contains(st.getPath.getName))
      .foreach { st =>
        val marker = new org.apache.hadoop.fs.Path(st.getPath, ".dropped")
        try { fs.delete(marker, false); () }
        catch { case _: java.io.IOException => () }
      }
    val victims = listing
      .filter(st => st.isDirectory && !live.contains(st.getPath.getName))
      .filter { st =>
        val marker = new org.apache.hadoop.fs.Path(st.getPath, ".dropped")
        val droppedAt =
          try Some(fs.getFileStatus(marker).getModificationTime)
          catch {
            case _: java.io.FileNotFoundException =>
              // first observation unreferenced — stamp the grace clock
              try { fs.create(marker, false).close(); Some(now) }
              catch { case _: java.io.IOException => None } // racing vacuum
          }
        droppedAt.exists(now - _ >= olderThanMs)
      }
    victims.foreach(st => fs.delete(st.getPath, true))
    victims.length
  }
}

/** Manifest model, codec and location, shared with the streaming CDC
  * source ([[graft.stream.TxCdcSource]] polls the same manifest log).
  */
private[graft] object TxLogTable {

  private[graft] def dataDir(root: String, filterHash: String): String =
    s"$root/txlogs/filter_hash=$filterHash/data"

  /** The table's manifest log: one KV key holds the encoded live manifest,
    * one `manifest@v<N>` key per retained snapshot. Its version commit is
    * the table's atomic pointer.
    */
  private[graft] def manifestLog(spark: SparkSession, root: String,
      filterHash: String, retain: Int = KvStore.retainKvVersions): KvStore =
    new KvStore(spark, s"$root/txlogs_meta/filter_hash=$filterHash", retain)

  private val manifestKey = "manifest"
  private val historyPrefix = s"$manifestKey@v"

  private[graft] def manifestOf(meta: KvStore): Manifest =
    meta.get(manifestKey).filter(_.nonEmpty).map(dec)
      .getOrElse(Manifest(0L, Seq.empty))

  /** Retained snapshots, oldest first. */
  private[graft] def retainedOf(meta: KvStore): Seq[Manifest] =
    meta.getPrefix(historyPrefix).map(kv => dec(kv._2)).sortBy(_.version)

  private[graft] val logSchema = StructType(Seq(
    StructField("tx_index", LongType), StructField("tx_hash", StringType),
    StructField("block_num", LongType), StructField("block_hash", StringType),
    StructField("address", StringType),
    StructField("topics", ArrayType(StringType)),
    StructField("data", StringType), StructField("indx", LongType),
    StructField("block_range", LongType)))

  /** One live data directory: `[minIndx, maxIndx]` as written, `cap` an
    * EXCLUSIVE upper bound on visible indices (Long.MaxValue = uncapped);
    * block bounds for range pruning. Effective range =
    * [minIndx, min(maxIndx, cap-1)].
    */
  private[graft] case class Entry(name: String, minIndx: Long, maxIndx: Long,
      minBlock: Long, maxBlock: Long, cap: Long) {
    def effectiveMax: Long = math.min(maxIndx, cap - 1)
    def capped: Boolean = cap <= maxIndx
  }
  private[graft] case class Manifest(lastIndex: Long, entries: Seq[Entry],
      version: Long = 0L, op: String = "", ts: Long = 0L)

  /** Bin-packing plan for [[TxLogTable.maintain]]: partition the entries
    * (in index order) into groups; each multi-entry group is rewritten
    * into one directory, singletons stay byte-identical. Phase 1 merges
    * ADJACENT runs of entries below `smallRows` visible rows (the
    * streaming micro-commit tail); phase 2 ladders the adjacent pair with
    * the fewest combined rows until at most `targetGroups` remain, so the
    * manifest stays bounded even as frozen runs accumulate. Pure
    * planning — no I/O — so it unit-tests exhaustively.
    */
  private[graft] def binpackGroups(entries: Seq[Entry], targetGroups: Int,
      smallRows: Long): Vector[Vector[Entry]] = {
    def rows(e: Entry): Long = e.effectiveMax - e.minIndx + 1
    def small(e: Entry): Boolean = rows(e) < smallRows
    val sorted = entries.sortBy(_.minIndx).toVector
    var groups = Vector.empty[Vector[Entry]]
    for (e <- sorted) {
      if (groups.nonEmpty && small(e) && groups.last.forall(small))
        groups = groups.init :+ (groups.last :+ e)
      else groups = groups :+ Vector(e)
    }
    while (groups.length > targetGroups) {
      val i = (0 until groups.length - 1).minBy(j =>
        (groups(j) ++ groups(j + 1)).map(rows).sum)
      groups = groups.patch(i, Seq(groups(i) ++ groups(i + 1)), 2)
    }
    groups
  }

  // encoding mirrors the truncation journal's pipe/semicolon style (the
  // string rides as one value of the KV's JSON map); dir names are
  // `c<digits>` and ops are bare words so the charset is safe. Head is
  // `lastIndex@version@op@tsMillis`; shorter heads (the earlier formats)
  // decode with version 0 / ts 0.
  private[graft] def enc(m: Manifest): String =
    (s"${m.lastIndex}@${m.version}@${m.op}@${m.ts}" +: m.entries.map(e =>
      s"${e.name};${e.minIndx};${e.maxIndx};${e.minBlock};${e.maxBlock};${e.cap}"))
      .mkString("|")

  private[graft] def dec(s: String): Manifest = {
    val parts = s.split("\\|", -1).filter(_.nonEmpty)
    val head = parts.head.split("@", -1)
    val entries = parts.tail.toSeq.map { p =>
      val f = p.split(";", -1)
      Entry(f(0), f(1).toLong, f(2).toLong, f(3).toLong, f(4).toLong,
        f(5).toLong)
    }
    if (head.length >= 4)
      Manifest(head(0).toLong, entries, head(1).toLong, head(2),
        head(3).toLong)
    else if (head.length >= 3)
      Manifest(head(0).toLong, entries, head(1).toLong, head(2))
    else Manifest(head(0).toLong, entries)
  }
}
