package graftbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.sync.{HttpRpcProvider, SyncListener, SyncReport, Syncer}

/** What one run of a workload hands back to [[Main]]. */
final class Outcome {
  private val attemptedN = new java.util.concurrent.atomic.AtomicLong(0)
  private val failedN = new java.util.concurrent.atomic.AtomicLong(0)
  def attempted: Long = attemptedN.get
  def failed: Long = failedN.get
  /** Named output checks, each counted as one attempted operation. */
  val checks = scala.collection.mutable.LinkedHashMap.empty[String, Boolean]
  /** The gated end-to-end metrics (the names in BENCHMARK.json). */
  val e2e = scala.collection.mutable.LinkedHashMap.empty[String, Double]
  /** Workload-specific end-to-end figures, reported by name but not gated. */
  val detail = scala.collection.mutable.LinkedHashMap.empty[String, (Double, String)]
  /** Raw samples behind a figure, kept in the run ledger only. */
  val samples = scala.collection.mutable.LinkedHashMap.empty[String, Seq[Double]]
  /** Per-layer figures (the traced run prints them). */
  val layer = scala.collection.mutable.LinkedHashMap.empty[String, Double]

  def check(name: String, ok: Boolean): Unit = synchronized {
    checks(name) = ok
    if (!ok) System.err.println(s"[perfbench] check failed: $name")
  }

  /** Run one operation, counting it; a throw counts as a failure. */
  def op[A](what: String)(body: => A): Option[A] = {
    attemptedN.incrementAndGet()
    try Some(body)
    catch {
      case e: Throwable =>
        failedN.incrementAndGet()
        System.err.println(s"[perfbench] $what failed: $e")
        None
    }
  }
}

/** Everything a workload needs: the session, the tracer, a scratch root. */
final class Ctx(val spark: SparkSession, val tracer: Tracer,
    val jobs: SpanJobListener, val seed: Long, val seconds: Int,
    val work: File, val cores: Int) {
  private var n = 0
  def freshRoot(tag: String): String = synchronized {
    n += 1
    val d = new File(work, s"$tag-$n")
    d.mkdirs()
    d.getAbsolutePath
  }
}

/** Handle on a sync engine built either the way a user builds it (untraced:
  * `graft.Tracker`) or with its provider, log store and KV store wrapped in
  * timing decorators and injected through `Syncer`'s `storeOverride` and
  * `kvOverride` (traced). The store class is the same in both.
  */
final class SyncTarget(ctx: Ctx, endpoint: String, val root: String,
    transactional: Boolean) {
  private val spark = ctx.spark
  private val t = ctx.tracer
  private val (doSync, addL, store): (() => SyncReport, SyncListener => Unit,
      graft.store.LogStore) =
    if (!t.enabled) {
      val tr = graft.Tracker(spark, new HttpRpcProvider(spark, endpoint), root,
        Chain.filter, transactionalStore = transactional)
      (() => tr.sync(), tr.addSyncListener(_), tr.table)
    } else {
      val hash = Chain.filter.hash
      val inner =
        if (transactional) new graft.store.TxLogTable(spark, root, hash)
        else new graft.store.LogTable(spark, root, hash)
      val s = new Syncer(spark,
        new TracedProvider(new HttpRpcProvider(spark, endpoint), t), root,
        Chain.filter,
        storeOverride = Some(new TracedLogStore(inner, t)),
        kvOverride = Some(new TracedKv(new graft.store.KvStore(spark, root), t)))
      (() => s.sync(), s.addListener(_), s.table)
    }

  def table: graft.store.LogStore = store
  def addListener(l: SyncListener): Unit = addL(l)
  def sync(req: => String): SyncReport = t.span("syncer.sync", req)(doSync())
}

/** Progress lines on stderr, stamped with seconds since the JVM started. */
object Log {
  private val t0 = ManagementFactory.getRuntimeMXBean.getStartTime
  def phase(what: String): Unit = System.err.println(
    f"[perfbench] ${(System.currentTimeMillis() - t0) / 1e3}%7.1f s  $what")
}

/** Process-level meters over a timed window. */
object Proc {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def cpuSeconds: Double = os.getProcessCpuTime / 1e9

  def gcSeconds: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum / 1e3

  /** Peak resident set (VmHWM) in MiB. */
  def peakRssMb: Double =
    try {
      val src = scala.io.Source.fromFile("/proc/self/status")
      try src.getLines().find(_.startsWith("VmHWM:"))
        .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)
      finally src.close()
    } catch { case _: Throwable => Double.NaN }

  /** (busy, steal, total) jiffies from /proc/stat, the host-noise witness. */
  def jiffies(): (Long, Long, Long) =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try {
        val cpu = src.getLines().find(_.startsWith("cpu ")).get.trim
          .split("\\s+").drop(1).map(_.toLong)
        (cpu.take(3).sum, if (cpu.length > 7) cpu(7) else 0L, cpu.sum)
      } finally src.close()
    } catch { case _: Throwable => (0L, 0L, 0L) }

  /** Parquet data files and their bytes under `dir`. */
  def parquetFiles(dir: File): (Long, Long) =
    if (!dir.exists()) (0L, 0L)
    else {
      val fs = java.nio.file.Files.walk(dir.toPath)
      try fs.iterator().asScala.map(_.toFile)
        .filter(f => f.isFile && f.getName.endsWith(".parquet"))
        .foldLeft((0L, 0L)) { case ((n, b), f) => (n + 1, b + f.length()) }
      finally fs.close()
    }

  /** Committed `v<N>` version directories of a KvStore rooted at `root`. */
  def kvVersions(root: File): Long =
    Option(new File(root, "kv").listFiles()).map(_.count { f =>
      f.isDirectory && f.getName.startsWith("v") &&
        new File(f, "_SUCCESS").exists()
    }.toLong).getOrElse(0L)
}

/** Span-derived per-layer figures shared by the sync workloads. */
object SyncLedger {
  /** `finalRows` is the last store's size; `appendedRows` counts every row
    * appended in the window, retracted ones included.
    */
  def fill(ctx: Ctx, out: Outcome, phase: String, from: Long, to: Long,
      stub: ChainStub, reports: Seq[SyncReport], storeRoot: String,
      finalRows: Long, appendedRows: Long): Unit = {
    val all = ctx.tracer.spans.asScala.toSeq
      .filter(s => s.startNs >= from && s.startNs < to)
    val kids = all.groupBy(_.parent)
    def named(prefix: String): Seq[Span] = all.filter(_.name.startsWith(prefix))
    def sum(prefix: String)(f: Span => Double): Double = named(prefix).map(f).sum
    def put(k: String, v: Double): Unit = out.layer(phase + k) = v
    val syncs = named("syncer.sync")
    def childSeconds(s: Span): Double = kids.getOrElse(s.id, Nil)
      .filter(c => c.name.startsWith("wire.") || c.name.startsWith("store.") ||
        c.name.startsWith("kv.")).map(_.seconds).sum
    put("wire.calls", named("wire.").size)
    put("wire.busy_s", sum("wire.")(_.seconds))
    put("wire.server_s", stub.handleNs.sum / 1e9)
    put("wire.resp_bytes", stub.respBytes.sum.toDouble)
    put("wire.retries", stub.injected500.sum.toDouble)
    put("wire.refused", stub.refused.sum.toDouble)
    val ranges = stub.getLogsCalls.sum.toDouble
    put("wire.getlogs_ok_frac",
      if (ranges == 0) 1.0 else (ranges - stub.refused.sum) / ranges)
    put("syncer.calls", syncs.size)
    put("syncer.busy_s", syncs.map(_.seconds).sum)
    put("syncer.self_s", syncs.map(s => s.seconds - childSeconds(s)).sum)
    put("syncer.jobs_self", syncs.map(_.jobs.get).sum.toDouble)
    put("syncer.batches", reports.map(_.batches).sum.toDouble)
    put("syncer.aimd_halvings",
      all.count(s => s.name == "wire.getLogs" && s.error).toDouble)
    val removed = reports.map(_.removed).sum
    def store(op: String): Seq[Span] = named(s"store.$op")
    val appends = store("append")
    put("store.append.calls", appends.size)
    put("store.append.busy_s", appends.map(_.seconds).sum)
    put("store.append.jobs", appends.map(_.jobs.get).sum.toDouble)
    put("store.append.task_s", appends.map(_.taskMs.get).sum / 1e3)
    put("store.last_index.calls", store("last_index").size)
    put("store.last_index.busy_s", store("last_index").map(_.seconds).sum)
    put("store.truncate.calls", store("truncate").size)
    put("store.truncate.busy_s", store("truncate").map(_.seconds).sum)
    put("store.truncate.rows", removed.toDouble)
    put("store.read.calls", store("read").size)
    put("store.read.busy_s", store("read").map(_.seconds).sum)
    put("store.append.rows", appendedRows.toDouble)
    val dirs = Seq("logs", "txlogs").map(new File(storeRoot, _))
    val (files, bytes) = dirs.map(Proc.parquetFiles)
      .foldLeft((0L, 0L)) { case ((a, b), (c, d)) => (a + c, b + d) }
    put("store.files", files.toDouble)
    put("store.bytes_per_log",
      if (finalRows > 0) bytes.toDouble / finalRows else 0.0)
    for (op <- Seq("get", "set")) {
      val s = named(s"kv.$op")
      put(s"kv.$op.calls", s.size)
      put(s"kv.$op.busy_s", s.map(_.seconds).sum)
      put(s"kv.$op.jobs", s.map(_.jobs.get).sum.toDouble)
    }
    put("kv.versions_on_disk", Proc.kvVersions(new File(storeRoot)).toDouble)
    val reorgs = syncs.filter(s => kids.getOrElse(s.id, Nil)
      .exists(_.name == "store.truncate"))
    put("reorg.events", reports.count(_.removed > 0).toDouble)
    put("reorg.retracted_rows", removed.toDouble)
    put("reorg.resync_s", reorgs.map(_.seconds).sum)
  }
}

/** Builds the loopback provider pieces shared by the sync workloads. */
object Wire {
  /** A second client for the follower's head poll, on a path the stub does
    * not count as program traffic.
    */
  def headPoller(endpoint: String): () => Long = {
    val rpc = new graft.sync.JsonRpcClient(endpoint + "/poll")
    () => java.lang.Long.parseLong(rpc.call("eth_blockNumber").asText().drop(2), 16)
  }
}

/** A timed window: process meters and the host-noise witness between
  * `start` and `stop`. Starting one clears spans, job counts and stub
  * counters, so everything reported covers the window only.
  */
final class Window private (ctx: Ctx) {
  private val t0 = System.nanoTime()
  private val cpu0 = Proc.cpuSeconds
  private val gc0 = Proc.gcSeconds
  private val (busy0, steal0, all0) = Proc.jiffies()
  var wall = 0.0
  var cpuSeconds = 0.0
  private var gcSeconds = 0.0
  private var stealPct = 0.0
  private var busyPct = 0.0

  def elapsed: Double = (System.nanoTime() - t0) / 1e9

  def stop(): Window = {
    wall = elapsed
    cpuSeconds = Proc.cpuSeconds - cpu0
    gcSeconds = Proc.gcSeconds - gc0
    val (busy1, steal1, all1) = Proc.jiffies()
    val d = math.max(1L, all1 - all0).toDouble
    stealPct = 100.0 * (steal1 - steal0) / d
    busyPct = 100.0 * (busy1 - busy0) / d
    org.apache.spark.BenchBridge.drainListeners(ctx.spark.sparkContext)
    this
  }

  /** Process-wide figures every workload reports. */
  def fillProcess(o: Outcome): Unit = {
    o.e2e("peak_rss_mb") = Proc.peakRssMb
    o.detail("window_s") = (wall, "s")
    o.detail("host_steal_pct") = (stealPct, "%")
    o.detail("host_busy_pct") = (busyPct, "%")
    o.layer("jvm.gc_s") = gcSeconds
    o.layer("spark.jobs") = ctx.jobs.jobs.get.toDouble
    o.layer("spark.tasks") = ctx.jobs.tasks.get.toDouble
    o.layer("spark.task_s") = ctx.jobs.taskMs.get / 1e3
  }
}

object Window {
  def start(ctx: Ctx, stubs: ChainStub*): Window = {
    org.apache.spark.BenchBridge.drainListeners(ctx.spark.sparkContext)
    stubs.foreach(_.resetCounters())
    ctx.tracer.clear()
    ctx.jobs.reset()
    new Window(ctx)
  }
}

/** Output checks on what the program stored. */
object Checks {
  /** The stored log must equal the canonical chain's tracked logs, in
    * order, with `indx` contiguous from 0, and the checkpoint must name the
    * head. Read through a fresh store object, outside any span. Returns the
    * number of stored rows.
    */
  def storedLog(ctx: Ctx, o: Outcome, root: String, transactional: Boolean,
      chain: Vector[GBlock], tag: String): Long = {
    val spark = ctx.spark
    val hash = Chain.filter.hash
    val store =
      if (transactional) new graft.store.TxLogTable(spark, root, hash)
      else new graft.store.LogTable(spark, root, hash)
    val rows = store.read
      .select("indx", "tx_index", "tx_hash", "block_num", "block_hash",
        "address", "topics", "data")
      .collect().sortBy(_.getLong(0))
    val expected = chain.flatMap(_.logs).filter(Chain.tracked)
    o.check(s"$tag: stored row count ${rows.length} = ${expected.size}",
      rows.length == expected.size)
    o.check(s"$tag: indx contiguous from 0",
      rows.zipWithIndex.forall { case (r, i) => r.getLong(0) == i })
    val same = rows.iterator.zip(expected.iterator).forall { case (r, l) =>
      r.getLong(1) == l.txIndex && r.getString(2) == l.txHash &&
        r.getLong(3) == l.blockNum && r.getString(4) == l.blockHash &&
        r.getString(5) == l.address && r.getSeq[String](6) == l.topics &&
        r.getString(7) == l.data
    }
    o.check(s"$tag: stored rows equal the canonical chain's logs", same)
    val kv = new graft.store.KvStore(spark, root)
    val cp = kv.get(s"lastBlock_$hash").filter(_.nonEmpty).map(_.split("\\|")(1))
    o.check(s"$tag: checkpoint hash = head hash", cp.contains(chain.last.hash))
    rows.length.toLong
  }
}
