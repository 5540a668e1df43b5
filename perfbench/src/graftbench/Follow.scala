package graftbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.Trigger

import graft.sync.{SyncProgress, SyncReport}

/** `follow`: open loop. After a pre-synced prefix (part of set-up), the
  * stub publishes one block per fixed interval; some of those publications
  * are forks of depth 1-5 that replace the newest blocks. One follower polls
  * the head and calls `Tracker.sync()` on the transactional store whenever
  * it moved; one `graft_tx_cdc` stream stamps when each block's rows are
  * emitted; one reader runs a seeded mix of point reads, latest-blocks scans
  * and `lastIndex()` in a closed loop with a fixed pause.
  */
object Follow {
  val prefixBlocks = 1
  /** Seconds between publications: about twice the ~1.5 s a tail block
    * adds to a `sync()` at the seed commit. A whole one-block `sync()` takes
    * ~2 s there, so the follower idles between publications.
    */
  val intervalS = 3.0
  /** The window's last publication is a fork of this depth; all others
    * extend the chain. It keeps height 0, which the reader's point reads
    * target.
    */
  val forkDepth = 2
  val stableHeights = 1
  val readerPauseMs = 1000L
  val spec = ChainSpec(medianLogs = 30, sigma = 0.6, maxLogs = 200)

  /** One publication: at `at` seconds into the window the stub starts
    * serving `chain`; `fresh` are the blocks it adds (a fork: depth + 1).
    */
  final case class Event(at: Double, chain: Vector[GBlock],
      fresh: Vector[GBlock], depth: Int)

  /** Publication schedule: one publication every `intervalS`, the last a
    * fork. Timing and depth are the same for every seed; the generator's
    * seed draws the blocks' content.
    */
  def schedule(gen: ChainGen, prefix: Vector[GBlock], n: Int): Seq[Event] = {
    var chain = prefix
    (0 until n).map { k =>
      val before = chain
      val depth = if (k == n - 1 && chain.length > forkDepth) forkDepth else 0
      chain =
        if (depth > 0) gen.fork(chain, depth, s"fork$k", h => logsAt(h, k))
        else chain :+ gen.block(chain.last.number + 1, "main", chain.last.hash,
          logsAt(chain.last.number + 1, k))
      Event(k * intervalS + intervalS / 2, chain,
        chain.drop(before.length - depth), depth)
    }
  }

  /** Logs per published block: a fixed function of height and publication. */
  def logsAt(height: Long, publication: Int): Int =
    20 + ((height * 7 + publication * 13) % 21).toInt

  final class Setup(val prefix: Vector[GBlock], val events: Seq[Event],
      val target: SyncTarget)

  /** Generate the prefix and schedule, serve the prefix, build the tracker
    * on the transactional store and sync the prefix.
    */
  def setup(ctx: Ctx, o: Outcome, stub: ChainStub): Setup = {
    val gen = new ChainGen(ctx.seed, spec)
    val prefix = gen.linear(gen.densities(prefixBlocks))
    val events = schedule(gen, prefix,
      math.max(1, (ctx.seconds / intervalS).toInt))
    stub.publish(prefix)
    val target = new SyncTarget(ctx, stub.endpoint, ctx.freshRoot("follow"),
      transactional = true)
    o.op("prefix sync")(target.sync("prefix"))
    new Setup(prefix, events, target)
  }

  /** Runs the CDC stream, follower, reader and publisher for the window
    * and drains; returns the post-window step (checks and figures).
    */
  def phase(ctx: Ctx, o: Outcome, stub: ChainStub, s: Setup): () => Unit = {
    val spark = ctx.spark
    val tr = ctx.tracer
    val (prefix, events, target) = (s.prefix, s.events, s.target)
    val p0 = System.nanoTime()

    val stableRows = prefix.take(stableHeights).flatMap(_.logs).filter(Chain.tracked)

    // ── CDC stream over the followed store ───────────────────────────────
    final case class Cdc(at: Long, kind: String, indx: Long, blockHash: String,
        txHash: String)
    val cdcRows = new ConcurrentLinkedQueue[Cdc]()
    val cdcBatches = new ConcurrentLinkedQueue[(Double, Int)]()
    val stream = spark.readStream.format("graft.stream.TxCdcSourceProvider")
      .option("root", target.root).option("filterHash", Chain.filter.hash)
      .option("startingVersion", 0).load()
      .writeStream
      .foreachBatch { (df: DataFrame, id: Long) =>
        tr.span("cdc.batch", id.toString) {
          val t0 = System.nanoTime()
          val rs = df.select("_change_type", "indx", "block_hash", "tx_hash")
            .collect()
          val at = System.nanoTime()
          rs.foreach(r => cdcRows.add(Cdc(at, r.getString(0), r.getLong(1),
            r.getString(2), r.getString(3))))
          cdcBatches.add(((at - t0) / 1e9, rs.length))
        }
        ()
      }
      .trigger(Trigger.ProcessingTime(250L))
      .option("checkpointLocation", ctx.freshRoot("cdc-checkpoint"))
      .start()
    def cdcNet(): Map[(Long, String, String), Int] =
      cdcRows.asScala.foldLeft(Map.empty[(Long, String, String), Int]) { (m, c) =>
        val k = (c.indx, c.blockHash, c.txHash)
        m.updated(k, m.getOrElse(k, 0) + (if (c.kind == "insert") 1 else -1))
      }.filter(_._2 != 0)
    def awaitCdc(rows: Int, timeoutS: Double): Boolean = {
      val end = System.nanoTime() + (timeoutS * 1e9).toLong
      while (cdcNet().size != rows && System.nanoTime() < end) Thread.sleep(50)
      cdcNet().size == rows
    }
    val prefixRows = prefix.flatMap(_.logs).count(Chain.tracked)
    o.check("cdc: prefix emitted before the window", awaitCdc(prefixRows, 60))
    Log.phase("follow: CDC stream running")

    // ── follower ─────────────────────────────────────────────────────────
    final case class Tick(height: Long, hash: String, at: Long)
    final case class SyncRun(start: Long, end: Long, report: Option[SyncReport])
    val ticks = new ConcurrentLinkedQueue[Tick]()
    target.addListener { (p: SyncProgress) =>
      ticks.add(Tick(p.current, if (p.phase == "tail") stub.lastByHash else "",
        System.nanoTime()))
      ()
    }
    val syncs = new ConcurrentLinkedQueue[SyncRun]()
    @volatile var stop = false
    @volatile var syncedHead = prefix.last.number
    val poll = Wire.headPoller(stub.endpoint)
    val follower = new Thread(() => {
      while (!stop) {
        val h = try poll() catch { case _: Throwable => syncedHead }
        if (h != syncedHead) {
          val s0 = System.nanoTime()
          val r = o.op(s"sync to $h")(target.sync(h.toString))
          syncs.add(SyncRun(s0, System.nanoTime(), r))
          r.foreach(x => syncedHead = x.headNumber)
        } else Thread.sleep(10)
      }
    }, "perfbench-follower")

    // ── reader ───────────────────────────────────────────────────────────
    val readLat = new ConcurrentLinkedQueue[(String, Double)]()
    val reader = new Thread(() => {
      val rnd = new java.util.Random(ctx.seed * 31 + 7)
      val mix = Vector("getLog", "getLog", "scan", "lastIndex")
      var round = Vector.empty[String]
      while (!stop) {
        if (round.isEmpty)
          round = scala.util.Random.javaRandomToRandom(rnd).shuffle(mix)
        val op = round.head
        round = round.tail
        val i = rnd.nextInt(stableRows.size)
        val head = stub.head.number
        val t0 = System.nanoTime()
        o.op(s"read $op")(tr.span(s"reader.$op", op) {
          op match {
            case "getLog" =>
              val rs = target.table.getLog(i.toLong)
                .select("tx_hash", "block_hash").collect()
              val l = stableRows(i)
              require(rs.length == 1 && rs(0).getString(0) == l.txHash &&
                rs(0).getString(1) == l.blockHash, s"getLog($i) = ${rs.toSeq}")
            case "scan" =>
              target.table.read.where(col("block_num") > head - 10).count()
            case _ =>
              val n = target.table.lastIndex()
              require(n >= stableRows.size, s"lastIndex $n < ${stableRows.size}")
          }
        })
        readLat.add((op, (System.nanoTime() - t0) / 1e9))
        Thread.sleep(readerPauseMs)
      }
    }, "perfbench-reader")

    // ── publish on schedule ──────────────────────────────────────────────
    val t0 = System.nanoTime()
    def at(s: Double): Long = t0 + (s * 1e9).toLong
    follower.start()
    reader.start()
    val late = ArrayBuffer.empty[Double]
    events.foreach { e =>
      val wait = at(e.at) - System.nanoTime()
      if (wait > 0) Thread.sleep(wait / 1000000L, (wait % 1000000L).toInt)
      stub.publish(e.chain)
      late += (System.nanoTime() - at(e.at)) / 1e9
    }
    while (System.nanoTime() < at(ctx.seconds)) Thread.sleep(20)
    Log.phase("follow: publishing done")
    // drain: the follower reaches the final head, CDC emits its rows
    val finalChain = events.last.chain
    val drainEnd = System.nanoTime() + 60L * 1000000000L
    def caughtUp = syncedHead == finalChain.last.number &&
      ticks.asScala.exists(_.hash == finalChain.last.hash)
    while (!caughtUp && System.nanoTime() < drainEnd) Thread.sleep(20)
    o.check("follow: follower reached the final head", caughtUp)
    val expectedRows = finalChain.flatMap(_.logs).count(Chain.tracked)
    o.check("cdc: net rows reached the final chain", awaitCdc(expectedRows, 30))
    stop = true
    follower.join(120000)
    reader.join(120000)
    val p1 = System.nanoTime()
    Log.phase("follow: drained")
    stream.stop()
    () => {
      // ── output checks ────────────────────────────────────────────────────
      val rows = Checks.storedLog(ctx, o, target.root, transactional = true,
        finalChain, "follow")
      val expectedNet = finalChain.flatMap(_.logs).filter(Chain.tracked).zipWithIndex
        .map { case (l, i) => ((i.toLong, l.blockHash, l.txHash), 1) }.toMap
      o.check("cdc: inserts minus retractions = the canonical chain's logs",
        cdcNet() == expectedNet)

      Log.phase("follow: checked")
      // ── metrics ──────────────────────────────────────────────────────────
      val tickList = ticks.asScala.toVector
      val syncList = syncs.asScala.toVector.sortBy(_.start)
      final case class Sample(lag: Double, queued: Double, inSync: Double)
      def sampleOf(b: GBlock, e: Event): Option[Sample] =
        tickList.filter(t => t.height == b.number && t.hash == b.hash)
          .sortBy(_.at).headOption.map { t =>
            val sched = at(e.at)
            val cover = syncList.filter(_.start <= t.at).lastOption
            val start = cover.map(_.start).getOrElse(t.at)
            Sample((t.at - sched) / 1e9, math.max(0L, start - sched) / 1e9,
              (t.at - start) / 1e9)
          }
      val samples = events.flatMap(e => e.fresh.flatMap(b => sampleOf(b, e)))
      val lags = samples.map(_.lag)
      val recover = events.filter(_.depth > 0)
        .flatMap(e => sampleOf(e.fresh.last, e).map(_.lag))
      val cdcFirst = cdcRows.asScala.filter(_.kind == "insert")
        .groupBy(_.blockHash).map { case (h, cs) => h -> cs.map(_.at).min }
      val cdcLags = events.flatMap(e => e.fresh.filter(_.logs.exists(Chain.tracked))
        .flatMap(b => cdcFirst.get(b.hash).map(t => (t - at(e.at)) / 1e9)))
      val reads = readLat.asScala.toVector.map(_._2)
      val reports = syncList.flatMap(_.report)
      val syncSeconds = syncList.map(s => (s.end - s.start) / 1e9).sum

      o.e2e("latency_p50_s") = Stats.median(lags)
      o.e2e("latency_p90_s") = Stats.quantile(lags, 0.9)
      o.samples("head_lag_s") = lags
      o.samples("sync_s") = syncList.map(x => (x.end - x.start) / 1e9)
      o.samples("sync_start_s") = syncList.map(x => (x.start - t0) / 1e9)
      o.detail("head_lag_p50_s") = (Stats.median(lags), "s")
      o.detail("head_lag_p90_s") = (Stats.quantile(lags, 0.9), "s")
      o.detail("cdc_lag_p50_s") = (Stats.median(cdcLags), "s")
      o.detail("reorg_recover_p50_s") = (Stats.median(recover), "s")
      o.detail("read_p50_s") = (Stats.median(reads), "s")
      o.detail("read_p95_s") = (Stats.quantile(reads, 0.95), "s")
      o.detail("lag_samples") = (lags.size.toDouble, "count")
      o.detail("read_samples") = (reads.size.toDouble, "count")
      o.detail("publications") = (events.size.toDouble, "count")
      o.detail("forks") = (events.count(_.depth > 0).toDouble, "count")
      o.detail("syncs") = (syncList.size.toDouble, "count")
      o.detail("tail_logs_per_s") = (reports.map(_.added).sum / syncSeconds, "1/s")
      o.layer("follow.gen.late_max_s") = late.max
      if (tr.enabled) {
        val appended = rows - prefixRows + reports.map(_.removed).sum
        SyncLedger.fill(ctx, o, "follow.", p0, p1, stub, reports, target.root,
          rows, appended)
        o.layer("follow.syncer.queue_wait_s") = Stats.median(samples.map(_.queued))
        o.layer("follow.reorg.depth_max") =
          events.filter(e => e.depth > 0 && sampleOf(e.fresh.last, e).nonEmpty)
            .map(_.depth).maxOption.getOrElse(0).toDouble
        val batches = cdcBatches.asScala.toVector
        o.layer("follow.cdc.batches") = batches.size
        o.layer("follow.cdc.rows") = batches.map(_._2).sum
        o.layer("follow.cdc.empty_batch_frac") =
          if (batches.isEmpty) 0.0
          else batches.count(_._2 == 0).toDouble / batches.size
        o.layer("follow.cdc.batch_s") = batches.map(_._1).sum
        val gap = Stats.median(lags) - Stats.median(samples.map(_.queued))
        o.layer("follow.trace.lag_accounted_frac") =
          if (gap > 0) Stats.median(samples.map(_.inSync)) / gap else 0.0
      }
    }
  }
}
