package graftbench

import scala.collection.mutable.ArrayBuffer

import graft.sync.SyncProgress

/** Backfill phase: one `Tracker.sync()` on the default store (`LogTable`)
  * from an empty store to the head of a seeded chain. Two bursts push the
  * ranges that hold them over the node's 10,000-result cap, so the batch
  * loop halves; the server-side filter drops about a third of the logs.
  */
object Backfill {
  val blocks = 200
  /** A burst block keeps ~320 logs after the filter: 40 of them overflow
    * any range that holds the whole burst, 25 of them never do.
    */
  val spec = ChainSpec(medianLogs = 30, sigma = 1.0, maxLogs = 600,
    bursts = 2, burstLen = 40, burstLogs = 500)

  final class Setup(val chain: Vector[GBlock], val target: SyncTarget)

  /** Generate the seeded chain, serve it, build the tracker. */
  def setup(ctx: Ctx, stub: ChainStub): Setup = {
    val gen = new ChainGen(ctx.seed, spec)
    val chain = gen.linear(gen.densities(blocks))
    stub.publish(chain)
    new Setup(chain, new SyncTarget(ctx, stub.endpoint,
      ctx.freshRoot("backfill"), transactional = false))
  }

  /** Runs the sync; returns the post-window step (checks and figures). */
  def phase(ctx: Ctx, o: Outcome, stub: ChainStub, s: Setup): () => Unit = {
    val ticks = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
    s.target.addListener((p: SyncProgress) => ticks.add((p.current, System.nanoTime())))
    val t0 = System.nanoTime()
    val report = o.op("backfill sync")(s.target.sync(s.chain.last.number.toString))
    val t1 = System.nanoTime()
    Log.phase("backfill: synced")
    () => {
      val rows = Checks.storedLog(ctx, o, s.target.root, transactional = false,
        s.chain, "backfill")
      val logs = s.chain.flatMap(_.logs).count(Chain.tracked)
      val seconds = (t1 - t0) / 1e9
      // a block is visible once a progress tick has covered its height
      val ts = ticks.toArray(Array.empty[(Long, Long)]).sortBy(_._2)
      val visible = ArrayBuffer.empty[Double]
      var i = 0
      s.chain.foreach { b =>
        while (i < ts.length && ts(i)._1 < b.number) i += 1
        if (i < ts.length) visible += (ts(i)._2 - t0) / 1e9
      }
      o.e2e("throughput_per_s") = logs / seconds
      o.detail("logs_per_s") = (logs / seconds, "1/s")
      o.detail("backfill_sync_s") = (seconds, "s")
      o.detail("backfill_logs") = (logs.toDouble, "count")
      o.detail("backfill_visible_p50_s") = (Stats.median(visible.toSeq), "s")
      if (ctx.tracer.enabled)
        SyncLedger.fill(ctx, o, "backfill.", t0, t1, stub, report.toSeq,
          s.target.root, rows, logs.toLong)
    }
  }
}
