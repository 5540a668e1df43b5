package graftbench

/** `sync` workload: the backfill phase, then the follow phase, in one JVM.
  * Each phase has its own loopback node. Set-up (both chains generated and
  * served, both trackers built, the follow prefix synced) runs three times
  * at once on separate roots; `setup_s` is their median duration and the
  * last one is measured.
  */
object SyncRun {
  def run(ctx: Ctx, o: Outcome): Unit = {
    val backfillNode = new ChainStub(ctx.seed, fail500Permille = 30)
    val followNode = new ChainStub(ctx.seed + 1, fail500Permille = 30)
    try {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(3)
      val setups = try (1 to 3).map { _ =>
        pool.submit { () =>
          val t0 = System.nanoTime()
          val b = Backfill.setup(ctx, backfillNode)
          val f = Follow.setup(ctx, o, followNode)
          ((System.nanoTime() - t0) / 1e9, b, f)
        }
      }.map(_.get()) finally pool.shutdown()
      val (_, b, f) = setups.last
      Log.phase("sync: set-ups done")
      val window = Window.start(ctx, backfillNode, followNode)
      val backfillDone = Backfill.phase(ctx, o, backfillNode, b)
      val followDone = Follow.phase(ctx, o, followNode, f)
      val w = window.stop()
      backfillDone()
      followDone()
      Log.phase("sync: checked")
      o.e2e("setup_s") = Stats.median(setups.map(_._1))
      o.e2e("cpu_s") = w.cpuSeconds
      w.fillProcess(o)
    } finally {
      backfillNode.stop()
      followNode.stop()
    }
  }
}
