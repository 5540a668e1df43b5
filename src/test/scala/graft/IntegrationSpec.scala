package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.model.FilterConfig
import graft.stream.EventStream
import graft.stream.EventStream.HeadObservation
import graft.sync.Syncer

/** Full-pipeline integration: batch backfill (Syncer) hands off to the
  * streaming tail (reorgTail + foreachBatch CDC) over the same LogTable —
  * the reference's `BatchSync` → `Sync` → live-events lifecycle
  * (SURVEY.md §3.2) — and the stored table always converges to the
  * canonical chain (the reference fuzz oracle, `tracker_test.go:449-469`).
  */
class IntegrationSpec extends SparkSpec {
  import spark.implicits._

  test("backfill, stream tail, fork, converge to canonical") {
    implicit val sql = spark.sqlContext
    val root = tmpDir("e2e")
    val filter = FilterConfig()

    // 1. backfill blocks 0..49 in batch
    val chain = MockChain.linear(50, n => if (n % 2 == 0) 2 else 5)
    val provider = new MockProvider(spark, chain)
    val syncer = new Syncer(spark, provider, root, filter)
    syncer.sync()
    assert(syncer.table.read.count() ==
      (0L until 50L).map(n => if (n % 2 == 0) 2L else 5L).sum)

    // 2. live tail: chain grows 50..52, then forks at 51
    val grown = chain ++ Seq(
      MBlock(50, "50", "49", 1), MBlock(51, "51", "50", 2),
      MBlock(52, "52", "51", 1))
    val forked = grown.take(51) ++ Seq(          // keep ..50, fork 51,52,53
      MBlock(51, "51F", "50", 3), MBlock(52, "52F", "51F", 1),
      MBlock(53, "53F", "52F", 2))
    val liveLogs = new MockProvider(spark, forked)
      .allLogs.unionByName(new MockProvider(spark, grown).allLogs)
      .distinct() // the source can serve logs of both lineages by hash

    val heads = MemoryStream[HeadObservation]
    val q = EventStream.reorgTail(heads.toDS(), maxBacklog = 10)
      .writeStream
      .foreachBatch(EventStream.applyCdc(syncer.table, liveLogs) _)
      .start()

    def obs(b: MBlock) = HeadObservation("f", b.num, b.hash, b.parentHash)
    // seed the tail state with the backfilled tip, then advance
    heads.addData(obs(chain.last))
    q.processAllAvailable()
    heads.addData(obs(grown(50)), obs(grown(51)), obs(grown(52)))
    q.processAllAvailable()
    // fork arrives
    heads.addData(obs(forked(51)), obs(forked(52)), obs(forked(53)))
    q.processAllAvailable()
    q.stop()

    // 3. oracle: stored logs == canonical chain logs, indices consistent
    val stored = syncer.table.read
    val storedTx = stored.select("tx_hash").as[String].collect().sorted
    val canonical = new MockProvider(spark, forked).allLogs
      .select("tx_hash").as[String].collect().sorted
    assert(storedTx.sameElements(canonical))
    // append indices remain dense 0..n-1
    val idx = stored.select("indx").as[Long].collect().sorted
    assert(idx.sameElements(idx.indices.map(_.toLong)))
  }

  test("randomized advances/forks under arbitrary micro-batch boundaries") {
    // the reference's fuzz oracle (tracker_test.go:369-482) applied to the
    // STREAMING tail: random head events — advance or fork (depth ≤ 3) —
    // delivered in randomly-sized micro-batches; whatever the batching,
    // the stored table must converge to the final canonical chain's logs
    implicit val sql = spark.sqlContext
    (0 until 3).foreach { trial =>
      val rnd = new scala.util.Random(100 + trial)
      val root = tmpDir(s"e2e-fuzz$trial")
      val base = MockChain.linear(30, _ => 1)
      var chain = base
      val syncer = new Syncer(spark, new MockProvider(spark, chain), root,
        FilterConfig())
      syncer.sync()

      val obs = scala.collection.mutable.ArrayBuffer.empty[HeadObservation]
      val lineages = scala.collection.mutable.ArrayBuffer[Seq[MBlock]](chain)
      var gen = 0
      var seq = 0L
      def observe(b: MBlock): Unit = {
        obs += HeadObservation("f", b.num, b.hash, b.parentHash, seq)
        seq += 1
      }
      (0 until 25).foreach { _ =>
        gen += 1
        if (rnd.nextDouble() < 0.3 && chain.length > 5) {
          val depth = 1 + rnd.nextInt(3)
          chain = MockChain.fork(chain, depth, extend = 0,
            logsAt = _ => 1 + (gen % 2), suffix = s"G$gen")
          chain.takeRight(depth).foreach(observe)
        } else {
          val n = chain.last.num + 1
          val b = MBlock(n, s"${n}G$gen", chain.last.tag, 1)
          chain = chain :+ b
          observe(b)
        }
        lineages += chain
      }
      // log source that can serve every lineage by hash
      val liveLogs = lineages.map(c => new MockProvider(spark, c).allLogs)
        .reduce(_ unionByName _).distinct().localCheckpoint(true)

      val heads = MemoryStream[HeadObservation]
      val q = EventStream.reorgTail(heads.toDS(), maxBacklog = 10)
        .writeStream
        .foreachBatch(EventStream.applyCdc(syncer.table, liveLogs) _)
        .start()
      // seed the backlog with the backfilled tail so depth-3 forks always
      // find their ancestor in state (seq below any generated observation)
      base.takeRight(10).zipWithIndex.foreach { case (b, i) =>
        heads.addData(HeadObservation("f", b.num, b.hash, b.parentHash,
          -100L + i))
      }
      q.processAllAvailable()
      var rest = obs.toList
      while (rest.nonEmpty) {
        val k = 1 + rnd.nextInt(5)
        val (batch, later) = rest.splitAt(k)
        heads.addData(batch: _*)
        q.processAllAvailable()
        rest = later
      }
      q.stop()

      val stored = syncer.table.read
        .select("tx_hash").as[String].collect().sorted
      val canonical = new MockProvider(spark, chain).allLogs
        .select("tx_hash").as[String].collect().sorted
      assert(stored.sameElements(canonical),
        s"trial $trial: ${stored.length} stored vs ${canonical.length} " +
          s"canonical; missing=${(canonical.toSet -- stored.toSet).toSeq.sorted}" +
          s"; extra=${(stored.toSet -- canonical.toSet).toSeq.sorted}")
    }
  }

  test("double reorg of one height within a single micro-batch nets out") {
    implicit val sql = spark.sqlContext
    val root = tmpDir("e2e-dd")
    val filter = FilterConfig()
    val chain = MockChain.linear(50, _ => 1)
    val provider = new MockProvider(spark, chain)
    val syncer = new Syncer(spark, provider, root, filter)
    syncer.sync()

    // three competing blocks at height 50 — A superseded by B superseded
    // by C, all observed in ONE micro-batch; only C's logs may survive
    val a = MBlock(50, "50A", "49", 1)
    val b = MBlock(50, "50B", "49", 2)
    val c = MBlock(50, "50C", "49", 3)
    val liveLogs = Seq(a, b, c)
      .map(m => new MockProvider(spark, chain :+ m).allLogs)
      .reduce(_ unionByName _).distinct()

    val heads = MemoryStream[HeadObservation]
    val q = EventStream.reorgTail(heads.toDS(), maxBacklog = 10)
      .writeStream
      .foreachBatch(EventStream.applyCdc(syncer.table, liveLogs) _)
      .start()
    var seq = 0L
    def obs(m: MBlock): HeadObservation = {
      seq += 1
      HeadObservation("f", m.num, m.hash, m.parentHash, seq)
    }
    heads.addData(obs(chain.last), obs(a), obs(b), obs(c)) // one batch
    q.processAllAvailable()
    q.stop()

    val at50 = syncer.table.read.where(col("block_num") === 50L)
      .select("block_hash").distinct().as[String].collect().toSet
    assert(at50 == Set(c.hash), s"expected only ${c.hash}, got $at50")
    assert(syncer.table.read.where(col("block_num") === 50L).count() == 3L)
  }

  test("mid-tail fork fuzz: batch Syncer converges under random fork timing") {
    // The targeted mid-tail test (SyncerSpec) flips lineage at one fixed
    // height; this fuzz randomizes WHEN the fork lands relative to the
    // per-block tail fetches — the race the linkage guard
    // (Syncer.sync tail loop) exists for. Each round grows the chain,
    // schedules a fork to appear exactly when a scheduled tail block is
    // fetched (its header; for the head, whose header the tail takes from
    // latestBlock, its logs), syncs, then checks full convergence to the
    // (new) canonical chain — the reference's fuzz oracle
    // (tracker_test.go:369-482) applied to the batch tail instead of the
    // streaming tail.
    import graft.model.BlockHeader
    for (trial <- 0 until 3) {
      val rnd = new scala.util.Random(7100 + trial)
      var gen = 0
      var chain = MockChain.linear(30, n => (n % 3 + 1).toInt)
      var flipAt: Option[Long] = None
      var pending: Option[Seq[MBlock]] = None
      var forksFired = 0
      def grow(c: Seq[MBlock], k: Int, suffix: String): Seq[MBlock] =
        (1 to k).foldLeft(c) { (acc, _) =>
          val num = acc.last.num + 1
          acc :+ MBlock(num, s"$num$suffix", acc.last.tag, rnd.nextInt(3) + 1)
        }
      // the fork lands mid-tail, between fetches
      def flipIfDue(n: Long): Unit = if (flipAt.contains(n)) {
        chain = pending.get; flipAt = None; pending = None
        forksFired += 1
      }
      val provider = new graft.sync.Provider {
        private def p = new MockProvider(spark, chain)
        override def getLogs(f: Long, t: Long, fl: FilterConfig) =
          p.getLogs(f, t, fl)
        override def getLogsByHash(h: String, fl: FilterConfig) = {
          chain.find(_.hash == h).foreach(b => flipIfDue(b.num))
          p.getLogsByHash(h, fl)
        }
        override def getBlock(n: Long): Option[BlockHeader] = {
          flipIfDue(n)
          p.getBlock(n)
        }
        override def latestBlock() = p.latestBlock()
        override def genesisHash() = p.genesisHash()
        override def chainId() = p.chainId()
      }
      val sync = new Syncer(spark, provider, tmpDir(s"midtail$trial"),
        FilterConfig())
      sync.sync()

      for (_ <- 0 until 5) {
        gen += 1
        val oldTip = chain.last.num
        // mostly tail-only growth; occasionally enough to force bulk+tail
        val growBy = if (rnd.nextInt(4) == 0) 12 + rnd.nextInt(5)
          else 1 + rnd.nextInt(4)
        chain = grow(chain, growBy, s"g$gen")
        if (rnd.nextInt(10) < 7) {
          // fork depth ≤ 4 (within backlog 10 even across rounds), optional
          // extension; lands when a random to-be-fetched tail header is read
          val depth = 1 + rnd.nextInt(4)
          val extend = rnd.nextInt(3)
          pending = Some(MockChain.fork(chain, depth, extend,
            logsAt = _ => rnd.nextInt(3) + 1, suffix = s"f$gen"))
          val head = chain.last.num
          val tailStart = math.max(oldTip + 1, head - 10 + 1)
          flipAt = Some(tailStart + rnd.nextInt((head - tailStart + 1).toInt))
        }
        sync.sync()
        // quiesce: the post-flip lineage may carry a longer head
        sync.sync()
        assert(flipAt.isEmpty, s"trial $trial: scheduled fork never fired")
        val stored = sync.table.read.select("tx_hash")
          .as[String].collect().sorted
        val canonical = new MockProvider(spark, chain).allLogs
          .select("tx_hash").as[String].collect().sorted
        assert(stored.sameElements(canonical),
          s"trial $trial gen $gen: stored diverged from canonical")
        val idx = sync.table.read.select("indx").as[Long].collect().sorted
        assert(idx.sameElements(idx.indices.map(_.toLong)))
        assert(sync.checkpoint().map(_.hash).contains(chain.last.hash))
      }
      assert(forksFired >= 2, s"trial $trial: only $forksFired forks fired")
    }
  }
}
