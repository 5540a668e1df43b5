package graft

import graft.model.FilterConfig
import graft.sync.Syncer

/** Sync-engine tests: AIMD batching (`TestTooMuchDataRequested`,
  * `tracker_test.go:780-818`), checkpoint/resume
  * (`TestTrackerSyncerRestarts`, `tracker_test.go:221-275`), reorg resync
  * (`TestTrackerSyncerReconcile`, `tracker_test.go:277-367`) and the chain
  * guard (`tracker_test.go:182-219`).
  */
class SyncerSpec extends SparkSpec {
  import spark.implicits._

  // 100 blocks with 2 (even) or 5 (odd) logs — ref tracker_test.go:784-795
  private def chain100 = MockChain.linear(100,
    n => if (n % 2 == 0) 2 else 5)
  private val totalLogs = (0L until 100L)
    .map(n => if (n % 2 == 0) 2 else 5).sum

  test("AIMD: provider cap forces halving, all logs stored exactly once") {
    val provider = new MockProvider(spark, chain100, capBlocks = Some(3))
    val sync = new Syncer(spark, provider, tmpDir("sync"), FilterConfig(),
      batchSize = 11)
    val batches = sync.batchSync(0, 99)
    assert(sync.table.read.count() == totalLogs)
    // batch 11 must shrink to ≤4 blocks: strictly more batches than 100/11
    assert(batches > 9)
    val txs = sync.table.read.select("tx_hash").as[String].collect()
    assert(txs.length == txs.distinct.length) // exactly once
  }

  test("AIMD surfaces an un-satisfiable single-block cap instead of livelocking") {
    // cap below the smallest per-block log count: even a 1-block range fails
    val capped = new MockProvider(spark, chain100, capBlocks = Some(3)) {
      override def getLogs(from: Long, to: Long,
          filter: graft.model.FilterConfig) = {
        if (to - from >= 0) throw new graft.sync.Provider.TooManyResults("cap")
        super.getLogs(from, to, filter)
      }
    }
    val sync = new Syncer(spark, capped, tmpDir("sync"), FilterConfig(),
      batchSize = 8)
    val e = intercept[IllegalStateException] { sync.batchSync(0, 20) }
    assert(e.getMessage.contains("single-block range"))
  }

  test("T7: progress ticks flow during a multi-batch backfill") {
    val provider = new MockProvider(spark, chain100)
    val sync = new Syncer(spark, provider, tmpDir("sync"), FilterConfig(),
      batchSize = 10)
    val ticks = scala.collection.mutable.ArrayBuffer.empty[graft.sync.SyncProgress]
    val box = new graft.sync.LatestTickBox
    sync.addListener(p => ticks.synchronized { ticks += p })
    sync.addListener(box)
    // a listener that throws must lose its ticks, never the sync
    sync.addListener(_ => sys.error("misbehaving consumer"))
    sync.sync()
    assert(sync.table.read.count() == totalLogs)
    // bulk phase: one tick per AIMD batch (90 blocks / size 10 = 9), tail
    // phase: one per hot-window block (10)
    val bulk = ticks.filter(_.phase == "bulk")
    val tail = ticks.filter(_.phase == "tail")
    assert(bulk.size == 9, s"bulk ticks: ${bulk.size}")
    assert(tail.size == 10, s"tail ticks: ${tail.size}")
    // ticks are monotone in current and appended, and carry the pass bounds
    assert(bulk.map(_.current) == bulk.map(_.current).sorted)
    assert(bulk.map(_.appended) == bulk.map(_.appended).sorted)
    assert(bulk.forall(p => p.origin == 0L && p.target == 89L))
    assert(bulk.last.current == 89L)
    assert(tail.forall(p => p.origin == 90L && p.target == 99L))
    assert(tail.last.current == 99L)
    assert(tail.last.appended + bulk.last.appended == totalLogs)
    assert(ticks.forall(_.elapsedMs >= 0L))
    // the SyncCh-twin mailbox holds only the FRESHEST tick
    assert(box.poll().contains(ticks.last))
    // and a resume emits nothing new (no work, no ticks)
    ticks.clear()
  }

  test("full sync: guard + bulk + tail, then idempotent resume") {
    val provider = new MockProvider(spark, chain100)
    val root = tmpDir("sync")
    val sync = new Syncer(spark, provider, root, FilterConfig())
    sync.sync()
    assert(sync.table.read.count() == totalLogs)
    assert(sync.checkpoint().map(_.number).contains(99L))
    // restart: a new Syncer over the same store must add nothing
    val sync2 = new Syncer(spark, provider, root, FilterConfig())
    val r2 = sync2.sync()
    assert(r2.added == 0 && r2.removed == 0)
    assert(sync2.table.read.count() == totalLogs)
  }

  test("resume after chain advance syncs only the delta") {
    val provider = new MockProvider(spark, chain100)
    val root = tmpDir("sync")
    new Syncer(spark, provider, root, FilterConfig()).sync()
    val extended = MockChain.linear(110, n => if (n % 2 == 0) 2 else 5)
    val sync2 = new Syncer(spark, new MockProvider(spark, extended), root,
      FilterConfig())
    sync2.sync()
    val expected = (0L until 110L).map(n => if (n % 2 == 0) 2 else 5).sum
    assert(sync2.table.read.count() == expected)
  }

  test("reorg resync: forked tail is retracted and replaced") {
    val root = tmpDir("sync")
    val provider = new MockProvider(spark, chain100)
    new Syncer(spark, provider, root, FilterConfig()).sync()
    // fork the top 3 blocks onto a new lineage with 1 log each
    val forked = MockChain.fork(chain100, depth = 3, extend = 1)
    val sync2 = new Syncer(spark, new MockProvider(spark, forked), root,
      FilterConfig())
    val r = sync2.sync()
    val oldTail = (97L to 99L).map(n => if (n % 2 == 0) 2 else 5).sum
    assert(r.removed == oldTail)
    assert(r.added == 4) // 4 forked blocks × 1 log
    // post-state oracle: stored logs == canonical chain logs
    val stored = sync2.table.read.select("tx_hash").as[String].collect().sorted
    val canonical = new MockProvider(spark, forked).allLogs
      .select("tx_hash").as[String].collect().sorted
    assert(stored.sameElements(canonical))
  }

  test("mid-tail reorg: parent-hash mismatch triggers reconcile, not append") {
    // the chain forks WHILE the tail loop is running: blocks 35-36 are
    // stored from lineage A, then block 37 arrives from lineage B whose
    // parentHash doesn't extend A's 36 — the linkage guard must reconcile
    // (ref blocktracker handleReconcile) instead of appending mixed
    // lineages that the next sync's checkpoint-hash re-check can't catch
    val chainA = MockChain.linear(40, _ => 1)
    val chainB = MockChain.fork(chainA, depth = 5, extend = 0,
      logsAt = _ => 2)
    val pA = new MockProvider(spark, chainA)
    val pB = new MockProvider(spark, chainB)
    var flipped = false
    val switching = new graft.sync.Provider {
      private def cur = if (flipped) pB else pA
      override def getLogs(f: Long, t: Long, fl: FilterConfig) =
        cur.getLogs(f, t, fl)
      override def getLogsByHash(h: String, fl: FilterConfig) =
        cur.getLogsByHash(h, fl)
      override def getBlock(n: Long) = {
        if (n == 37) flipped = true
        cur.getBlock(n)
      }
      override def latestBlock() = cur.latestBlock()
      override def genesisHash() = cur.genesisHash()
      override def chainId() = cur.chainId()
    }
    val sync = new Syncer(spark, switching, tmpDir("sync"), FilterConfig())
    val r = sync.sync()
    assert(r.removed == 2) // A's forked-away 35,36 (1 log each) retracted
    val stored = sync.table.read.select("tx_hash").as[String].collect().sorted
    val canonical = pB.allLogs.select("tx_hash").as[String].collect().sorted
    assert(stored.sameElements(canonical))
    assert(sync.checkpoint().map(_.hash).contains(chainB.last.hash))
  }

  test("chain guard: bad genesis fails (tracker_test.go:182-219)") {
    val root = tmpDir("sync")
    new Syncer(spark, new MockProvider(spark, chain100), root,
      FilterConfig()).sync()
    // different genesis lineage
    val other = MockChain.linear(50, _ => 1)
      .map(b => b.copy(tag = s"${b.tag}X", parentTag = s"${b.parentTag}X"))
    val bad = intercept[RuntimeException] {
      new Syncer(spark, new MockProvider(spark, other), root,
        FilterConfig()).sync()
    }
    assert(bad.getMessage.contains("bad genesis"))
  }

  test("chain guard validates a partially-written identity (crash between writes)") {
    val root = tmpDir("sync")
    // simulate a crash after the first guard key landed but not the second
    val s1 = new Syncer(spark, new MockProvider(spark, chain100), root,
      FilterConfig())
    s1.kv.set("genesis", new MockProvider(spark, chain100).genesisHash())
    // restart against a DIFFERENT chain: the present key must still be
    // validated, not silently overwritten as "fresh"
    val other = MockChain.linear(50, _ => 1)
      .map(b => b.copy(tag = s"${b.tag}X", parentTag = s"${b.parentTag}X"))
    val bad = intercept[RuntimeException] {
      new Syncer(spark, new MockProvider(spark, other), root,
        FilterConfig()).sync()
    }
    assert(bad.getMessage.contains("bad genesis"))
  }

  test("store ahead of chain is a hard error (T9, tracker.go:639-641)") {
    val root = tmpDir("sync")
    new Syncer(spark, new MockProvider(spark, chain100), root,
      FilterConfig()).sync()
    val shorter = chain100.take(50)
    val err = intercept[RuntimeException] {
      new Syncer(spark, new MockProvider(spark, shorter), root,
        FilterConfig()).sync()
    }
    assert(err.getMessage.contains("store is more advanced"))
  }

  test("reorg across log-less blocks uses the persisted header backlog") {
    val root = tmpDir("sync")
    // the hot window is all empty blocks — nothing in the log table to
    // reconstruct headers from; only the persisted backlog can prove the
    // fork point
    val chain = MockChain.linear(40, n => if (n >= 28) 0 else 2)
    new Syncer(spark, new MockProvider(spark, chain), root, FilterConfig())
      .sync()
    val forked = MockChain.fork(chain, depth = 4, extend = 1, logsAt = _ => 1)
    val s2 = new Syncer(spark, new MockProvider(spark, forked), root,
      FilterConfig())
    val r = s2.sync()
    assert(r.removed == 0)  // forked-away blocks carried no logs
    assert(r.added == 5)    // 5 new-lineage blocks × 1 log
    val stored = s2.table.read.select("tx_hash").as[String].collect().sorted
    val canonical = new MockProvider(spark, forked).allLogs
      .select("tx_hash").as[String].collect().sorted
    assert(stored.sameElements(canonical))
    // the persisted backlog now reflects the new lineage
    assert(s2.storedBacklog().last.hash == forked.last.hash)
  }

  test("fastTrack: a fresh filter starts at first-log-block − 1 (S5/A1)") {
    // address a1 first logs at block 1 (num%3==1) — with a chain whose
    // early blocks are empty for a1, the locator must skip the prefix
    val chain = MockChain.linear(100, n => if (n < 40) 0 else 2)
    val provider = new MockProvider(spark, chain)
    var scanned = Seq.empty[(Long, Long)]
    val tracking = new MockProvider(spark, chain) {
      override def getLogs(from: Long, to: Long,
          filter: graft.model.FilterConfig) = {
        scanned = scanned :+ (from, to); super.getLogs(from, to, filter)
      }
    }
    val locator = new graft.sync.ProviderScanLocator(provider, 99L)
    val sync = new Syncer(spark, tracking, tmpDir("sync"),
      FilterConfig(addresses = Seq("a1")), locator = Some(locator))
    sync.sync()
    // first a1 log ≥ block 40 with num%3==1 → block 40; origin = 39
    val bulkScans = scanned.filter { case (f, _) => f < 89 }
    assert(bulkScans.nonEmpty && bulkScans.head._1 == 39L,
      s"bulk sync did not start at first-log−1: $scanned")
    val expected = (40L until 100L).count(_ % 3 == 1) * 2
    assert(sync.table.read.count() == expected)
  }

  test("tail fetch retries transient failures (T8, tracker.go:803-812)") {
    val chain = MockChain.linear(20, _ => 1)
    var failures = 3
    val flaky = new MockProvider(spark, chain) {
      override def getLogsByHash(h: String,
          filter: graft.model.FilterConfig) = {
        if (h == "h15" && failures > 0) { failures -= 1; sys.error("unsynced") }
        super.getLogsByHash(h, filter)
      }
    }
    val sync = new Syncer(spark, flaky, tmpDir("sync"), FilterConfig())
    sync.sync()
    assert(sync.table.read.count() == 20)
    assert(failures == 0) // the retry actually exercised the failure path
    // a permanently failing block surfaces after fetchRetries attempts
    val dead = new MockProvider(spark, chain) {
      override def getLogsByHash(h: String,
          filter: graft.model.FilterConfig) = sys.error("down")
    }
    val e = intercept[IllegalStateException] {
      new Syncer(spark, dead, tmpDir("sync"), FilterConfig(),
        fetchRetries = 2).sync()
    }
    assert(e.getMessage.contains("failed after 2 attempts"))
  }

  test("offline shallow reorg + long advance resyncs instead of erroring") {
    // tracker stops at block 99; a depth-2 reorg happens AND the chain then
    // advances 50 more blocks — the fork point is inside the stored window
    // but far below the new head, which must not read as 'deeper than
    // backlog'
    val root = tmpDir("sync")
    new Syncer(spark, new MockProvider(spark, chain100), root,
      FilterConfig()).sync()
    val forked = MockChain.fork(chain100, depth = 2, extend = 50,
      logsAt = _ => 1)
    assert(forked.last.num == 149)
    val s2 = new Syncer(spark, new MockProvider(spark, forked), root,
      FilterConfig())
    val r = s2.sync()
    val oldTail = (98L to 99L).map(n => if (n % 2 == 0) 2 else 5).sum
    assert(r.removed == oldTail)
    val stored = s2.table.read.select("tx_hash").as[String].collect().sorted
    val canonical = new MockProvider(spark, forked).allLogs
      .select("tx_hash").as[String].collect().sorted
    assert(stored.sameElements(canonical))
    assert(s2.checkpoint().map(_.number).contains(149L))
  }

  test("randomized sync fuzz: repeated forks always converge to canonical") {
    // the reference's layer-4 oracle (tracker_test.go:369-482): after every
    // round of random advance/fork, stored logs == the mock's canonical set
    val rnd = new scala.util.Random(7)
    val root = tmpDir("fuzz")
    var chain = MockChain.linear(30, _ => rnd.nextInt(3))
    (1 to 8).foreach { gen =>
      val provider = new MockProvider(spark, chain)
      val syncer = new Syncer(spark, provider, root, FilterConfig())
      syncer.sync()
      val stored = syncer.table.read.select("tx_hash").as[String]
        .collect().sorted
      val canonical = provider.allLogs.select("tx_hash").as[String]
        .collect().sorted
      assert(stored.sameElements(canonical), s"diverged at generation $gen")
      assert(syncer.checkpoint().map(_.number).contains(chain.last.num))
      chain = MockChain.fork(chain, depth = rnd.nextInt(6),
        extend = 1 + rnd.nextInt(4), logsAt = _ => rnd.nextInt(3),
        suffix = s"G$gen")
    }
  }

  test("difficulty round-trips through the checkpoint; legacy 3-field parses") {
    // ref tracker.go:237-240 serializes Difficulty with the checkpointed
    // block (nil → 0); here it rides the persisted header strings — a
    // restarted Syncer must read back the exact BigInt (beyond uint64),
    // and pre-difficulty stores (3-field strings) must parse as 0
    import graft.model.BlockHeader
    val big = BigInt("123456789012345678901234567890")
    val base = new MockProvider(spark, MockChain.linear(20, _ => 1))
    val provider = new graft.sync.Provider {
      private def d(b: BlockHeader) = b.copy(difficulty = big + b.number)
      override def getLogs(f: Long, t: Long, fl: FilterConfig) =
        base.getLogs(f, t, fl)
      override def getLogsByHash(h: String, fl: FilterConfig) =
        base.getLogsByHash(h, fl)
      override def getBlock(n: Long) = base.getBlock(n).map(d)
      override def latestBlock() = d(base.latestBlock())
      override def genesisHash() = base.genesisHash()
      override def chainId() = base.chainId()
    }
    val root = tmpDir("diff")
    new Syncer(spark, provider, root, FilterConfig()).sync()
    // a FRESH instance reads the persisted state, not in-memory leftovers
    val re = new Syncer(spark, provider, root, FilterConfig())
    assert(re.checkpoint().map(_.difficulty).contains(big + 19))
    val backlog = re.storedBacklog()
    assert(backlog.nonEmpty)
    backlog.foreach(h => assert(h.difficulty == big + h.number))
    // legacy store: overwrite with a 3-field (pre-difficulty) string
    re.kv.set(s"lastBlock_${FilterConfig().hash}", "19|h19|h18")
    val legacy = new Syncer(spark, provider, root, FilterConfig())
    assert(legacy.checkpoint().contains(BlockHeader(19, "h19", "h18")))
    assert(legacy.checkpoint().get.difficulty == BigInt(0))
  }

  test("address + topic filter pushdown reaches the provider (P1/P2)") {
    val provider = new MockProvider(spark, chain100)
    val filter = FilterConfig(addresses = Seq("a1"),
      topics = Seq(Some("sig1")))
    val sync = new Syncer(spark, provider, tmpDir("sync"), filter)
    sync.sync()
    // a1 ⇔ num%3==1; sig1 ⇔ num%2==1 ⇒ blocks ≡ 1 or 7 mod 6 → 5 logs each
    val expected = (0L until 100L)
      .filter(n => n % 3 == 1 && n % 2 == 1).map(_ => 5).sum
    assert(sync.table.read.count() == expected)
  }

  /** Runs `f(kind, root, store, kv)` once per backend (parquet, tx, JDBC),
    * each on a fresh root; `store()` and `kv()` open new instances over it,
    * as a restarted process would.
    */
  private def onEachBackend(tag: String)(f: (String, String,
      () => graft.store.LogStore, () => graft.store.KeyValueStore) => Unit): Unit = {
    import graft.store._
    val hash = FilterConfig().hash
    Seq("plain", "tx", "jdbc").foreach { kind =>
      val root = tmpDir(s"$tag-$kind")
      val url = s"jdbc:derby:$root/db;create=true"
      def store(): LogStore = kind match {
        case "plain" => new LogTable(spark, root, hash)
        case "tx" => new TxLogTable(spark, root, hash)
        case _ => new JdbcLogStore(spark, url, hash)
      }
      def kv(): KeyValueStore =
        if (kind == "jdbc") new JdbcKvStore(spark, url) else new KvStore(spark, root)
      f(kind, root, () => store(), () => kv())
    }
  }

  test("a restart truncates logs whose checkpoint never landed, on all three backends") {
    import graft.store._
    // the checkpoint write after the 4th tail block's append throws: that
    // block's logs are stored, the checkpoint still names the block before
    final class CrashingKv(in: KeyValueStore, crashAt: Int) extends KeyValueStore {
      private var checkpoints = 0
      override def get(key: String) = in.get(key)
      override def set(key: String, value: String) = in.set(key, value)
      override def setAll(kvs: Map[String, String], drop: String => Boolean,
          expectedVersion: Option[Long], claimStaleMs: Long): Unit = {
        if (kvs.keys.exists(_.startsWith("lastBlock_"))) {
          checkpoints += 1
          if (checkpoints == crashAt)
            throw new IllegalStateException("injected crash before checkpoint")
        }
        in.setAll(kvs, drop, expectedVersion, claimStaleMs)
      }
      override def listPrefix(prefix: String) = in.listPrefix(prefix)
    }
    val chain = MockChain.linear(30, n => 1 + (n % 3).toInt)
    val provider = new MockProvider(spark, chain)
    onEachBackend("torn") { (kind, root, store, kv) =>
      // checkpoint writes: 1 after the bulk batch (blocks 0-19), then one
      // per tail block; the 4th is block 22's
      val crashing = new Syncer(spark, provider, root, FilterConfig(),
        storeOverride = Some(store()), kvOverride = Some(new CrashingKv(kv(), 4)))
      intercept[IllegalStateException](crashing.sync())
      assert(crashing.checkpoint().map(_.number).contains(21L), kind)
      val orphan = crashing.table.firstIndexAbove(21L)
      assert(orphan.nonEmpty, s"$kind: block 22's logs should be stored")
      val restarted = new Syncer(spark, provider, root, FilterConfig(),
        storeOverride = Some(store()), kvOverride = Some(kv()))
      restarted.sync()
      val stored = restarted.table.read.select("tx_hash").as[String]
        .collect().sorted
      val canonical = provider.allLogs.select("tx_hash").as[String]
        .collect().sorted
      assert(stored.sameElements(canonical), s"$kind: orphans survived the restart")
      assert(restarted.table.read.select("indx").as[Long].collect().sorted
        .sameElements(0L until canonical.length.toLong), s"$kind: indices")
    }
  }

  test("a restart before the first checkpoint truncates what the crashed sync stored, on all three backends") {
    import graft.store._
    // throws right after the first bulk append: its logs are stored and no
    // checkpoint exists yet
    final class CrashAfterFirstAppend(in: LogStore) extends LogStore {
      private var appends = 0
      override def read = in.read
      override def lastIndex() = in.lastIndex()
      override def firstIndexAbove(block: Long) = in.firstIndexAbove(block)
      override def storeLogs(batch: org.apache.spark.sql.DataFrame) = {
        val end = in.storeLogs(batch)
        appends += 1
        if (appends == 1)
          throw new IllegalStateException("injected crash after the first append")
        end
      }
      override def removeLogsFrom(n: Long) = in.removeLogsFrom(n)
      override def getLog(n: Long) = in.getLog(n)
      override def compact() = in.compact()
    }
    // 79 logs; the first 10-block batch holds 19 of them
    val provider = new MockProvider(spark,
      MockChain.linear(40, n => 1 + (n % 3).toInt))
    onEachBackend("precheckpoint") { (kind, root, store, kv) =>
      val crashing = new Syncer(spark, provider, root, FilterConfig(),
        batchSize = 10L, storeOverride = Some(new CrashAfterFirstAppend(store())),
        kvOverride = Some(kv()))
      intercept[IllegalStateException](crashing.sync())
      assert(crashing.checkpoint().isEmpty, kind)
      assert(crashing.table.lastIndex() == 19L, s"$kind: the first batch is stored")
      val restarted = new Syncer(spark, provider, root, FilterConfig(),
        batchSize = 10L, storeOverride = Some(store()), kvOverride = Some(kv()))
      restarted.sync()
      val stored = restarted.table.read.select("tx_hash").as[String]
        .collect().sorted
      val canonical = provider.allLogs.select("tx_hash").as[String]
        .collect().sorted
      val rows = stored.length
      assert(rows == 79, s"$kind: $rows rows stored")
      assert(stored.sameElements(canonical), s"$kind: duplicates survived the restart")
      assert(restarted.table.read.select("indx").as[Long].collect().sorted
        .sameElements(0L until 79L), s"$kind: indices")
    }
  }

  test("a fork walks back only to its ancestor: depth d fetches d+1 stored heights") {
    Seq(1, 4).foreach { d =>
      val root = tmpDir(s"walk$d")
      new Syncer(spark, new MockProvider(spark, chain100), root,
        FilterConfig()).sync()
      // the stored backlog is full (blocks 90-99); the fork replaces the top
      // d blocks and adds one
      val forked = MockChain.fork(chain100, depth = d, extend = 1)
      val p = new CountingProvider(new MockProvider(spark, forked))
      val s = new Syncer(spark, p, root, FilterConfig())
      val r = s.sync()
      assert(p.blockHeights == (99L to (99L - d) by -1L), s"depth $d")
      assert(r.removed == (100L - d until 100L)
        .map(n => if (n % 2 == 0) 2 else 5).sum, s"depth $d")
      val stored = s.table.read.select("tx_hash").as[String].collect().sorted
      val canonical = new MockProvider(spark, forked).allLogs
        .select("tx_hash").as[String].collect().sorted
      assert(stored.sameElements(canonical), s"depth $d")
      assert(s.checkpoint().map(_.hash).contains(forked.last.hash))
    }
  }

  test("a reused Syncer runs the chain guard only on its first sync()") {
    val root = tmpDir("guard-once")
    val p = new CountingProvider(new MockProvider(spark, chain100.take(50)))
    val s = new Syncer(spark, p, root, FilterConfig())
    s.sync()
    // a fresh store: the guard records the identity, one call each
    assert(p.calls("genesisHash") == 1 && p.calls("chainId") == 1)
    p.inner = new MockProvider(spark, chain100.take(60))
    p.reset()
    s.sync()
    assert(p.calls("genesisHash") == 0 && p.calls("chainId") == 0)
    assert(s.checkpoint().map(_.number).contains(59L))
    // a fresh instance validates the recorded identity again
    p.reset()
    new Syncer(spark, p, root, FilterConfig()).sync()
    assert(p.calls("genesisHash") == 1 && p.calls("chainId") == 1)
  }

  test("a fork deeper than the backlog walks every stored height, then throws") {
    val root = tmpDir("too-deep")
    new Syncer(spark, new MockProvider(spark, chain100), root,
      FilterConfig()).sync()
    val forked = MockChain.fork(chain100, depth = 12, extend = 1)
    val p = new CountingProvider(new MockProvider(spark, forked))
    val e = intercept[IllegalStateException] {
      new Syncer(spark, p, root, FilterConfig()).sync()
    }
    assert(e.getMessage.contains("reorg deeper than backlog"))
    assert(p.blockHeights == (99L to 90L by -1L))
  }

  test("a restart truncates a LogTable batch torn between its range renames") {
    import graft.store._
    // fails the `crashOn`-th append between its first and second
    // block_range renames: the batch's first range is published, the
    // checkpoint still names the batch before
    final class TornAppend(t: LogTable, crashOn: Int) extends LogStore {
      private var appends = 0
      override def read = t.read
      override def lastIndex() = t.lastIndex()
      override def firstIndexAbove(block: Long) = t.firstIndexAbove(block)
      override def storeLogs(batch: org.apache.spark.sql.DataFrame) = {
        appends += 1
        t.storeLogs(batch, if (appends == crashOn) "mid-publish" else "")
      }
      override def removeLogsFrom(n: Long) = t.removeLogsFrom(n)
      override def getLog(n: Long) = t.getLog(n)
      override def compact() = t.compact()
    }
    val provider = new MockProvider(spark,
      MockChain.linear(40, n => 1 + (n % 3).toInt))
    val root = tmpDir("torn-publish")
    // 5 blocks per range: each 10-block bulk batch spans two ranges
    def table() = new LogTable(spark, root, FilterConfig().hash,
      blocksPerRange = 5L)
    val crashing = new Syncer(spark, provider, root, FilterConfig(),
      batchSize = 10L, storeOverride = Some(new TornAppend(table(), 2)))
    intercept[RuntimeException](crashing.sync())
    assert(crashing.checkpoint().map(_.number).contains(9L))
    assert(table().read.agg(org.apache.spark.sql.functions.max("block_num"))
      .head().getLong(0) == 14L, "blocks 10-14 should be published")
    val restarted = new Syncer(spark, provider, root, FilterConfig(),
      batchSize = 10L, storeOverride = Some(table()))
    restarted.sync()
    val stored = restarted.table.read.select("tx_hash").as[String]
      .collect().sorted
    val canonical = provider.allLogs.select("tx_hash").as[String]
      .collect().sorted
    assert(stored.sameElements(canonical), "the torn batch survived the restart")
    assert(restarted.table.read.select("indx").as[Long].collect().sorted
      .sameElements(0L until canonical.length.toLong), "indices")
  }
}
