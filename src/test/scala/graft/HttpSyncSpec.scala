package graft

import java.net.InetSocketAddress
import java.util.concurrent.atomic.AtomicInteger

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.sun.net.httpserver.{HttpExchange, HttpServer}

import graft.model.FilterConfig
import graft.sync.{EtherscanLocator, HttpJson, HttpRpcProvider, Provider, Syncer}

/** In-process loopback HTTP server speaking the two wire protocols the
  * reference actually consumes: Ethereum JSON-RPC (the Provider surface,
  * ref `tracker.go:125-131`) on POST /, and an Etherscan-style REST log
  * index (ref `tracker.go:474-498`) on GET /api. Serves a [[MBlock]] mock
  * chain with the same log-generation rule as [[MockProvider]], so wire
  * answers are comparable 1:1 with the in-memory provider's.
  */
final class StubEthServer(
    @volatile var chain: Seq[MBlock],
    capBlocks: Option[Long] = None
) {
  private val mapper = new ObjectMapper()
  val requests = new AtomicInteger(0)
  /** Respond HTTP 500 to this many upcoming requests (transport-retry
    * drills).
    */
  val failNext = new AtomicInteger(0)

  private val server =
    HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
  server.createContext("/", (ex: HttpExchange) => handle(ex))
  server.setExecutor(null)
  server.start()

  val endpoint = s"http://127.0.0.1:${server.getAddress.getPort}"

  def stop(): Unit = server.stop(0)

  // one log row: (tx_index, tx_hash, address, topics) — MockProvider's rule
  private def logsJson(b: MBlock, address: Option[Set[String]],
      topics: Seq[Option[String]]): Seq[JsonNode] =
    (0 until b.nLogs).flatMap { i =>
      val addr = s"a${b.num % 3}"
      val tops = Seq(s"sig${b.num % 2}")
      val addrOk = address.forall(_.contains(addr))
      val topsOk = topics.zipWithIndex.forall {
        case (Some(t), ix) => ix < tops.length && tops(ix) == t
        case (None, _) => true
      }
      if (!addrOk || !topsOk) None
      else {
        val o = mapper.createObjectNode()
        o.put("transactionIndex", "0x" + i.toHexString)
        o.put("transactionHash", s"tx-${b.hash}-$i")
        o.put("blockNumber", "0x" + b.num.toHexString)
        o.put("blockHash", b.hash)
        o.put("address", addr)
        val ts = o.putArray("topics")
        tops.foreach(ts.add)
        o.put("data", "0x")
        Some(o)
      }
    }

  private def blockJson(b: MBlock): JsonNode = {
    val o = mapper.createObjectNode()
    o.put("number", "0x" + b.num.toHexString)
    o.put("hash", b.hash)
    o.put("parentHash", b.parentHash)
    o.put("difficulty", "0x" + b.num.toHexString) // deterministic nonzero
    o
  }

  private def parseHex(s: String): Long =
    java.lang.Long.parseUnsignedLong(s.stripPrefix("0x"), 16)

  private def filterOf(params: JsonNode): (Option[Set[String]], Seq[Option[String]]) = {
    val addrNode = params.path("address")
    val address =
      if (addrNode.isMissingNode || addrNode.isNull) None
      else if (addrNode.isArray) {
        val s = scala.collection.mutable.Set[String]()
        addrNode.forEach(a => s += a.asText())
        Some(s.toSet)
      } else Some(Set(addrNode.asText()))
    val topicsNode = params.path("topics")
    val topics =
      if (!topicsNode.isArray) Nil
      else {
        val b = scala.collection.mutable.ArrayBuffer[Option[String]]()
        topicsNode.forEach(t =>
          b += (if (t.isNull) None else Some(t.asText())))
        b.toSeq
      }
    (address, topics)
  }

  private def rpcAnswer(req: JsonNode): JsonNode = {
    val id = req.path("id")
    val out = mapper.createObjectNode()
    out.put("jsonrpc", "2.0")
    out.set[JsonNode]("id", id)
    def err(code: Int, msg: String): JsonNode = {
      val e = out.putObject("error")
      e.put("code", code)
      e.put("message", msg)
      out
    }
    val params = req.path("params")
    req.path("method").asText() match {
      case "eth_blockNumber" =>
        out.put("result", "0x" + chain.last.num.toHexString); out
      case "eth_chainId" =>
        out.put("result", "0x539"); out // 1337
      case "eth_getBlockByNumber" =>
        val n = parseHex(params.get(0).asText())
        chain.find(_.num == n) match {
          case Some(b) => out.set[JsonNode]("result", blockJson(b)); out
          case None => out.putNull("result"); out
        }
      case "eth_getBlockByHash" =>
        chain.find(_.hash == params.get(0).asText()) match {
          case Some(b) => out.set[JsonNode]("result", blockJson(b)); out
          case None => out.putNull("result"); out
        }
      case "eth_getLogs" =>
        val f = params.get(0)
        val (address, topics) = filterOf(f)
        val bh = f.path("blockHash")
        val blocks =
          if (!bh.isMissingNode && !bh.isNull)
            chain.filter(_.hash == bh.asText())
          else {
            val from = parseHex(f.path("fromBlock").asText("0x0"))
            val to = parseHex(f.path("toBlock").asText(
              "0x" + chain.last.num.toHexString))
            capBlocks.foreach { cap =>
              if (to - from > cap)
                return err(-32005, "query returned more than 10000 results")
            }
            chain.filter(b => b.num >= from && b.num <= to)
          }
        val arr = out.putArray("result")
        blocks.flatMap(logsJson(_, address, topics)).foreach(arr.add)
        out
      case m => err(-32601, s"method $m not found")
    }
  }

  /** Etherscan logs.getLogs: first log of one address over the whole
    * chain, honestly recomputed from the block data.
    */
  private def etherscanAnswer(query: String): JsonNode = {
    val q = query.split("&").map(_.split("=", 2))
      .collect { case Array(k, v) => k -> java.net.URLDecoder.decode(v, "UTF-8") }
      .toMap
    val out = mapper.createObjectNode()
    q.get("address").flatMap(addr =>
      chain.find(b => b.nLogs > 0 && s"a${b.num % 3}" == addr)) match {
      case Some(b) =>
        out.put("status", "1"); out.put("message", "OK")
        val arr = out.putArray("result")
        val e = mapper.createObjectNode()
        e.put("blockNumber", "0x" + b.num.toHexString)
        arr.add(e)
      case None =>
        out.put("status", "0"); out.put("message", "No records found")
        out.putArray("result")
    }
    out
  }

  private def handle(ex: HttpExchange): Unit = {
    requests.incrementAndGet()
    val (code, body) =
      if (failNext.getAndUpdate(n => math.max(0, n - 1)) > 0)
        (500, "boom")
      else if (ex.getRequestURI.getPath.startsWith("/api"))
        (200, mapper.writeValueAsString(
          etherscanAnswer(Option(ex.getRequestURI.getQuery).getOrElse(""))))
      else {
        val req = mapper.readTree(ex.getRequestBody)
        (200, mapper.writeValueAsString(rpcAnswer(req)))
      }
    val bytes = body.getBytes("UTF-8")
    ex.getResponseHeaders.set("Content-Type", "application/json")
    ex.sendResponseHeaders(code, bytes.length.toLong)
    val os = ex.getResponseBody
    os.write(bytes)
    os.close()
  }
}

/** The wire clients driven end-to-end against the loopback stub — the
  * JSON-decode/retry/error-classification code the mock-provider suites
  * can't exercise.
  */
class HttpSyncSpec extends SparkSpec {

  private def withServer[A](chain: Seq[MBlock],
      capBlocks: Option[Long] = None)(f: StubEthServer => A): A = {
    val srv = new StubEthServer(chain, capBlocks)
    try f(srv) finally srv.stop()
  }

  test("provider surface over real HTTP: head, blocks, chain id, genesis") {
    withServer(MockChain.linear(12, _ => 1)) { srv =>
      val p = new HttpRpcProvider(spark, srv.endpoint)
      assert(p.chainId() == "1337")
      assert(p.genesisHash() == "h0")
      val head = p.latestBlock()
      assert(head.number == 11L && head.hash == "h11")
      val b = p.getBlock(5L).get
      assert(b.hash == "h5" && b.parentHash == "h4" &&
        b.difficulty == BigInt(5))
      assert(p.getBlock(99L).isEmpty)
      assert(p.getBlockByHash("h7").exists(_.number == 7L))
      assert(p.getBlockByHash("nope").isEmpty)
    }
  }

  test("getLogs over HTTP matches the in-memory provider row-for-row") {
    val chain = MockChain.linear(15, n => (n % 4).toInt)
    withServer(chain) { srv =>
      val http = new HttpRpcProvider(spark, srv.endpoint)
      val mem = new MockProvider(spark, chain)
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
          r.getString(3), r.getString(4), r.getSeq[String](5).toList,
          r.getString(6))).toSet
      val filter = FilterConfig()
      assert(rows(http.getLogs(0, 14, filter)) ==
        rows(mem.getLogs(0, 14, filter)))
      // server-side filter pushdown: address + positional topic
      val f2 = FilterConfig(addresses = Seq("a1"), topics = Seq(Some("sig0")))
      val got = rows(http.getLogs(0, 14, f2))
      assert(got == rows(mem.getLogs(0, 14, f2)) && got.nonEmpty)
      assert(got.forall { case (_, _, num, _, addr, tops, _) =>
        addr == "a1" && num % 2 == 0 && tops == List("sig0") })
      // by-hash form
      assert(rows(http.getLogsByHash("h6", filter)) ==
        rows(mem.getLogsByHash("h6", filter)))
    }
  }

  test("the 10k-results refusal arrives as a real JSON-RPC error body and classifies") {
    withServer(MockChain.linear(30, _ => 1), capBlocks = Some(3L)) { srv =>
      val p = new HttpRpcProvider(spark, srv.endpoint)
      val e = intercept[Provider.TooManyResults] {
        p.getLogs(0, 20, FilterConfig())
      }
      assert(e.getMessage == "query returned more than 10000 results")
      // a range within the cap still answers
      assert(p.getLogs(0, 3, FilterConfig()).count() == 4L)
    }
  }

  test("transport faults retry with a budget; persistent failure classifies") {
    withServer(MockChain.linear(5, _ => 1)) { srv =>
      val p = new HttpRpcProvider(spark, srv.endpoint, maxRetries = 3)
      srv.failNext.set(2) // two 500s, then healthy
      assert(p.latestBlock().number == 4L)
      srv.failNext.set(1000)
      intercept[HttpJson.TransportError] { p.chainId() }
      srv.failNext.set(0)
      // an application-level RPC error is NOT retried and NOT a transport
      // error: unknown method → RpcError, exactly one request consumed
      val rpc = new graft.sync.JsonRpcClient(srv.endpoint, maxRetries = 3)
      val before = srv.requests.get()
      intercept[HttpJson.RpcError] { rpc.call("eth_bogusMethod") }
      assert(srv.requests.get() == before + 1)
    }
  }

  test("full sync end-to-end through HTTP with AIMD adapting to the cap") {
    // cap 3 ⇒ any range over 4 blocks gets the 10k-results refusal; the
    // AIMD loop must halve down from 16 and still cover everything
    val chain = MockChain.linear(40, _ => 2)
    withServer(chain, capBlocks = Some(3L)) { srv =>
      val p = new HttpRpcProvider(spark, srv.endpoint)
      val root = tmpDir("httpsync")
      val filter = FilterConfig(addresses = Seq("a1"))
      val s = new Syncer(spark, p, root, filter,
        batchSize = 16L, maxBlockBacklog = 5)
      val report = s.sync()
      assert(report.headNumber == 39L)
      // a1 logs at num % 3 == 1, 2 logs each: 1,4,...,37 → 13 blocks
      assert(s.table.read.count() == 26L)
      // resume is a no-op (checkpoint over HTTP round-trips)
      val r2 = new Syncer(spark, p, root, filter,
        batchSize = 16L, maxBlockBacklog = 5).sync()
      assert(r2.batches == 0L && r2.added == 0L)
      assert(s.table.read.count() == 26L)
    }
  }

  test("offline reorg over HTTP: checkpoint re-check triggers retraction + resync") {
    // the chain reorganizes while the tracker is down; on restart the
    // checkpoint is re-checked by the first tail block's parent link, whose
    // parentHash no longer names the checkpointed block —
    // the whole reconcile (ancestor within backlog, truncate, retract,
    // resync forward) runs through real wire calls
    val chain1 = MockChain.linear(30, _ => 1)
    withServer(chain1) { srv =>
      val p = new HttpRpcProvider(spark, srv.endpoint)
      val root = tmpDir("httpreorg")
      new Syncer(spark, p, root, FilterConfig(),
        batchSize = 10L, maxBlockBacklog = 5).sync()
      srv.chain = MockChain.fork(chain1, depth = 3, extend = 4)
      val s2 = new Syncer(spark, p, root, FilterConfig(),
        batchSize = 10L, maxBlockBacklog = 5)
      val r = s2.sync()
      assert(r.removed == 3L) // 3 orphaned blocks × 1 log retracted
      assert(r.headNumber == 33L)
      // post-state oracle: stored logs == the forked chain's canonical set
      val stored = s2.table.read.select("tx_hash").collect()
        .map(_.getString(0)).sorted
      val canonical = new MockProvider(spark, srv.chain).allLogs
        .select("tx_hash").collect().map(_.getString(0)).sorted
      assert(stored.sameElements(canonical))
    }
  }

  /** A Syncer (batch 10, backlog 5) over 30 one-log blocks, synced once. */
  private def withSyncedChain[A](f: (StubEthServer, Syncer) => A): A =
    withServer(MockChain.linear(30, _ => 1)) { srv =>
      val s = new Syncer(spark, new HttpRpcProvider(spark, srv.endpoint),
        tmpDir("httpbudget"), FilterConfig(), batchSize = 10L,
        maxBlockBacklog = 5)
      s.sync()
      f(srv, s)
    }

  private def assertCanonical(srv: StubEthServer, s: Syncer): Unit = {
    val stored = s.table.read.select("tx_hash").collect()
      .map(_.getString(0)).sorted
    val canonical = new MockProvider(spark, srv.chain).allLogs
      .select("tx_hash").collect().map(_.getString(0)).sorted
    assert(stored.sameElements(canonical))
    assert(s.checkpoint().map(_.hash).contains(srv.chain.last.hash))
  }

  test("a reused Syncer syncs one new block in exactly 3 requests") {
    withSyncedChain { (srv, s) =>
      srv.chain = MockChain.linear(31, _ => 1)
      val before = srv.requests.get()
      s.sync()
      // eth_blockNumber, the head's header, the head's logs by hash
      assert(srv.requests.get() - before == 3)
      assertCanonical(srv, s)
    }
  }

  test("a depth-2 fork sync on a reused Syncer takes at most 10 requests") {
    withSyncedChain { (srv, s) =>
      srv.chain = MockChain.fork(srv.chain, depth = 2, extend = 1)
      val before = srv.requests.get()
      val r = s.sync()
      // head (2), walk to the ancestor (3), fresh head (2), logs (3)
      val n = srv.requests.get() - before
      assert(n <= 10, s"$n requests")
      assert(r.removed == 2L)
      assertCanonical(srv, s)
    }
  }

  test("a same-height fork (head at the checkpoint's height, new hash) is retracted") {
    withSyncedChain { (srv, s) =>
      srv.chain = MockChain.fork(srv.chain, depth = 2, extend = 0)
      assert(srv.chain.last.num == 29L)
      assert(s.sync().removed == 2L)
      assertCanonical(srv, s)
    }
  }

  test("Etherscan REST locator: min-first-block over addresses, wired into fastTrack") {
    // no logs before block 18 at all
    val chain = MockChain.linear(30, n => if (n >= 18) 1 else 0)
    withServer(chain) { srv =>
      val loc = new EtherscanLocator(srv.endpoint, apiKey = "k")
      // a1 first logs at 19 (first n ≥ 18 with n % 3 == 1); a2 at 20
      assert(loc.firstLogBlock(Seq("a1")) == Some(19L))
      assert(loc.firstLogBlock(Seq("a1", "a2")) == Some(19L))
      // unknown address: "No records found" → 0, like the reference
      assert(loc.firstLogBlock(Seq("zzz")) == Some(0L))
      assert(loc.firstLogBlock(Nil).isEmpty)

      // end-to-end: the sync starts at firstLog − 1, not genesis
      val p = new HttpRpcProvider(spark, srv.endpoint)
      val s = new Syncer(spark, p, tmpDir("fasttrack"),
        FilterConfig(addresses = Seq("a1")),
        batchSize = 4L, maxBlockBacklog = 5, locator = Some(loc))
      val report = s.sync()
      // head 29, bulkEnd 24, origin max(0, 19−1) = 18 → bulk 18..24 in 2
      // batches of ≤ 4; genesis-origin would need 7
      assert(report.batches == 2L)
      // a1 logs in 19..29: blocks 19, 22, 25, 28
      assert(s.table.read.count() == 4L)
    }
  }
}
