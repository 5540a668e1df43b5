package graftbench

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.util.concurrent.atomic.LongAdder

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.sun.net.httpserver.{HttpExchange, HttpServer}

/** Loopback Ethereum JSON-RPC node serving a generated chain: the five
  * methods `HttpRpcProvider` calls (eth_blockNumber, eth_getBlockByNumber,
  * eth_getBlockByHash, eth_getLogs by range or blockHash, eth_chainId).
  *
  *  - A ranged eth_getLogs whose filtered result exceeds 10,000 logs is
  *    refused with the reference node's error string, which the client
  *    turns into an AIMD halving.
  *  - A seeded share of requests gets HTTP 500 (never two in a row), so
  *    the client's transport retry is exercised without ever exhausting it.
  *  - Handle time and response bytes are counted, so stub cost can be
  *    told apart from client cost.
  */
final class ChainStub(seed: Long, fail500Permille: Int) {
  private val mapper = new ObjectMapper()

  @volatile private var canonical: Vector[GBlock] = Vector.empty
  /** Every block ever published, canonical or orphaned, by hash. */
  private val byHash =
    new java.util.concurrent.ConcurrentHashMap[String, GBlock]()

  val getLogsCalls = new LongAdder
  val refused = new LongAdder
  val injected500 = new LongAdder
  val handleNs = new LongAdder
  val respBytes = new LongAdder

  def resetCounters(): Unit =
    Seq(getLogsCalls, refused, injected500, handleNs, respBytes)
      .foreach(_.reset())

  private val failRnd = new java.util.Random(seed ^ 0x5deece66dL)
  private var lastFailed = false

  /** Atomically replace the served chain (a fork is a new canonical view). */
  def publish(chain: Vector[GBlock]): Unit = {
    chain.foreach(b => byHash.putIfAbsent(b.hash, b))
    canonical = chain
  }

  /** The block hash of the newest eth_getLogs-by-blockHash answered. The
    * tail sync fetches a block's logs by hash right before it reports the
    * block done, so this names the block a tail progress tick is about.
    */
  @volatile var lastByHash: String = ""

  def head: GBlock = canonical.last

  private val server =
    HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
  private val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
  server.createContext("/", (ex: HttpExchange) => handle(ex))
  server.setExecutor(pool)
  server.start()

  val endpoint: String = s"http://127.0.0.1:${server.getAddress.getPort}"

  def stop(): Unit = {
    server.stop(0)
    pool.shutdownNow()
    pool.awaitTermination(10, java.util.concurrent.TimeUnit.SECONDS)
  }

  private def fail500(): Boolean = synchronized {
    val f = !lastFailed && failRnd.nextInt(1000) < fail500Permille
    lastFailed = f
    f
  }

  /** Requests on `/poll` come from the benchmark's own head poller: they
    * are answered but neither counted nor failed.
    */
  private def handle(ex: HttpExchange): Unit = {
    val t0 = System.nanoTime()
    val program = ex.getRequestURI.getPath != "/poll"
    try {
      val req = mapper.readTree(ex.getRequestBody)
      if (program && fail500()) {
        injected500.increment()
        ex.sendResponseHeaders(500, -1)
      } else {
        val body = answer(req).getBytes(StandardCharsets.UTF_8)
        ex.getResponseHeaders.add("Content-Type", "application/json")
        ex.sendResponseHeaders(200, body.length.toLong)
        val os = ex.getResponseBody
        os.write(body)
        os.close()
        if (program) respBytes.add(body.length.toLong)
      }
    } finally {
      ex.close()
      if (program) handleNs.add(System.nanoTime() - t0)
    }
  }

  private def hex(n: Long): String = "0x" + java.lang.Long.toHexString(n)
  private def parseHex(s: String): Long =
    java.lang.Long.parseUnsignedLong(s.stripPrefix("0x"), 16)
  private def q(s: String): String = "\"" + s + "\""

  private def answer(req: JsonNode): String = {
    val id = req.path("id").asLong()
    val params = req.path("params")
    def ok(result: String) = s"""{"jsonrpc":"2.0","id":$id,"result":$result}"""
    req.path("method").asText() match {
      case "eth_blockNumber" => ok(q(hex(head.number)))
      case "eth_chainId" => ok(q("0x539"))
      case "eth_getBlockByNumber" =>
        val n = parseHex(params.get(0).asText())
        val c = canonical
        ok(if (n >= 0 && n < c.length) blockJson(c(n.toInt)) else "null")
      case "eth_getBlockByHash" =>
        ok(Option(byHash.get(params.get(0).asText())).map(blockJson)
          .getOrElse("null"))
      case "eth_getLogs" =>
        getLogsCalls.increment()
        val f = params.get(0)
        if (f.hasNonNull("blockHash")) lastByHash = f.get("blockHash").asText()
        val addrs = Option(f.get("address")).filterNot(_.isNull).map { a =>
          val s = Set.newBuilder[String]
          if (a.isArray) a.forEach(x => s += x.asText()) else s += a.asText()
          s.result()
        }
        val topics = Option(f.get("topics")).filter(_.isArray).map { t =>
          val b = Vector.newBuilder[Option[String]]
          t.forEach(x => b += (if (x.isNull) None else Some(x.asText())))
          b.result()
        }.getOrElse(Vector.empty)
        val blocks: Seq[GBlock] =
          if (f.hasNonNull("blockHash"))
            Option(byHash.get(f.get("blockHash").asText())).toSeq
          else {
            val c = canonical
            val from = parseHex(f.get("fromBlock").asText()).toInt
            val to = math.min(parseHex(f.get("toBlock").asText()),
              (c.length - 1).toLong).toInt
            (from to to).map(c)
          }
        val logs = blocks.iterator.flatMap(_.logs)
          .filter(l => Chain.matches(l, addrs, topics)).toVector
        if (logs.length > 10000 && !f.hasNonNull("blockHash")) {
          refused.increment()
          s"""{"jsonrpc":"2.0","id":$id,"error":{"code":-32005,""" +
            """"message":"query returned more than 10000 results"}}"""
        } else ok(logs.map(logJson).mkString("[", ",", "]"))
      case m =>
        s"""{"jsonrpc":"2.0","id":$id,"error":{"code":-32601,""" +
          s""""message":"method $m not found"}}"""
    }
  }

  private def blockJson(b: GBlock): String =
    s"""{"number":${q(hex(b.number))},"hash":${q(b.hash)},""" +
      s""""parentHash":${q(b.parentHash)},"difficulty":${q(hex(b.number))}}"""

  private def logJson(l: GLog): String =
    s"""{"transactionIndex":${q(hex(l.txIndex))},""" +
      s""""transactionHash":${q(l.txHash)},"blockNumber":${q(hex(l.blockNum))},""" +
      s""""blockHash":${q(l.blockHash)},"address":${q(l.address)},""" +
      s""""topics":${l.topics.map(q).mkString("[", ",", "]")},""" +
      s""""data":${q(l.data)},"logIndex":"0x0","removed":false}"""
}
