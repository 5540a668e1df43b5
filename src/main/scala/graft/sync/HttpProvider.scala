package graft.sync

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets
import java.time.Duration

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

import graft.model.{BlockHeader, FilterConfig}

/** The real wire clients behind [[Provider]] and [[FirstLogLocator]]: an
  * Ethereum JSON-RPC client (the reference's Provider is exactly this
  * surface over HTTP — ref `tracker.go:125-131`) and an Etherscan-style
  * REST locator (ref `tracker.go:474-498`). Everything below is JDK-only
  * (`java.net.http`) plus the Jackson that ships with Spark — no extra
  * dependencies, fully drivable against an in-process loopback stub in
  * tests (HttpSyncSpec).
  *
  * Error taxonomy, bottom-up:
  *  - TRANSPORT faults (connect refused, timeouts, HTTP 429/5xx) are
  *    retried with a bounded fixed backoff — they say nothing about the
  *    request's validity.
  *  - APPLICATION errors (a JSON-RPC `error` member, an Etherscan NOTOK)
  *    are never retried; the one the sync loop reacts to — "query returned
  *    more than 10000 results" (ref `tracker.go:326-336`) — is classified
  *    into [[Provider.TooManyResults]] so the AIMD batch loop halves the
  *    range, exactly like the reference.
  */
object HttpJson {

  /** Non-retryable JSON-RPC / REST application error. */
  final class RpcError(val code: Int, message: String)
      extends RuntimeException(message)

  /** Transport still failing after the retry budget. */
  final class TransportError(message: String, cause: Throwable)
      extends RuntimeException(message, cause)

  private[sync] val mapper = new ObjectMapper()

  private def retryable(status: Int): Boolean =
    status == 429 || status >= 500

  /** Execute with bounded retry on transport faults and retryable statuses.
    * Application-level responses (2xx/4xx except 429) return to the caller
    * untouched — classification is the caller's job.
    */
  private[sync] def execute(
      client: HttpClient,
      request: HttpRequest,
      maxRetries: Int,
      retryDelayMs: Long
  ): HttpResponse[String] = {
    var attempt = 0
    while (true) {
      val failure: Either[Throwable, HttpResponse[String]] =
        try {
          val r = client.send(request, HttpResponse.BodyHandlers.ofString())
          if (retryable(r.statusCode()))
            Left(new RuntimeException(s"HTTP ${r.statusCode()}"))
          else return r
        } catch { case e: java.io.IOException => Left(e) }
      attempt += 1
      if (attempt >= maxRetries)
        throw new TransportError(
          s"${request.uri()} failed after $maxRetries attempts",
          failure.swap.getOrElse(null))
      if (retryDelayMs > 0) Thread.sleep(retryDelayMs)
    }
    sys.error("unreachable")
  }
}

/** Minimal Ethereum JSON-RPC 2.0 client over `java.net.http`. */
final class JsonRpcClient(
    endpoint: String,
    maxRetries: Int = 3,
    retryDelayMs: Long = 0L,
    timeoutMs: Long = 10000L
) {
  import HttpJson.mapper

  private val client = HttpClient.newBuilder()
    .connectTimeout(Duration.ofMillis(timeoutMs)).build()
  private val nextId = new java.util.concurrent.atomic.AtomicLong(1L)

  /** One RPC round-trip; returns the `result` node. Throws
    * [[Provider.TooManyResults]] for the reference's 10k-results refusal
    * (ref `tracker.go:332`), [[HttpJson.RpcError]] for any other `error`
    * member, [[HttpJson.TransportError]] when the wire itself fails.
    */
  def call(method: String, params: JsonNode*): JsonNode = {
    val req = mapper.createObjectNode()
    req.put("jsonrpc", "2.0")
    req.put("id", nextId.getAndIncrement())
    req.put("method", method)
    val arr = req.putArray("params")
    params.foreach(arr.add)
    val http = HttpRequest.newBuilder(URI.create(endpoint))
      .timeout(Duration.ofMillis(timeoutMs))
      .header("Content-Type", "application/json")
      .POST(HttpRequest.BodyPublishers.ofString(
        mapper.writeValueAsString(req), StandardCharsets.UTF_8))
      .build()
    val resp = HttpJson.execute(client, http, maxRetries, retryDelayMs)
    val body = mapper.readTree(resp.body())
    val err = body.path("error")
    if (!err.isMissingNode && !err.isNull) {
      val msg = err.path("message").asText("")
      // the one application error with control-flow meaning (AIMD halving)
      if (msg == "query returned more than 10000 results")
        throw new Provider.TooManyResults(msg)
      throw new HttpJson.RpcError(err.path("code").asInt(0), msg)
    }
    body.path("result")
  }

  def textNode(s: String): JsonNode = mapper.getNodeFactory.textNode(s)
  def boolNode(b: Boolean): JsonNode = mapper.getNodeFactory.booleanNode(b)
}

/** [[Provider]] over live Ethereum JSON-RPC — the engine's real ingestion
  * edge (ref Provider surface, `tracker.go:125-131`: BlockNumber,
  * GetBlockByHash/Number, GetLogs, ChainID → eth_blockNumber,
  * eth_getBlockByHash/Number, eth_getLogs, eth_chainId).
  *
  * Scale shape: each `getLogs` answer is bounded by the node's own result
  * cap (the 10k refusal the AIMD loop adapts to), so materializing a batch
  * on the driver is bounded-by-protocol — the same shape as the
  * reference, where every batch crosses one RPC connection. Answers come
  * back as `LocalRelation` frames, so the store sorts and numbers them on
  * the driver, and the file stores write them there with no job
  * ([[graft.ops.LogOps.withAppendIndexes]]); reorg retraction and the
  * queries downstream run as distributed Spark jobs.
  */
final class HttpRpcProvider(
    spark: SparkSession,
    endpoint: String,
    maxRetries: Int = 3,
    retryDelayMs: Long = 0L
) extends Provider {

  private val rpc = new JsonRpcClient(endpoint, maxRetries, retryDelayMs)
  import HttpJson.mapper

  private def hex(n: Long): String = "0x" + java.lang.Long.toHexString(n)
  private def parseHex(s: String): Long =
    java.lang.Long.parseUnsignedLong(s.stripPrefix("0x"), 16)

  private val logSchema = StructType(Seq(
    StructField("tx_index", LongType),
    StructField("tx_hash", StringType),
    StructField("block_num", LongType),
    StructField("block_hash", StringType),
    StructField("address", StringType),
    StructField("topics", ArrayType(StringType)),
    StructField("data", StringType)))

  /** eth_getLogs filter object: the standing query pushed to the node —
    * server-side filtering, like the reference (the node, not the client,
    * applies address/topic membership).
    */
  private def filterNode(filter: FilterConfig): com.fasterxml.jackson.databind.node.ObjectNode = {
    val o = mapper.createObjectNode()
    if (filter.addresses.nonEmpty) {
      val a = o.putArray("address")
      filter.addresses.foreach(a.add)
    }
    if (filter.topics.nonEmpty) {
      val t = o.putArray("topics")
      filter.topics.foreach {
        case Some(v) => t.add(v)
        case None => t.addNull() // positional wildcard
      }
    }
    o
  }

  private def logsToDf(result: JsonNode): DataFrame = {
    val rows = new java.util.ArrayList[Row]()
    result.forEach { l =>
      val topics = new scala.collection.mutable.ArrayBuffer[String]()
      l.path("topics").forEach(t => topics += t.asText())
      rows.add(Row(
        parseHex(l.path("transactionIndex").asText("0x0")),
        l.path("transactionHash").asText(),
        parseHex(l.path("blockNumber").asText("0x0")),
        l.path("blockHash").asText(),
        l.path("address").asText(),
        topics.toSeq,
        l.path("data").asText("0x")))
    }
    spark.createDataFrame(rows, logSchema)
  }

  override def getLogs(from: Long, to: Long, filter: FilterConfig): DataFrame = {
    require(from <= to, "from higher than to")
    val f = filterNode(filter)
    f.put("fromBlock", hex(from))
    f.put("toBlock", hex(to))
    logsToDf(rpc.call("eth_getLogs", f))
  }

  override def getLogsByHash(blockHash: String, filter: FilterConfig): DataFrame = {
    val f = filterNode(filter)
    f.put("blockHash", blockHash)
    logsToDf(rpc.call("eth_getLogs", f))
  }

  private def headerOf(result: JsonNode): Option[BlockHeader] =
    if (result == null || result.isNull || result.isMissingNode) None
    else Some(BlockHeader(
      parseHex(result.path("number").asText("0x0")),
      result.path("hash").asText(),
      result.path("parentHash").asText(),
      // difficulty is hex in the wire format; nil → 0 like the reference
      {
        val d = result.path("difficulty").asText("")
        if (d.isEmpty) BigInt(0) else BigInt(d.stripPrefix("0x"), 16)
      }))

  override def getBlock(number: Long): Option[BlockHeader] =
    headerOf(rpc.call("eth_getBlockByNumber",
      rpc.textNode(hex(number)), rpc.boolNode(false)))

  /** S3 by hash — the reorg ancestor walk's probe (ref `tracker.go:291-314`). */
  def getBlockByHash(hash: String): Option[BlockHeader] =
    headerOf(rpc.call("eth_getBlockByHash",
      rpc.textNode(hash), rpc.boolNode(false)))

  override def latestBlock(): BlockHeader = {
    val n = parseHex(rpc.call("eth_blockNumber").asText())
    getBlock(n).getOrElse(
      sys.error(s"head $n announced but not served"))
  }

  override def genesisHash(): String =
    getBlock(0L).getOrElse(sys.error("no genesis block served")).hash

  override def chainId(): String =
    BigInt(rpc.call("eth_chainId").asText().stripPrefix("0x"), 16).toString
}

/** [[FirstLogLocator]] over an Etherscan-style REST index (ref
  * `tracker.go:474-498`): `GET {base}/api?module=logs&action=getLogs&
  * address=A&fromBlock=0&toBlock=latest[&apikey=K]`, first result's
  * `blockNumber` (hex or decimal, ref `parseUint64orHex`), min over
  * addresses; an address with no records contributes 0 exactly like the
  * reference (`len(out) == 0 → 0`).
  */
final class EtherscanLocator(
    base: String,
    apiKey: String = "",
    maxRetries: Int = 3,
    retryDelayMs: Long = 0L,
    timeoutMs: Long = 10000L
) extends FirstLogLocator {
  import HttpJson.mapper

  private val client = HttpClient.newBuilder()
    .connectTimeout(Duration.ofMillis(timeoutMs)).build()

  private def enc(s: String): String =
    java.net.URLEncoder.encode(s, "UTF-8")

  private def getAddress(addr: String): Long = {
    val key = if (apiKey.isEmpty) "" else s"&apikey=${enc(apiKey)}"
    val uri = URI.create(s"$base/api?module=logs&action=getLogs" +
      s"&address=${enc(addr)}&fromBlock=0&toBlock=latest$key")
    val req = HttpRequest.newBuilder(uri)
      .timeout(Duration.ofMillis(timeoutMs)).GET().build()
    val resp = HttpJson.execute(client, req, maxRetries, retryDelayMs)
    val body = mapper.readTree(resp.body())
    val result = body.path("result")
    if (result.isArray) {
      if (result.size() == 0) 0L
      else {
        val bn = result.get(0).path("blockNumber").asText()
        if (bn.startsWith("0x"))
          java.lang.Long.parseUnsignedLong(bn.drop(2), 16)
        else bn.toLong
      }
    } else if (body.path("message").asText("") == "No records found") 0L
    else
      // Etherscan reports errors as status=0 with the reason in `result`
      throw new HttpJson.RpcError(0,
        s"etherscan: ${body.path("message").asText("")} " +
          result.asText(""))
  }

  override def firstLogBlock(addresses: Seq[String]): Option[Long] =
    if (addresses.isEmpty) None
    else Some(addresses.map(getAddress).min)
}
