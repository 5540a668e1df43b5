package graftbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.DataFrame

import graft.model.{BlockHeader, FilterConfig}
import graft.store.{KeyValueStore, LogStore}
import graft.sync.Provider

/** One timed call at a layer seam. `req` names the request it served (a
  * block number, a query name); `jobs`/`taskMs` are the Spark jobs
  * submitted while it was the innermost open span on its thread.
  */
final class Span(val id: Long, val parent: Long, val name: String,
    val req: String, val startNs: Long) {
  @volatile var endNs: Long = 0L
  @volatile var error: Boolean = false
  val jobs = new AtomicLong(0)
  val tasks = new AtomicLong(0)
  val taskMs = new AtomicLong(0)
  def seconds: Double = (endNs - startNs) / 1e9
}

/** In-memory span recorder. Disabled, `span` is a plain call; enabled, it
  * records the span and tags every Spark job the thread submits inside it
  * through a Spark local property, so [[SpanJobListener]] can charge jobs,
  * tasks and task time to the innermost open span.
  */
final class Tracer(val enabled: Boolean, sc: SparkContext) {
  private val ids = new AtomicLong(0)
  private val open = new ThreadLocal[List[Span]] {
    override def initialValue(): List[Span] = Nil
  }
  val spans = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  private val byId = new ConcurrentHashMap[Long, Span]()
  val prop = "graftbench.span"

  def span[A](name: String, req: => String = "")(body: => A): A =
    if (!enabled) body
    else {
      val stack = open.get()
      val s = new Span(ids.incrementAndGet(),
        stack.headOption.map(_.id).getOrElse(0L), name, req, System.nanoTime())
      byId.put(s.id, s)
      open.set(s :: stack)
      sc.setLocalProperty(prop, s.id.toString)
      try body
      catch { case e: Throwable => s.error = true; throw e }
      finally {
        s.endNs = System.nanoTime()
        open.set(stack)
        sc.setLocalProperty(prop, stack.headOption.map(_.id.toString).orNull)
        spans.add(s)
      }
    }

  def lookup(id: Long): Option[Span] = Option(byId.get(id))

  /** Forget every span recorded so far (the timed window starts clean). */
  def clear(): Unit = { spans.clear(); byId.clear() }

  def named(name: String): Seq[Span] = spans.asScala.filter(_.name == name).toSeq

  /** Spans as JSON lines, oldest first. */
  def jsonl(origin: Long): Iterator[String] =
    spans.asScala.toSeq.sortBy(_.startNs).iterator.map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}",""" +
        s""""req":"${s.req}","start_s":${(s.startNs - origin) / 1e9},""" +
        s""""end_s":${(s.endNs - origin) / 1e9},"error":${s.error},""" +
        s""""jobs":${s.jobs.get},"tasks":${s.tasks.get},""" +
        s""""task_s":${s.taskMs.get / 1e3}}"""
    }
}

/** Charges Spark jobs, tasks and task run time to spans, and keeps
  * process-wide totals for the whole window whether tracing is on or off.
  */
final class SpanJobListener(tracer: Tracer) extends SparkListener {
  private val stageSpan = new ConcurrentHashMap[Int, Long]()
  val jobs = new AtomicLong(0)
  val tasks = new AtomicLong(0)
  val taskMs = new AtomicLong(0)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobs.incrementAndGet()
    val id = Option(e.properties).flatMap(p => Option(p.getProperty(tracer.prop)))
      .map(_.toLong)
    id.foreach { sid =>
      tracer.lookup(sid).foreach(_.jobs.incrementAndGet())
      e.stageIds.foreach(st => stageSpan.put(st, sid))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val ms = Option(e.taskMetrics).map(_.executorRunTime).getOrElse(0L)
    tasks.incrementAndGet()
    taskMs.addAndGet(ms)
    Option(stageSpan.get(e.stageId)).flatMap(tracer.lookup).foreach { s =>
      s.tasks.incrementAndGet()
      s.taskMs.addAndGet(ms)
    }
  }

  def reset(): Unit = { jobs.set(0); tasks.set(0); taskMs.set(0) }
}

/** Timing decorator over the wire client (`sync.HttpRpcProvider`). Each
  * call is one JSON-RPC round-trip plus decode into a DataFrame.
  */
final class TracedProvider(in: Provider, t: Tracer) extends Provider {
  override def getLogs(from: Long, to: Long, filter: FilterConfig): DataFrame =
    t.span("wire.getLogs", s"$from-$to")(in.getLogs(from, to, filter))
  override def getLogsByHash(blockHash: String, filter: FilterConfig): DataFrame =
    t.span("wire.getLogsByHash", blockHash.take(10))(
      in.getLogsByHash(blockHash, filter))
  override def getBlock(number: Long): Option[BlockHeader] =
    t.span("wire.getBlock", number.toString)(in.getBlock(number))
  override def latestBlock(): BlockHeader =
    t.span("wire.latestBlock")(in.latestBlock())
  override def genesisHash(): String = t.span("wire.genesisHash")(in.genesisHash())
  override def chainId(): String = t.span("wire.chainId")(in.chainId())
}

/** Timing decorator over a log store (`LogTable` or `TxLogTable`). */
final class TracedLogStore(in: LogStore, t: Tracer) extends LogStore {
  override def read: DataFrame = t.span("store.read")(in.read)
  override def lastIndex(): Long = t.span("store.last_index")(in.lastIndex())
  override def storeLogs(batch: DataFrame): Long =
    t.span("store.append")(in.storeLogs(batch))
  override def removeLogsFrom(n: Long): DataFrame =
    t.span("store.truncate", n.toString)(in.removeLogsFrom(n))
  override def getLog(n: Long): DataFrame =
    t.span("store.read", n.toString)(in.getLog(n))
  override def compact(): Unit = t.span("store.compact")(in.compact())
}

/** Timing decorator over the checkpoint store (`KvStore`). */
final class TracedKv(in: KeyValueStore, t: Tracer) extends KeyValueStore {
  override def get(key: String): Option[String] =
    t.span("kv.get", key.takeWhile(_ != '_'))(in.get(key))
  override def set(key: String, value: String): Unit =
    t.span("kv.set", key.takeWhile(_ != '_'))(in.set(key, value))
  override def setAll(kvs: Map[String, String], drop: String => Boolean,
      expectedVersion: Option[Long], claimStaleMs: Long): Unit =
    t.span("kv.set")(in.setAll(kvs, drop, expectedVersion, claimStaleMs))
  override def listPrefix(prefix: String): DataFrame =
    t.span("kv.get", prefix)(in.listPrefix(prefix))
}
