package graft

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame

import graft.model.{BlockHeader, FilterConfig}
import graft.sync.Provider

/** Counts the calls made on each [[Provider]] method and records, in call
  * order, the heights `getBlock` was asked for. `inner` can be swapped, so
  * one long-lived Syncer can watch a chain advance or fork.
  */
final class CountingProvider(@volatile var inner: Provider) extends Provider {
  private val counts = new ConcurrentHashMap[String, AtomicInteger]()
  private val heights = new ConcurrentLinkedQueue[Long]()

  private def tick(method: String): Unit =
    counts.computeIfAbsent(method, _ => new AtomicInteger()).incrementAndGet(): Unit

  /** Calls to `method` since construction or the last [[reset]]. */
  def calls(method: String): Int = Option(counts.get(method)).fold(0)(_.get)

  /** The `getBlock` arguments since construction or the last [[reset]]. */
  def blockHeights: Seq[Long] = heights.asScala.toSeq

  def reset(): Unit = { counts.clear(); heights.clear() }

  override def getLogs(from: Long, to: Long, filter: FilterConfig): DataFrame = {
    tick("getLogs"); inner.getLogs(from, to, filter)
  }

  override def getLogsByHash(blockHash: String, filter: FilterConfig): DataFrame = {
    tick("getLogsByHash"); inner.getLogsByHash(blockHash, filter)
  }

  override def getBlock(number: Long): Option[BlockHeader] = {
    tick("getBlock"); heights.add(number); inner.getBlock(number)
  }

  override def latestBlock(): BlockHeader = {
    tick("latestBlock"); inner.latestBlock()
  }

  override def genesisHash(): String = { tick("genesisHash"); inner.genesisHash() }

  override def chainId(): String = { tick("chainId"); inner.chainId() }
}
