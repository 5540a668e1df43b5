package graft.stream

import org.apache.spark.sql.streaming.StreamingQueryListener

import graft.sync.{SyncListener, SyncProgress}

/** T7's STREAMING twin (the batch side is `Syncer.addListener`): bridges
  * Structured Streaming's [[StreamingQueryListener]] progress events into
  * the same [[SyncProgress]] ticks the batch sync emits, so one consumer
  * watches the sync and a streaming query (the CDC tail,
  * [[TxCdcSource]]) through one interface — the reference's lossy SyncCh
  * events (`tracker.go:362-367`) regardless of engine mode.
  *
  * Delivery contract matches the batch side: a throwing consumer loses
  * that tick and the stream proceeds (Spark's listener bus is already
  * async + lossy under backpressure, the SyncCh semantics exactly).
  *
  * `current` is the source's end offset when it serializes as a bare
  * number — the CDC tail's table version ([[VersionOffset]]); for other
  * sources it falls back to the batch id. `appended` accumulates
  * `numInputRows` across batches for this bridge's lifetime — note Spark
  * counts source READS, so a foreachBatch sink that re-executes its batch
  * frame (isEmpty, collect, write) inflates the count: treat it as an
  * upper-bound activity meter, not an exact row count (the store itself
  * is the exact count).
  *
  * Usage:
  * {{{
  *   val bridge = new StreamProgressBridge(tick => log.info(s"$tick"),
  *     queryId = Some(q.id.toString))
  *   spark.streams.addListener(bridge)   // … later removeListener(bridge)
  * }}}
  */
final class StreamProgressBridge(
    consumer: SyncListener,
    /** Restrict to one query's events; None bridges every query. */
    queryId: Option[String] = None
) extends StreamingQueryListener {

  private val startNs = System.nanoTime()
  private val appended = new java.util.concurrent.atomic.AtomicLong(0L)

  override def onQueryStarted(
      e: StreamingQueryListener.QueryStartedEvent): Unit = ()

  override def onQueryProgress(
      e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    if (queryId.forall(_ == p.id.toString)) {
      val total = appended.addAndGet(p.numInputRows)
      val current = p.sources.headOption
        .flatMap(s => Option(s.endOffset))
        .flatMap(o => scala.util.Try(o.trim.toLong).toOption)
        .getOrElse(p.batchId)
      val tick = SyncProgress("stream", 0L, -1L, current, total,
        (System.nanoTime() - startNs) / 1000000L)
      try consumer.onProgress(tick) catch { case _: Throwable => () }
    }
  }

  override def onQueryTerminated(
      e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
}
