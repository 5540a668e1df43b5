package graft.store

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

import graft.SparkSpec

/** Every KV call and every manifest-only table call is driver-side file
  * I/O: none of them may start a Spark job.
  */
class KvNoJobsSpec extends SparkSpec {
  import spark.implicits._

  test("KvStore calls and TxLogTable lastIndex/version run zero Spark jobs") {
    val root = tmpDir("kvjobs")
    val t = new TxLogTable(spark, root, "f1")
    t.storeLogs(Seq((0L, "tx0", 1L, "h1", "a", Seq("sig"), "0x"))
      .toDF("tx_index", "tx_hash", "block_num", "block_hash", "address",
        "topics", "data"))
    val kv = new KvStore(spark, root)

    // suites share the session and run in parallel: count only the jobs
    // this thread starts, tagged through a local property
    val sc = spark.sparkContext
    val tag = "graft.test.kvjobs"
    val jobs = new AtomicInteger()
    val sentinel = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        Option(j.properties).map(_.getProperty(tag)) match {
          case Some("measured") => jobs.incrementAndGet(): Unit
          case Some("sentinel") => sentinel.countDown()
          case _ => ()
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(tag, "measured")
      kv.set("a", "1")
      kv.setAll(Map("b" -> "2", "c" -> "3"), drop = _ == "a")
      assert(kv.get("b").contains("2") && kv.get("a").isEmpty)
      val (c, v) = kv.getWithVersion("c")
      assert(c.contains("3"))
      kv.setAll(Map("c" -> "4"), expectedVersion = Some(v))
      assert(kv.getPrefix("") == Seq("b" -> "2", "c" -> "4"))
      assert(t.lastIndex() == 1L && t.version() == 1L)
      // the listener bus delivers in order: once a later job's start
      // arrives, every earlier one has been counted
      sc.setLocalProperty(tag, "sentinel")
      sc.parallelize(Seq(1), 1).count(): Unit
      assert(sentinel.await(60, java.util.concurrent.TimeUnit.SECONDS))
      assert(jobs.get() == 0, s"${jobs.get()} Spark jobs in KV/manifest calls")
    } finally {
      sc.setLocalProperty(tag, null)
      sc.removeSparkListener(listener)
    }
  }
}
