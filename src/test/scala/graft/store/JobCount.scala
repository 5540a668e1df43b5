package graft.store

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

import graft.SparkSpec

/** Counts the Spark jobs a block of code starts. Suites share the
  * session and run in parallel, so jobs are tagged through a
  * thread-local property whose value is unique to the call; a sentinel
  * job flushes the listener bus (it delivers in order) before the count
  * is read.
  */
trait JobCount { this: SparkSpec =>

  def jobsOf[A](f: => A): (A, Int) = {
    val sc = spark.sparkContext
    val tag = "graft.test.jobcount"
    val id = java.util.UUID.randomUUID().toString
    val jobs = new AtomicInteger()
    val sentinel = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        Option(j.properties).map(_.getProperty(tag)) match {
          case Some(v) if v == s"measured-$id" => jobs.incrementAndGet(): Unit
          case Some(v) if v == s"sentinel-$id" => sentinel.countDown()
          case _ => ()
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(tag, s"measured-$id")
      val a = f
      sc.setLocalProperty(tag, s"sentinel-$id")
      sc.parallelize(Seq(1), 1).count(): Unit
      assert(sentinel.await(60, TimeUnit.SECONDS))
      (a, jobs.get())
    } finally {
      sc.setLocalProperty(tag, null)
      sc.removeSparkListener(listener)
    }
  }
}
