package graft

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftbridge.Bridge

/** What every main shares: the one serving session, the one min-of-reps
  * timer, scratch directories, and the per-query Spark anatomy [[Bench]]
  * records next to each time.
  */
private[graft] object Harness {

  /** The serving session every main runs on, at `local[cpus]`. A main
    * that needs something else sets a runtime SQL conf after the build.
    */
  def session(cpus: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      // matched parallelism, no 200-partition default
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      // let a few-hundred-value IN reach parquet as a native In predicate
      // (default threshold 10 degrades it to a min/max range that prunes
      // nothing). The ANN rerank fetch filters an id-sorted index by ~400
      // shortlist ids — with the native predicate, parquet's page-level
      // column index skips the vector pages no shortlist id touches
      // (measured 2.8× on the fetch). 1024 is also a JVM-SAFETY ceiling,
      // not just a tuning point: Spark 4.1 builds the native parquet In
      // as a LEFT-DEEP FilterApi.or chain whose page-filter evaluation
      // recurses once per value — a ~2,000-value In pushed natively
      // overflowed the 1 MB task-thread stack (StackOverflowError in
      // FileScanRDD). Above the threshold Spark pushes the In as a
      // min/max range instead, which is safe.
      .config("spark.sql.parquet.pushdown.inFilterThreshold", "1024")
      // the generated-class cache (StaticSQLConf, so it must be set at
      // build) defaults to 100 entries, while one sweep of the inventory
      // compiles thousands of distinct fragments — by the time a query's
      // next rep (or next AQE stage with a repeated shape) needs a
      // fragment, it has been evicted and Janino recompiles it. A bigger
      // cache is pure driver-side memoization: results and task-side
      // behavior are untouched at any scale, and a production driver
      // serving a repeated query mix wants the same thing. A/B in
      // OPTIMIZATION_r13.md.
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Minimum wall seconds of `body` over `reps` runs; `before` runs ahead
    * of each rep, outside the timed window.
    */
  def timeMin(reps: Int, before: => Unit = ())(body: => Unit): Double =
    (0 until reps).map { _ =>
      before
      val t0 = System.nanoTime()
      body
      (System.nanoTime() - t0) / 1e9
    }.min

  /** A fresh temp directory under `prefix`, deleted at JVM exit. */
  def scratchDir(prefix: String): String = {
    val path = java.nio.file.Files.createTempDirectory(prefix).toString
    Runtime.getRuntime.addShutdownHook(new Thread(() => rmTree(path)))
    path
  }

  /** Recursive delete of `path`; a missing path is a no-op. */
  def rmTree(path: String): Unit = {
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).getOrElse(Array.empty).foreach(rm)
      f.delete(): Unit
    }
    rm(new java.io.File(path))
  }

  /** One query's Spark cost: jobs, completed stages, finished tasks, Σ
    * executor run time, and the driver floor — wall minus the perfectly
    * parallel share of task time, i.e. everything the driver serializes
    * (planning, stage turnaround, scheduling, collects) plus
    * parallel-tail slack. The floor says whether a slow query needs a
    * better PLAN (task-bound) or FEWER JOBS/STAGES (floor-bound).
    */
  final case class QueryAnatomy(jobs: Int, stages: Int, tasks: Int,
      taskS: Double, floorS: Double) {
    def json: String = String.format(java.util.Locale.ROOT,
      "{\"jobs\":%d,\"stages\":%d,\"tasks\":%d,\"task_s\":%.3f,\"floor_s\":%.3f}",
      Int.box(jobs), Int.box(stages), Int.box(tasks), Double.box(taskS),
      Double.box(floorS))
  }

  /** Per-query anatomy from the listener bus, the way Structured Streaming
    * reports a trigger's progress: no separate profiler. `begin()` opens a
    * window on the calling thread and `end(wall)` closes it. Only jobs
    * started under the open window's tag (a thread-local property, which
    * SQL carries to its broadcast and subquery threads) are credited, with
    * the stages and tasks of those jobs, so jobs of other threads and a
    * failed query's late task ends are never counted. Cores are the
    * session's default parallelism. Both calls drain the bus, so run
    * them outside any timed region.
    */
  final class Anatomy(spark: SparkSession) extends SparkListener {
    private val sc = spark.sparkContext
    private val tag = "graft.anatomy.window"
    @volatile private var window: String = null
    private val stageIds = ConcurrentHashMap.newKeySet[Integer]()
    private val jobs = new AtomicInteger
    private val stages = new AtomicInteger
    private val tasks = new AtomicInteger
    private val taskMs = new AtomicLong
    sc.addSparkListener(this)

    override def onJobStart(j: SparkListenerJobStart): Unit =
      if (window != null &&
          Option(j.properties).exists(p => window == p.getProperty(tag))) {
        jobs.incrementAndGet()
        j.stageIds.foreach(id => stageIds.add(id))
      }

    override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
      if (stageIds.contains(s.stageInfo.stageId)) stages.incrementAndGet(): Unit

    override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
      if (stageIds.contains(t.stageId)) {
        tasks.incrementAndGet()
        Option(t.taskMetrics).foreach(m => taskMs.addAndGet(m.executorRunTime))
      }

    // a bus that will not drain in 10 s leaves the counts short; the
    // anatomy is reporting-only and must not fail the run it reports on
    private def drain(): Unit =
      try Bridge.drainListeners(sc)
      catch { case _: java.util.concurrent.TimeoutException => }

    def begin(): Unit = {
      drain()
      stageIds.clear()
      jobs.set(0); stages.set(0); tasks.set(0); taskMs.set(0L)
      window = java.util.UUID.randomUUID().toString
      sc.setLocalProperty(tag, window)
    }

    def end(wallS: Double): QueryAnatomy = {
      sc.setLocalProperty(tag, null)
      drain()
      window = null
      val taskS = taskMs.get() / 1e3
      QueryAnatomy(jobs.get(), stages.get(), tasks.get(), taskS,
        wallS - taskS / sc.defaultParallelism)
    }

    def close(): Unit = sc.removeSparkListener(this)
  }
}
