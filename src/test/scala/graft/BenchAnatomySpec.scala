package graft

import org.apache.spark.sql.functions.{col, udf}

/** Bench's per-query anatomy ([[Harness.Anatomy]]): each query is credited
  * only its own jobs, stages and tasks — also right after a failed query
  * whose cancelled tasks end late, and while other suites run jobs on the
  * shared session — and `floor_s` is wall − Σtask ÷ cores.
  */
class BenchAnatomySpec extends SparkSpec {

  /** One timed window, as Bench runs it: begin, time the body, end. */
  private def measure(a: Harness.Anatomy)(body: => Unit)
      : (Harness.QueryAnatomy, Double) = {
    a.begin()
    val t0 = System.nanoTime()
    try body catch { case scala.util.control.NonFatal(_) => }
    val wall = (System.nanoTime() - t0) / 1e9
    (a.end(wall), wall)
  }

  private def oneJob(): Unit = spark.range(10).collect(): Unit

  private def shuffleJoin(): Unit = {
    val l = spark.range(0, 2000, 1, 4).withColumn("k", col("id") % 100)
    val r = spark.range(0, 1000, 1, 4).withColumn("k", col("id") % 100)
    l.join(r.hint("shuffle_merge"), "k")
      .write.format("noop").mode("overwrite").save()
  }

  // one task fails at once; the others spin on for 300 ms (deaf to the
  // cancel's interrupt), so their task ends reach the bus after the next
  // window opens
  private def failing(): Unit = {
    val slow = udf { (i: Long) =>
      if (i == 0L) throw new IllegalStateException("planned failure")
      val t0 = System.nanoTime()
      while (System.nanoTime() - t0 < 300000000L) {}
      i
    }
    spark.range(0, 8, 1, 8).select(slow(col("id"))).collect(): Unit
  }

  private def counts(q: Harness.QueryAnatomy): (Int, Int, Int) =
    (q.jobs, q.stages, q.tasks)

  test("back-to-back queries are each credited only their own jobs and tasks") {
    val a = new Harness.Anatomy(spark)
    try {
      val (one, _) = measure(a)(oneJob())
      val (join, _) = measure(a)(shuffleJoin())
      assert(one.jobs == 1 && one.stages == 1, one)
      assert(one.tasks == spark.range(10).rdd.getNumPartitions, one)
      assert(join.jobs >= 2 && join.stages >= 3, join)
      assert(join.tasks > one.tasks && join.taskS > 0.0, join)
      // the same pair again: nothing of the first run leaks into the second
      val (one2, _) = measure(a)(oneJob())
      val (join2, _) = measure(a)(shuffleJoin())
      assert(counts(one2) == counts(one))
      assert(counts(join2) == counts(join))
    } finally a.close()
  }

  test("floor_s is wall minus task seconds over the session's cores") {
    val a = new Harness.Anatomy(spark)
    try {
      val (q, wall) = measure(a)(shuffleJoin())
      val cores = spark.sparkContext.defaultParallelism
      assert(math.abs(q.floorS - (wall - q.taskS / cores)) < 1e-9, q)
      assert(q.json.contains("\"floor_s\":") && q.json.contains("\"task_s\":"))
    } finally a.close()
  }

  test("attribution survives a failing query in between") {
    val a = new Harness.Anatomy(spark)
    try {
      val (one, _) = measure(a)(oneJob())
      val (join, _) = measure(a)(shuffleJoin())
      val (one2, _) = measure(a)(oneJob())
      val (failed, _) = measure(a)(failing())
      val (join2, _) = measure(a)(shuffleJoin())
      assert(failed.jobs == 1, failed)
      assert(counts(one2) == counts(one))
      assert(counts(join2) == counts(join))
    } finally a.close()
  }
}
