package graftbench

import java.io.{File, PrintWriter}

import org.apache.spark.sql.SparkSession

/** Entry point: `Main --workload <sync|query> --seed <n> --seconds <s>
  * --trace <0|1> --work <dir> --ledger <dir> --sf <dir> --golden <file>
  * --record-golden <0|1>` (run.py passes all of them).
  *
  * Prints one `{"detail": …}` line with the workload's named figures and
  * the host-noise witness, then one result line with `correct`,
  * `attempted`, `failed` and every metric it measured (end-to-end figures
  * untraced, per-layer figures traced). A run ledger (JSON) and, when
  * traced, the spans (JSONL) are written under `--ledger`.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toInt
    val traced = opts("trace") == "1"
    val cores = Runtime.getRuntime.availableProcessors()
    val work = new File(opts("work"))
    val ledger = new File(opts("ledger"))
    work.mkdirs(); ledger.mkdirs()

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.parquet.pushdown.inFilterThreshold", "1024")
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(work, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val tracer = new Tracer(traced, spark.sparkContext)
    val jobs = new SpanJobListener(tracer)
    spark.sparkContext.addSparkListener(jobs)
    val ctx = new Ctx(spark, tracer, jobs, seed, seconds, work, cores)
    val origin = System.nanoTime()

    Log.phase(s"session up; $workload seed $seed")
    val o = new Outcome
    try workload match {
      case "sync" => SyncRun.run(ctx, o)
      case "query" => Query.run(ctx, o, opts("sf"),
        new File(opts("golden")), opts.get("record-golden").contains("1"))
      case other => sys.error(s"unknown workload $other")
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        o.check(s"$workload ran to completion: $e", ok = false)
    }
    if (traced) {
      // overhead: the measured cost of one span times the spans recorded,
      // over the window
      val probe = new Tracer(true, spark.sparkContext)
      val n = 20000
      val p0 = System.nanoTime()
      (1 to n).foreach(_ => probe.span("probe")(()))
      val perSpan = (System.nanoTime() - p0) / 1e9 / n
      val wall = o.detail.get("window_s").map(_._1).getOrElse(Double.NaN)
      o.layer("trace.spans") = tracer.spans.size.toDouble
      o.layer("trace.overhead_frac") = perSpan * tracer.spans.size / wall
    }

    val attempted = o.attempted + o.checks.size
    val failed = o.failed + o.checks.count(!_._2)
    val metrics = if (traced) o.e2e ++ o.layer else o.e2e
    def num(v: Double): String =
      if (v.isNaN || v.isInfinite) "null" else v.toString
    def obj(m: Iterable[(String, String)]): String =
      m.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    val detail = obj(o.detail.map { case (k, (v, u)) =>
      k -> s"""{"value":${num(v)},"unit":"$u"}""" })
    val result = s"""{"correct":${failed == 0},"attempted":$attempted,""" +
      s""""failed":$failed,"metrics":${obj(metrics.map { case (k, v) => k -> num(v) })}}"""

    val tag = s"$workload-seed$seed-trace${if (traced) 1 else 0}"
    val checks = obj(o.checks.map { case (k, v) => k.replace("\"", "'") -> v.toString })
    write(new File(ledger, s"$tag.json"),
      Iterator(s"""{"workload":"$workload","seed":$seed,"seconds":$seconds,""" +
        s""""traced":$traced,"cores":$cores,"detail":$detail,"checks":$checks,""" +
        s""""layer":${obj(o.layer.map { case (k, v) => k -> num(v) })},""" +
        s""""samples":${obj(o.samples.map { case (k, v) =>
          k -> v.map(num).mkString("[", ",", "]") })},""" +
        s""""result":$result}"""))
    if (traced) write(new File(ledger, s"$tag.spans.jsonl"), tracer.jsonl(origin))
    println(s"""{"detail":$detail}""")
    println(result)
    spark.stop()
    Log.phase("stopped")
    // no straggler thread may keep the process past its result
    System.exit(0)
  }

  private def write(f: File, lines: Iterator[String]): Unit = {
    val w = new PrintWriter(f, "UTF-8")
    try lines.foreach(w.println) finally w.close()
  }
}
