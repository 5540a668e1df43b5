package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main (driver contract): runs every declared query on
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line.
  *
  * Measurement notes:
  *  - results are written to the `noop` sink, not `.count()` — a count lets
  *    Spark prune projections/expressions and under-reports real work;
  *  - one untimed warmup query absorbs JVM/codegen/parquet-footer costs so
  *    per-query numbers reflect steady state;
  *  - the session is [[Harness.session]] at SPARK_GRAFT_CPUS (default
  *    32) cores;
  *  - NOISE-PROOFING: the host has bursty CPU steal (identical code has
  *    measured 75→212 s sweep totals). Each query is timed
  *    SPARK_GRAFT_REPS (default 3) times and the MIN is recorded — reps
  *    are interleaved as whole sweeps, not back-to-back, so one steal
  *    burst (seconds–minutes) cannot poison every sample of a query.
  *    The emitted line carries `reps` plus `steal_pct`/`busy_pct` from
  *    /proc/stat deltas so a polluted run is self-evident in the artifact.
  *  - STEAL GATE (round 12): interleaved min-of-reps cannot rescue a
  *    SUSTAINED noisy window (round 11's official artifact: steal 4.5%,
  *    1.7× the same code's quiet-window rate). A sweep whose steal
  *    exceeds SPARK_GRAFT_STEAL_GATE (default 1.0%) is re-run whole, up
  *    to SPARK_GRAFT_MAX_SWEEPS (default 3) attempts; the MIN-STEAL
  *    sweep is emitted as official, with every attempt's
  *    steal/busy/total annotated under `sweeps` and the chosen index
  *    under `picked_sweep` — a still-polluted official line is loud,
  *    never silent.
  *  - ANATOMY: a listener records each query's jobs, stages, tasks,
  *    Σtask seconds and driver floor ([[Harness.QueryAnatomy]]) for the
  *    rep that set its min time; they go to the full-map file under
  *    `anatomy`. The listener bus is drained outside the timed window.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Harness.session(cpus)

    def once(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Unit =
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()

    // warmup (untimed): JVM + codegen + parquet footers — touch EVERY
    // harness table, not just events, so no timed query pays first-read
    // footer costs
    try {
      once(SparkEntry.queries("scan_range"))
      Seq("lineitem", "orders", "customer", "part", "supplier", "nation",
        "region", "documents", "embeddings").foreach { t =>
        spark.read.parquet(s"$sfDir/$t.parquet").limit(1).count()
      }
    } catch { case _: Throwable => }

    // optional comma-separated subset for local iteration
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }

    // aggregate (user+nice+system, steal) jiffies from /proc/stat — the
    // cheap host-contention witness; absent (non-Linux) → zeros
    def cpuJiffies(): (Long, Long, Long) =
      try {
        val cpu = scala.io.Source.fromFile("/proc/stat").getLines()
          .find(_.startsWith("cpu ")).get.trim.split("\\s+").drop(1)
          .map(_.toLong)
        // user nice system idle iowait irq softirq steal
        (cpu.take(3).sum, if (cpu.length > 7) cpu(7) else 0L, cpu.sum)
      } catch { case _: Throwable => (0L, 0L, 0L) }

    val reps = math.max(1, sys.env.getOrElse("SPARK_GRAFT_REPS", "3").toInt)

    // Locale.ROOT: the f-interpolator is locale-sensitive and a comma
    // decimal separator would make the emitted line invalid JSON
    def p2(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.2f", Double.box(v))

    /** One full min-of-reps sweep with its own /proc/stat window. */
    case class Sweep(best: Map[String, Double],
        anatomy: Map[String, Harness.QueryAnatomy],
        failed: Seq[String], stealPct: Double, busyPct: Double) {
      def total: Double = best.values.sum
    }
    val listener = new Harness.Anatomy(spark)
    def runSweep(): Sweep = {
      val failed = scala.collection.mutable.LinkedHashSet.empty[String]
      val best = scala.collection.mutable.Map.empty[String, Double]
      val anat = scala.collection.mutable.Map.empty[String, Harness.QueryAnatomy]
      val (busy0, steal0, all0) = cpuJiffies()
      for (_ <- 1 to reps) {
        selected.foreach { case (name, fn) =>
          if (!failed.contains(name)) {
            listener.begin()
            val t0 = System.nanoTime()
            try once(fn)
            catch { case e: Throwable =>
              System.err.println(s"[bench] $name failed: ${e.getMessage}")
              failed += name
              // a query that crashed on ANY rep must not read as a healthy
              // measurement — drop earlier reps' times too
              best.remove(name)
            }
            val dt = (System.nanoTime() - t0) / 1e9
            val a = listener.end(dt)
            // defensive, outside the timed window: drop any DataFrame caches
            // a query left behind so queries stay independent measurements
            // (localCheckpoint blocks release when their RDDs GC)
            spark.catalog.clearCache()
            if (!failed.contains(name) &&
                dt < best.getOrElse(name, Double.MaxValue)) {
              best(name) = dt
              anat(name) = a
            }
          }
        }
      }
      val (busy1, steal1, all1) = cpuJiffies()
      val dAll = math.max(1L, all1 - all0)
      Sweep(best.toMap, anat.toMap, failed.toSeq,
        100.0 * (steal1 - steal0) / dAll, 100.0 * (busy1 - busy0) / dAll)
    }

    // STEAL GATE (round-12, VERDICT r11 #2/#3): min-of-reps inside one
    // sweep cannot rescue a SUSTAINED noisy host window — round 11's
    // official artifact landed in a steal-4.5% window and read 1.7×
    // slower than the same code in a quiet one. If a sweep's /proc/stat
    // steal exceeds the gate, the whole sweep is re-run (up to
    // SPARK_GRAFT_MAX_SWEEPS) and the MIN-STEAL sweep becomes the
    // official number; every attempt is annotated in the artifact so a
    // still-polluted line is self-evident rather than silently wrong.
    val stealGate = sys.env.getOrElse("SPARK_GRAFT_STEAL_GATE", "1.0").toDouble
    val maxSweeps =
      math.max(1, sys.env.getOrElse("SPARK_GRAFT_MAX_SWEEPS", "3").toInt)
    val sweeps = scala.collection.mutable.ArrayBuffer.empty[Sweep]
    while (sweeps.size < maxSweeps &&
        (sweeps.isEmpty || sweeps.last.stealPct > stealGate)) {
      if (sweeps.nonEmpty)
        System.err.println(f"[bench] sweep ${sweeps.size} steal " +
          f"${sweeps.last.stealPct}%.2f%% > gate $stealGate%.2f%% — re-running")
      sweeps += runSweep()
    }
    // min steal wins; total breaks ties (same-quality windows)
    val picked = sweeps.zipWithIndex
      .minBy { case (s, _) => (s.stealPct, s.total) }._2
    val chosen = sweeps(picked)
    val stealPct = chosen.stealPct
    val busyPct = chosen.busyPct
    val failed = chosen.failed
    val sweepsJson = sweeps.map(s =>
      s"""{"steal_pct":${p2(s.stealPct)},"busy_pct":${p2(s.busyPct)},""" +
        s""""total":${p2(s.total)},"failed_n":${s.failed.size}}""")
      .mkString("[", ",", "]")

    val results = selected.collect {
      case (name, _) if chosen.best.contains(name) => name -> chosen.best(name)
    }
    val qs = results.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val total = results.map(_._2).sum
    // failures are carried IN the emitted line — a crashing query must not
    // read as a faster, healthy run
    val fail = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    // The log capture keeps only a short tail and has twice truncated the
    // full per-query line mid-stream (r5/r6: every a–k number lost). So the
    // COMPLETE map goes to a file, and stdout gets exactly ONE compact line
    // (driver contract shape) whose `queries` carries only the top-20
    // slowest — under ~1,800 chars however large the inventory grows. The
    // file is named by config, so runs at other core counts or scale
    // factors do not overwrite it.
    val fullPath =
      s"bench_full_c${cpus}_${new java.io.File(sfDir).getName}.json"
    val anatJson = results.map { case (k, _) =>
      "\"" + k + "\":" + chosen.anatomy(k).json }.mkString("{", ",", "}")
    val fullLine = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"anatomy":$anatJson,"failed":$fail,"reps":$reps,"steal_pct":${p2(stealPct)},"busy_pct":${p2(busyPct)},"steal_gate_pct":$stealGate,"sweeps":$sweepsJson,"picked_sweep":$picked,"sf":"$sfDir"}"""
    try {
      val w = new java.io.PrintWriter(fullPath, "UTF-8")
      try w.println(fullLine) finally w.close()
    } catch { case e: Throwable =>
      System.err.println(s"[bench] could not write $fullPath: ${e.getMessage}")
    }
    val top20 = results.sortBy(-_._2).take(20)
      .map { case (k, v) => "\"" + k + "\":" + p2(v) }.mkString("{", ",", "}")
    val failShort = failed.take(10).map("\"" + _ + "\"").mkString("[", ",", "]")
    println(s"""{"metric":"total","value":${p2(total)},"unit":"sec","n":${results.size},"queries":$top20,"queries_note":"top-20 slowest; full map in $fullPath","failed":$failShort,"failed_n":${failed.size},"reps":$reps,"steal_pct":${p2(stealPct)},"busy_pct":${p2(busyPct)},"steal_gate_pct":$stealGate,"sweeps":$sweepsJson,"picked_sweep":$picked,"sf":"$sfDir"}""")
    spark.stop()
  }
}
