package graft.ext

import org.apache.spark.sql.{Column, DataFrame}

/** Scale-adaptive parallelism for compute-bound per-row stages
  * (optimization round 12; guide §2.5 "input skew" / §8.3 "fix the
  * per-task work").
  *
  * The harness tables are single small parquet files, so a scan arrives
  * as ONE input split and every narrow compute stage built on it —
  * codec decode, tokenizer encode, ABI decode, MinHash signatures —
  * runs serially on one core no matter how many the session has
  * (measured at sf0.1/local[32]: media_features 3.5 s of executor time
  * in ONE task, unigram_encode 1.9 s, decode_abi 1.7 s). At production
  * scale the same scan carries thousands of row-group splits and needs
  * no help.
  *
  * [[fanOut]] hash-repartitions to the session's default parallelism
  * ONLY when the frame's current partitioning is below it — the tiny-
  * input case, where the one-off exchange moves kilobytes–megabytes to
  * unlock an N-way compute stage. On a production-sized scan
  * (partitions ≥ cores) it adds NOTHING to the plan, so the exchange
  * can never become a payload reshuffle at scale — the guide §8 rule
  * ("move heavy bytes once") is preserved by construction.
  *
  * Hash partitioning on the caller's row id (not round-robin
  * `repartition(n)`) keeps the placement DETERMINISTIC — no
  * sort-before-repartition pass, and re-run tasks land rows identically
  * (SPARK-38388 class of bugs excluded by construction). Every caller's
  * downstream is row-local or aggregate/sort-terminated, so results are
  * bit-identical either way; the determinism is belt-and-braces.
  */
object Compute {
  def fanOut(df: DataFrame, key: Column): DataFrame = {
    // a streaming frame cannot be plan-probed this way (and its
    // micro-batch partitioning comes from the source): pass it through
    // untouched — the batch twins of the streaming consumers keep the
    // fan-out
    if (df.isStreaming) return df
    val target = df.sparkSession.sparkContext.defaultParallelism
    // Partitioning probe WITHOUT Dataset.rdd (optimization round 13,
    // ADVICE r12): under AQE, .rdd finalizes the adaptive plan, which
    // EXECUTES any upstream shuffle stages — an eager-execution trap for
    // any future caller passing a post-shuffle frame, and it planned the
    // frame twice. Instead read the pre-AQE physical plan: if it carries
    // an Exchange the frame is already session-parallel (shuffle
    // partitions = cores here) and fanning out could only re-shuffle, so
    // pass through; otherwise the frame is scan-rooted and its
    // parallelism is the max over leaf-scan partition counts —
    // leaf.execute() on a scan/local/RDD leaf only BUILDS the RDD
    // (file-listing metadata), it runs no job.
    val plan = df.queryExecution.sparkPlan
    val hasExchange = plan.exists(
      _.isInstanceOf[org.apache.spark.sql.execution.exchange.Exchange])
    if (hasExchange) return df
    val parts =
      try plan.collectLeaves().map(_.execute().getNumPartitions)
        .foldLeft(0)(math.max)
      catch { case scala.util.control.NonFatal(_) => Int.MaxValue }
    if (parts >= target) df
    else df.repartition(target, key)
  }

  /** Size-guarded lazy localCheckpoint (optimization round 13, VERDICT
    * r12 #8). A `localCheckpoint(eager = false)` truncates lineage and
    * pins the result to executor-local storage — the round-12 win on
    * check twins whose expensive probe tier re-executes across
    * aggregation legs (knn_join_check measured 8.9 → 4.1 s in r12). But
    * the pinned RDD has NO recompute path on executor loss and occupies
    * executor storage for its lifetime, so an O(N) intermediate (k·N
    * rows for the knn tier) must not be pinned blindly at corpus scale.
    *
    * Guard: the EXACT on-disk byte size of the pipeline's `input` frame
    * (sum of its leaf relations' statistics — for parquet scans these
    * are true file sizes, not derived estimates; the obvious guard on
    * `df`'s own plan stats is useless here, the join-product estimate
    * for the knn tier reads 1.2e23 bytes at a 780 KB input). The
    * materialized intermediate is PROPORTIONAL to the input for these
    * consumers (k·N rows vs N input rows), so input bytes bound the pin:
    * under the budget → checkpoint (the harness / serving regime); over
    * it → return the frame unchanged — plain recompute, correct under
    * executor loss, and AQE's runtime stage reuse still dedups what it
    * can. The default budget is 1 GiB.
    */
  def pinSmall(df: DataFrame, input: DataFrame,
      maxBytes: Long = 1L << 30): DataFrame = {
    val bytes = input.queryExecution.optimizedPlan.collectLeaves()
      .map(_.stats.sizeInBytes).sum
    if (bytes <= maxBytes) df.localCheckpoint(false) else df
  }
}
