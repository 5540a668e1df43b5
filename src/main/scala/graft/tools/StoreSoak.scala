package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.Harness
import graft.store.{LogStore, LogTable, TxLogTable}

/** Store-scale soak: measures the operations the transactional backend
  * exists for, against table size — evidence for the headline claim that
  * a [[TxLogTable]] reorg truncation is O(1) metadata while the journaled
  * [[LogTable]] must rewrite the affected tail. Neither backend scans
  * for `lastIndex()`: tx reads its manifest, plain lists its data files
  * and reads the footers it has not cached, so both stay flat.
  *
  * Protocol: for each table size N (rows), build BOTH backends by the
  * same chunked appends, then time (min of `reps`):
  *   - `truncate`: `removeLogsFrom(lastIndex - depth)` — a fixed-depth
  *     reorg retraction — then re-append the removed suffix to restore
  *     the table (restore cost excluded from the timing);
  *   - `last_index`: the watermark read;
  *   - `append`: one `batch`-row append (both backends use the same
  *     ranged two-pass index assignment — expected flat).
  *
  * Healthy = tx truncate stays FLAT as N grows while the plain backend's
  * truncate grows with the data; last_index and append stay flat for
  * both. One JSON line on stdout; recorded in SOAK.md.
  */
object StoreSoak {

  private def mkBatch(spark: SparkSession, from: Long, n: Long): DataFrame = {
    import spark.implicits._
    spark.range(from, from + n).map { i =>
      (i % 8, s"tx-$i", i / 4, s"h${i / 4}", s"a${i % 97}",
        Seq(s"sig${i % 5}"), "0x")
    }.toDF("tx_index", "tx_hash", "block_num", "block_hash", "address",
      "topics", "data")
  }

  def main(args: Array[String]): Unit = {
    val sizes = sys.env.getOrElse("SPARK_GRAFT_STORE_SIZES",
      "100000,400000,1600000").split(",").map(_.trim.toLong).toSeq
    val depth = sys.env.getOrElse("SPARK_GRAFT_STORE_DEPTH", "500").toLong
    val batch = sys.env.getOrElse("SPARK_GRAFT_STORE_BATCH", "10000").toLong
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "3").toInt
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Harness.session(cpus)
    val root = Harness.scratchDir("graft-store-soak")
    import Harness.timeMin

    def f(d: Double) = f"$d%.3f"
    val cells = sizes.flatMap { n =>
      Seq("plain", "tx").map { kind =>
        val t: LogStore =
          if (kind == "tx") new TxLogTable(spark, s"$root/$kind-$n", "f")
          else new LogTable(spark, s"$root/$kind-$n", "f")
        // build by chunked appends (4 chunks exercises multi-commit state)
        val chunk = n / 4
        (0L until 4L).foreach(c => t.storeLogs(mkBatch(spark, c * chunk, chunk)))
        val top = t.lastIndex()
        // truncate a fixed reorg depth; the restore append runs BETWEEN
        // timing windows so each rep measures the truncation alone
        def restore(): Unit =
          t.storeLogs(mkBatch(spark, top - depth, depth)): Unit
        val truncS = timeMin(reps,
            before = if (t.lastIndex() < top) restore())(
          t.removeLogsFrom(top - depth).count(): Unit)
        restore()
        val lastS = timeMin(reps)(t.lastIndex(): Unit)
        var start = 0L
        val appendS = timeMin(reps, before = { start = t.lastIndex() })(
          t.storeLogs(mkBatch(spark, start, batch)): Unit)
        // the incremental-compaction claim, measured: simulate the
        // commit-per-micro-batch streaming tail (64 small commits), then
        // time ONE maintain() — healthy = flat across N, because the
        // binpack merges only the small tail and never rewrites the big
        // frozen chunks. `full_compact_s` is the old policy's cost (a
        // whole-table rewrite) for contrast — expected to grow with N.
        val extra =
          if (kind != "tx") ""
          else {
            val tx = t.asInstanceOf[TxLogTable]
            val maintainS = timeMin(reps, before = {
              val start = t.lastIndex()
              (0 until 64).foreach(i =>
                t.storeLogs(mkBatch(spark, start + i * 200L, 200L)): Unit)
            })(require(tx.maintain(maxEntries = 64, smallRows = 16384L),
              "maintain did not trigger"))
            val compactS = timeMin(1)(tx.compact(): Unit)
            s""","maintain_s":${f(maintainS)},"full_compact_s":${f(compactS)}"""
          }
        s""""$kind-$n":{"rows":$n,"backend":"$kind","truncate_s":${f(truncS)},""" +
          s""""last_index_s":${f(lastS)},"append_s":${f(appendS)}$extra}"""
      }
    }
    println(s"""{"metric":"store_soak","depth":$depth,"batch":$batch,""" +
      s""""reps":$reps,"cells":{${cells.mkString(",")}}}""")
    spark.stop()
  }
}
