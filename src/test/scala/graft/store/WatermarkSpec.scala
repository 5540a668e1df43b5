package graft.store

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The watermark probes, `lastIndex()` and `firstIndexAbove(b)`, answer
  * from store metadata (parquet footers, the manifest, the primary key)
  * and must equal a scan of `read` after every kind of change a store
  * goes through. Probes whose block lies on a part boundary run no Spark
  * job; a probe inside a part's block range scans that part.
  */
class WatermarkSpec extends SparkSpec with JobCount {
  import spark.implicits._

  /** Two logs per block over `blocks`, rows shuffled. */
  private def batch(tag: String, blocks: Range): DataFrame =
    new scala.util.Random(tag.hashCode).shuffle(blocks.flatMap(b =>
      Seq(0L, 1L).map(tx =>
        (tx, s"$tag-$b-$tx", b.toLong, s"h$b", s"a${b % 3}", Seq("sig"), "0x"))
    )).toDF("tx_index", "tx_hash", "block_num", "block_hash", "address",
      "topics", "data")

  // appended out of block order: indices 0-9 land on blocks 20-24, 10-19
  // on 3-7, 20-29 on 30-34
  private val (a, b, c) = (20 to 24, 3 to 7, 30 to 34)
  private def appendAll(t: LogStore): Unit =
    Seq("a" -> a, "b" -> b, "c" -> c).foreach { case (tag, r) =>
      t.storeLogs(batch(tag, r))
    }

  /** Blocks at part boundaries (never inside an appended batch's range). */
  private val boundaries = Seq(-1L, 2L, 7L, 10L, 19L, 24L, 29L, 34L, 44L, 100L)
  /** Blocks inside a batch's range: a part straddles them. */
  private val inside = Seq(3L, 5L, 20L, 22L, 30L, 32L, 41L)

  private def scanLast(t: LogStore): Long =
    t.read.agg(coalesce(max("indx") + 1L, lit(0L))).head().getLong(0)

  private def scanAbove(t: LogStore, block: Long): Option[Long] = {
    val r = t.read.where(col("block_num") > block).agg(min("indx")).head()
    if (r.isNullAt(0)) None else Some(r.getLong(0))
  }

  /** Every probe equals the scan; the boundary probes (`quiet`) and
    * `lastIndex()` run no Spark job.
    */
  private def check(t: LogStore, step: String,
      quiet: Seq[Long] = boundaries): Unit = {
    val ((last, quietAnswers), jobs) =
      jobsOf((t.lastIndex(), quiet.map(t.firstIndexAbove)))
    assert(jobs == 0, s"$step: $jobs Spark jobs in metadata probes")
    assert(last == scanLast(t), s"$step: lastIndex")
    assert(quietAnswers == quiet.map(scanAbove(t, _)), s"$step: boundaries")
    (boundaries ++ inside).foreach { blk =>
      assert(t.firstIndexAbove(blk) == scanAbove(t, blk),
        s"$step: firstIndexAbove($blk)")
    }
  }

  /** The steps every backend supports: unsorted appends, truncations
    * (one capping the top batch, one removing every row) and a second
    * instance appending on the same store.
    */
  private def commonSteps(t: LogStore, other: () => LogStore): Unit = {
    appendAll(t)
    check(t, "unsorted appends")
    assert(t.lastIndex() == 30L && t.firstIndexAbove(7L).contains(0L) &&
      t.firstIndexAbove(24L).contains(20L))
    // cuts batch c between its blocks 32 and 33: the rows above block 32
    // are gone, so nothing is left above it
    t.removeLogsFrom(25L).count()
    check(t, "truncate inside a batch")
    assert(t.firstIndexAbove(32L).isEmpty && t.firstIndexAbove(31L).contains(24L))
    t.removeLogsFrom(15L).count()
    check(t, "truncate across batches")
    t.removeLogsFrom(0L).count()
    check(t, "truncate everything")
    assert(t.lastIndex() == 0L && t.firstIndexAbove(-1L).isEmpty)
    appendAll(t)
    check(t, "re-append")
    // a foreign writer's files and commits are seen by this instance
    other().storeLogs(batch("d", 40 to 44))
    check(t, "foreign append")
    assert(t.lastIndex() == 40L && t.firstIndexAbove(34L).contains(30L))
    t.storeLogs(batch("e", 50 to 51))
    check(other(), "append seen by the foreign instance")
  }

  test("LogTable answers from footers through truncation, compaction, foreign appends and crash recovery") {
    val root = tmpDir("watermark-lt")
    val t = new LogTable(spark, root, "f1", blocksPerRange = 10L)
    commonSteps(t, () => new LogTable(spark, root, "f1", blocksPerRange = 10L))
    t.compact()
    check(t, "compact")
    t.compactZOrdered()
    check(t, "compactZOrdered")
    // a straddling file is scanned: only it, and exactly
    assert(jobsOf(t.firstIndexAbove(22L))._2 > 0)

    // crash in the middle of a truncation's swaps, then a fresh instance:
    // it rolls the journaled truncation forward before answering
    intercept[RuntimeException](t.removeLogsFrom(15L, "mid-swap"))
    val fresh = new LogTable(spark, root, "f1", blocksPerRange = 10L)
    assert(fresh.lastIndex() == 15L)
    check(fresh, "crash-recovered truncation")
  }

  test("LogTable falls back to the scan for a file without column statistics") {
    val root = tmpDir("watermark-nostats")
    val t = new LogTable(spark, root, "f1", blocksPerRange = 10L)
    appendAll(t)
    // an append written by a writer with parquet statistics disabled
    val base = t.lastIndex()
    Seq((40L, 0L), (40L, 1L), (41L, 0L), (41L, 1L)).zipWithIndex.map {
      case ((blk, tx), i) =>
        (tx, s"d-$blk-$tx", blk, s"h$blk", "a1", Seq("sig"), "0x", base + i,
          blk / 10L)
    }.toDF("tx_index", "tx_hash", "block_num", "block_hash", "address",
      "topics", "data", "indx", "block_range")
      .coalesce(1)
      .write.mode(SaveMode.Append)
      .option("parquet.column.statistics.enabled", "false")
      .partitionBy("block_range")
      .parquet(s"$root/logs/filter_hash=f1")
    val noStats = new java.io.File(s"$root/logs/filter_hash=f1/block_range=4")
      .listFiles().filter(_.getName.endsWith(".parquet"))
    assert(noStats.nonEmpty)
    noStats.foreach { f =>
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(f.getPath),
          spark.sparkContext.hadoopConfiguration))
      try assert(r.getFooter.getBlocks.get(0).getColumns.stream()
        .noneMatch(_.getStatistics.hasNonNullValue))
      finally r.close()
    }
    val (last, jobs) = jobsOf(t.lastIndex())
    assert(jobs > 0, "lastIndex() must scan when a footer has no statistics")
    assert(last == base + 4L && last == scanLast(t))
    (boundaries ++ inside).foreach { blk =>
      assert(t.firstIndexAbove(blk) == scanAbove(t, blk), s"firstIndexAbove($blk)")
    }
  }

  test("TxLogTable answers from the manifest, capped entries included") {
    val root = tmpDir("watermark-tx")
    val t = new TxLogTable(spark, root, "f1", blocksPerRange = 10L)
    commonSteps(t, () => new TxLogTable(spark, root, "f1", blocksPerRange = 10L))
    // a capped entry whose hidden rows lie above the probe: batch c's
    // entry is cut at index 25, rows 25-29 stay on disk but invisible
    t.removeLogsFrom(35L).count()
    t.removeLogsFrom(25L).count()
    assert(t.manifest().entries.exists(_.capped))
    check(t, "capped entry")
    assert(t.firstIndexAbove(32L).isEmpty)
    assert(jobsOf(t.firstIndexAbove(32L))._2 > 0, "the capped straddler is scanned")
    // one compacted entry spans every block: only the outer probes are quiet
    t.compact()
    check(t, "compact", quiet = Seq(-1L, 2L, 34L, 100L))
  }

  test("JdbcLogStore answers with one indexed query") {
    val url = s"jdbc:derby:${tmpDir("watermark-jdbc")}/db;create=true"
    commonSteps(new JdbcLogStore(spark, url, "f1"),
      () => new JdbcLogStore(spark, url, "f1"))
  }
}
