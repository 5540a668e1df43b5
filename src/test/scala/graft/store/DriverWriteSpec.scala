package graft.store

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions.{col, floor, lit}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.IntegerType

import graft.SparkSpec

/** A driver-held append is written on the driver through Spark's own
  * parquet writer ([[Bridge.ParquetFiles]]) and must land on disk as
  * Spark's write job would land it: the same file schema, metadata and
  * codec, the same `block_range` layout, the same rows read back, and a
  * file every reader of the store (the footer probes, the CDC source)
  * takes as it takes a Spark-written one.
  */
class DriverWriteSpec extends SparkSpec with JobCount {
  import spark.implicits._

  private def logs(rows: (Long, String, Option[Long])*): DataFrame =
    rows.map { case (tx, hash, block) =>
      (tx, hash, block, s"h${block.getOrElse(-1L)}", "a1", Seq("sig"), "0x")
    }.toDF("tx_index", "tx_hash", "block_num", "block_hash", "address",
      "topics", "data")

  /** Unsorted, over blocks 8-12: it straddles `block_range` 0 and 1 at
    * `blocksPerRange` 10.
    */
  private val straddling = Seq[(Long, String, Option[Long])](
    (1L, "tx-d", Some(12L)), (0L, "tx-a", Some(8L)), (0L, "tx-c", Some(10L)),
    (1L, "tx-b", Some(9L)), (2L, "tx-e", Some(12L)), (0L, "tx-f", Some(11L)))

  /** `batch` as a frame scanned from parquet: it takes Spark's write. */
  private def scanned(batch: DataFrame): DataFrame = {
    val dir = tmpDir("driverwrite-scan") + "/batch"
    batch.write.parquet(dir)
    spark.read.parquet(dir)
  }

  private def isLocal(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.isInstanceOf[LocalRelation]

  /** `df`'s rows as a driver-held frame of `session`. */
  private def driverHeld(session: SparkSession, df: DataFrame): DataFrame = {
    val local = session.createDataFrame(df.collect().toSeq.asJava, df.schema)
    assert(isLocal(local))
    local
  }

  private def dataFiles(dir: java.io.File): Seq[java.io.File] =
    Option(dir.listFiles()).toSeq.flatten.flatMap { f =>
      if (f.isDirectory) dataFiles(f)
      else if (f.getName.endsWith(".parquet") && !f.getName.startsWith(".")) Seq(f)
      else Nil
    }

  private def footer(f: java.io.File): ParquetMetadata = {
    val r = ParquetFileReader.open(HadoopInputFile.fromPath(
      new Path(f.getPath), spark.sparkContext.hadoopConfiguration))
    try r.getFooter finally r.close()
  }

  private def rowsOf(t: LogStore): Seq[Row] =
    t.read.orderBy("indx").collect().toSeq

  /** Appends `batch` to `local` as a `LocalRelation` (with no Spark job)
    * and to `ranged` scanned from parquet, after the same prefix; both
    * must read back the same rows under the same schema.
    */
  private def assertParity(local: LogStore, ranged: LogStore,
      batch: DataFrame): Unit = {
    val prefix = logs((0L, "tx-0", Some(1L)), (1L, "tx-1", Some(1L)))
    Seq(local, ranged).foreach(_.storeLogs(prefix))
    val other = scanned(batch)
    assert(isLocal(batch) && !isLocal(other))
    val (end, jobs) = jobsOf(local.storeLogs(batch))
    assert(jobs == 0, s"$jobs Spark jobs in a driver-held append")
    assert(end == ranged.storeLogs(other))
    assert(local.read.schema == ranged.read.schema)
    assert(rowsOf(local) == rowsOf(ranged))
    assert(local.lastIndex() == ranged.lastIndex())
  }

  /** The rows of `df`, a driver-held frame. */
  private def heldRows(df: DataFrame): Seq[InternalRow] =
    df.queryExecution.optimizedPlan.asInstanceOf[LocalRelation].data

  /** Per row group, per column: path, codec, encodings, and whether the
    * chunk carries min/max statistics.
    */
  private def chunks(m: ParquetMetadata): Seq[Seq[(String, String, Set[String], Boolean)]] =
    m.getBlocks.asScala.toSeq.map(_.getColumns.asScala.toSeq.map(c =>
      (c.getPath.toDotString, c.getCodec.name,
        c.getEncodings.asScala.map(_.name).toSet,
        c.getStatistics != null && c.getStatistics.hasNonNullValue)))

  /** Writes `rows` with the driver writer into `dir` and with Spark's
    * writer into `sparkDir` (`session` carrying the settings), and asserts
    * the two footers agree: schema, key-value metadata, row groups, and
    * each column's codec, encodings and statistics.
    */
  private def assertSameFile(session: SparkSession, rows: DataFrame,
      dir: String, sparkDir: String): ParquetMetadata = {
    val path = new Bridge.ParquetFiles(session, rows.schema)
      .write(new Path(dir), heldRows(rows).iterator)
    rows.coalesce(1).write.parquet(sparkDir)
    val Seq(theirs) = dataFiles(new java.io.File(sparkDir))
    val Seq(ours) = dataFiles(new java.io.File(new Path(dir).toUri.getPath))
    assert(ours.getName == path.getName)
    assert(ours.getName.endsWith(theirs.getName.dropWhile(_ != '.')))
    val (a, b) = (footer(ours), footer(theirs))
    assert(a.getFileMetaData.getSchema == b.getFileMetaData.getSchema)
    assert(a.getFileMetaData.getKeyValueMetaData ==
      b.getFileMetaData.getKeyValueMetaData)
    assert(chunks(a) == chunks(b))
    assert(session.read.parquet(dir).collect().toSeq ==
      session.read.parquet(sparkDir).collect().toSeq)
    a
  }

  test("the driver writer's file matches Spark's writer under the session codec") {
    Seq("snappy", "gzip").foreach { codec =>
      val session = spark.newSession()
      session.conf.set("spark.sql.parquet.compression.codec", codec)
      val rows = driverHeld(session, logs(straddling: _*))
      val root = tmpDir(s"driverwrite-$codec")
      val m = assertSameFile(session, rows, s"$root/driver", s"$root/spark")
      val ext = if (codec == "gzip") ".gz.parquet" else ".snappy.parquet"
      assert(dataFiles(new java.io.File(s"$root/driver")).head.getName
        .endsWith(ext))
      assert(chunks(m).flatten.map(_._2).toSet == Set(codec.toUpperCase))
      // dictionary pages and statistics, as Spark writes them
      assert(chunks(m).flatten.exists(_._3.exists(_.contains("DICTIONARY"))))
      assert(chunks(m).flatten.forall(_._4))
    }
  }

  test("the driver writer applies a non-default session parquet setting") {
    val session = spark.newSession()
    session.conf.set("parquet.enable.dictionary", "false")
    val rows = driverHeld(session, logs(straddling: _*))
    val root = tmpDir("driverwrite-nodict")
    val m = assertSameFile(session, rows, s"$root/driver", s"$root/spark")
    assert(chunks(m).flatten.forall(!_._3.exists(_.contains("DICTIONARY"))))
  }

  test("a non-local path keeps Hadoop I/O and reads back as Spark's write") {
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.racy.impl", classOf[RacyFileSystem].getName)
    val root = tmpDir("driverwrite-racy")
    val dir = new Path(s"racy://$root/driver")
    assert(Bridge.localPath(dir, conf).isEmpty)
    assert(Bridge.localPath(new Path(s"file://$root"), conf).nonEmpty)
    assert(Bridge.localPath(new Path(root), conf).nonEmpty)
    dir.getFileSystem(conf) // registers the scheme's I/O statistics
    def written(): Long = FileSystem.getGlobalStorageStatistics.get("racy")
      .getLong("bytesWritten")
    val before = written()
    val rows = driverHeld(spark, logs(straddling: _*))
    assertSameFile(spark, rows, dir.toString, s"$root/spark")
    assert(written() > before, "the racy: write bypassed its filesystem")
  }

  test("a driver-held LogTable append reads back as Spark's write, one file per range") {
    val (a, b) = (tmpDir("driverwrite-lt-a"), tmpDir("driverwrite-lt-b"))
    val local = new LogTable(spark, a, "f1", blocksPerRange = 10L)
    val ranged = new LogTable(spark, b, "f1", blocksPerRange = 10L)
    assertParity(local, ranged, logs(straddling: _*))
    // block_range is inferred from the dir names, as before
    assert(local.read.schema("block_range").dataType == IntegerType)
    def layout(root: String) = new java.io.File(s"$root/logs/filter_hash=f1")
      .listFiles().filter(_.isDirectory).map(_.getName).sorted.toSeq
    assert(layout(a) == Seq("block_range=0", "block_range=1"))
    assert(layout(a) == layout(b))
    // the prefix's file plus one file per range the batch touched
    assert(dataFiles(new java.io.File(s"$a/logs/filter_hash=f1/block_range=0"))
      .size == 2)
    assert(dataFiles(new java.io.File(s"$a/logs/filter_hash=f1/block_range=1"))
      .size == 1)
  }

  test("a driver-held TxLogTable append reads back as Spark's write") {
    val root = tmpDir("driverwrite-tx-a")
    val local = new TxLogTable(spark, root, "f1")
    val ranged = new TxLogTable(spark, tmpDir("driverwrite-tx-b"), "f1")
    assertParity(local, ranged, logs(straddling: _*))
    assert(local.read.schema == TxLogTable.logSchema)
    assert(local.manifest().entries.map(e => (e.minIndx, e.maxIndx,
      e.minBlock, e.maxBlock)) == ranged.manifest().entries.map(e =>
      (e.minIndx, e.maxIndx, e.minBlock, e.maxBlock)))
    // the footer Spark writes for the same indexed rows projected to the
    // store's layout, `indx` required and `block_range` optional
    val batch = logs(straddling: _*)
    val sparkDir = tmpDir("driverwrite-tx-spark") + "/out"
    graft.ops.LogOps.withAppendIndexes(batch, 2L) { b =>
      b.rows.withColumn("block_range", floor(col("block_num") / lit(10000L)))
        .select(TxLogTable.logSchema.fieldNames.toSeq.map(col): _*)
        .coalesce(1).write.parquet(sparkDir)
    }
    val Seq(theirs) = dataFiles(new java.io.File(sparkDir))
    val Seq(ours) = dataFiles(new java.io.File(TxLogTable.dataDir(root, "f1") +
      "/" + local.manifest().entries.last.name))
    val schema = footer(ours).getFileMetaData.getSchema
    assert(schema == footer(theirs).getFileMetaData.getSchema)
    assert(schema.getType(schema.getFieldIndex("indx")).getRepetition ==
      org.apache.parquet.schema.Type.Repetition.REQUIRED)
  }

  test("a null block_num lands where Spark's writer puts it, on both file stores") {
    val batch = logs((0L, "tx-n", None), (1L, "tx-a", Some(3L)),
      (0L, "tx-b", Some(12L)))
    val a = tmpDir("driverwrite-null-a")
    assertParity(new LogTable(spark, a, "f1", blocksPerRange = 10L),
      new LogTable(spark, tmpDir("driverwrite-null-b"), "f1",
        blocksPerRange = 10L), batch)
    // the null range is Spark's default-partition dir
    assert(dataFiles(new java.io.File(
      s"$a/logs/filter_hash=f1/block_range=__HIVE_DEFAULT_PARTITION__"))
      .size == 1)
    assertParity(new TxLogTable(spark, tmpDir("driverwrite-null-c"), "f1"),
      new TxLogTable(spark, tmpDir("driverwrite-null-d"), "f1"), batch)
  }

  test("a driver-written LogTable file without statistics takes the scan") {
    val session = spark.newSession()
    session.conf.set("parquet.column.statistics.enabled", "false")
    val root = tmpDir("driverwrite-nostats")
    val t = new LogTable(session, root, "f1", blocksPerRange = 10L)
    val batch = driverHeld(session, logs(straddling: _*))
    assert(jobsOf(t.storeLogs(batch))._2 == 0)
    val files = dataFiles(new java.io.File(s"$root/logs/filter_hash=f1"))
    assert(files.nonEmpty && files.forall(f => footer(f).getBlocks.asScala
      .forall(_.getColumns.asScala.forall(!_.getStatistics.hasNonNullValue))))
    val (last, jobs) = jobsOf(t.lastIndex())
    assert(jobs > 0, "lastIndex() must scan when a footer has no statistics")
    assert(last == 6L && t.firstIndexAbove(10L).contains(3L))
  }

  test("TxCdcSource emits driver-written and Spark-written commits alike") {
    val root = tmpDir("driverwrite-cdc")
    val t = new TxLogTable(spark, root, "f1")
    t.storeLogs(logs(straddling: _*))                          // v1, driver
    t.storeLogs(scanned(logs((0L, "tx-g", Some(13L)))))        // v2, Spark
    t.storeLogs(logs((0L, "tx-h", Some(14L)), (1L, "tx-i", Some(14L)))) // v3
    val got = new ConcurrentLinkedQueue[(Long, String, Long, String)]()
    val q = spark.readStream.format("graft.stream.TxCdcSourceProvider")
      .option("root", root).option("filterHash", "f1")
      .option("startingVersion", 0L).load()
      .writeStream
      .foreachBatch { (df: DataFrame, _: Long) =>
        df.select("_commit_version", "_change_type", "indx", "tx_hash")
          .collect().foreach(r => got.add((r.getLong(0), r.getString(1),
            r.getLong(2), r.getString(3))): Unit)
      }
      .option("checkpointLocation", tmpDir("driverwrite-cdc-cp"))
      .trigger(Trigger.AvailableNow())
      .start()
    assert(q.awaitTermination(120000))
    val want = t.changesBetween(0L, 3L)
      .select("_commit_version", "_change_type", "indx", "tx_hash")
      .as[(Long, String, Long, String)].collect().toSeq
    assert(want.size == 9)
    assert(got.asScala.toSeq.sorted == want.sorted)
  }

  test("a crash between range renames leaves a prefix; stale staged files are swept") {
    val root = tmpDir("driverwrite-crash")
    val dir = s"$root/logs/filter_hash=f1"
    val t = new LogTable(spark, root, "f1", blocksPerRange = 10L)
    t.storeLogs(logs((0L, "tx-0", Some(1L))))
    // blocks 8-12 and 25: ranges 0, 1 and 2; only range 0's file is
    // renamed in before the crash
    val batch = logs(straddling :+ ((0L, "tx-z", Some(25L))): _*)
    intercept[RuntimeException](t.storeLogs(batch, crashAt = "mid-publish"))
    val fresh = new LogTable(spark, root, "f1", blocksPerRange = 10L)
    assert(fresh.read.select("tx_hash", "indx").as[(String, Long)].collect()
      .sortBy(_._2).toSeq == Seq("tx-0" -> 0L, "tx-a" -> 1L, "tx-b" -> 2L))
    assert(fresh.lastIndex() == 3L && fresh.firstIndexAbove(1L).contains(1L))
    // the unpublished ranges' staged files are hidden; once stale, a new
    // instance sweeps them and keeps a fresh one (a live writer's)
    def staged(): Seq[java.io.File] = Seq(1, 2).flatMap(r =>
      Option(new java.io.File(s"$dir/block_range=$r").listFiles()).toSeq
        .flatten.filter(_.getName.startsWith(".append-"))
        .filter(_.getName.endsWith(".parquet")))
    val Seq(old, young) = staged().sortBy(_.getPath)
    assert(old.setLastModified(System.currentTimeMillis() - 2L * 3600 * 1000))
    new LogTable(spark, root, "f1", blocksPerRange = 10L).lastIndex()
    assert(staged() == Seq(young))
    // the store carries on: the append is retried from the prefix
    fresh.removeLogsFrom(1L).count()
    assert(fresh.storeLogs(batch) == 8L)
    assert(fresh.read.select("indx").as[Long].collect().sorted.toSeq ==
      (0L until 8L))
    // a crash before the first rename leaves a table of staged files only:
    // it reads as empty
    val only = tmpDir("driverwrite-staged-only")
    val part = new java.io.File(s"$only/logs/filter_hash=f1/block_range=2")
    assert(part.mkdirs())
    java.nio.file.Files.copy(young.toPath,
      new java.io.File(part, young.getName).toPath)
    val empty = new LogTable(spark, only, "f1", blocksPerRange = 10L)
    assert(empty.read.count() == 0L && empty.lastIndex() == 0L)
  }
}
