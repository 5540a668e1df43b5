package graft.store

import java.io.{InputStream, InputStreamReader}
import java.nio.ByteBuffer
import java.nio.channels.FileChannel
import java.nio.charset.StandardCharsets
import java.nio.file.{FileAlreadyExistsException, Files, NoSuchFileException, Path => JPath, StandardOpenOption}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.checkpointing.HDFSMetadataLog
import org.apache.spark.sql.graftbridge.Bridge
import org.json4s.{Formats, NoTypeHints}
import org.json4s.jackson.Serialization

/** A compare-and-set commit lost its race: the expected version was no
  * longer the newest committed one, or another writer committed the next
  * version first. Callers rebase on the fresh state and retry
  * (see [[TxLogTable.storeLogs]]).
  */
final class ConcurrentCommitException(msg: String)
  extends RuntimeException(msg)

object KvStore {
  // one monitor per store directory (same-JVM writers serialize here; see
  // setAll)
  private val monitors =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private def commitMonitor(dir: String): Object =
    monitors.computeIfAbsent(dir, _ => new Object)

  /** How many committed KV versions a commit retains (newest inclusive).
    * A reader lists the newest version and then opens it; it stays whole
    * as long as a concurrent committer can't burn through this many
    * commits in between.
    */
  private[store] val retainKvVersions = 4

  /** A pruned version can surface as something other than a top-level
    * FileNotFoundException (java.nio's NoSuchFileException, object
    * stores, wrapping layers): walk the cause chain and match the message
    * variants.
    */
  private def isMissingPath(e: Throwable): Boolean =
    e != null && (e.isInstanceOf[java.io.FileNotFoundException] ||
      e.isInstanceOf[NoSuchFileException] ||
      (e.getMessage != null && (e.getMessage.contains("Path does not exist") ||
        e.getMessage.contains("PATH_NOT_FOUND") ||
        e.getMessage.contains("No such file"))) ||
      isMissingPath(e.getCause))

  private def isLostRename(e: Throwable): Boolean =
    e != null && (e.isInstanceOf[org.apache.hadoop.fs.FileAlreadyExistsException] ||
      isLostRename(e.getCause))

  /** The parquet layout this log replaced kept one `v<N>/` directory per
    * version. Read as a log it would look empty, which drops the sync
    * checkpoint and re-backfills into a non-empty log table.
    */
  private def refuseParquetLayout(dir: String, dirNames: Seq[String]): Unit =
    dirNames.find(_.matches("v\\d+")).foreach(name =>
      throw new java.io.IOException(
        s"KV store $dir holds $name/, a version directory of the old " +
          "parquet layout; the store is now a JSON log with one file per " +
          "version and cannot read it. Re-create the store or move the " +
          "old directory aside"))

  /** Version N is the file `<dir>/N`: one JSON object holding the whole
    * map. `add` creates a version only if it is absent (false when it is
    * already there), `purge(n)` deletes every version below `n`.
    */
  private trait Log {
    def getLatestBatchId(): Option[Long]
    def get(batchId: Long): Option[Map[String, String]]
    def add(batchId: Long, metadata: Map[String, String]): Boolean
    def purge(thresholdBatchId: Long): Unit
  }

  private def log(spark: SparkSession, dir: String): Log =
    Bridge.localPath(new Path(dir), spark.sparkContext.hadoopConfiguration)
      .fold[Log](new HadoopLog(spark, dir))(new LocalLog(dir, _))

  /** Any filesystem but the local one: Spark's `HDFSMetadataLog`, the
    * Structured Streaming offset-log commit (a temp file renamed into
    * place without overwrite through the session's
    * `CheckpointFileManager`). json4s's default codec erases the map's
    * type parameters on read, so reading names the type explicitly.
    */
  private final class HadoopLog(spark: SparkSession, dir: String)
      extends HDFSMetadataLog[Map[String, String]](spark, dir) with Log {
    private implicit val formats: Formats = Serialization.formats(NoTypeHints)

    refuseParquetLayout(dir, fileManager.list(metadataPath)
      .filter(_.isDirectory).map(_.getPath.getName).toSeq)

    override def deserialize(in: InputStream): Map[String, String] =
      Serialization.read[Map[String, String]](
        new InputStreamReader(in, StandardCharsets.UTF_8))
  }

  /** The local filesystem, through java.nio: the same files as
    * [[HadoopLog]] writes, with no Hadoop filesystem call (without the
    * native Hadoop library, its local creates and renames start a
    * `chmod`/`readlink` process each). A version is written to
    * `.<N>.<uuid>.tmp` and fsynced, then hard-linked to `N`: the link
    * fails if `N` exists, so it is the create-if-absent claim. Listing
    * takes numeric names only, so Hadoop's `.N.crc` checksums and the
    * temp files of a crashed commit are invisible; purging deletes a
    * version's checksum and its crashed commits' temp files with it.
    */
  private final class LocalLog(dir: String, path: JPath) extends Log {
    private implicit val formats: Formats = Serialization.formats(NoTypeHints)

    Files.createDirectories(path)
    refuseParquetLayout(dir, names().filter(n =>
      Files.isDirectory(path.resolve(n))))

    private def names(): Seq[String] = {
      val s = Files.newDirectoryStream(path)
      try s.asScala.map(_.getFileName.toString).toSeq finally s.close()
    }

    private def versions(): Seq[Long] =
      names().filter(_.forall(Character.isDigit))
        .flatMap(_.toLongOption)

    def getLatestBatchId(): Option[Long] = versions().maxOption

    def get(batchId: Long): Option[Map[String, String]] =
      try Some(Serialization.read[Map[String, String]](new String(
        Files.readAllBytes(path.resolve(batchId.toString)),
        StandardCharsets.UTF_8)))
      catch { case _: NoSuchFileException => None }

    def add(batchId: Long, metadata: Map[String, String]): Boolean = {
      val tmp = path.resolve(s".$batchId.${java.util.UUID.randomUUID()}.tmp")
      val ch = FileChannel.open(tmp,
        StandardOpenOption.CREATE_NEW, StandardOpenOption.WRITE)
      try {
        val bytes = ByteBuffer.wrap(
          Serialization.write(metadata).getBytes(StandardCharsets.UTF_8))
        while (bytes.hasRemaining) ch.write(bytes)
        ch.force(true)
      } finally ch.close()
      try {
        Files.createLink(path.resolve(batchId.toString), tmp)
        true
      } catch {
        // a lost claim; or, for a writer that stalled while more than the
        // retention window of versions landed, its temp file was purged
        case _: FileAlreadyExistsException | _: NoSuchFileException => false
      } finally Files.deleteIfExists(tmp)
    }

    /** Deletes `N`, `.N.crc` and every `.N.<uuid>.tmp` below the
      * threshold. A commit in flight normally writes a version above it;
      * one that stalled past the retention window loses its temp file
      * here, and its link then fails as a lost claim ([[add]]).
      */
    def purge(thresholdBatchId: Long): Unit = names().foreach { n =>
      val v =
        if (n.startsWith(".") && (n.endsWith(".crc") || n.endsWith(".tmp")))
          n.drop(1).takeWhile(_ != '.')
        else n
      if (v.forall(Character.isDigit) &&
          v.toLongOption.exists(_ < thresholdBatchId))
        Files.deleteIfExists(path.resolve(n))
    }
  }
}

/** S6/S7 — string→string KV metadata store (genesis hash, chainID,
  * lastBlock checkpoint, filter registry — ref `store/store.go:8-14`).
  * Tiny by construction (a handful of keys per filter), so every version
  * holds the whole map and every call runs on the driver: no Spark job.
  *
  * Crash safety: a version becomes visible only by an atomic link (local
  * roots) or rename (any other filesystem) of its complete file, and
  * readers take the newest one, so a crash at any point
  * leaves the previous version readable (losing the checkpoint would
  * otherwise silently re-backfill the whole history on restart). Commits
  * keep the last [[retainVersions]] versions.
  *
  * Single-writer by design: the reference's store is driven by one sync
  * goroutine per filter (`tracker.go:582`) and this engine keeps that
  * contract — the KV is per-tracker metadata, not a shared database.
  * Compare-and-set commits ([[setAll]] with `expectedVersion`) make the
  * tx manifest safe for concurrent appenders anyway.
  */
final class KvStore(spark: SparkSession, root: String,
    val retainVersions: Int = KvStore.retainKvVersions)
    extends KeyValueStore {
  require(retainVersions >= 2,
    s"retainVersions must be >= 2 (newest + at least one reader window), " +
      s"got $retainVersions")
  private val dir = s"$root/kv"
  private val log = KvStore.log(spark, dir)

  /** Test seam: runs after a reader pins the newest version and before it
    * reads that version — the retention specs interleave a deterministic
    * concurrent-committer storm here (a real thread race between lister
    * and pruner would be flaky).
    */
  private[graft] var afterPin: () => Unit = () => ()

  /** The newest committed version and its map; version 0 = nothing
    * committed yet. A concurrent committer prunes superseded versions, so
    * the version just listed can vanish before the read. Commits RETAIN
    * the last [[retainVersions]] versions (the common window — a dial),
    * and a read that still loses re-lists, which pins the new newest
    * version. A reader that loses all 8 re-lists (a sustained storm) fails
    * LOUDLY with the dial named.
    */
  @annotation.tailrec
  private def latest(attempt: Int = 0): (Long, Map[String, String]) =
    log.getLatestBatchId() match {
      case None => (0L, Map.empty)
      case Some(v) =>
        afterPin()
        val got =
          try log.get(v)
          catch { case e: Exception if KvStore.isMissingPath(e) => None }
        got match {
          case Some(m) => (v, m)
          case None if attempt < 8 => latest(attempt + 1)
          case None => throw new IllegalStateException(
            s"kv read at $dir outlived the retention window across " +
              s"$attempt re-list retries (retainVersions=$retainVersions); " +
              "a sustained commit storm is pruning versions faster than " +
              "this reader re-lists — raise retainVersions on the writer",
            new java.io.FileNotFoundException(
              s"$dir/$v pruned before it was read"))
        }
    }

  def get(key: String): Option[String] = latest()._2.get(key)

  /** One key plus the commit version it was read at — the snapshot a
    * compare-and-set commit ([[setAll]] with `expectedVersion`) validates
    * against. Version 0 = no committed version yet.
    */
  def getWithVersion(key: String): (Option[String], Long) = {
    val (v, m) = latest()
    (m.get(key), v)
  }

  /** Upsert (ref `postgresql_store.go:72` ON CONFLICT DO UPDATE). */
  def set(key: String, value: String): Unit = setAll(Map(key -> value))

  /** Batched upsert — one version for any number of keys (a checkpoint
    * writes lastBlock + header backlog together).
    *
    * `drop` removes matching keys in the SAME commit (bounded-history
    * pruning); `expectedVersion` turns the write into a compare-and-set:
    * the commit aborts with [[ConcurrentCommitException]] unless the
    * newest committed version still equals it. Writing the next version
    * is create-if-absent, so a writer that finds it already committed, or
    * loses the link or rename to it, also aborts. `claimStaleMs` is ignored.
    */
  def setAll(kvs: Map[String, String], drop: String => Boolean = _ => false,
      expectedVersion: Option[Long] = None,
      claimStaleMs: Long = 10L * 60 * 1000): Unit =
    // same-JVM writers serialize on a per-store monitor, so two threads of
    // one driver never race the same version; distinct processes are
    // arbitrated by the create-if-absent link or rename
    KvStore.commitMonitor(dir).synchronized {
      commit(kvs, drop, expectedVersion)
    }

  /** Test seam: the commit path WITHOUT the same-JVM monitor — the commit
    * contract test drives two writer "processes" through it to prove the
    * protocol's cross-process guarantees don't secretly lean on the monitor.
    */
  private[store] def setAllNoMonitor(kvs: Map[String, String],
      expectedVersion: Option[Long]): Unit =
    commit(kvs, _ => false, expectedVersion)

  /** Test seam: runs after validation and before the version write — the
    * commit contract test interleaves a competing committer here
    * DETERMINISTICALLY (thread races would be flaky).
    */
  private[store] var beforeWrite: () => Unit = () => ()

  private def commit(kvs: Map[String, String], drop: String => Boolean,
      expectedVersion: Option[Long]): Unit = {
    val (cur, m) = latest()
    expectedVersion.foreach { e =>
      if (cur != e) throw new ConcurrentCommitException(
        s"expected version $e but newest committed is $cur")
    }
    beforeWrite()
    val next = cur + 1
    val added =
      try log.add(next, m.filter { case (k, _) => !drop(k) } ++ kvs)
      catch { case e: Exception if KvStore.isLostRename(e) => false }
    if (!added) throw new ConcurrentCommitException(
      s"version $next already committed by a concurrent writer")
    if (next > retainVersions) log.purge(next - retainVersions + 1)
  }

  /** S7 — prefix scan (ref `store/store.go:11`). */
  def listPrefix(prefix: String): DataFrame =
    spark.createDataFrame(getPrefix(prefix)).toDF("key", "value")

  /** Prefix scan as driver-side pairs, ordered by key. */
  def getPrefix(prefix: String): Seq[(String, String)] =
    latest()._2.toSeq.filter(_._1.startsWith(prefix)).sortBy(_._1)
}
