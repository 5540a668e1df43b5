package graft.store

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** A crash injected at a named protocol point by the crash specs. */
private[graft] final class InjectedCrash(at: String)
  extends RuntimeException(s"injected crash at $at")

private[graft] object InjectedCrash {
  /** Throws when `point` is the one a crash spec asked for. */
  def at(point: String, crashAt: String): Unit =
    if (point == crashAt) throw new InjectedCrash(point)
}

/** The one way a plain-parquet table's partition directories are
  * rewritten: [[LogTable]]'s truncation and compaction and
  * [[graft.ext.IndexLifecycle.compactIndex]] all replace some
  * `<column>=<value>` dirs of `dir` with freshly written ones, or drop
  * them. Swaps are keyed by directory name, so Spark's default-partition
  * dir of a null value swaps like any other.
  *
  * Protocol (crash-safe; single writer, concurrent readers; the
  * reference truncates in one transaction, `bolt_store.go:180-197`):
  *  1. the new partitions are written under a fresh sibling
  *     `<dir>.tmp-<nanos>` (crash ⇒ live table untouched; [[recover]]
  *     sweeps the orphan once it is stale);
  *  2. ONE versioned [[KvStore]] commit journals the intent {tmp, dirs to
  *     swap in, dirs to drop} — the atomic pointer: the table is old
  *     before this commit and new after it, the write-ahead intent of
  *     Structured Streaming's offset log;
  *  3. per-dir delete+rename swaps, then the drops, each idempotent
  *     (crash ⇒ [[recover]] replays them: roll-forward, never rollback);
  *  4. the intent is cleared and the tmp deleted.
  *
  * Every writer of `dir` runs [[recover]] before it writes: a write that
  * landed in a dir a journaled swap has yet to replace would be lost
  * when the swap rolls forward.
  *
  * The crash specs inject at "after-write", "after-intent" and
  * "mid-swap" (after the first swap).
  *
  * @param journalRoot root of the [[KvStore]] holding the intent
  * @param intentKey   the intent's key in that store
  */
private[graft] final class PartitionSwap(spark: SparkSession, dir: String,
    journalRoot: String, intentKey: String) {

  private lazy val journal = new KvStore(spark, journalRoot)

  private def fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** The partition dir names under `path` (none when it is missing);
    * hidden (`_`/`.`-prefixed) names are skipped as Spark's file index
    * skips them.
    */
  def partitions(path: String): Seq[String] = {
    val p = new Path(path)
    if (!fs.exists(p)) Nil
    else fs.listStatus(p).toSeq.map(_.getPath.getName)
      .filter(n => n.contains("=") && !n.startsWith("_") && !n.startsWith("."))
      .sorted
  }

  /** Replace every partition dir that `write` creates under the tmp path
    * it is handed, and drop each of `replaced` it does not create.
    */
  def rewrite(replaced: Seq[String], crashAt: String = "")
      (write: String => Unit): Unit = {
    val tmp = s"$dir.tmp-${System.nanoTime()}"
    write(tmp)
    InjectedCrash.at("after-write", crashAt)
    val swaps = partitions(tmp)
    val drops = replaced.filterNot(swaps.contains)
    journal.set(intentKey, s"$tmp|${swaps.mkString(",")}|${drops.mkString(",")}")
    InjectedCrash.at("after-intent", crashAt)
    finish(tmp, swaps, drops, crashAt)
  }

  /** Steps 3-4. A dir whose tmp copy is gone was swapped by an earlier
    * attempt.
    */
  private def finish(tmp: String, swaps: Seq[String], drops: Seq[String],
      crashAt: String): Unit = {
    swaps.zipWithIndex.foreach { case (name, i) =>
      val src = new Path(tmp, name)
      val dst = new Path(dir, name)
      if (fs.exists(src)) {
        fs.delete(dst, true)
        if (!fs.rename(src, dst))
          throw new java.io.IOException(s"rename $src -> $dst failed")
      }
      if (i == 0) InjectedCrash.at("mid-swap", crashAt)
    }
    drops.foreach(name => fs.delete(new Path(dir, name), true))
    // files changed underneath any existing reader: drop cached plans and
    // stale listings over this path
    spark.catalog.refreshByPath(dir)
    journal.set(intentKey, "")
    fs.delete(new Path(tmp), true)
  }

  /** Refuse an earlier version's rename-aside leftovers, roll a
    * journaled intent forward, then sweep orphan tmps of crashes before
    * the intent. Run before a table is read or written; the
    * single-writer contract makes once per writer enough, since only a
    * crashed predecessor leaves an intent. A tmp is swept only once
    * [[PartitionSwap.staleMs]] old: a reader racing a live writer
    * between its tmp write and its intent commit must not delete the
    * in-flight tmp, or the writer would journal drops without their
    * survivors.
    */
  def recover(): Unit = {
    val self = new java.io.File(dir)
    val siblings = Option(self.getParentFile).flatMap(p => Option(p.listFiles()))
      .getOrElse(Array.empty[java.io.File])
    refuseRenameAsideLeftovers(siblings.map(_.getName).toSeq)
    if (new java.io.File(journalRoot, "kv").exists())
      journal.get(intentKey).filter(_.nonEmpty).foreach { s =>
        val Array(tmp, swaps, drops) = s.split("\\|", 3)
        // an intent LogTable journaled before intents named dirs holds
        // bare block ranges
        def names(x: String) = x.split(",").toSeq.filter(_.nonEmpty)
          .map(n => if (n.contains("=")) n else s"block_range=$n")
        finish(tmp, names(swaps), names(drops), crashAt = "")
      }
    val now = System.currentTimeMillis()
    siblings.filter(_.getName.startsWith(self.getName + ".tmp-"))
      .filter(t => now - t.lastModified() > PartitionSwap.staleMs)
      .foreach(t => fs.delete(new Path(t.getPath), true))
  }

  /** The rename-aside compaction that earlier versions ran moved live
    * partition dirs into a `<dir>.trash-*` sibling and wrote the rewrite
    * to a `<dir>.compact-*` one; a crash could strand either, with
    * partitions possibly missing from `dir`. Nothing rolls that protocol
    * forward any more, so fail loudly rather than read or rewrite a
    * table that may be short of rows.
    */
  private def refuseRenameAsideLeftovers(siblings: Seq[String]): Unit = {
    val name = new java.io.File(dir).getName
    siblings.find(n => n.startsWith(s"$name.trash-") ||
        n.startsWith(s"$name.compact-"))
      .foreach(n => throw new java.io.IOException(
        s"$dir has a sibling $n left by an interrupted compaction of an " +
          s"earlier version: restore from it any partition dir $dir " +
          "lacks, then delete it"))
  }
}

private[graft] object PartitionSwap {
  /** Orphans and temp files of a crashed protocol are swept only once
    * this old: the stores allow concurrent readers, and a fresh reader
    * must not delete a live writer's in-flight files.
    */
  val staleMs: Long = 60L * 60 * 1000
}
