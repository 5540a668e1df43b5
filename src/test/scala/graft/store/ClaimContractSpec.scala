package graft.store

import java.net.URI

import org.apache.hadoop.fs.RawLocalFileSystem

import graft.SparkSpec

/** The local filesystem under a scheme with no `AbstractFileSystem`
  * binding, so Spark's checkpoint file manager falls back to its
  * FileSystem-based implementation: there the no-overwrite commit rename
  * is check-then-act (an `exists` probe, then a rename that would clobber)
  * — the shape of an object store or a local FS without atomic rename.
  */
class RacyFileSystem extends RawLocalFileSystem {
  override def getScheme: String = "racy"
  override def getUri: URI = URI.create("racy:///")
}

/** Contract test for [[KvStore]]'s compare-and-set commit protocol
  * against BOTH filesystem contracts. A version's claim is the version
  * file itself, created without overwrite. Both cases run the same
  * deterministic interleaving (writer B validates its snapshot; writer A
  * then runs to completion; B resumes and writes), driven through the
  * no-monitor seam so nothing leans on the same-JVM lock:
  *
  *  - atomic exclusive create (the local FS through `FileContext`): the
  *    version A committed excludes B;
  *  - NON-atomic exclusive create ([[RacyFileSystem]]): B detects A's
  *    committed version before its check-then-act rename and aborts with
  *    [[ConcurrentCommitException]] — a lost claim is never a lost
  *    update, and the caller's rebase loop handles the rest.
  */
class ClaimContractSpec extends SparkSpec {

  private def interleave(dirA: String, dirB: String)
      : (Option[Throwable], Option[Throwable], KvStore) = {
    val kvA = new KvStore(spark, dirA)
    val kvB = new KvStore(spark, dirB)
    kvA.setAllNoMonitor(Map("k" -> "0"), None)
    val (_, v1) = kvA.getWithVersion("k")
    var aErr: Option[Throwable] = None
    kvB.beforeWrite = () => {
      // B validated its snapshot; A races to completion before B writes
      try kvA.setAllNoMonitor(Map("k" -> "A"), Some(v1))
      catch { case t: Throwable => aErr = Some(t) }
    }
    val bErr =
      try { kvB.setAllNoMonitor(Map("k" -> "B"), Some(v1)); None }
      catch { case t: Throwable => Some(t) }
    (aErr, bErr, kvA)
  }

  test("atomic exclusive create: the claim alone mutually excludes") {
    val dir = tmpDir("claim")
    val (aErr, bErr, kv) = interleave(dir, dir)
    // A created the next version first; B's create of it must fail
    assert(aErr.isEmpty, s"writer A committed first and must win: $aErr")
    assert(bErr.exists(_.isInstanceOf[ConcurrentCommitException]),
      s"writer B should have lost the version, got $bErr")
    assert(kv.get("k").contains("A"), "the winner's update must survive")
  }

  test("non-atomic exclusive create: lost claim is detected at the target, never a lost update") {
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.racy.impl", classOf[RacyFileSystem].getName)
    val dir = "racy://" + tmpDir("claim")
    val (aErr, bErr, kv) = interleave(dir, dir)
    // A committed first; B must detect A's committed target and abort —
    // not rename over it
    assert(aErr.isEmpty, s"writer A committed first and must win: $aErr")
    assert(bErr.exists(_.isInstanceOf[ConcurrentCommitException]),
      s"writer B must detect the conflict at the target, got $bErr")
    assert(bErr.get.getMessage.contains("already committed"),
      s"expected the target-guard path, got: ${bErr.get.getMessage}")
    assert(kv.get("k").contains("A"), "the winner's update must survive")
    // exactly one version advance — no divergent histories
    assert(kv.getWithVersion("k")._2 ==
      new KvStore(spark, dir).getWithVersion("k")._2)
  }
}
