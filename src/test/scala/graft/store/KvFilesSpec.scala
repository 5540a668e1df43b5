package graft.store

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.checkpointing.HDFSMetadataLog

import graft.SparkSpec

/** On a local root [[KvStore]] owns its version files through java.nio.
  * The files stay the ones Spark's `HDFSMetadataLog` writes (one JSON map
  * per version `N`, which Hadoop's local filesystem pairs with a `.N.crc`
  * checksum), so a store written before reads on, and a commit that
  * crashed between its temp write and its link leaves nothing a reader
  * or the next writer trips over, and its temp file is purged with its
  * version.
  */
class KvFilesSpec extends SparkSpec {

  private def names(root: String): Set[String] =
    Option(new File(root, "kv").list()).toSet.flatten

  /** Versions `1..n` as Spark's metadata log writes them on `file:`. */
  private def hadoopLayout(root: String, n: Int): Unit = {
    val log = new HDFSMetadataLog[Map[String, String]](spark, s"$root/kv")
    (1 to n).foreach(v => assert(log.add(v.toLong, Map("k" -> s"v$v"))))
  }

  test("a kv dir in the HDFSMetadataLog layout reads on and commits the next version") {
    val root = tmpDir("kvfiles-compat")
    hadoopLayout(root, 3)
    assert(Set("1", "2", "3", ".1.crc", ".2.crc", ".3.crc").subsetOf(names(root)),
      s"fixture lacks the checksum siblings: ${names(root)}")
    val kv = new KvStore(spark, root)
    assert(kv.getWithVersion("k") == (Some("v3"), 3L))
    kv.setAll(Map("k" -> "next"), expectedVersion = Some(3L))
    assert(kv.getWithVersion("k") == (Some("next"), 4L))
    assert(names(root).contains("4"))
    // the new version is in the same format
    assert(new String(Files.readAllBytes(new File(root, "kv/4").toPath),
      StandardCharsets.UTF_8) == """{"k":"next"}""")
  }

  test("retention purges superseded versions together with their checksums") {
    val root = tmpDir("kvfiles-purge")
    hadoopLayout(root, 3)
    val kv = new KvStore(spark, root)
    (0 until 3).foreach(i => kv.set("k", s"x$i"))
    // versions 3..6 retained; 1 and 2 gone with their .crc files
    assert(names(root).filterNot(_.endsWith(".crc")) == Set("3", "4", "5", "6"))
    assert(names(root).filter(_.endsWith(".crc")) == Set(".3.crc"))
    kv.set("k", "x3")
    assert(names(root) == Set("4", "5", "6", "7"))
    assert(kv.get("k").contains("x3"))
  }

  test("a temp file left between the write and the link is invisible and blocks nothing") {
    val root = tmpDir("kvfiles-crash")
    val kv = new KvStore(spark, root)
    kv.set("k", "committed")
    // a crashed committer of version 2: its complete temp file, never linked
    val tmp = new File(root, s"kv/.2.${java.util.UUID.randomUUID()}.tmp")
    Files.write(tmp.toPath, """{"k":"lost"}""".getBytes(StandardCharsets.UTF_8))
    val reader = new KvStore(spark, root)
    assert(reader.getWithVersion("k") == (Some("committed"), 1L))
    reader.setAll(Map("k" -> "after"), expectedVersion = Some(1L))
    assert(kv.getWithVersion("k") == (Some("after"), 2L))
    assert(tmp.exists(), "another writer's temp file must not be touched")
    // a commit leaves no temp file of its own
    assert(names(root).filter(_.endsWith(".tmp")) == Set(tmp.getName))
    // the temp file goes with version 2: kept while it is retained
    // (versions 2..5), purged by the commit that purges it
    (3 to 5).foreach(i => reader.set("k", s"v$i"))
    assert(names(root).contains("2") && tmp.exists(),
      "a retained version's temp file must stay")
    reader.set("k", "v6")
    assert(!names(root).contains("2") && !tmp.exists(),
      "a purged version's temp file must go with it")
    assert(names(root).filter(_.endsWith(".tmp")).isEmpty)
  }
}
