package graft.store

import graft.SparkSpec

/** Every KV call and every manifest-only table call is driver-side file
  * I/O: none of them may start a Spark job.
  */
class KvNoJobsSpec extends SparkSpec with JobCount {
  import spark.implicits._

  test("KvStore calls and TxLogTable lastIndex/version run zero Spark jobs") {
    val root = tmpDir("kvjobs")
    val t = new TxLogTable(spark, root, "f1")
    t.storeLogs(Seq((0L, "tx0", 1L, "h1", "a", Seq("sig"), "0x"))
      .toDF("tx_index", "tx_hash", "block_num", "block_hash", "address",
        "topics", "data"))
    val kv = new KvStore(spark, root)

    val (_, jobs) = jobsOf {
      kv.set("a", "1")
      kv.setAll(Map("b" -> "2", "c" -> "3"), drop = _ == "a")
      assert(kv.get("b").contains("2") && kv.get("a").isEmpty)
      val (c, v) = kv.getWithVersion("c")
      assert(c.contains("3"))
      kv.setAll(Map("c" -> "4"), expectedVersion = Some(v))
      assert(kv.getPrefix("") == Seq("b" -> "2", "c" -> "4"))
      assert(t.lastIndex() == 1L && t.version() == 1L)
    }
    assert(jobs == 0, s"$jobs Spark jobs in KV/manifest calls")
  }
}
