package graft

import org.scalatest.funsuite.AnyFunSuite

/** The benchmark runner (`perfbench/run.py`, `tables_dir`) finds the query
  * tables by grepping Bench's `SPARK_GRAFT_SF_DIR` default out of
  * `Bench.scala`; a rewrite that breaks that literal would fail only in
  * the benchmark ("query tables not found"). This pins it in `sbt test`.
  */
class BenchContractSpec extends AnyFunSuite {

  private def read(path: String): String = {
    val src = scala.io.Source.fromFile(path, "UTF-8")
    try src.mkString finally src.close()
  }

  test("Bench.scala keeps the SF_DIR default the benchmark runner greps for") {
    val pattern = "\"SPARK_GRAFT_SF_DIR\",\\s*\"([^\"]+)\""
    assert(read("perfbench/run.py").contains(pattern),
      "perfbench/run.py no longer greps for the pinned pattern; update this spec")
    val m = pattern.r.findFirstMatchIn(
      read("src/main/scala/graft/Bench.scala"))
    assert(m.exists(_.group(1).nonEmpty),
      "Bench.scala lost the literal SPARK_GRAFT_SF_DIR default")
  }
}
