package graft.tools

import graft.{Harness, Tables}
import graft.ext.{Dedup, Similarity}

/** One-off measurement sweep for the multi-probe pair-mining dial
  * (knnJoin / embeddingNearDup `probes`): recall and wall time per
  * (tables, probes) cell against the same exact baselines `graft.Recall`
  * uses, at sf0.1. Drives the declared-config decision; results land in
  * RECALL.md via the Recall tool once a dial is picked.
  */
object ProbeSweep {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = Harness.session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))

    val e = Tables.embeddings(spark, sfDir).cache()
    e.count()

    // shared truth sets — ONE definition with graft.Recall's
    val knnK = 5
    val exactKnn = ExactBaselines.knnEdges(e, "vec_id", "embedding", knnK)
    val exactEmb = ExactBaselines.cosinePairs(e, "vec_id", "embedding", 0.3)
    println(s"exact: knn edges ${exactKnn.size}, emb pairs ${exactEmb.size}")

    // min-of-2 wall seconds of a pair-set run, with its (deterministic)
    // pairs
    def minOf2(f: => Set[(Long, Long)]): (Set[(Long, Long)], Double) = {
      var got = Set.empty[(Long, Long)]
      val secs = Harness.timeMin(2) { got = f }
      (got, secs)
    }

    val cells = Seq((8, 0), (8, 1), (8, 2), (6, 0), (6, 1), (6, 2), (4, 2))
    println("tier tables probes recall time_s")
    cells.foreach { case (t, p) =>
      val (got, secs) = minOf2(
        Similarity.knnJoin(e, "vec_id", "embedding", dim = 64, nbits = 4,
          k = knnK, maxBucket = 1000, tables = t, probes = p)
          .select("id", "neighbor").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet)
      val rec = exactKnn.intersect(got).size.toDouble / exactKnn.size
      println(f"knn $t $p $rec%.3f $secs%.2f")
    }
    cells.foreach { case (t, p) =>
      val (got, secs) = minOf2(
        Dedup.embeddingNearDup(e, "vec_id", "embedding", dim = 64,
          nbits = 4, minCosine = 0.3, maxBucket = 1000, tables = t,
          probes = p)
          .select("id_a", "id_b").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet)
      val rec = exactEmb.intersect(got).size.toDouble / exactEmb.size
      println(f"emb $t $p $rec%.3f $secs%.2f")
    }
    spark.stop()
  }
}
