package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.Harness
import graft.Harness.timeMin
import graft.ext.Similarity

/** ANN crossover harness: measures WHERE the approximate top-k tiers
  * (`sim_search_lsh` / `_ivf` / `_pq`) actually beat the brute-force scan
  * (`sim_search`) — RECALL.md's honest caveat was that at 2k–20k vectors
  * they sit BELOW the crossover (0.5–0.7×), leaving the 100 TB story
  * plan-shape-only. This runs the same corpus scaled 1× / 10× / 50×
  * (20k → 1M vectors via [[ScaleSoak.generateVectors]] — duplicate rate
  * scale-free) and reports, per scale and tier:
  *
  *  - `query_s`  — wall-clock per top-20 query (min over reps of the
  *    per-rep mean across `nQueries` distinct query vectors; the corpus
  *    and any index are persisted first, so this is the amortized
  *    serving cost, not an index build);
  *  - `recall`   — mean overlap@20 against the exact scan's answer at
  *    the SAME scale (the gate: a speedup at collapsed recall is noise);
  *  - `speedup`  — exact query_s / tier query_s at that scale;
  *  - `index_s`  — one-time index/persist cost (exact pays its cache
  *    materialization here too).
  *
  * Tiers are the serving forms of the declared queries (multi-table
  * LSH, multi-assignment IVF, IVF-PQ), each at several dial settings
  * (tables × nbits, nlist × nassign × nprobe, rerank), per-query and
  * batched; `SPARK_GRAFT_ANN_TIERS` selects a subset by cell name.
  *
  * One JSON line on stdout; recorded in SOAK.md / RECALL.md.
  */
object AnnCrossover {

  def main(args: Array[String]): Unit = {
    val srcDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val factors = sys.env.getOrElse("SPARK_GRAFT_ANN_FACTORS", "1,10,50")
      .split(",").map(_.trim.toInt).toSeq
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "3").toInt
    val nQueries = sys.env.getOrElse("SPARK_GRAFT_ANN_QUERIES", "8").toInt
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val k = 20
    val spark = Harness.session(cpus)
    import spark.implicits._

    def cells(factor: Int): Seq[String] = {
      val dir =
        if (factor == 1) srcDir
        else {
          val d = sys.env.get("SPARK_GRAFT_SOAK_DIR")
            .map(b => s"$b-x$factor")
            .getOrElse(s"/tmp/graft-ann-x$factor")
          ScaleSoak.generateVectors(spark, srcDir, d, factor)
          d
        }
      // at-rest corpus — what the DECLARED sim_search scans every run
      // (Tables.embeddings reads parquet; nothing is session-cached in
      // the driver contract), and the only honest 100 TB baseline (no
      // cluster holds the corpus in RAM at that scale)
      val embsAtRest = spark.read.parquet(s"$dir/embeddings.parquet")
        .select("vec_id", "embedding", "label")
      // RAM-cached copy for index builds, the truth sets, and the
      // cached-exact CONTEXT row
      val embs = embsAtRest.persist()
      val n = embs.count()
      val queries: Seq[Array[Float]] = embs.orderBy("vec_id")
        .limit(nQueries).select("embedding").as[Array[Float]]
        .collect().toSeq

      def qDf(qv: Array[Float]): DataFrame = Seq(qv).toDF("embedding")

      /** min over reps of mean-per-query seconds, running every query. */
      def time(run: Array[Float] => DataFrame): Double =
        timeMin(reps)(queries.foreach(qv => run(qv).collect(): Unit)) /
          queries.length

      // cached-exact context row (the round-9 harness's baseline): the
      // RAM-resident scan a single-node deployment could afford
      val exactCachedS = time(qv =>
        Similarity.cosineTopK(embs, qDf(qv), "vec_id", "embedding", k))
      val truth: Seq[Set[Long]] = queries.map(qv =>
        Similarity.cosineTopK(embs, qDf(qv), "vec_id", "embedding", k)
          .select("vec_id").as[Long].collect().toSet)

      def recallOf(run: Array[Float] => DataFrame): Double =
        queries.zip(truth).map { case (qv, t) =>
          val got = run(qv).select("vec_id").as[Long].collect().toSet
          t.intersect(got).size.toDouble / t.size
        }.sum / queries.length

      // speedups are resolved AFTER the at-rest exact baseline is timed
      // (which must happen post-unpersist — see below)
      def cell(name: String, indexS: Double,
          run: Array[Float] => DataFrame): (String, Double, Double, Double) =
        (name, time(run), recallOf(run), indexS)

      val idxRoot = java.nio.file.Files
        .createTempDirectory(s"graft-annx-x$factor").toString

      // MULTI-TABLE LSH serving index (round 11 — the OR-amplified
      // small-fraction config): T tables at nbits, Hamming-1 probe per
      // table ⇒ corpus fraction T*(1+nbits)/2^nbits at recall
      // 1−(1−q)^T. The 100×-true replacement for the 11/16-bucket
      // single-table multiprobe.
      // one relation per (nbits, tables) index — per-query re-reads pay
      // partition discovery over thousands of bucket dirs (measured
      // 3.5–14 s/q); the serving contract is relation-reuse, like IVF
      val lshMtIdx = scala.collection.mutable.Map.empty[
        (Int, Int), (DataFrame, Double)]
      def lshMtIndexOf(nbits: Int, tables: Int): (DataFrame, Double) =
        lshMtIdx.getOrElseUpdate((nbits, tables), {
          val path = s"$idxRoot/lshmt$nbits-$tables"
          val secs = timeMin(1)(Similarity.writeLshMultiTableIndex(embs,
            "vec_id", "embedding", path, dim = 64, nbits = nbits,
            tables = tables))
          (spark.read.parquet(path), secs)
        })
      def lshMtCell(name: String, nbits: Int, tables: Int,
          hamming: Int): (String, Double, Double, Double) = {
        val (idx, build) = lshMtIndexOf(nbits, tables)
        cell(name, build, qv => Similarity.annTopKMultiTable(idx,
          qv, "vec_id", "embedding", dim = 64, nbits = nbits,
          tables = tables, k = k, probeHamming = hamming,
          probeBudget = 0))
      }
      // QUERY-DIRECTED probe (multi-probe LSH): `budget` best buckets
      // per table by flipped-margin mass — the declared sim_search_lsh
      // shape since round 11
      def lshMtQdCell(name: String, nbits: Int, tables: Int,
          budget: Int): (String, Double, Double, Double) = {
        val (idx, build) = lshMtIndexOf(nbits, tables)
        cell(name, build, qv => Similarity.annTopKMultiTable(idx,
          qv, "vec_id", "embedding", dim = 64, nbits = nbits,
          tables = tables, k = k, probeHamming = 0,
          probeBudget = budget))
      }

      // BATCH serving tier (late round 11): ALL nQueries answered in ONE
      // job from the same persisted MT index (annTopKMultiTableBatch —
      // pruned scan over the union key set, broadcast fan-out, per-query
      // windows). Reported per-query: batch wall / nQueries. This is the
      // measurement behind "the probe floor is job machinery": the batch
      // divides that floor by |queries| while reading the same fraction
      // per query. Compare against exact_batch below — the honest
      // batched baseline, since one exact scan also serves every query.
      // the batch cells' shared machinery: one job per batch, per-query
      // s = wall/nQueries, recall vs `truth`'s indexing (ids 0..n-1)
      val batchQs = queries.zipWithIndex.map { case (qv, i) => (i.toLong, qv) }
      def batchTimeRecall(runBatch: () => Map[Long, Set[Long]])
          : (Double, Double) = {
        val secs = timeMin(reps)(runBatch(): Unit) / queries.length
        val res = runBatch()
        val rec = truth.zipWithIndex.map { case (t, i) =>
          t.intersect(res.getOrElse(i.toLong, Set.empty[Long]))
            .size.toDouble / t.size
        }.sum / queries.length
        (secs, rec)
      }
      def collectBatch(df: DataFrame): Map[Long, Set[Long]] =
        df.select("query_id", "vec_id").collect()
          .groupBy(_.getLong(0)).view
          .mapValues(_.map(_.getLong(1)).toSet).toMap
      def lshMtBatchCell(name: String, nbits: Int, tables: Int,
          budget: Int): (String, Double, Double, Double) = {
        val (idx, build) = lshMtIndexOf(nbits, tables)
        val (secs, rec) = batchTimeRecall(() => collectBatch(
          Similarity.annTopKMultiTableBatch(idx, batchQs, "vec_id",
            "embedding", dim = 64, nbits = nbits, tables = tables, k = k,
            probeBudget = budget)))
        (name, secs, rec, build)
      }

      // MULTI-ASSIGNMENT IVF (round 11 — recall-preserving scale-out):
      // nassign nearest cells per vector at build, nprobe cells probed
      // ⇒ fraction nprobe*nassign/nlist of index rows read. One build
      // per (nlist, nassign) — the nprobe variants probe the same
      // persisted index (same memo contract as lshMtIndexOf/ivfPqIdx).
      val ivfMaIdx = scala.collection.mutable.Map.empty[(Int, Int),
        (DataFrame, Array[Array[Double]], Double)]
      def ivfMaIdxOf(nlist: Int, nassign: Int)
          : (DataFrame, Array[Array[Double]], Double) =
        ivfMaIdx.getOrElseUpdate((nlist, nassign), {
          val path = s"$idxRoot/ivfma$nlist-$nassign"
          val t0 = System.nanoTime()
          val cents = Similarity.writeIvfIndexMulti(embs, "vec_id",
            "embedding", path, nlist, nassign)
          (spark.read.parquet(path), cents,
            (System.nanoTime() - t0) / 1e9)
        })
      def ivfMaCell(name: String, nlist: Int, nassign: Int,
          nprobe: Int): (String, Double, Double, Double) = {
        val (idx, centroids, build) = ivfMaIdxOf(nlist, nassign)
        cell(name, build, qv => Similarity.ivfTopKMulti(idx, centroids,
          qv, "vec_id", "embedding", nprobe = nprobe, k = k,
          nassign = nassign))
      }

      // IVF-PQ composite (round 11): multi-assign coarse cells, ADC over
      // code columns in the probed cells, IN-filter rerank on the same
      // pruned slice. One build per (nlist, nassign, m) — the nprobe /
      // rerank variants probe the same persisted index.
      val ivfPqIdx = scala.collection.mutable.Map.empty[(Int, Int, Int),
        (DataFrame, Array[Array[Double]], Array[Array[Array[Double]]], Double)]
      def ivfPqIdxOf(nlist: Int, nassign: Int, m: Int)
          : (DataFrame, Array[Array[Double]],
             Array[Array[Array[Double]]], Double) =
        ivfPqIdx.getOrElseUpdate((nlist, nassign, m), {
          val path = s"$idxRoot/ivfpq$nlist-$nassign-$m"
          val t0 = System.nanoTime()
          val (cents, bks) = Similarity.writeIvfPqIndex(embs,
            "vec_id", "embedding", path, nlist, nassign, m,
            codes = 256, samplePerCode = 16)
          (spark.read.parquet(path), cents, bks,
            (System.nanoTime() - t0) / 1e9)
        })
      def ivfPqCell(name: String, nlist: Int, nassign: Int, nprobe: Int,
          m: Int, rerank: Int): (String, Double, Double, Double) = {
        val (idx, centroids, books, build) = ivfPqIdxOf(nlist, nassign, m)
        cell(name, build, qv => Similarity.ivfPqTopKIndexed(idx,
          centroids, books, qv, "vec_id", "embedding", nprobe = nprobe,
          k = k, rerank = rerank, nassign = nassign))
      }

      // batch cells for the IVF-MA / IVF-PQ tiers — same contract as
      // lshMtBatchCell
      def ivfMaBatchCell(name: String, nlist: Int, nassign: Int,
          nprobe: Int): (String, Double, Double, Double) = {
        val (idx, centroids, build) = ivfMaIdxOf(nlist, nassign)
        val (secs, rec) = batchTimeRecall(() => collectBatch(
          Similarity.ivfTopKMultiBatch(idx, centroids, batchQs, "vec_id",
            "embedding", nprobe = nprobe, k = k, nassign = nassign)))
        (name, secs, rec, build)
      }
      def ivfPqBatchCell(name: String, nlist: Int, nassign: Int,
          nprobe: Int, m: Int, rerank: Int)
          : (String, Double, Double, Double) = {
        val (idx, centroids, books, build) = ivfPqIdxOf(nlist, nassign, m)
        val (secs, rec) = batchTimeRecall(() => collectBatch(
          Similarity.ivfPqTopKIndexedBatch(idx, centroids, books, batchQs,
            "vec_id", "embedding", nprobe = nprobe, k = k,
            rerank = rerank, nassign = nassign)))
        (name, secs, rec, build)
      }

      val extraTiers = sys.env.get("SPARK_GRAFT_ANN_TIERS")
        .map(_.split(",").map(_.trim).toSet)
      def want(name: String): Boolean = extraTiers.forall(_.contains(name))

      val tiers = Seq(
        ("lsh_mt_t8_b8_h1", () => lshMtCell("lsh_mt_t8_b8_h1", 8, 8, 1)),
        ("lsh_mt_t8_b10_h1", () => lshMtCell("lsh_mt_t8_b10_h1", 10, 8, 1)),
        ("lsh_mt_t12_b10_h1", () => lshMtCell("lsh_mt_t12_b10_h1", 10, 12, 1)),
        ("lsh_mt_t12_b10_qd8",
          () => lshMtQdCell("lsh_mt_t12_b10_qd8", 10, 12, 8)),
        ("lsh_mt_t12_b10_qd12",
          () => lshMtQdCell("lsh_mt_t12_b10_qd12", 10, 12, 12)),
        (s"lsh_mt_t12_b10_qd12_batch$nQueries",
          () => lshMtBatchCell(s"lsh_mt_t12_b10_qd12_batch$nQueries",
            10, 12, 12)),
        ("lsh_mt_t8_b10_qd8",
          () => lshMtQdCell("lsh_mt_t8_b10_qd8", 10, 8, 8)),
        ("lsh_mt_t16_b10_qd8",
          () => lshMtQdCell("lsh_mt_t16_b10_qd8", 10, 16, 8)),
        ("ivf_ma_l256_a3_p8", () => ivfMaCell("ivf_ma_l256_a3_p8", 256, 3, 8)),
        ("ivf_ma_l256_a3_p16",
          () => ivfMaCell("ivf_ma_l256_a3_p16", 256, 3, 16)),
        (s"ivf_ma_l256_a3_p16_batch$nQueries",
          () => ivfMaBatchCell(s"ivf_ma_l256_a3_p16_batch$nQueries",
            256, 3, 16)),
        ("ivf_ma_l256_a2_p24",
          () => ivfMaCell("ivf_ma_l256_a2_p24", 256, 2, 24)),
        // round-12 DE-CLAMPED dials (distributed coarse fit at
        // nlist > 256; fitCentroids): nlist grows toward √N while nprobe
        // grows sub-linearly, so the probe FRACTION shrinks with N —
        // the 100 TB requirement the 256-clamp froze at 14–19% of bytes.
        // fractions (corpus bytes ≈ nprobe·nassign/nlist): l1024 p24 =
        // 7.0%, p32 = 9.4%; l2048 p48 = 7.0%; l4096 p64 = 4.7%, p96 =
        // 7.0%.
        ("ivf_ma_l1024_a3_p24",
          () => ivfMaCell("ivf_ma_l1024_a3_p24", 1024, 3, 24)),
        ("ivf_ma_l1024_a3_p32",
          () => ivfMaCell("ivf_ma_l1024_a3_p32", 1024, 3, 32)),
        (s"ivf_ma_l1024_a3_p24_batch$nQueries",
          () => ivfMaBatchCell(s"ivf_ma_l1024_a3_p24_batch$nQueries",
            1024, 3, 24)),
        // the ≤8%-bytes boundary rows (fraction = nprobe·3/1024):
        // p26 = 7.6%, p27 = 7.9%
        ("ivf_ma_l1024_a3_p26",
          () => ivfMaCell("ivf_ma_l1024_a3_p26", 1024, 3, 26)),
        ("ivf_ma_l1024_a3_p27",
          () => ivfMaCell("ivf_ma_l1024_a3_p27", 1024, 3, 27)),
        (s"ivf_ma_l1024_a3_p27_batch$nQueries",
          () => ivfMaBatchCell(s"ivf_ma_l1024_a3_p27_batch$nQueries",
            1024, 3, 27)),
        ("ivf_ma_l2048_a3_p48",
          () => ivfMaCell("ivf_ma_l2048_a3_p48", 2048, 3, 48)),
        ("ivf_ma_l4096_a3_p64",
          () => ivfMaCell("ivf_ma_l4096_a3_p64", 4096, 3, 64)),
        ("ivf_ma_l4096_a3_p96",
          () => ivfMaCell("ivf_ma_l4096_a3_p96", 4096, 3, 96)),
        (s"ivf_ma_l4096_a3_p96_batch$nQueries",
          () => ivfMaBatchCell(s"ivf_ma_l4096_a3_p96_batch$nQueries",
            4096, 3, 96)),
        // MT-LSH grown jointly (T, nbits) per the lshMtNbits recall math:
        // T=24 × nbits=12, qd12 reads 24·12/4096 ≈ 7.0% of corpus bytes
        ("lsh_mt_t24_b12_qd12",
          () => lshMtQdCell("lsh_mt_t24_b12_qd12", 12, 24, 12)),
        ("ivfpq_l1024_a2_p96_rr800",
          () => ivfPqCell("ivfpq_l1024_a2_p96_rr800", 1024, 2, 96, 16, 800)),
        // PQ batch amortization at the de-clamped dial (VERDICT r11 #5):
        // at nlist=256 the 8 queries' 48-cell probe sets union to ~100%
        // of the index and every ADC row fans to ~2 queries — the
        // measured 1.25×. At nlist=1024 each query prunes to 9.4% of
        // cells, the union stays under ~53%, and the fan-out collapses
        // toward 1 — the amortization question is a CELL-OVERLAP
        // artifact, so it is re-measured at the dial that removes it.
        (s"ivfpq_l1024_a2_p96_rr800_batch$nQueries",
          () => ivfPqBatchCell(s"ivfpq_l1024_a2_p96_rr800_batch$nQueries",
            1024, 2, 96, 16, 800)),
        // the 20M de-clamped PQ point: nlist=4096, pqNprobe dial = 192
        // cells (4.7%), ADC still code-columns-only
        ("ivfpq_l4096_a2_p192_rr800",
          () => ivfPqCell("ivfpq_l4096_a2_p192_rr800", 4096, 2, 192, 16,
            800)),
        ("ivfpq_l256_a2_p32_m16",
          () => ivfPqCell("ivfpq_l256_a2_p32_m16", 256, 2, 32, 16, 400)),
        ("ivfpq_l256_a2_p32_rr800",
          () => ivfPqCell("ivfpq_l256_a2_p32_rr800", 256, 2, 32, 16, 800)),
        ("ivfpq_l256_a2_p48_m16",
          () => ivfPqCell("ivfpq_l256_a2_p48_m16", 256, 2, 48, 16, 400)),
        ("ivfpq_l256_a2_p48_rr800",
          () => ivfPqCell("ivfpq_l256_a2_p48_rr800", 256, 2, 48, 16, 800)),
        (s"ivfpq_l256_a2_p48_rr800_batch$nQueries",
          () => ivfPqBatchCell(s"ivfpq_l256_a2_p48_rr800_batch$nQueries",
            256, 2, 48, 16, 800)),
        ("ivfpq_l256_a3_p32_m16",
          () => ivfPqCell("ivfpq_l256_a3_p32_m16", 256, 3, 32, 16, 400)),
        ("ivfpq_l256_a3_p48_rr800",
          () => ivfPqCell("ivfpq_l256_a3_p48_rr800", 256, 3, 48, 16, 800))
      ).filter(t => want(t._1)).map(_._2.apply())

      // the at-rest exact baseline — what the DECLARED sim_search runs
      // (Tables.embeddings reads parquet per execution) and the only
      // honest 100 TB baseline — is timed LAST, after the cache is
      // dropped: Spark's CacheManager substitutes the persisted plan
      // fragment into ANY matching scan, so timing it while `embs` is
      // persisted silently measures the cached scan again (the round-9
      // harness's systematic error, visible as exact ≡ exact_cached)
      embs.unpersist(true)
      val exactS = time(qv =>
        Similarity.cosineTopK(embsAtRest, qDf(qv), "vec_id", "embedding", k))
      // the honest BATCHED baseline: one at-rest scan answers every
      // query (per-query windows, same arithmetic) — batching amortizes
      // the exact side's floor exactly like the probe's
      val exactBatchS = {
        val qdf = queries.zipWithIndex
          .map { case (qv, i) => (i.toLong, qv.toSeq) }
          .toDF("query_id", "__q")
        val wr = org.apache.spark.sql.expressions.Window
          .partitionBy("query_id")
          .orderBy(col("cosine").desc, col("vec_id"))
        timeMin(reps)(embsAtRest.crossJoin(broadcast(qdf))
          .select(col("query_id"), col("vec_id"),
            Similarity.cosine(col("embedding"), col("__q")).as("cosine"))
          .withColumn("rnk", row_number().over(wr))
          .where(col("rnk") <= k)
          .collect(): Unit) / queries.length
      }

      val out = Seq(
        f""""exact":{"query_s":$exactS%.4f,"recall":1.000,"speedup":1.00,"index_s":0.00}""",
        f""""exact_cached":{"query_s":$exactCachedS%.4f,"recall":1.000,""" +
          f""""speedup":${exactS / exactCachedS}%.2f,"index_s":0.00}""",
        f""""exact_batch$nQueries":{"query_s":$exactBatchS%.4f,""" +
          f""""recall":1.000,"speedup":${exactS / exactBatchS}%.2f,""" +
          f""""index_s":0.00}""") ++
        tiers.map { case (name, s, r, indexS) =>
          f""""$name":{"query_s":$s%.4f,"recall":$r%.3f,""" +
            f""""speedup":${exactS / s}%.2f,"index_s":$indexS%.2f}"""
        }
      Harness.rmTree(idxRoot)
      Seq(s""""x$factor":{"n_vectors":$n,${out.mkString(",")}}""")
    }

    val all = factors.flatMap(cells)
    println(s"""{"metric":"ann_crossover","reps":$reps,"k":$k,""" +
      s""""n_queries":$nQueries,"scales":{${all.mkString(",")}}}""")
    spark.stop()
  }
}
