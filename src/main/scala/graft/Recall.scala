package graft

import org.apache.spark.sql.functions._

import graft.ext.{Dedup, Similarity}

/** Recall measurement for the hash/sketch tiers at bench scale (sf0.1) —
  * the quality evidence behind the rows-only CORRECTNESS entries
  * (`sim_search_lsh/ivf/pq`, `dedup_minhash`, `dedup_embedding`): each
  * approximate tier is scored against its exact twin on the full corpus
  * and the numbers are written to RECALL.md (referenced from SURVEY §8).
  *
  * Gates (`require`) sit slightly under the measured values so a
  * regression in the hash tiers fails this main loudly instead of
  * silently shipping a worse index; they are calibrated to THIS synthetic
  * corpus, not universal ANN truths.
  *
  * Usage: `sbt "runMain graft.Recall [sfDir] [outFile]"`.
  */
object Recall {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val outFile = if (args.length > 1) args(1) else "RECALL.md"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = Harness.session(cpus)
    spark.sparkContext.setLogLevel("ERROR")

    val e = Tables.embeddings(spark, sfDir).cache()
    val nVec = e.count()
    val k = 20
    val nQueries = 20

    // ── ANN tiers: mean recall@20 over the first `nQueries` vectors, each
    // vs the exact brute-force top-k (the sim_search configuration) ──────
    val queryIds = (0L until nQueries.toLong)
    def exactTop(qid: Long): Set[Long] =
      Similarity.cosineTopK(e, e.where(col("vec_id") === qid),
        "vec_id", "embedding", k).collect().map(_.getLong(0)).toSet

    val exact = queryIds.map(q => q -> exactTop(q)).toMap

    def meanRecall(top: Long => Set[Long]): Double =
      queryIds.map { q =>
        val t = top(q)
        exact(q).intersect(t).size.toDouble / exact(q).size
      }.sum / nQueries

    // LSH: the declared sim_search_lsh configuration — the OR-amplified
    // MULTI-TABLE persisted index ((nbits, tables) from the joint corpus
    // dial — T=12 at this corpus's nbits=4, growing to 24 past nbits=11;
    // query-directed probe)
    val (mtNbits, mtTables) = graft.queries.Serving.lshMtDial(nVec)
    val mtBudget = 12
    // temp index trees are several corpus multiples on disk (MT-LSH is
    // 12×) — scratch dirs are reclaimed at exit even when a recall gate
    // BELOW throws (the tool's purpose is to fail on regression; a
    // failing run must not leak its indexes run after run)
    val mtPath = Harness.scratchDir("graft-recall-lshmt")
    Similarity.writeLshMultiTableIndex(e, "vec_id", "embedding", mtPath,
      dim = 64, nbits = mtNbits, tables = mtTables)
    val mtIdx = spark.read.parquet(mtPath)
    def qv(q: Long): Array[Float] =
      e.where(col("vec_id") === q).select("embedding")
        .head().getSeq[Float](0).toArray
    val lshRecall = meanRecall { q =>
      Similarity.annTopKMultiTable(mtIdx, qv(q), "vec_id",
        "embedding", dim = 64, nbits = mtNbits, tables = mtTables, k = k,
        probeHamming = 0, probeBudget = mtBudget)
        .collect().map(_.getLong(0)).toSet
    }

    // IVF: the round-11 declared sim_search_ivf configuration — the
    // MULTI-ASSIGNMENT persisted index (nassign=3, nlist from the √N
    // dial, nprobe = nlist/16)
    val maNlist = graft.queries.Serving.ivfNlist(nVec)
    val maNprobe = graft.queries.Serving.ivfNprobe(maNlist, 16)
    val maPath = Harness.scratchDir("graft-recall-ivfma")
    val maCentroids = Similarity.writeIvfIndexMulti(e, "vec_id",
      "embedding", maPath, nlist = maNlist, nassign = 3)
    val maIdx = spark.read.parquet(maPath).cache()
    val ivfRecall = meanRecall { q =>
      Similarity.ivfTopKMulti(maIdx, maCentroids, qv(q), "vec_id",
        "embedding", nprobe = maNprobe, k = k, nassign = 3)
        .collect().map(_.getLong(0)).toSet
    }

    // PQ: the round-11 declared sim_search_pq configuration — the IVF-PQ
    // COMPOSITE (multi-assign cells, ADC over code columns in nprobe
    // cells, IN-filter rerank)
    val pqNprobe = graft.queries.Serving.pqNprobe(maNlist)
    val pqPath = Harness.scratchDir("graft-recall-ivfpq")
    val (pqCentroids, pqBooks) = Similarity.writeIvfPqIndex(e, "vec_id",
      "embedding", pqPath, nlist = maNlist, nassign = 2, m = 16,
      codes = 256, samplePerCode = 16)
    val pqIdx = spark.read.parquet(pqPath).cache()
    val pqRecall = meanRecall { q =>
      Similarity.ivfPqTopKIndexed(pqIdx, pqCentroids, pqBooks, qv(q),
        "vec_id", "embedding", nprobe = pqNprobe, k = k, rerank = 800,
        nassign = 2)
        .collect().map(_.getLong(0)).toSet
    }

    // ── knn_join: per-id neighbour recall vs exact global top-k, in the
    // declared configuration (4 OR-amplified tables, skew cap) ───────────
    val knnK = 5
    val exactKnn =
      graft.tools.ExactBaselines.knnEdges(e, "vec_id", "embedding", knnK)
    def knnAt(tables: Int, probes: Int): Double = {
      val approx = Similarity.knnJoin(e, "vec_id", "embedding",
          dim = 64, nbits = 4, k = knnK, maxBucket = 1000, tables = tables,
          probes = probes)
        .select("id", "neighbor").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      exactKnn.intersect(approx).size.toDouble / exactKnn.size
    }
    val knnRecall = knnAt(6, 1)   // the declared knn_join config (r11)
    val knnRecall8p = knnAt(8, 1) // recall-leaning context
    val knnRecall80 = knnAt(8, 0) // the pre-multi-probe declared config
    val knnRecall6 = knnAt(6, 0)  // tables alone at the declared count

    // ── MinHash LSH: candidate recall vs the exact n-gram Jaccard tier
    // (the dedup_minhash / dedup_ngram configurations) ────────────────────
    val docs = Tables.documents(spark, sfDir).cache()
    def pairSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("id_a", "id_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exactPairs = pairSet(Dedup.ngramJaccard(docs, "doc_id", "text",
      shingleN = 3, minJaccard = 0.3, maxDf = 1000L))
    val minhashPairs = pairSet(Dedup.minHashLsh(docs, "doc_id", "text",
      maxBucket = 1000))
    val minhashRecall =
      exactPairs.intersect(minhashPairs).size.toDouble / exactPairs.size
    // SimHash: candidate recall vs the same exact tier (its Hamming-ball
    // blocking approximates a different similarity, so this reads as "how
    // much of the Jaccard truth does the cheap fingerprint tier see")
    val simhashPairs = pairSet(Dedup.simHashPairs(docs, "doc_id", "text",
      maxDist = 6))
    val simhashRecall =
      exactPairs.intersect(simhashPairs).size.toDouble / exactPairs.size
    // Winnowing: candidate recall vs the same exact tier at the declared
    // winnow_pairs config (the signature table is ~1/w of the gram sites,
    // so this reads as "what the w-fold compression costs in truth pairs")
    val winnowPairsSet = pairSet(Dedup.winnowPairs(docs, "doc_id", "text",
      k = 3, w = 4, minShared = 2L, maxDf = 1000L))
    val winnowRecall =
      exactPairs.intersect(winnowPairsSet).size.toDouble / exactPairs.size

    // ── Embedding near-dup: pair recall vs exact all-pairs cosine ≥ 0.3
    // (the dedup_embedding configuration, skew cap engaged) ───────────────
    val exactEmb =
      graft.tools.ExactBaselines.cosinePairs(e, "vec_id", "embedding", 0.3)
    def embAt(tables: Int, probes: Int): Double = {
      val got = pairSet(Dedup.embeddingNearDup(e, "vec_id", "embedding",
        dim = 64, nbits = 4, minCosine = 0.3, maxBucket = 1000,
        tables = tables, probes = probes))
      exactEmb.intersect(got).size.toDouble / exactEmb.size
    }
    val embRecall = embAt(6, 1)   // the declared dedup_embedding config (r11)
    val embRecall8p = embAt(8, 1) // recall-leaning context (prose below)
    val embRecall80 = embAt(8, 0) // the pre-multi-probe declared config
    val embRecall1 = embAt(1, 0)  // single-table, for context

    // ── SemDeDup at its DESIGN POINT (the declared dedup_semantic config):
    // the planted-near-dup corpus (every 4th vector + a cosine≈0.99 copy,
    // see PipelineQueries.plantedNearDups), threshold 0.8. Truth = exact
    // all-pairs cosine ≥ 0.8 over the same corpus; precision is 1 by
    // construction (every emitted pair is exact-verified), measured anyway;
    // recall is what the KMeans cell partition costs (a planted pair is
    // missed only when source and copy straddle a cell boundary) ─────────
    val semCorpus = graft.queries.PipelineQueries
      .plantedNearDups(e).cache()
    val semTruth = {
      val wn = semCorpus.withColumn("__n",
        sqrt(Similarity.norm2(col("embedding"))))
      val sa = wn.select(col("vec_id").as("id_a"),
        col("embedding").as("va"), col("__n").as("na"))
      val sb = wn.select(col("vec_id").as("id_b"),
        col("embedding").as("vb"), col("__n").as("nb"))
      sa.crossJoin(sb).where(col("id_a") < col("id_b"))
        .where(Similarity.dot(col("va"), col("vb")) /
          (col("na") * col("nb")) >= 0.8)
        .select("id_a", "id_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    val semPairs = pairSet(Similarity.semanticPairs(semCorpus, "vec_id",
      "embedding", nlist = 16, minCosine = 0.8, maxCell = 1000L))
    val semRecall = semTruth.intersect(semPairs).size.toDouble / semTruth.size
    val semPrecision =
      if (semPairs.isEmpty) 1.0
      else semTruth.intersect(semPairs).size.toDouble / semPairs.size

    // ── Media near-dup: planted-pair recall of the declared dedup_media
    // composition (content-hash dedup → banded pHash pairs, Hamming ≤ 4)
    // over the synthetic real-BMP corpus: every 4th doc plants a
    // pixel-edited near-copy, which must pair with the keeper of its base
    // image; base↔base pairs are false positives (distinct SplitMix tile
    // seeds sit ~32 bits apart, so there should be ~none) ────────────────
    // a planted copy caught by the EXACT rung (byte-identical to its
    // base — possible when the pixel edit lands on an already-equal
    // byte) is recalled by the ladder, not missed by the near rung:
    // count survivors-of-exact when denominating the near tier
    def ladderRecall(blobs: org.apache.spark.sql.Dataset[graft.ext.Multimodal.MediaBlob],
        maxDist: Int): (Long, Long, Long, Set[(Long, Long)]) = {
      val deduped = graft.ext.Multimodal.dedupExactMedia(blobs)
      val pairs = graft.ext.Multimodal
        .nearDupMedia(deduped, maxDist = maxDist, bands = 8)
        .select("id_a", "id_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val n = blobs.where(col("media_id") >= 1000000L).count()
      val surviving = deduped.where(col("media_id") >= 1000000L).count()
      val paired = pairs.flatMap(p => Seq(p._1, p._2)).count(_ >= 1000000L)
      (n, paired + (n - surviving), n - surviving, pairs)
    }
    val mediaBlobs =
      graft.ext.Multimodal.synthRasterBlobs(docs, "doc_id", "text")
    val (nCopies, recalledCopies, exactCaught, mediaPairs) =
      ladderRecall(mediaBlobs, maxDist = 4)
    val mediaRecall = recalledCopies.toDouble / nCopies
    val mediaFalse = mediaPairs.count(p => p._1 < 1000000L && p._2 < 1000000L)

    // audio twin (the dedup_audio declared config: 8×8-bit bands,
    // Hamming ≤ 7): planted 70%-amplitude re-masters must pair
    val audioBlobs =
      graft.ext.Multimodal.synthAudioBlobs(docs, "doc_id", "text")
    val (nAudioCopies, audioRecalled, audioFalse) = {
      val deduped = graft.ext.Multimodal.dedupExactMedia(audioBlobs)
      val pairs = graft.ext.Multimodal
        .nearDupAudioAmplified(deduped, maxDist = 7, bands = 8)
        .select("id_a", "id_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val n = audioBlobs.where(col("media_id") >= 1000000L).count()
      val surviving = deduped.where(col("media_id") >= 1000000L).count()
      val paired = pairs.flatMap(p => Seq(p._1, p._2)).count(_ >= 1000000L)
      (n, paired + (n - surviving),
        pairs.count(p => p._1 < 1000000L && p._2 < 1000000L))
    }
    val audioRecall = audioRecalled.toDouble / nAudioCopies

    // video twin (the dedup_video declared config): planted
    // per-frame-edited re-encodes must pair under the majority-vote fp
    val videoBlobs =
      graft.ext.Multimodal.synthVideoBlobs(docs, "doc_id", "text")
    val (nVideoCopies, videoRecalled, _, _) =
      ladderRecall(videoBlobs, maxDist = 7)
    val videoRecall = videoRecalled.toDouble / nVideoCopies

    // ── Speedup vs the exact twin at EQUAL (measured-above) recall: the
    // wall-time each approximate tier buys at its declared config, same
    // session, corpus cached, min-of-2 (offline index/codebook builds are
    // excluded — they are amortized artifacts, like the tokenizer memo).
    // At 2k vectors / 5k docs the exact twins are already cheap, so these
    // are LOWER BOUNDS on the at-scale gain: the exact side grows
    // quadratically (all-pairs) or linearly-per-query (brute top-k) while
    // the approximate side's candidate sets stay bucket-bounded — the 10×
    // soak (SOAK.md) carries the scaled wall-clocks. ─────────────────────
    def timed(f: => Unit): Double = Harness.timeMin(2)(f)
    val tExactTopK = timed(queryIds.foreach(q =>
      Similarity.cosineTopK(e, e.where(col("vec_id") === q),
        "vec_id", "embedding", k).collect()))
    val tLsh = timed(queryIds.foreach(q =>
      Similarity.annTopKMultiTable(mtIdx, qv(q), "vec_id",
        "embedding", dim = 64, nbits = mtNbits, tables = mtTables, k = k,
        probeHamming = 0, probeBudget = mtBudget).collect()))
    val tIvf = timed(queryIds.foreach(q =>
      Similarity.ivfTopKMulti(maIdx, maCentroids, qv(q), "vec_id",
        "embedding", nprobe = maNprobe, k = k, nassign = 3).collect()))
    val tPq = timed(queryIds.foreach(q =>
      Similarity.ivfPqTopKIndexed(pqIdx, pqCentroids, pqBooks, qv(q),
        "vec_id", "embedding", nprobe = pqNprobe, k = k,
        rerank = 800, nassign = 2).collect()))
    val tKnnExact = timed {
      val wn = e.withColumn("__n", sqrt(Similarity.norm2(col("embedding"))))
      val qa = wn.select(col("vec_id").as("id"),
        col("embedding").as("va"), col("__n").as("na"))
      val qb = wn.select(col("vec_id").as("neighbor"),
        col("embedding").as("vb"), col("__n").as("nb"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("id").orderBy(col("cosine").desc, col("neighbor"))
      qa.crossJoin(qb).where(col("id") =!= col("neighbor"))
        .select(col("id"), col("neighbor"),
          (Similarity.dot(col("va"), col("vb")) /
            (col("na") * col("nb"))).as("cosine"))
        .withColumn("rnk", row_number().over(w))
        .where(col("rnk") <= knnK).count(): Unit
    }
    val tKnnJoin = timed(Similarity.knnJoin(e, "vec_id", "embedding",
      dim = 64, nbits = 4, k = knnK, maxBucket = 1000, tables = 6,
      probes = 1)
      .count(): Unit)
    val tJaccard = timed(Dedup.ngramJaccard(docs, "doc_id", "text",
      shingleN = 3, minJaccard = 0.3, maxDf = 1000L).count(): Unit)
    val tMinhash = timed(Dedup.minHashLsh(docs, "doc_id", "text",
      maxBucket = 1000).count(): Unit)
    val tSimhash = timed(Dedup.simHashPairs(docs, "doc_id", "text",
      maxDist = 6).count(): Unit)
    val tWinnow = timed(Dedup.winnowPairs(docs, "doc_id", "text",
      k = 3, w = 4, minShared = 2L, maxDf = 1000L).count(): Unit)
    val tEmbExact = timed {
      val withNorm = e.withColumn("__n",
        sqrt(Similarity.norm2(col("embedding"))))
      val ea = withNorm.select(col("vec_id").as("id_a"),
        col("embedding").as("va"), col("__n").as("na"))
      val eb = withNorm.select(col("vec_id").as("id_b"),
        col("embedding").as("vb"), col("__n").as("nb"))
      ea.crossJoin(eb).where(col("id_a") < col("id_b"))
        .where(Similarity.dot(col("va"), col("vb")) /
          (col("na") * col("nb")) >= 0.3).count(): Unit
    }
    val tEmbLsh = timed(Dedup.embeddingNearDup(e, "vec_id", "embedding",
      dim = 64, nbits = 4, minCosine = 0.3, maxBucket = 1000,
      tables = 6, probes = 1).count(): Unit)
    def speed(exact: Double, approx: Double): String =
      f"${exact / approx}%.1f×"

    val report =
      s"""# Recall at bench scale (generated by `graft.Recall`)
         |
         |Corpus: `$sfDir` — $nVec vectors (dim 64), ${docs.count()} documents.
         |Each approximate tier is measured in its DECLARED query
         |configuration against its exact twin on the same corpus.
         |
         || tier | declared query | config | metric | recall | speedup vs exact |
         ||---|---|---|---|---|---|
         || multi-table LSH top-k | `sim_search_lsh` | T=$mtTables tables × nbits=$mtNbits (dial), query-directed ${mtBudget} buckets/table (${mtTables * mtBudget} of ${mtTables.toLong * (1L << mtNbits)} partitions) | mean recall@$k over $nQueries queries vs `sim_search` | ${f"$lshRecall%.3f"} | ${speed(tExactTopK, tLsh)} (${f"$tExactTopK%.1f"}s → ${f"$tLsh%.1f"}s) |
         || multi-assignment IVF top-k | `sim_search_ivf` | nlist=$maNlist (√N dial), nassign=3, nprobe=$maNprobe (${f"${100.0 * maNprobe * 3 / maNlist}%.0f"}% of corpus bytes) | mean recall@$k over $nQueries queries vs `sim_search` | ${f"$ivfRecall%.3f"} | ${speed(tExactTopK, tIvf)} (→ ${f"$tIvf%.1f"}s) |
         || IVF-PQ composite top-k | `sim_search_pq` | nlist=$maNlist, nassign=2, nprobe=$pqNprobe; PQ16x8, rerank=800 | mean recall@$k over $nQueries queries vs `sim_search` | ${f"$pqRecall%.3f"} | ${speed(tExactTopK, tPq)} (→ ${f"$tPq%.1f"}s) |
         || LSH knn self-join | `knn_join` | nbits=4, 6 tables × 1 query-directed probe, maxBucket=1000 | neighbour recall vs exact global top-$knnK (${exactKnn.size} edges) | ${f"$knnRecall%.3f"} | ${speed(tKnnExact, tKnnJoin)} (${f"$tKnnExact%.1f"}s → ${f"$tKnnJoin%.1f"}s) |
         || — 8 tables, 1 probe |  | nbits=4, 8 tables, probes=1 | (context: the recall-leaning dial) | ${f"$knnRecall8p%.3f"} | — |
         || — 8 tables, no probe |  | nbits=4, 8 tables | (context: the round-10 declared config) | ${f"$knnRecall80%.3f"} | — |
         || — 6 tables, no probe |  | nbits=4, 6 tables | (context: what the probe row buys) | ${f"$knnRecall6%.3f"} | — |
         || MinHash LSH candidates | `dedup_minhash` | 32 hashes / 16 bands, maxBucket=1000 | pair recall vs exact Jaccard ≥ 0.3 (`dedup_ngram`, ${exactPairs.size} pairs) | ${f"$minhashRecall%.3f"} | ${speed(tJaccard, tMinhash)} (${f"$tJaccard%.1f"}s → ${f"$tMinhash%.1f"}s) |
         || SimHash candidates | `dedup_simhash` | 64-bit, Hamming ≤ 6 | pair recall vs the same exact Jaccard tier | ${f"$simhashRecall%.3f"} | ${speed(tJaccard, tSimhash)} (→ ${f"$tSimhash%.1f"}s) |
         || winnowing candidates | `winnow_pairs` | k=3, w=4, minShared=2, maxDf=1000 | pair recall vs the same exact Jaccard tier (signature table ~1/w of gram sites) | ${f"$winnowRecall%.3f"} | ${speed(tJaccard, tWinnow)} (→ ${f"$tWinnow%.1f"}s) |
         || embedding LSH near-dup | `dedup_embedding` | 6×4-bit OR-amplified tables × 1 query-directed probe, maxBucket=1000 | pair recall vs exact all-pairs cosine ≥ 0.3 (${exactEmb.size} pairs) | ${f"$embRecall%.3f"} | ${speed(tEmbExact, tEmbLsh)} (${f"$tEmbExact%.1f"}s → ${f"$tEmbLsh%.1f"}s) |
         || — 8 tables, no probe |  | nbits=4, 8 tables | (context: the round-10 declared config) | ${f"$embRecall80%.3f"} | — |
         || — single table |  | nbits=4, 1 table | (context: what the banding buys) | ${f"$embRecall1%.3f"} | — |
         || SemDeDup design point | `dedup_semantic` | planted-near-dup corpus, nlist=16, cosine ≥ 0.8, maxCell=1000 | pair recall vs exact all-pairs cosine ≥ 0.8 (${semTruth.size} planted pairs); precision ${f"$semPrecision%.3f"} | ${f"$semRecall%.3f"} | — |
         || pHash media near-dup | `dedup_media` | exact-dedup → 8×8-bit bands, Hamming ≤ 4 | planted pixel-edited copies recalled by the exact→near ladder ($recalledCopies of $nCopies, $exactCaught via the exact rung; $mediaFalse base↔base false pairs) | ${f"$mediaRecall%.3f"} | — |
         || audio fp near-dup | `dedup_audio` | exact→near ladder, 2 OR-amplified phases (≤7 / ≤5), 8×8-bit bands | planted 70%-amplitude re-masters recalled (of $nAudioCopies; $audioFalse base↔base pairs) | ${f"$audioRecall%.3f"} | — |
         || video fp near-dup | `dedup_video` | exact-dedup → 8×8-bit bands, Hamming ≤ 7 | planted per-frame-edited re-encodes paired (of $nVideoCopies) | ${f"$videoRecall%.3f"} | — |
         |
         |Speedup = exact-twin wall-time / approximate-tier wall-time at the
         |measured recall, same session, corpus cached, min-of-2; offline
         |index/codebook builds excluded (amortized artifacts). Read the
         |column honestly: the PAIR-MINING tiers already win at this corpus
         |size (the exact side is an all-pairs/shingle join that grows
         |quadratically), while the ANN top-k tiers sit BELOW the
         |brute-force crossover (< 1×) at 2k vectors — scanning 2k×64
         |floats is cheaper than a probe. The crossover is MEASURED at
         |1M–35M vectors in the section below (AnnCrossover): the declared
         |persisted-index probes pass brute force between 1M and 5M on this
         |box (LSH 1.97× / IVF 1.87× at 5M, 2.13× / 3.13× at 10M) and widen
         |with corpus size.
         |
         |Notes: cosine ≥ 0.3 (θ ≈ 72°) is a HARD regime for hyperplane
         |LSH — per-table collision is (1−θ/π)^4 ≈ 0.13, which is why the
         |declared pair tiers OR-amplify across independent tables
         |(1−(1−p)^L) AND multi-probe each table (the weakest-margin
         |flip roughly doubles per-table collision for near pairs at one
         |extra probe-leg row). The round-11 serving tiers all probe a SMALL
         |corpus fraction by construction (multi-table Hamming-1 keys /
         |nprobe of √N multi-assigned cells), so their recall is the
         |price of scanning that fraction; the configs scale with corpus
         |size via the lshMtNbits/ivfNlist dials, and their 1M/5M
         |crossover points are measured in the AnnCrossover section
         |below. The gates in `Recall.main` sit just below these
         |measurements to catch regressions; they are corpus-calibrated,
         |not universal.
         |
         |`knn_join`/`dedup_embedding` declare 6 tables × 1 query-directed
         |probe (multi-probe LSH on the pair-mining side): the probe row
         |buys what the round-4 cost-trim attempt could not — 6 tables
         |alone lost ~0.10 recall vs 8, but 6 tables PLUS the
         |weakest-margin flip beat plain 8 tables outright (measured
         |${f"$knnRecall%.3f/$embRecall%.3f vs $knnRecall80%.3f/$embRecall80%.3f"})
         |at roughly the 8-table-plain wall time and 25% less corpus
         |replication in the join legs. The recall-leaning 8×1 dial
         |(${f"$knnRecall8p%.3f/$embRecall8p%.3f"}) is the knob for
         |recall-critical corpora.
         |
         |`dedup_semantic` is declared — and measured — at the SemDeDup
         |design point: near-identical pairs (cosine ≥ 0.8) over the
         |planted-near-dup corpus (`PipelineQueries.plantedNearDups`: every
         |4th vector gets a cosine≈0.99 copy; the raw synthetic corpus has
         |no pair above 0.6, so it cannot demonstrate the operator). A
         |planted pair is missed only when source and copy straddle a
         |KMeans cell boundary. Far-threshold (0.3) pair mining is
         |`dedup_embedding`'s regime (0.91 above, OR-amplified +
         |multi-probed).
         |""".stripMargin

    java.nio.file.Files.writeString(java.nio.file.Paths.get(outFile), report)
    println(report)

    // regression gates — calibrated just below the measured values
    require(minhashRecall >= 0.95,
      f"minhash candidate recall regressed: $minhashRecall%.3f")
    require(winnowRecall >= 0.95,
      f"winnow candidate recall regressed: $winnowRecall%.3f")
    require(knnRecall >= 0.85, f"knn_join recall regressed: $knnRecall%.3f")
    require(embRecall >= 0.85,
      f"embedding near-dup recall regressed: $embRecall%.3f")
    require(semRecall >= 0.9,
      f"dedup_semantic design-point recall regressed: $semRecall%.3f")
    require(semPrecision >= 0.999,
      f"dedup_semantic precision regressed: $semPrecision%.3f")
    // round-11 serving configs at the small-corpus end of their dials
    // (sf0.1 measured: MT-LSH 1.000, IVF-MA 0.850, IVF-PQ 0.758; the
    // at-scale story lives in the crossover section — 0.913@5M /
    // 0.906@20M / 0.825@20M respectively)
    require(lshRecall >= 0.95, f"lsh recall regressed: $lshRecall%.3f")
    require(ivfRecall >= 0.8, f"ivf recall regressed: $ivfRecall%.3f")
    require(pqRecall >= 0.7, f"pq recall regressed: $pqRecall%.3f")
    require(mediaRecall >= 0.99,
      f"dedup_media planted-copy recall regressed: $mediaRecall%.3f")
    require(mediaFalse <= 5,
      s"dedup_media base-base false pairs regressed: $mediaFalse")
    require(audioRecall >= 0.98,
      f"dedup_audio planted re-master recall regressed: $audioRecall%.3f")
    require(videoRecall >= 0.93,
      f"dedup_video planted re-encode recall regressed: $videoRecall%.3f")
    Seq(mtPath, maPath, pqPath).foreach(Harness.rmTree)
    spark.stop()
  }
}
