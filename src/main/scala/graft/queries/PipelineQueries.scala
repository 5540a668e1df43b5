package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.ext.{Compute, Dedup, Lm, Multimodal, Similarity, Sketch, TextOps}

/** Training-data pipeline queries over `documents` / `embeddings`
  * (builder-prompt north star): dedup tiers, similarity search, text
  * analysis. Where the algorithm is a deterministic fold/hash the DuckDB
  * oracle verifies values exactly; the hash-function-dependent tiers
  * (xxhash64-based MinHash/SimHash/LSH) have no SQL twin in DuckDB and are
  * verified by ScalaTest against exact recomputation (DedupSpec,
  * SimilaritySpec) — the driver records a rows-only check for them.
  */
object PipelineQueries {

  /** The embeddings corpus plus deterministic near-duplicates: every 4th
    * vector gets a slightly perturbed copy (id offset by 1,000,000; each
    * component nudged by 0.02·cos(0.7·pos + vec_id mod 7) — a fixed,
    * engine-independent function of position and id). The copy sits at
    * cosine ≈ 0.99 of its source while staying far (< 0.65) from every
    * other vector, so the exact near-dup truth at cosine ≥ 0.8 is exactly
    * the planted (source, copy) pairs. This is the demonstration corpus
    * for the SemDeDup design point (`dedup_semantic*`): the synthetic
    * embeddings have no natural pair above cosine 0.6, and an operator
    * whose job is near-identical semantic dedup should be declared — and
    * recall-measured (`graft.Recall`) — on data that HAS near-identical
    * pairs.
    */
  def plantedNearDups(e: DataFrame): DataFrame = {
    val cols = Seq("vec_id", "embedding", "label").map(col)
    val planted = e.where(pmod(col("vec_id"), lit(4)) === 0)
      .select(
        (col("vec_id") + lit(1000000L)).as("vec_id"),
        transform(col("embedding"), (x, i) =>
          (x + lit(0.02) * cos(i.cast("double") * lit(0.7) +
            pmod(col("vec_id"), lit(7)).cast("double"))).cast("float"))
          .as("embedding"),
        col("label"))
    e.select(cols: _*).unionByName(planted)
  }

  /** Once-per-(session, sf, format) materialization of the corpus in an
    * ingest format — the ingest_* queries measure READING the format, not
    * rewriting it per bench rep.
    */
  private val ingestDirs = new java.util.concurrent.ConcurrentHashMap[
    (Int, String, String), String]()

  private def ingestDir(s: SparkSession, d: String, fmt: String,
      write: DataFrame => String => Unit): String =
    ingestDirs.computeIfAbsent((System.identityHashCode(s), d, fmt), _ => {
      val path = java.nio.file.Files
        .createTempDirectory(s"graft-ingest-$fmt").toString
      // corpus-sized copy in /tmp: reclaim it at JVM exit so repeated
      // bench sessions don't accumulate one directory per (session, sf,
      // format) forever
      Runtime.getRuntime.addShutdownHook(new Thread(() => {
        def rm(f: java.io.File): Unit = {
          Option(f.listFiles()).getOrElse(Array.empty).foreach(rm)
          f.delete(): Unit
        }
        rm(new java.io.File(path))
      }))
      write(Tables.documents(s, d))(path)
      path
    })

  /** JVM-local memo of the trained BPE model per (session, corpus plan,
    * numMerges). The tokenizer is an input ARTIFACT to the encode and
    * fertility-audit queries — `bpe_pairs` remains the query that
    * measures the training cost itself — and without the memo
    * `bpe_encode`/`bpe_fertility` each re-run the full iterative trainer
    * per bench rep. Training runs the driver-side fast path
    * ([[graft.ext.Bpe.trainLocal]] — one Spark job however many merges;
    * BpeSpec pins its equality to the distributed trainer); the vocab the
    * memo holds is the parallelized final dictionary.
    */
  private val bpeModelCache = new java.util.concurrent.ConcurrentHashMap[
    (Int, Int, Int), (Seq[graft.ext.Bpe.Merge], DataFrame)]()

  private def trainedBpe(docs: DataFrame,
      numMerges: Int): (Seq[graft.ext.Bpe.Merge], DataFrame) =
    bpeModelCache.computeIfAbsent(
      (System.identityHashCode(docs.sparkSession),
        docs.queryExecution.analyzed.semanticHash(), numMerges),
      _ => {
        val (m, v) = graft.ext.Bpe.trainLocal(docs, "text", numMerges)
        (m, v.localCheckpoint())
      })

  /** Same artifact-memo contract for the unigram-LM tokenizer:
    * `unigram_pieces` measures the training itself, `unigram_encode`
    * consumes the trained model. Training runs the driver-side fast path
    * ([[graft.ext.Unigram.trainLocal]] — one Spark job however many
    * EM/prune rounds, SentencePiece's own sequential shape over the
    * collected word table; UnigramSpec pins approximate equality with
    * the distributed trainer and identical encode output).
    */
  private val unigramModelCache = new java.util.concurrent.ConcurrentHashMap[
    (Int, Int, Int), graft.ext.Unigram.Model]()

  private def trainedUnigram(docs: DataFrame,
      vocabSize: Int): graft.ext.Unigram.Model =
    unigramModelCache.computeIfAbsent(
      (System.identityHashCode(docs.sparkSession),
        docs.queryExecution.analyzed.semanticHash(), vocabSize),
      _ => graft.ext.Unigram.trainLocal(docs, "text", vocabSize,
        maxPieceLen = 4, seedSize = 600, emIters = 1, pruneFactor = 0.6))

  // The serving dials + memoized persisted-index artifacts moved to
  // [[Serving]] (round-12 pure move); the query defs below use them
  // via this import.
  import Serving.{lshMtIndexOf, lshMtIncrIndexOf, ivfMaIndexOf,
    ivfPqIndexOf, bandIndexOf, ivfNprobe, pqNprobe}

  /** Shared media-ladder check twin: runs the banded near-dup join TWICE
    * with independent band decompositions — 8×8-bit and 16×4-bit, BOTH
    * pigeonhole-complete for the declared distance (d < bands), both
    * uncapped — and asserts they produce the same pair set: a broken band
    * mask, explode, join key or verify filter desynchronizes the two
    * wirings and flips `ok_bands_agree`. `n_media_kept` grounds the
    * synth + content-hash rungs in SQL (identical text ⇒ identical bytes
    * ⇒ one keeper per distinct text, plus one planted near-copy per
    * distinct text holding a `doc_id % 4 == 0` doc).
    */
  /** Scale posture: the twin runs UNCAPPED on purpose — the pigeonhole
    * completeness it asserts is only unconditional without the hot-bucket
    * drop. It is a conformance device over the test corpus; the DECLARED
    * queries keep `maxBucket` and are the 100 TB path.
    */
  private def mediaLadderCheck(
      media: org.apache.spark.sql.Dataset[Multimodal.MediaBlob],
      maxDist: Int): DataFrame = {
    // NOT checkpointed (round-12 A/B): f8/f16 are re-referenced across
    // the invariant legs, but AQE's runtime query-stage reuse already
    // dedups the repeated subtrees inside this one plan — forcing
    // localCheckpoints here measured SLOWER on every modality
    // (media 2.05→2.99 s, audio 2.71→3.96, video 2.18→2.99 at sf0.1;
    // the materialization jobs serialize what AQE overlapped).
    val f8 = Multimodal.nearDupMedia(media, maxDist = maxDist,
      maxBucket = 0, bands = 8)
    val f16 = Multimodal.nearDupMedia(media, maxDist = maxDist,
      maxBucket = 0, bands = 16)
    val only8 = f8.select("id_a", "id_b")
      .join(f16.select("id_a", "id_b"), Seq("id_a", "id_b"), "left_anti")
    val only16 = f16.select("id_a", "id_b")
      .join(f8.select("id_a", "id_b"), Seq("id_a", "id_b"), "left_anti")
    media.toDF().agg(count(lit(1)).cast("long").as("n_media_kept"))
      .crossJoin(broadcast(only8.unionByName(only16)
        .agg((count(lit(1)) === 0L).as("ok_bands_agree"))))
      .crossJoin(broadcast(f8.agg(
        coalesce(max(col("hamming")) <= maxDist.toLong, lit(true))
          .as("ok_within_distance"),
        coalesce(max(when(col("id_a") >= col("id_b"), 1).otherwise(0))
          === 0, lit(true)).as("ok_canonical"))))
  }

  /** Cosine recomputed by an INDEPENDENT SQL-level fold (zip_with +
    * aggregate, same left-to-right order as the codegen'd dot — the
    * bit-equality knn_exact's DuckDB oracle proves transitively). The
    * check twins use it so a broken codegen path cannot verify itself.
    */
  private def foldCosine(a: org.apache.spark.sql.Column,
      b: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    def n2(c: org.apache.spark.sql.Column) = aggregate(
      transform(c, x => x.cast("double") * x.cast("double")),
      lit(0.0), (acc, v) => acc + v)
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v) / (sqrt(n2(a)) * sqrt(n2(b)))
  }

  /** Shared ANN top-k check twin: the query vector is corpus member 0,
    * so self-retrieval at the top (cosine exactly the maximum) is the
    * tier's guarantee; every reported cosine must equal the independent
    * fold recompute bit-exactly, and at most k rows come back.
    */
  private def annTopKCheck(e: DataFrame, res: DataFrame, k: Int): DataFrame = {
    val q = e.where(col("vec_id") === 0L).select(col("embedding").as("__q"))
    val re = res.join(e.select(col("vec_id"), col("embedding")), "vec_id")
      .crossJoin(broadcast(q))
      .withColumn("__cos", foldCosine(col("embedding"), col("__q")))
    e.agg(count(lit(1)).cast("long").as("n_vectors"))
      .crossJoin(broadcast(re.agg(
        coalesce(max(abs(col("cosine") - col("__cos"))) === 0.0, lit(true))
          .as("ok_cosine_exact"),
        (count(lit(1)) <= k).as("ok_k_bound"),
        coalesce(max(when(col("vec_id") === 0L, col("cosine"))) ===
          max(col("cosine")), lit(false)).as("ok_self_found"))))
  }

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    // exact content-hash dedup
    "dedup_exact" -> { (s, d) =>
      Dedup.exact(Tables.documents(s, d), "doc_id", "text")
        .orderBy("text_hash")
    },
    // exact n-gram Jaccard near-dup pairs (the verification tier); maxDf
    // caps hot boilerplate shingles before the self-join — the 100 TB
    // guard, mirrored in the oracle SQL (df max is 9 at sf0.1, so 1000 is
    // semantically a no-op here)
    "dedup_ngram" -> { (s, d) =>
      Dedup.ngramJaccard(Tables.documents(s, d), "doc_id", "text",
          shingleN = 3, minJaccard = 0.3, maxDf = 1000L)
        .orderBy("id_a", "id_b")
    },
    // substring-level dedup stats (Lee et al. 2022): a position is
    // duplicated when its word 5-gram occurs at ≥2 sites anywhere in the
    // corpus — catches the pasted license header / nav bar the document-
    // level tiers miss. One gram-keyed aggregate + join-back (no per-gram
    // window; see Dedup.duplicateSpanStats for the 100 TB notes); the
    // scrub form (Dedup.scrubDuplicateSpans) rewrites the text itself
    "dedup_span" -> { (s, d) =>
      Dedup.duplicateSpanStats(Tables.documents(s, d), "doc_id", "text",
          k = 5)
        .orderBy("doc_id")
    },
    // INCREMENTAL dedup — the 100 TB ingest pattern: the standing corpus
    // (doc_id % 10 != 0 here) is band-indexed once (persisted, memoized
    // artifact), the "new batch" (doc_id % 10 == 0) probes the index for
    // candidates (cost ∝ batch × matching buckets, never corpus²), and
    // exact Jaccard verifies survivors. Oracle-exact because banding
    // recall on this corpus is 1.0 (RECALL.md's dedup_minhash row) and
    // every emitted pair is exact-verified — the oracle recomputes the
    // cross-partition exact tier from raw text.
    "dedup_incremental" -> { (s, d) =>
      val docs = Tables.documents(s, d)
      val batch = docs.where(pmod(col("doc_id"), lit(10)) === 0)
      val corpus = docs.where(pmod(col("doc_id"), lit(10)) =!= 0)
      // localCheckpoint: the candidate set feeds the id restriction AND
      // the verify join — without it the index probe would re-run per
      // consumer (same device as verifyJaccard's own shingle table)
      val cand = Dedup.candidatesAgainstIndex(batch, "doc_id", "text",
        bandIndexOf(corpus), shingleN = 3, numHashes = 32, bands = 16,
        maxBucket = 1000).localCheckpoint(false)
      // verify ONLY the docs the candidates touch — the ingest-scale
      // contract: shingling the whole corpus per batch would re-pay the
      // corpus scan the index exists to avoid. No df cap here (flood
      // protection lives in the probe's maxBucket; Jaccard over a
      // candidate pair is two docs' gram sets, never a gram self-join).
      val ids = cand.select(col("id_a").as("doc_id"))
        .unionByName(cand.select(col("id_b").as("doc_id"))).distinct()
      Dedup.verifyJaccard(cand, docs.join(ids, Seq("doc_id"), "left_semi"),
          "doc_id", "text", shingleN = 3, maxDf = 0L)
        .where(col("jaccard") >= 0.3)
        .orderBy("id_a", "id_b")
    },
    // MinHash+LSH near-dup candidates (no SQL oracle: xxhash64-based),
    // declared WITH the hot-bucket skew cap — the shape that survives a
    // boilerplate flood at corpus scale (no-op on this corpus: the largest
    // band bucket holds far fewer than 1000 docs)
    "dedup_minhash" -> { (s, d) =>
      Dedup.minHashLsh(Tables.documents(s, d), "doc_id", "text",
          maxBucket = 1000)
        .orderBy("id_a", "id_b")
    },
    // SimHash near-dup candidates (no SQL oracle: xxhash64-based)
    "dedup_simhash" -> { (s, d) =>
      Dedup.simHashPairs(Tables.documents(s, d), "doc_id", "text",
          maxDist = 6)
        .orderBy("id_a", "id_b")
    },
    // ---- fingerprint-tier CHECK TWINS: the xxhash64/perceptual tiers
    // are rows-only end-to-end, but their GUARANTEES are SQL facts. Same
    // device as contamination_bloom_check: Spark computes the system
    // output AND its invariants; DuckDB independently reproduces the
    // invariant values from the raw tables — a broken band mask, join
    // key, verify filter or signature flips a column and the driver's
    // hash goes red. ----
    // MinHash guarantees: identical shingle SETS ⇒ identical signatures
    // ⇒ candidates in EVERY band with est_jaccard exactly 1 (uncapped
    // here so the guarantee is unconditional; the declared query keeps
    // the skew cap); pairs are canonical (id_a < id_b); the exact tier's
    // pair count is reproduced independently in SQL
    "dedup_minhash_check" -> { (s, d) =>
      val docs = Tables.documents(s, d)
      // NOT checkpointed (round-12 A/B): `found`/`ident` re-references
      // are already deduped at runtime by AQE stage reuse — forced
      // checkpoints measured 4.28→5.21 s on this twin (extra
      // materialization jobs; same lesson as mediaLadderCheck)
      val found = Dedup.minHashLsh(docs, "doc_id", "text", maxBucket = 0)
      val setKey = Dedup.shingleRows(docs, "doc_id", "text", 3)
        .groupBy("doc")
        .agg(sha2(concat_ws("\u0001", sort_array(collect_set(col("s")))),
          256).as("k"))
      val ident = setKey.as("x").join(setKey.as("y"),
          col("x.k") === col("y.k") && col("x.doc") < col("y.doc"))
        .select(col("x.doc").as("id_a"), col("y.doc").as("id_b"))
      val exact = Dedup.ngramJaccard(docs, "doc_id", "text", shingleN = 3,
        minJaccard = 0.3, maxDf = 1000L)
      ident.agg(count(lit(1)).cast("long").as("n_identical_pairs"))
        .crossJoin(broadcast(
          exact.agg(count(lit(1)).cast("long").as("n_exact_pairs"))))
        .crossJoin(broadcast(ident.join(found, Seq("id_a", "id_b"), "left")
          .agg((count(lit(1)) === count(col("est_jaccard")))
              .as("ok_identical_found"),
            coalesce(min(col("est_jaccard")) === 1.0, lit(true))
              .as("ok_identical_est_one"))))
        .crossJoin(broadcast(found.agg(
          coalesce(max(when(col("id_a") >= col("id_b"), 1).otherwise(0))
            === 0, lit(true)).as("ok_canonical"))))
    },
    // SimHash guarantees: identical TEXT ⇒ identical word array ⇒
    // identical 64-bit fingerprint ⇒ Hamming 0, found through every band;
    // every emitted pair respects the declared distance + canonical order
    "dedup_simhash_check" -> { (s, d) =>
      val docs = Tables.documents(s, d)
      val found = Dedup.simHashPairs(docs, "doc_id", "text", maxDist = 6)
      val elig = docs.where(col("text").isNotNull)
        .select(col("doc_id"), col("text"))
      val ident = elig.as("x").join(elig.as("y"),
          col("x.text") === col("y.text") &&
            col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("id_a"), col("y.doc_id").as("id_b"))
      ident.agg(count(lit(1)).cast("long").as("n_identical_pairs"))
        .crossJoin(broadcast(ident.join(found, Seq("id_a", "id_b"), "left")
          .agg((count(lit(1)) === count(col("hamming")))
              .as("ok_identical_found"),
            coalesce(max(col("hamming")) === 0L, lit(true))
              .as("ok_identical_zero"))))
        .crossJoin(broadcast(found.agg(
          coalesce(max(col("hamming")) <= 6L, lit(true))
            .as("ok_within_distance"),
          coalesce(max(when(col("id_a") >= col("id_b"), 1).otherwise(0))
            === 0, lit(true)).as("ok_canonical"))))
    },
    // ANN top-k check twins: the query vector IS corpus member 0, so the
    // LSH probe (own bucket always probed) and IVF (own cell is the
    // nearest cell) GUARANTEE self-retrieval at cosine 1 — plus every
    // reported cosine recomputed bit-exactly by the independent SQL-level
    // fold, and the k bound. PQ's rerank re-scores exactly, so the same
    // invariants hold once the self vector survives the ADC cut (it is
    // rank-1 by construction of the quantized dot on this corpus).
    // the twins run the DECLARED serving shape — the persisted-index
    // probes — so the checked plan is the one the driver sees
    "sim_search_lsh_check" -> { (s, d) =>
      val e = Tables.embeddings(s, d)
      val qv = e.where(col("vec_id") === 0L).select("embedding")
        .head().getSeq[Float](0).toArray
      val (idx, nbits, tables) = lshMtIndexOf(e, 64)
      annTopKCheck(e, Similarity.annTopKMultiTable(idx, qv,
        "vec_id", "embedding", dim = 64, nbits = nbits, tables = tables,
        k = 20, probeHamming = 0, probeBudget = 12), k = 20)
    },
    "sim_search_ivf_check" -> { (s, d) =>
      val e = Tables.embeddings(s, d)
      val (idx, centroids, nlist) = ivfMaIndexOf(e, nassign = 3)
      val qv = e.where(col("vec_id") === 0L).select("embedding")
        .head().getSeq[Float](0).toArray
      annTopKCheck(e, Similarity.ivfTopKMulti(idx,
        centroids, qv, "vec_id", "embedding",
        nprobe = ivfNprobe(nlist, 16), k = 20, nassign = 3), k = 20)
    },
    "sim_search_pq_check" -> { (s, d) =>
      val e = Tables.embeddings(s, d)
      val (idx, centroids, books, nlist) = ivfPqIndexOf(e,
        nassign = 2, m = 16, codes = 256, samplePerCode = 16)
      val qv = e.where(col("vec_id") === 0L).select("embedding")
        .head().getSeq[Float](0).toArray
      annTopKCheck(e, Similarity.ivfPqTopKIndexed(idx,
        centroids, books, qv, "vec_id", "embedding",
        nprobe = pqNprobe(nlist), k = 20, rerank = 800,
        nassign = 2), k = 20)
    },
    // batch-probe invariants, per query: every reported cosine
    // recomputed bit-exactly by the independent SQL-level fold against
    // THAT query's vector; ranks dense 1..≤k per query; every query
    // retrieves ITSELF (queries are corpus members and the own bucket is
    // always in the query-directed key set — flip set ∅ scores 0); and
    // all 16 queries answered
    "sim_search_batch_check" -> { (s, d) =>
      val e = Tables.embeddings(s, d)
      val (idx, nbits, tables) = lshMtIndexOf(e, 64)
      val qs = e.where(col("vec_id") < 16L)
        .select("vec_id", "embedding").collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).toSeq
        .sortBy(_._1)
      // lazy checkpoint (round 12): res feeds the rescore leg + the
      // rank-density and self-retrieval aggs — one probe execution, not
      // three (output ≤ 16·k rows)
      val res = Similarity.annTopKMultiTableBatch(idx, qs, "vec_id",
        "embedding", dim = 64, nbits = nbits, tables = tables, k = 20,
        probeBudget = 12).localCheckpoint(false)
      val qvecs = e.where(col("vec_id") < 16L)
        .select(col("vec_id").as("query_id"), col("embedding").as("__q"))
      val re = res
        .join(e.select(col("vec_id"), col("embedding")), "vec_id")
        .join(broadcast(qvecs), "query_id")
        .withColumn("__cos", foldCosine(col("embedding"), col("__q")))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("query_id").orderBy(col("rnk"))
      e.agg(count(lit(1)).cast("long").as("n_vectors"))
        .crossJoin(broadcast(re.agg(
          coalesce(max(abs(col("cosine") - col("__cos"))) === 0.0,
            lit(true)).as("ok_cosine_exact"),
          (countDistinct(col("query_id")) === 16L).as("ok_all_queries"),
          coalesce(max(col("rnk")) <= 20L, lit(true)).as("ok_k_bound"))))
        .crossJoin(broadcast(res
          .withColumn("__dense", col("rnk") === row_number().over(w))
          .agg(coalesce(min(col("__dense").cast("int")) === 1, lit(false))
            .as("ok_ranks_dense"))))
        .crossJoin(broadcast(res
          .agg((sum(when(col("query_id") === col("vec_id"), 1)
            .otherwise(0)) === 16L).as("ok_self_found"))))
    },
    // the IVF batch twin: same per-query invariants as
    // sim_search_batch_check (exact cosines, rank density, k bound,
    // self-retrieval — the query's own cell is its nearest cell and
    // multi-assignment keeps it probeable, the sim_search_ivf_check
    // argument), over the multi-assignment index batch probe
    "sim_search_batch_ivf_check" -> { (s, d) =>
      val e = Tables.embeddings(s, d)
      val (idx, centroids, nlist) = ivfMaIndexOf(e, nassign = 3)
      val qs = e.where(col("vec_id") < 16L)
        .select("vec_id", "embedding").collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).toSeq
        .sortBy(_._1)
      // lazy checkpoint (round 12): same three-leg reuse as
      // sim_search_batch_check
      val res = Similarity.ivfTopKMultiBatch(idx, centroids, qs, "vec_id",
        "embedding", nprobe = ivfNprobe(nlist, 16), k = 20, nassign = 3)
        .localCheckpoint(false)
      val qvecs = e.where(col("vec_id") < 16L)
        .select(col("vec_id").as("query_id"), col("embedding").as("__q"))
      val re = res
        .join(e.select(col("vec_id"), col("embedding")), "vec_id")
        .join(broadcast(qvecs), "query_id")
        .withColumn("__cos", foldCosine(col("embedding"), col("__q")))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("query_id").orderBy(col("rnk"))
      e.agg(count(lit(1)).cast("long").as("n_vectors"))
        .crossJoin(broadcast(re.agg(
          coalesce(max(abs(col("cosine") - col("__cos"))) === 0.0,
            lit(true)).as("ok_cosine_exact"),
          (countDistinct(col("query_id")) === 16L).as("ok_all_queries"),
          coalesce(max(col("rnk")) <= 20L, lit(true)).as("ok_k_bound"))))
        .crossJoin(broadcast(res
          .withColumn("__dense", col("rnk") === row_number().over(w))
          .agg(coalesce(min(col("__dense").cast("int")) === 1, lit(false))
            .as("ok_ranks_dense"))))
        .crossJoin(broadcast(res
          .agg((sum(when(col("query_id") === col("vec_id"), 1)
            .otherwise(0)) === 16L).as("ok_self_found"))))
    },
    // the PQ batch twin: same per-query invariants (exact cosines via
    // the rerank's raw-vector rescore, rank density, k bound,
    // self-retrieval — self survives the ADC cut as the quantized-dot
    // rank-1, the sim_search_pq_check argument) over the composite
    // index's batched probe
    "sim_search_batch_pq_check" -> { (s, d) =>
      val e = Tables.embeddings(s, d)
      val (idx, centroids, books, nlist) = ivfPqIndexOf(e,
        nassign = 2, m = 16, codes = 256, samplePerCode = 16)
      val qs = e.where(col("vec_id") < 16L)
        .select("vec_id", "embedding").collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).toSeq
        .sortBy(_._1)
      // NOT checkpointed (round-12 A/B): unlike the LSH/IVF batch twins,
      // forcing the probe result measured slower here (4.41→5.09 s) —
      // AQE stage reuse already shares the rerank legs across the
      // invariant aggs, and the checkpoint adds two materialization jobs
      val res = Similarity.ivfPqTopKIndexedBatch(idx, centroids, books,
        qs, "vec_id", "embedding", nprobe = pqNprobe(nlist), k = 20,
        rerank = 800, nassign = 2)
      val qvecs = e.where(col("vec_id") < 16L)
        .select(col("vec_id").as("query_id"), col("embedding").as("__q"))
      val re = res
        .join(e.select(col("vec_id"), col("embedding")), "vec_id")
        .join(broadcast(qvecs), "query_id")
        .withColumn("__cos", foldCosine(col("embedding"), col("__q")))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("query_id").orderBy(col("rnk"))
      e.agg(count(lit(1)).cast("long").as("n_vectors"))
        .crossJoin(broadcast(re.agg(
          coalesce(max(abs(col("cosine") - col("__cos"))) === 0.0,
            lit(true)).as("ok_cosine_exact"),
          (countDistinct(col("query_id")) === 16L).as("ok_all_queries"),
          coalesce(max(col("rnk")) <= 20L, lit(true)).as("ok_k_bound"))))
        .crossJoin(broadcast(res
          .withColumn("__dense", col("rnk") === row_number().over(w))
          .agg(coalesce(min(col("__dense").cast("int")) === 1, lit(false))
            .as("ok_ranks_dense"))))
        .crossJoin(broadcast(res
          .agg((sum(when(col("query_id") === col("vec_id"), 1)
            .otherwise(0)) === 16L).as("ok_self_found"))))
    },
    // incremental-index invariants: the standard top-k checks PLUS the
    // claim that makes the append path trustworthy — the probe over
    // build(standing)+append(batch) is BIT-IDENTICAL (ids AND cosines)
    // to the probe over the one-shot full index (deterministic planes;
    // a broken append key, dropped batch row or plane drift flips
    // ok_matches_oneshot)
    "sim_search_incremental_check" -> { (s, d) =>
      val e = Tables.embeddings(s, d)
      val qv = e.where(col("vec_id") === 0L).select("embedding")
        .head().getSeq[Float](0).toArray
      val (iIdx, iNbits, iTables) = lshMtIncrIndexOf(e, 64)
      val (fIdx, fNbits, fTables) = lshMtIndexOf(e, 64)
      // lazy checkpoints (round 12): the exceptAll diff reads each probe
      // twice and annTopKCheck reads `incr` again — 20-row outputs,
      // probes otherwise re-executed 3×/2×
      val incr = Similarity.annTopKMultiTable(iIdx, qv, "vec_id",
        "embedding", dim = 64, nbits = iNbits, tables = iTables, k = 20,
        probeHamming = 0, probeBudget = 12).localCheckpoint(false)
      val full = Similarity.annTopKMultiTable(fIdx, qv, "vec_id",
        "embedding", dim = 64, nbits = fNbits, tables = fTables, k = 20,
        probeHamming = 0, probeBudget = 12).localCheckpoint(false)
      val iRows = incr.select(col("vec_id"), col("cosine"))
      val fRows = full.select(col("vec_id"), col("cosine"))
      val diff = iRows.exceptAll(fRows).unionAll(fRows.exceptAll(iRows))
      annTopKCheck(e, incr, k = 20)
        .crossJoin(broadcast(diff.agg(
          (count(lit(1)) === 0L).as("ok_matches_oneshot"))))
    },
    // embedding near-dup invariants: every emitted pair's EXACT cosine
    // clears the declared threshold (the refine stage's contract) in
    // canonical order — the LSH tables only decide WHICH pairs are
    // considered, never whether a reported pair qualifies
    "dedup_embedding_check" -> { (s, d) =>
      val e = Tables.embeddings(s, d)
      val found = Dedup.embeddingNearDup(e, "vec_id", "embedding",
        dim = 64, nbits = 4, minCosine = 0.3, maxBucket = 1000, tables = 6,
        probes = 1)
      val vecs = e.select(col("vec_id"), col("embedding"))
      val re = found
        .join(vecs.select(col("vec_id").as("id_a"),
          col("embedding").as("__va")), "id_a")
        .join(vecs.select(col("vec_id").as("id_b"),
          col("embedding").as("__vb")), "id_b")
        .withColumn("__cos", foldCosine(col("__va"), col("__vb")))
      e.agg(count(lit(1)).cast("long").as("n_vectors"))
        .crossJoin(broadcast(re.agg(
          coalesce(min(col("__cos")) >= 0.3, lit(true))
            .as("ok_no_false_positives"),
          coalesce(max(when(col("id_a") >= col("id_b"), 1).otherwise(0))
            === 0, lit(true)).as("ok_canonical"))))
    },
    // SemDeDup at the design point: this corpus has NO natural pair at
    // cosine ≥ 0.8 (the plants at ≈0.99 are the only ones), so every
    // emitted pair must be a (source, planted-copy) pair in canonical
    // form with exact cosine clearing the threshold — and there can be
    // at most one per planted copy
    "dedup_semantic_check" -> { (s, d) =>
      val base = Tables.embeddings(s, d)
      val planted = plantedNearDups(base)
      val found = Similarity.semanticPairs(planted, "vec_id", "embedding",
        nlist = 16, minCosine = 0.8, maxCell = 1000L)
      val vecs = planted.select(col("vec_id"), col("embedding"))
      val re = found
        .join(vecs.select(col("vec_id").as("id_a"),
          col("embedding").as("__va")), "id_a")
        .join(vecs.select(col("vec_id").as("id_b"),
          col("embedding").as("__vb")), "id_b")
        .withColumn("__cos", foldCosine(col("__va"), col("__vb")))
      base.where(pmod(col("vec_id"), lit(4)) === 0)
        .agg(count(lit(1)).cast("long").as("n_planted"))
        .crossJoin(broadcast(re.agg(
          count(lit(1)).as("__nf"),
          coalesce(max(when(col("id_b") =!= col("id_a") + 1000000L ||
            pmod(col("id_a"), lit(4)) =!= 0, 1).otherwise(0)) === 0,
            lit(true)).as("ok_pairs_planted_form"),
          coalesce(min(col("__cos")) >= 0.8, lit(true))
            .as("ok_min_cosine"))))
        .select(col("n_planted"), col("ok_pairs_planted_form"),
          col("ok_min_cosine"),
          (col("__nf") <= col("n_planted")).as("ok_within_count"))
    },
    // media fingerprint twins: blob counts are doc arithmetic (one blob
    // per doc + one planted near-copy per 4th doc), identical text ⇒
    // identical bytes ⇒ identical fingerprint, keyframes keep frame 0
    // and never exceed the synthesized frame count
    "media_phash_check" -> { (s, d) =>
      val docs = Tables.documents(s, d)
      val fp = Multimodal.perceptualHash(
        Multimodal.synthRasterBlobs(docs, "doc_id", "text"))
      val okSame = fp.where(col("media_id") < 1000000L)
        .join(docs.select(col("doc_id").as("media_id"), col("text")),
          "media_id")
        .groupBy("text").agg(countDistinct(col("phash")).as("nh"))
        .agg(coalesce(max(col("nh")) === 1L, lit(true))
          .as("ok_identical_text_same_hash"))
      fp.agg(count(lit(1)).cast("long").as("n_media"))
        .crossJoin(broadcast(okSame))
    },
    "media_resize_check" -> { (s, d) =>
      val fp = Multimodal.perceptualHash(Multimodal.resizeAll(
        Multimodal.synthRasterBlobs(Tables.documents(s, d), "doc_id",
          "text"), 16, 16))
      fp.agg(count(lit(1)).cast("long").as("n_media"),
        (count(col("phash")) === count(lit(1))).as("ok_all_fingerprinted"))
    },
    // the audio/video fingerprint rungs, same device as media_phash_check:
    // blob counts are doc arithmetic; identical text ⇒ identical WAV/AVI
    // bytes ⇒ identical fingerprint
    "media_audio_fp_check" -> { (s, d) =>
      val docs = Tables.documents(s, d)
      val fp = Multimodal.perceptualHash(
        Multimodal.synthAudioBlobs(docs, "doc_id", "text"))
      val okSame = fp.where(col("media_id") < 1000000L)
        .join(docs.select(col("doc_id").as("media_id"), col("text")),
          "media_id")
        .groupBy("text").agg(countDistinct(col("phash")).as("nh"))
        .agg(coalesce(max(col("nh")) === 1L, lit(true))
          .as("ok_identical_text_same_hash"))
      fp.agg(count(lit(1)).cast("long").as("n_media"))
        .crossJoin(broadcast(okSame))
    },
    "media_video_fp_check" -> { (s, d) =>
      val docs = Tables.documents(s, d)
      val fp = Multimodal.perceptualHash(
        Multimodal.synthVideoBlobs(docs, "doc_id", "text"))
      val okSame = fp.where(col("media_id") < 1000000L)
        .join(docs.select(col("doc_id").as("media_id"), col("text")),
          "media_id")
        .groupBy("text").agg(countDistinct(col("phash")).as("nh"))
        .agg(coalesce(max(col("nh")) === 1L, lit(true))
          .as("ok_identical_text_same_hash"))
      fp.agg(count(lit(1)).cast("long").as("n_media"))
        .crossJoin(broadcast(okSame))
    },
    // SemDeDup purge accounting: clusters PARTITION the planted corpus
    // (sum of member counts = base + planted copies), the keeper is the
    // cluster minimum so every base vector survives (a copy is its
    // source + 1e6), and the removed set is at most the planted copies
    "dedup_semantic_purge_check" -> { (s, d) =>
      val base = Tables.embeddings(s, d)
      val kept = Similarity.semanticDedupCorpus(plantedNearDups(base),
        "vec_id", "embedding", nlist = 16, minCosine = 0.8, maxCell = 1000L)
      base.agg(count(lit(1)).cast("long").as("n_base"),
          sum(when(pmod(col("vec_id"), lit(4)) === 0, 1L).otherwise(0L))
            .cast("long").as("n_planted"))
        .crossJoin(broadcast(kept.agg(
          count(lit(1)).as("__nkept"),
          sum(col("n_members")).as("__members"),
          sum(when(col("vec_id") < 1000000L, 1L).otherwise(0L))
            .as("__baseKept"),
          (min(col("n_members")) >= 1L).as("ok_members_ge1"))))
        .select(col("n_base"), col("n_planted"), col("ok_members_ge1"),
          (col("__members") === col("n_base") + col("n_planted"))
            .as("ok_partition"),
          (col("__baseKept") === col("n_base")).as("ok_all_base_kept"),
          (col("__nkept") >= col("n_base") &&
            col("__nkept") <= col("n_base") + col("n_planted"))
            .as("ok_survivor_bounds"))
    },
    // unigram invariants: the SAMPLED tokenization is as lossless as the
    // Viterbi one (concatenating tokens reproduces the space-free char
    // stream — the unigram_encode_check device, full per-doc oracle),
    // and the trained vocabulary covers every corpus character (the
    // losslessness precondition), with bounded piece lengths and
    // negative log-probs
    "unigram_sample_check" -> { (s, d) =>
      val docs = Tables.documents(s, d)
      graft.ext.Unigram.encodeSampled(docs, "doc_id", "text",
          trainedUnigram(docs, vocabSize = 300), alpha = 0.3, salt = 7L)
        .select(col("doc_id"), concat_ws("", col("tokens")).as("detok"))
        .orderBy("doc_id")
    },
    "unigram_pieces_check" -> { (s, d) =>
      import s.implicits._
      val m = trainedUnigram(Tables.documents(s, d), vocabSize = 300)
      val pieces = m.pieces.toDF("piece", "logp")
      val chars = Tables.documents(s, d).where(col("text").isNotNull)
        .select(explode(split(regexp_replace(col("text"), " ", ""), ""))
          .as("c"))
        .where(col("c") =!= "").distinct()
      val uncovered = chars.join(
        pieces.where(length(col("piece")) === 1)
          .select(col("piece").as("c")), Seq("c"), "left_anti")
      chars.agg(count(lit(1)).cast("long").as("n_corpus_chars"))
        .crossJoin(broadcast(pieces.agg(
          (count(lit(1)) === countDistinct(col("piece")))
            .as("ok_distinct_pieces"),
          (max(length(col("piece"))) <= 4).as("ok_piece_len"),
          (max(col("logp")) < 0.0).as("ok_logp_negative"),
          (count(lit(1)) <= 300L).as("ok_vocab_bound"))))
        .crossJoin(broadcast(uncovered.agg(
          (count(lit(1)) === 0L).as("ok_char_coverage"))))
    },
    "media_keyframes_check" -> { (s, d) =>
      Multimodal.keyFrames(
          Multimodal.synthVideoBlobs(Tables.documents(s, d), "doc_id",
            "text"), minDist = 8)
        .toDF()
        .groupBy("media_id")
        .agg(count(lit(1)).as("nk"), min("frame_no").as("f0"))
        .agg(count(lit(1)).cast("long").as("n_media"),
          (max(when(col("f0") =!= 0, 1).otherwise(0)) === 0)
            .as("ok_first_frame_kept"),
          (min(col("nk")) >= 1L && max(col("nk")) <= 4L).as("ok_bounds"))
    },
    // BPE fertility accounting: the per-language doc/word/char sums are
    // raw corpus facts DuckDB reproduces; the tokenizer invariants (≥ 1
    // token per nonempty word, > 0 tokens for nonempty docs) fold to
    // booleans
    "bpe_fertility_check" -> { (s, d) =>
      val docs = Tables.documents(s, d)
      val (_, vocab) = trainedBpe(docs, numMerges = 12)
      graft.ext.Bpe.encodeWithVocab(docs, "doc_id", "text", vocab)
        .select(col("doc_id"), size(col("tokens")).cast("long").as("nt"))
        .join(docs.select(col("doc_id"), col("lang"),
          size(filter(split(col("text"), " "), w => w =!= ""))
            .cast("long").as("nw"),
          length(col("text")).cast("long").as("nc")), "doc_id")
        .groupBy("lang")
        .agg(count(lit(1)).cast("long").as("n_docs"),
          sum("nw").cast("long").as("n_words"),
          sum("nc").cast("long").as("n_chars"),
          (max(when(col("nt") < col("nw"), 1).otherwise(0)) === 0)
            .as("ok_fertility_ge1"),
          (max(when(col("nw") > 0 && col("nt") === 0, 1).otherwise(0))
            === 0).as("ok_nonempty_tokenized"))
        .orderBy("lang")
    },
    // Media-ladder check twins — one per modality, via [[mediaLadderCheck]]:
    // two INDEPENDENT band decompositions must produce the same pair set
    // (both are pigeonhole-complete at the declared distance), and the
    // synth + content-hash rungs are grounded in SQL through n_media_kept
    // (identical text ⇒ identical bytes ⇒ one keeper; every 4th doc
    // plants a distinct near-copy)
    "dedup_media_check" -> { (s, d) =>
      mediaLadderCheck(Multimodal.dedupExactMedia(
        Multimodal.synthRasterBlobs(Tables.documents(s, d), "doc_id",
          "text")), maxDist = 4)
    },
    "dedup_audio_check" -> { (s, d) =>
      mediaLadderCheck(Multimodal.dedupExactMedia(
        Multimodal.synthAudioBlobs(Tables.documents(s, d), "doc_id",
          "text")), maxDist = 7)
    },
    "dedup_video_check" -> { (s, d) =>
      mediaLadderCheck(Multimodal.dedupExactMedia(
        Multimodal.synthVideoBlobs(Tables.documents(s, d), "doc_id",
          "text")), maxDist = 7)
    },
    // knn_join's check twin: ranks are dense 1..k per id with no self
    // pairs, and each reported cosine is recomputed bit-exactly by an
    // INDEPENDENT SQL-level fold (zip_with/aggregate, same left-to-right
    // order as the codegen'd dot — the equality knn_exact's DuckDB oracle
    // already proves transitively)
    "knn_join_check" -> { (s, d) =>
      val embs = Tables.embeddings(s, d)
      // size-guarded lazy checkpoint (round 12 win, round 13 guard —
      // VERDICT r12 #8): `found` feeds the exact-cosine rescore AND the
      // rank-density leg — one shared RDD instead of two runs of the
      // multi-probe knn pipeline. Output is k·N rows: tiny at harness
      // scale (pinned; measured 8.9 → 4.1 s in round 12), but an O(N)
      // executor-local intermediate with no recompute path at corpus
      // scale — Compute.pinSmall pins only while the CORPUS input is
      // under its byte budget (exact leaf file sizes; 780 KB at sf0.1)
      // and falls back to plain recompute above it
      val found = Compute.pinSmall(
        Similarity.knnJoin(embs, "vec_id", "embedding", dim = 64,
          nbits = 4, k = 5, maxBucket = 1000, tables = 6, probes = 1),
        input = embs)
      val va = embs.select(col("vec_id").as("id"),
        col("embedding").as("__va"))
      val vb = embs.select(col("vec_id").as("neighbor"),
        col("embedding").as("__vb"))
      def n2(c: org.apache.spark.sql.Column) = aggregate(
        transform(c, x => x.cast("double") * x.cast("double")),
        lit(0.0), (a, v) => a + v)
      val re = found.join(va, "id").join(vb, "neighbor")
        .withColumn("__cos", aggregate(
          zip_with(col("__va"), col("__vb"),
            (x, y) => x.cast("double") * y.cast("double")),
          lit(0.0), (a, v) => a + v) /
          (sqrt(n2(col("__va"))) * sqrt(n2(col("__vb")))))
      embs.agg(count(lit(1)).cast("long").as("n_vectors"))
        .crossJoin(broadcast(re.agg(
          coalesce(max(abs(col("cosine") - col("__cos"))) === 0.0,
            lit(true)).as("ok_cosine_exact"),
          coalesce(max(when(col("id") === col("neighbor"), 1).otherwise(0))
            === 0, lit(true)).as("ok_no_self"),
          coalesce(max(col("rnk")) <= 5L, lit(true)).as("ok_k_bound"))))
        .crossJoin(broadcast(found.groupBy("id")
          .agg(count(lit(1)).as("n"), max("rnk").as("mx"),
            min("rnk").as("mn"), countDistinct("rnk").as("dr"))
          .agg(coalesce(max(when(col("mx") =!= col("n") ||
            col("mn") =!= 1L || col("dr") =!= col("n"), 1).otherwise(0))
            === 0, lit(true)).as("ok_rnk_dense"))))
        .select(col("n_vectors"), col("ok_cosine_exact"), col("ok_no_self"),
          col("ok_k_bound"), col("ok_rnk_dense"))
    },
    // embedding cosine near-dup via OR-amplified MULTI-PROBE LSH (6
    // independent 4-bit hyperplane tables, 1 query-directed probe row per
    // table — single-table recall at cosine 0.3 is ~0.14, 8 plain tables
    // measured 0.693, this dial 0.912 at the 8-table-plain cost with 25%
    // less corpus replication, see RECALL.md); maxBucket engages the
    // per-(table,bucket) refine+drop skew guard — a no-op at this corpus
    // size, the anisotropy insurance at 100 TB (see lshBandedCapped)
    "dedup_embedding" -> { (s, d) =>
      Dedup.embeddingNearDup(Tables.embeddings(s, d), "vec_id", "embedding",
          dim = 64, nbits = 4, minCosine = 0.3, maxBucket = 1000,
          tables = 6, probes = 1)
        .orderBy("id_a", "id_b")
    },
    // SemDeDup semantic near-dup pairs at the operator's DESIGN POINT —
    // near-identical vectors, cosine ≥ 0.8 (Abbas et al.'s regime). The
    // synthetic corpus has no natural pair above cosine 0.6, so the query
    // plants deterministic near-duplicates in the flow (every 4th vector,
    // slightly perturbed — see plantedNearDups) and finds them; recall at
    // this declared config is ≥ 0.9 with precision 1, gated in
    // `graft.Recall` (RECALL.md). Far-threshold (0.3) pair mining is
    // dedup_embedding's job. (no SQL oracle: centroid-dependent; pair
    // exactness, subset-of-exact and nlist=1 completeness are verified in
    // SimilaritySpec)
    "dedup_semantic" -> { (s, d) =>
      Similarity.semanticPairs(plantedNearDups(Tables.embeddings(s, d)),
          "vec_id", "embedding", nlist = 16, minCosine = 0.8, maxCell = 1000L)
        .orderBy("id_a", "id_b")
    },
    // end-to-end SemDeDup purge at the same design point: semantic pairs →
    // connected components → keep min id per cluster (rows-only:
    // centroid-dependent; cluster correctness verified in SimilaritySpec
    // against planted structure)
    "dedup_semantic_purge" -> { (s, d) =>
      Similarity.semanticDedupCorpus(plantedNearDups(Tables.embeddings(s, d)),
          "vec_id", "embedding", nlist = 16, minCosine = 0.8, maxCell = 1000L)
        .select("vec_id", "label", "n_members")
        .orderBy("vec_id")
    },
    // brute-force exact cosine top-k vs the vec_id=0 query vector
    "sim_search" -> { (s, d) =>
      val e = Tables.embeddings(s, d)
      Similarity.cosineTopK(e, e.where(col("vec_id") === 0L),
        "vec_id", "embedding", k = 20)
    },
    // ANN: OR-amplified MULTI-TABLE LSH top-k served from the persisted
    // per-table bucket index with QUERY-DIRECTED probing (round 11 —
    // retires the round-10 weak: the single-table Hamming-2 multiprobe
    // read 11/16 of the corpus per query, a 69% scan that capped the
    // win at ~1.3×). T=12 independent tables; per table the 8 most
    // likely buckets (smallest flipped-margin mass, multi-probe LSH —
    // Lv et al. VLDB 2007) are driver-computed (lshSignatureLocalFrom /
    // lshMarginsLocalFrom, parity-pinned), so the probe reads
    // T·budget/2^nbits = 14.1% of corpus bytes at the 1M+ dial point
    // (nbits=10, budget=12) at measured recall 0.825@1M — ABOVE the
    // blind Hamming-1 probe (0.750) at the same read fraction, the
    // query-directed concentration (AnnCrossover/RECALL.md). The scan
    // partition-prunes to the key set, duplicates collapse map-side,
    // and the index RELATION is memoized (per-query re-reads pay
    // partition discovery over every bucket directory). nbits scales
    // with the corpus (lshMtNbits). Rows-only; twin asserts
    // self-retrieval + bit-exact cosines.
    "sim_search_lsh" -> { (s, d) =>
      val e = Tables.embeddings(s, d)
      val qv = e.where(col("vec_id") === 0L).select("embedding")
        .head().getSeq[Float](0).toArray
      val (idx, nbits, tables) = lshMtIndexOf(e, 64)
      Similarity.annTopKMultiTable(idx, qv, "vec_id", "embedding",
        dim = 64, nbits = nbits, tables = tables, k = 20, probeHamming = 0,
        probeBudget = 12)
    },
    // BATCH ANN serving from the same persisted multi-table index: 16
    // queries' top-k in ONE job (pruned scan over the UNION of their
    // query-directed key sets, broadcast (query, key) fan-out, per-query
    // windows — never a global sort). This is the Spark-native retrieval
    // shape (bulk RAG joins, eval alignment) AND the answer to the
    // per-query floor the crossover tables document: a single probe's 1M+
    // cost is job machinery, not bytes, and the batch divides that floor
    // by |queries|. Rows-only; per-query outputs are spec-pinned
    // bit-identical to the single-query probe, and the twin recomputes
    // every reported cosine exactly + checks rank density per query.
    "sim_search_batch" -> { (s, d) =>
      val e = Tables.embeddings(s, d)
      val (idx, nbits, tables) = lshMtIndexOf(e, 64)
      val qs = e.where(col("vec_id") < 16L)
        .select("vec_id", "embedding").collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).toSeq
        .sortBy(_._1)
      Similarity.annTopKMultiTableBatch(idx, qs, "vec_id", "embedding",
          dim = 64, nbits = nbits, tables = tables, k = 20, probeBudget = 12)
        .orderBy("query_id", "rnk")
    },
    // INCREMENTAL ANN serving (the ingest shape, ANN twin of
    // dedup_incremental): the standing corpus is MT-indexed once, the
    // new batch — vec_id % 10 == 0, including the probe's own vector —
    // is appended O(batch) under the frozen deterministic planes
    // (Similarity.appendLshMultiTableIndex; FAISS's `add`), and the
    // probe serves from the combined index without any rebuild. The
    // planes make appended buckets exactly the rebuild's buckets, so
    // this query's rows are bit-identical to probing a one-shot full
    // index — the twin asserts that equality against the sim_search_lsh
    // artifact. Rows-only (xxhash-free but float-fold based).
    "sim_search_incremental" -> { (s, d) =>
      val e = Tables.embeddings(s, d)
      val qv = e.where(col("vec_id") === 0L).select("embedding")
        .head().getSeq[Float](0).toArray
      val (idx, nbits, tables) = lshMtIncrIndexOf(e, 64)
      Similarity.annTopKMultiTable(idx, qv, "vec_id", "embedding",
        dim = 64, nbits = nbits, tables = tables, k = 20, probeHamming = 0,
        probeBudget = 12)
    },
    // BATCH serving from the multi-assignment IVF index — the strongest
    // batch tier at scale (0.122 s/q at 5M = 3.04× vs exact in-run,
    // RECALL.md): 16 queries' top-k in ONE job over the union of their
    // nprobe-nearest cells, broadcast (query, cell) fan-out, per-query
    // windows with the pigeonhole pre-cut. Rows-only; per-query outputs
    // spec-pinned bit-identical to sim_search_ivf's single probe; twin
    // recomputes cosines exactly + rank density + self-retrieval.
    "sim_search_batch_ivf" -> { (s, d) =>
      val e = Tables.embeddings(s, d)
      val (idx, centroids, nlist) = ivfMaIndexOf(e, nassign = 3)
      val qs = e.where(col("vec_id") < 16L)
        .select("vec_id", "embedding").collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).toSeq
        .sortBy(_._1)
      Similarity.ivfTopKMultiBatch(idx, centroids, qs, "vec_id",
          "embedding", nprobe = ivfNprobe(nlist, 16), k = 20, nassign = 3)
        .orderBy("query_id", "rnk")
    },
    // BATCH serving from the IVF-PQ composite — the third serving tier's
    // batch row (round 12): 16 queries' shortlists from ONE ADC pass over
    // the union of their probed cells (all per-query lookup tables ride
    // as one plan-constant PqAdcBatchF reference object, pre-cut per
    // (query, cell) — the group-limit lesson in RECALL.md), then one
    // rerank job of unioned per-query IN-filtered legs. Rows-only;
    // per-query outputs spec-pinned bit-identical to sim_search_pq's
    // single probe; twin recomputes cosines exactly + rank density +
    // self-retrieval.
    "sim_search_batch_pq" -> { (s, d) =>
      val e = Tables.embeddings(s, d)
      val (idx, centroids, books, nlist) = ivfPqIndexOf(e,
        nassign = 2, m = 16, codes = 256, samplePerCode = 16)
      val qs = e.where(col("vec_id") < 16L)
        .select("vec_id", "embedding").collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).toSeq
        .sortBy(_._1)
      Similarity.ivfPqTopKIndexedBatch(idx, centroids, books, qs,
          "vec_id", "embedding", nprobe = pqNprobe(nlist), k = 20,
          rerank = 800, nassign = 2)
        .orderBy("query_id", "rnk")
    },
    // ANN: MULTI-ASSIGNMENT IVF served from the persisted
    // cell-partitioned index (round 11 — retires the round-10 weak: the
    // declared nprobe=8/nlist=16 probe read 50% of the corpus; the
    // scaled single-assignment nlist=256 collapsed recall to 0.687).
    // Every vector joins its 3 nearest cells at build, so probing
    // nprobe = nlist/16 cells reads 3·nprobe/nlist ≈ 19% of corpus
    // bytes at recall ≥ 0.8 (AnnCrossover/RECALL.md); nlist scales √N
    // (ivfNlist). Rows-only; twin asserts self-retrieval + exactness.
    "sim_search_ivf" -> { (s, d) =>
      val e = Tables.embeddings(s, d)
      val (idx, centroids, nlist) = ivfMaIndexOf(e, nassign = 3)
      val qv = e.where(col("vec_id") === 0L).select("embedding")
        .head().getSeq[Float](0).toArray
      Similarity.ivfTopKMulti(idx, centroids, qv,
        "vec_id", "embedding", nprobe = ivfNprobe(nlist, 16), k = 20,
        nassign = 3)
    },
    // corpus-level n-gram frequency (top-50 bigrams): the vocabulary/phrase
    // statistics pass of a training-data pipeline
    "ngram_freq" -> { (s, d) =>
      Dedup.shingleRows(Tables.documents(s, d), "doc_id", "text",
          n = 2, distinct = false)
        .groupBy("s")
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("s"))
        .limit(50)
    },
    // fuzzy-match verification tier: exact edit distance over the near-dup
    // candidate pairs (cheap because it runs on candidates, not the corpus)
    "edit_distance" -> { (s, d) =>
      val docs = Tables.documents(s, d).select("doc_id", "text")
      // the candidate list is verify-tier-bounded (near-dup pairs, not
      // the corpus); the checkpoint truncates the pair pipeline's
      // lineage so the two text-fetch joins see a small stats-known
      // input (AQE broadcasts it) instead of re-planning the whole
      // union-shaped pair subtree under each join
      val pairs = Dedup.ngramJaccard(docs, "doc_id", "text",
          shingleN = 3, minJaccard = 0.3, maxDf = 1000L)
        .select("id_a", "id_b").localCheckpoint(false)
      pairs
        .join(docs.withColumnRenamed("doc_id", "id_a")
          .withColumnRenamed("text", "text_a"), "id_a")
        .join(docs.withColumnRenamed("doc_id", "id_b")
          .withColumnRenamed("text", "text_b"), "id_b")
        .select(col("id_a"), col("id_b"),
          levenshtein(col("text_a"), col("text_b")).cast("long").as("edit_dist"))
        .orderBy("id_a", "id_b")
    },
    // TF-IDF-style term relevance: top-3 terms per doc. Weighting uses the
    // exact df-ratio (N/df) instead of ln(N/df) — ln is not guaranteed
    // bit-identical across math libraries, the ratio is (both engines do
    // one IEEE division on identical operands)
    "tfidf" -> { (s, d) =>
      val docs = Tables.documents(s, d)
      // N folded into the dataflow as a broadcast 1-row frame — no extra
      // driver-side count() job before the query runs
      val nd = docs.agg(count(lit(1)).cast("double").as("__n"))
      val words = docs.select(col("doc_id"),
        explode(split(col("text"), " ")).as("w"))
      val tf = words.groupBy("doc_id", "w").agg(count(lit(1)).as("tf"))
      val df = words.select("doc_id", "w").distinct()
        .groupBy("w").agg(count(lit(1)).as("df"))
      val w3 = Window.partitionBy("doc_id")
        .orderBy(col("score").desc, col("w"))
      tf.join(df, "w")
        .crossJoin(broadcast(nd))
        .withColumn("score",
          col("tf").cast("double") * (col("__n") / col("df").cast("double")))
        .withColumn("rnk", row_number().over(w3).cast("long"))
        .where(col("rnk") <= 3)
        .select("doc_id", "rnk", "w", "score")
        .orderBy("doc_id", "rnk")
    },
    // per-doc token/stopword stats, counted against each document's OWN
    // language profile (fallback: generic list for unprofiled langs)
    "text_stats" -> { (s, d) =>
      TextOps.stats(Tables.documents(s, d), "doc_id", "text",
          langCol = Some("lang"))
        .orderBy("doc_id")
    },
    // per-language stopword-profile language ID (argmax over profile
    // evidence, CJK charset branch) vs the labeled lang
    "lang_id" -> { (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"), col("lang"),
          TextOps.langGuess(col("text")).as("guess"))
        .withColumn("agree", col("guess") === col("lang"))
        .orderBy("doc_id")
    },
    // token counting three ways (whitespace, BPE-ish regex, chars/4)
    "token_count" -> { (s, d) =>
      TextOps.tokenCounts(Tables.documents(s, d), "doc_id", "text")
        .orderBy("doc_id")
    },
    // rolling polynomial document fingerprint
    "text_fingerprint" -> { (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"), TextOps.fingerprint(col("text")).as("fp"))
        .orderBy("doc_id")
    },
    // Gopher-style intra-doc repetition signals (dup-word / top-word /
    // dup-bigram fractions) — the templated-spam screen of corpus cleaning
    "text_repetition" -> { (s, d) =>
      TextOps.repetitionStats(Tables.documents(s, d), "doc_id", "text")
        .orderBy("doc_id")
    },
    // pattern-occurrence counts (emails/URLs/digit runs) over the JSON
    // props payload — the PII/extraction screen; props carries digit runs
    // so the values vary (documents text is digit-free)
    "pattern_stats" -> { (s, d) =>
      TextOps.patternStats(Tables.events(s, d), "event_id", "props")
        .orderBy("event_id")
    },
    // train/eval contamination: every 10th doc plays the eval set, the
    // rest the training corpus — the decontamination screen
    "contamination" -> { (s, d) =>
      val docs = Tables.documents(s, d)
      Dedup.contamination(
          docs.where(pmod(col("doc_id"), lit(10)) =!= 0),
          docs.where(pmod(col("doc_id"), lit(10)) === 0),
          "doc_id", "text", shingleN = 3)
        .orderBy("doc_id")
    },
    // Bloom-filter decontamination — the map-only scale tier of
    // `contamination`, flagging TRAIN docs against a broadcast fixed-size
    // bitmap of the eval set's shingles (k codegen'd xxhash64 probes per
    // shingle; no join, no train-side shuffle before the per-doc agg).
    // xxhash64-based → no SQL oracle; DedupSpec gates the one-sided-error
    // contract (exact-contaminated ⊆ bloom-flagged) and the FP rate
    "contamination_bloom" -> { (s, d) =>
      val docs = Tables.documents(s, d)
      Dedup.contaminationBloom(
          docs.where(pmod(col("doc_id"), lit(10)) =!= 0),
          docs.where(pmod(col("doc_id"), lit(10)) === 0),
          "doc_id", "text", shingleN = 3)
        .orderBy("doc_id")
    },
    // SOURCE-FORMAT surface: the corpus round-trips through JSONL — the
    // interchange format real text pipelines ingest — and the re-read
    // rows must aggregate identically to the parquet originals. The
    // JSONL is written once per (session, sf) with an EXPLICIT schema on
    // re-read (schema inference is a full extra pass at 100 TB; never
    // infer at scale), text goes through hex armoring (Spark's base64 is
    // MIME-chunked — embedded newlines would break line-oriented
    // formats; hex is continuous, so files stay SPLITTABLE), and the
    // oracle aggregates the parquet table directly — so a codec bug
    // anywhere in the round-trip flips the hash
    "ingest_jsonl" -> { (s, d) =>
      val path = ingestDir(s, d, "jsonl", { docs =>
        docs.select(col("doc_id"), col("lang"),
            hex(col("text").cast("binary")).as("text_hex"),
            col("n_chars"))
          .write.mode("overwrite").json(_: String)
      })
      val schema = "doc_id LONG, lang STRING, text_hex STRING, n_chars LONG"
      s.read.schema(schema).json(path)
        .select(col("doc_id"), col("lang"),
          decode(unhex(col("text_hex")), "UTF-8").as("text"), col("n_chars"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(length(col("text"))).cast("long").as("total_chars"),
          sum(col("n_chars")).cast("long").as("sum_n_chars"),
          max(sha2(concat(col("doc_id").cast("string"), col("text")), 256))
            .as("max_row_sha"))
        .orderBy("lang")
    },
    // CSV twin of ingest_jsonl (same once-per-session write, explicit
    // schema, hex-armored text, oracle on the parquet originals)
    "ingest_csv" -> { (s, d) =>
      val path = ingestDir(s, d, "csv", { docs =>
        docs.select(col("doc_id"), col("lang"),
            hex(col("text").cast("binary")).as("text_hex"),
            col("n_chars"))
          .write.mode("overwrite").option("header", "true").csv(_: String)
      })
      val schema = "doc_id LONG, lang STRING, text_hex STRING, n_chars LONG"
      s.read.schema(schema).option("header", "true").csv(path)
        .select(col("doc_id"), col("lang"),
          decode(unhex(col("text_hex")), "UTF-8").as("text"), col("n_chars"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(length(col("text"))).cast("long").as("total_chars"),
          sum(col("n_chars")).cast("long").as("sum_n_chars"),
          max(sha2(concat(col("doc_id").cast("string"), col("text")), 256))
            .as("max_row_sha"))
        .orderBy("lang")
    },
    // contamination_bloom's DRIVER-VISIBLE partial oracle: the filter's
    // defining guarantee is NO FALSE NEGATIVES — every train doc that
    // exactly shares a 3-gram with the eval set must be flagged by the
    // Bloom tier (false positives are allowed and expected). The oracle
    // recomputes the exact side in SQL
    "contamination_bloom_check" -> { (s, d) =>
      val docs = Tables.documents(s, d)
      val train = docs.where(pmod(col("doc_id"), lit(10)) =!= 0)
      val evalD = docs.where(pmod(col("doc_id"), lit(10)) === 0)
      val bloom = Dedup.contaminationBloom(train, evalD, "doc_id", "text",
        shingleN = 3)
      val evGrams = Dedup.shingleRows(evalD, "doc_id", "text", 3)
        .select("s").distinct()
      val exactHit = Dedup.shingleRows(train, "doc_id", "text", 3)
        .join(evGrams, Seq("s"), "left_semi")
        .select(col("doc").as("doc_id")).distinct()
        .withColumn("exact_hit", lit(true))
      bloom.select(col("doc_id"), col("contaminated"))
        .join(exactHit, Seq("doc_id"), "left")
        .na.fill(false, Seq("exact_hit"))
        .agg(
          count(lit(1)).cast("long").as("n_train_docs"),
          sum(when(col("exact_hit"), 1L).otherwise(0L)).cast("long")
            .as("n_exact_contaminated"),
          (max(when(col("exact_hit") && !col("contaminated"), 1)
            .otherwise(0)) === 0).as("ok_no_false_negatives"))
    },
    // composite quality score
    "quality_score" -> { (s, d) =>
      TextOps.qualityScore(Tables.documents(s, d), "doc_id", "text")
        .orderBy("doc_id")
    },
    // multimodal plumbing: blobs → batched feature extraction (decode is a
    // deterministic stub — see graft.ext.Multimodal.Codecs); the sha/bytes
    // columns are oracle-checkable, the stub feature vector is projected out
    "media_features" -> { (s, d) =>
      Multimodal.featureTable(
        Multimodal.fromText(Tables.documents(s, d), "doc_id", "text"))
        .select("media_id", "kind", "n_bytes", "sha")
        .orderBy("media_id")
    },
    // ANN: the IVF-PQ COMPOSITE served from the persisted composite
    // index (round 11 — the FAISS billion-scale shape, re-pointed from
    // flat PQ whose ADC pass still scanned every code row and whose
    // rerank semi-join scanned every vector): the probe partition-prunes
    // to nprobe of nlist multi-assigned cells, ADC-ranks READING THE m
    // CODE COLUMNS ONLY (the 32×-compressed slice), and re-ranks the
    // driver-collected shortlist exactly via an id IN-filter on the same
    // pruned cells. m=16 four-dim subspaces × 256-code books (PQ16x8 —
    // smaller books measured collapsing at ≥1M, RECALL.md). Rows-only;
    // twin asserts self-retrieval + bit-exact cosines.
    "sim_search_pq" -> { (s, d) =>
      val e = Tables.embeddings(s, d)
      val (idx, centroids, books, nlist) = ivfPqIndexOf(e,
        nassign = 2, m = 16, codes = 256, samplePerCode = 16)
      val qv = e.where(col("vec_id") === 0L).select("embedding")
        .head().getSeq[Float](0).toArray
      Similarity.ivfPqTopKIndexed(idx, centroids,
        books, qv, "vec_id", "embedding",
        nprobe = pqNprobe(nlist), k = 20, rerank = 800, nassign = 2)
    },
    // per-class embedding centroids: bit-deterministic means via an
    // id-ordered fold (matches DuckDB's list(x ORDER BY vec_id) +
    // list_reduce exactly). At scale the decimal-sum form is the cheap
    // alternative; the fold keeps the oracle exact on IEEE doubles.
    "embed_centroid" -> { (s, d) =>
      Tables.embeddings(s, d)
        .select(col("label"), col("vec_id"),
          posexplode(col("embedding")).as(Seq("pos", "x0")))
        .select(col("label"), col("vec_id"), col("pos").cast("long").as("pos"),
          col("x0").cast("double").as("x"))
        .groupBy("label", "pos")
        .agg(sort_array(collect_list(struct(col("vec_id"), col("x")))).as("xs"),
          count(lit(1)).as("n"))
        .select(col("label"), col("pos"),
          (aggregate(transform(col("xs"), r => r.getField("x")),
            lit(0.0), (a, b) => a + b) / col("n")).as("mean"))
        .orderBy("label", "pos")
    },
    // near-dup pairs → dedup GROUPS: connected components by min-label
    // propagation (the "keep one per cluster" step of corpus dedup).
    // Pairs come from the TIERED pipeline — MinHash-LSH candidates, exact
    // Jaccard verify on survivors — so no corpus-wide shingle self-join
    // runs anywhere in this plan (the documented 100 TB composition).
    // The declared threshold 0.5 sits in the LSH recall-~1 band: at 32
    // hashes / 16 bands, P(collision) at J exactly 0.5 is 1−(1−0.25)¹⁶ =
    // 0.99, and every qualifying pair in the test corpora has J ≥ 0.888
    // where P(miss) = (1−J²)¹⁶ < 1e-10 — so the banded tier is
    // borderline-safe even if testdata is regenerated with near-threshold
    // pairs. DedupSpec asserts pair-set equality, the DuckDB oracle stays
    // the exact recursive-CTE form.
    "dedup_cluster" -> { (s, d) =>
      val docs = Tables.documents(s, d)
      val pairs = Dedup.nearDupPairs(docs, "doc_id", "text",
        shingleN = 3, minJaccard = 0.5, numHashes = 32, bands = 16,
        maxBucket = 1000, maxDf = 1000L)
      val cc = Dedup.connectedComponents(pairs, docs.select("doc_id"), "doc_id")
      val sizes = cc.groupBy("label").agg(count(lit(1)).as("n_members"))
      cc.join(sizes, "label")
        .select(col("node").as("doc_id"), col("label").as("cluster_id"),
          col("n_members"))
        .orderBy("doc_id")
    },
    // C4-style boilerplate detection over shingles (df >= 5 docs)
    "doc_boilerplate" -> { (s, d) =>
      TextOps.boilerplateStats(Tables.documents(s, d), "doc_id", "text",
          shingleN = 3, minDf = 5L)
        .orderBy("doc_id")
    },
    // deterministic stratified sampling: first 20 docs per language —
    // the per-group quota downsampling step of corpus curation
    "sample_stratified" -> { (s, d) =>
      val w = Window.partitionBy("lang").orderBy("doc_id")
      Tables.documents(s, d)
        .select(col("doc_id"), col("lang"))
        .withColumn("rk", row_number().over(w).cast("long"))
        .where(col("rk") <= 20)
        .orderBy("lang", "rk")
    },
    // deterministic language-rebalanced sampling — the data-mixing step of
    // a training pipeline (keep en, halve de/fr, quarter es/zh). Keep
    // decision = salted content-stable hash vs an INTEGER threshold
    // (rate·2⁶⁰), so it reproduces bit-exactly across engines, runs and
    // cluster sizes — no RNG, no per-partition state; pure scan-speed
    // filter
    // temperature-based source mixing (multilingual-training rebalance):
    // per-language keep rate (c_min/c_lang)^(1-α) — at α=0.5 the smallest
    // language keeps everything and large ones are downsampled toward
    // equal share. α=0.5 deliberately: the rate is then sqrt(c_min/c),
    // and IEEE sqrt/divide are correctly rounded, so the per-language
    // threshold is bit-identical on any engine (pow is not). Counts come
    // from one map-side-combined aggregate, broadcast back; membership is
    // the same salted-hash draw as sample_weighted — deterministic, no RNG
    "sample_temperature" -> { (s, d) =>
      val docs = Tables.documents(s, d)
      val u = conv(substring(md5(concat(col("doc_id").cast("string"),
        lit("temp1"))), 1, 15), 16, 10).cast("long")
      val counts = docs.groupBy(col("lang")).agg(count(lit(1)).as("__c"))
      val thr = counts
        .crossJoin(broadcast(counts.agg(min(col("__c")).as("__cmin"))))
        .select(col("lang"),
          floor(sqrt(col("__cmin").cast("double") / col("__c")) *
            lit(1152921504606846976.0)).as("__thr")) // 2^60, exact double
      docs.join(broadcast(thr), Seq("lang"))
        .where(u < col("__thr"))
        .select("doc_id", "lang", "source")
        .orderBy("doc_id")
    },
    // top-10 tokens per language — the vocabulary/stopword-list
    // construction pass of a corpus pipeline. Two shuffles, both benign at
    // any scale: the (lang, token) count is map-side combinable (the
    // shuffle moves one row per distinct token per map task, not per
    // occurrence), and the per-language top-k gets WindowGroupLimit
    // Partial ahead of its exchange — each task forwards ≤ k rows per
    // language, so token-frequency skew (Zipf) never concentrates
    "vocab_topk" -> { (s, d) =>
      val toks = Tables.documents(s, d)
        .select(col("lang"), explode(split(col("text"), " ")).as("tok"))
      val w = Window.partitionBy("lang").orderBy(col("n").desc, col("tok"))
      toks.groupBy("lang", "tok").agg(count(lit(1)).as("n"))
        .withColumn("rk", row_number().over(w).cast("long"))
        .where(col("rk") <= 10)
        .select("lang", "tok", "n", "rk")
        .orderBy("lang", "rk")
    },
    // deterministic global corpus shuffle — the delivery step before
    // packing (doc_pack): shard = salted-hash mod 8, order within shard by
    // the hash. NOT a global orderBy: at 100 TB a total sort is one
    // range-partitioned stage with a sampling pass; hash-shard + in-shard
    // sort is one shuffle keyed on the shard and each shard sorts
    // independently — shard count = output file count, readers stream
    // shards in parallel, and the permutation is reproducible bit-for-bit
    // from (doc_id, salt) alone on any engine or cluster size
    "shuffle_global" -> { (s, d) =>
      val u = conv(substring(md5(concat(col("doc_id").cast("string"),
        lit("shuf1"))), 1, 15), 16, 10).cast("long")
      val w = Window.partitionBy("shard").orderBy("u", "doc_id")
      Tables.documents(s, d)
        .select(col("doc_id"), col("lang"), u.as("u"))
        .withColumn("shard", pmod(col("u"), lit(8L)))
        .withColumn("ord", row_number().over(w).cast("long"))
        .select("doc_id", "lang", "shard", "ord")
        .orderBy("doc_id")
    },
    // per-source quota (RefinedWeb-style host-level cap): keep at most 15
    // docs per source, chosen by the stable salted-hash order rather than
    // doc_id order — an id-ordered cap would keep whatever was crawled
    // first; the hash makes it an unbiased fixed-size sample per source.
    // row_number is per-source — the window shuffles on the capped key,
    // never globally; and because the predicate is rank ≤ cap, Spark
    // plants WindowGroupLimit Partial BEFORE the exchange (see PLANS.md),
    // so each map task forwards at most cap rows per source — a hot
    // source costs its cap, not its size
    "source_cap" -> { (s, d) =>
      val u = conv(substring(md5(concat(col("doc_id").cast("string"),
        lit("cap1"))), 1, 15), 16, 10).cast("long")
      val w = Window.partitionBy("source").orderBy("u", "doc_id")
      Tables.documents(s, d)
        .select(col("doc_id"), col("source"), u.as("u"))
        .withColumn("rk", row_number().over(w).cast("long"))
        .where(col("rk") <= 15)
        .select("doc_id", "source", "rk")
        .orderBy("doc_id")
    },
    "sample_weighted" -> { (s, d) =>
      val u = conv(substring(md5(concat(col("doc_id").cast("string"),
        lit("mix1"))), 1, 15), 16, 10).cast("long")
      val rates = Seq("en" -> 1.0, "de" -> 0.5, "fr" -> 0.5,
        "es" -> 0.25, "zh" -> 0.25)
      val thr = rates.foldLeft(lit(0L)) { case (e, (k, v)) =>
        when(col("lang") === k,
          lit((v * math.pow(2, 60)).toLong)).otherwise(e)
      }
      Tables.documents(s, d)
        .where(u < thr)
        .select("doc_id", "lang", "source")
        .orderBy("doc_id")
    },
    // PCA projection (top-4 axes): the dimensionality-reduction /
    // whitening pass before ANN indexing. One treeAggregate covariance
    // pass + driver-local Jacobi eigensolve + codegen'd literal-axis dots
    // (no SQL oracle: eigenvector sign/rotation is solver-dependent;
    // orthonormality, variance ordering and reconstruction are verified
    // in SimilaritySpec)
    "embed_pca" -> { (s, d) =>
      val e = Tables.embeddings(s, d)
      val (mean, comps, _) = Similarity.pcaFit(e, "embedding", dim = 64, k = 4)
      Similarity.pcaProject(e, "vec_id", "embedding", mean, comps)
        .orderBy("vec_id")
    },
    // embed_pca's DRIVER-VISIBLE partial oracle (embed_whiten_check's
    // sibling): the fitted basis is solver-dependent but its defining
    // properties are not — components orthonormal (checked exactly on the
    // driver arrays), projected coordinates uncorrelated (correlation
    // rounded to 4 decimals ≡ 0), per-axis variances in decreasing order
    "embed_pca_check" -> { (s, d) =>
      val e = Tables.embeddings(s, d)
      val (mean, comps, _) = Similarity.pcaFit(e, "embedding", dim = 64, k = 4)
      def dotA(a: Array[Double], b: Array[Double]): Double =
        a.zip(b).map { case (x, y) => x * y }.sum
      val okOrtho = (for { i <- comps.indices; j <- i to (comps.length - 1) }
        yield {
          val dp = dotA(comps(i), comps(j))
          if (i == j) math.abs(dp - 1.0) < 1e-9 else math.abs(dp) < 1e-9
        }).forall(identity)
      val proj = Similarity.pcaProject(e, "vec_id", "embedding", mean, comps)
      val pairs = for { i <- 1 to 4; j <- i to 4 } yield (i, j)
      val aggs = pairs.map { case (i, j) =>
        avg(col(s"pc$i") * col(s"pc$j")).as(s"m_${i}_$j")
      } ++ (1 to 4).map(i => avg(col(s"pc$i")).as(s"mu_$i"))
      val r = proj.agg(aggs.head, aggs.tail: _*).head() // 14 doubles, bounded
      def cov(i: Int, j: Int): Double = r.getAs[Double](s"m_${i}_$j") -
        r.getAs[Double](s"mu_$i") * r.getAs[Double](s"mu_$j")
      val vars = (1 to 4).map(i => cov(i, i))
      val okDiag = pairs.filter(p => p._1 != p._2).forall { case (i, j) =>
        math.rint(math.abs(cov(i, j)) /
          math.sqrt(vars(i - 1) * vars(j - 1)) * 10000.0) == 0.0
      }
      val okOrdered = vars.zip(vars.tail).forall { case (a, b) => a >= b } &&
        vars.forall(_ > 0.0)
      val spark2 = e.sparkSession
      import spark2.implicits._
      Seq((comps.length, okOrtho, okDiag, okOrdered))
        .toDF("n_components", "ok_orthonormal", "ok_uncorrelated", "ok_ordered")
    },
    // PCA whitening of the embedding corpus (embed_pca's hygiene twin):
    // per-axis 1/√λ rescale makes the projected space isotropic before
    // cosine/KMeans consumers. Same no-oracle rationale as embed_pca
    // (solver-dependent sign/rotation); SimilaritySpec asserts the
    // whitened covariance is ~identity on an anisotropic corpus
    "embed_whiten" -> { (s, d) =>
      val e = Tables.embeddings(s, d)
      val (mean, comps, eigs) =
        Similarity.pcaFit(e, "embedding", dim = 64, k = 4)
      Similarity.pcaWhiten(e, "vec_id", "embedding", mean, comps, eigs)
        .orderBy("vec_id")
    },
    // embed_whiten's DRIVER-VISIBLE partial oracle: whitening's defining
    // property is an identity covariance, and THAT is basis-independent —
    // solver-dependent sign/rotation (the no-oracle rationale above)
    // cancels out of it. One aggregate computes the 4×4 whitened
    // covariance (population form, matching pcaFit); rounded to 4
    // decimals it must be exactly I, which the oracle emits as literals
    "embed_whiten_check" -> { (s, d) =>
      val e = Tables.embeddings(s, d)
      val (mean, comps, eigs) =
        Similarity.pcaFit(e, "embedding", dim = 64, k = 4)
      val wtd = Similarity.pcaWhiten(e, "vec_id", "embedding", mean, comps, eigs)
      val pairs = for { i <- 1 to 4; j <- i to 4 } yield (i, j)
      val aggs = pairs.map { case (i, j) =>
        avg(col(s"wc$i") * col(s"wc$j")).as(s"m_${i}_$j")
      } ++ (1 to 4).map(i => avg(col(s"wc$i")).as(s"mu_$i"))
      val r = wtd.agg(aggs.head, aggs.tail: _*).head() // 14 doubles, bounded
      val rows = pairs.map { case (i, j) =>
        val cov = r.getAs[Double](s"m_${i}_$j") -
          r.getAs[Double](s"mu_$i") * r.getAs[Double](s"mu_$j")
        (i, j, math.rint(math.abs(cov) * 10000.0) / 10000.0)
      }
      val spark2 = e.sparkSession
      import spark2.implicits._
      rows.toDF("i", "j", "cov").orderBy("i", "j")
    },
    // per-vector L2 norm — the normalization pass before cosine ops
    "embed_norm" -> { (s, d) =>
      Tables.embeddings(s, d)
        .select(col("vec_id"),
          size(col("embedding")).cast("long").as("dim"),
          sqrt(Similarity.norm2(col("embedding"))).as("l2"))
        .orderBy("vec_id")
    },
    // Morton (Z-order) clustering key over (block, user): the data-layout
    // primitive behind multi-dimensional file pruning (graft.ops.Layout)
    "zorder_key" -> { (s, d) =>
      import graft.ops.Layout
      Tables.events(s, d)
        .select(col("event_id"),
          Layout.zorderKey(expr("event_id div 10"), // exact integer div —
            col("user_id"), bits = 16).as("zkey"))   // matches DuckDB //
        .orderBy("event_id")
    },
    // schema-driven ABI decode (§2.9, ref README.md:95-104): build a
    // standard ABI blob from event columns (static address/uint64/bool
    // head slots + a dynamic string tail with offset pointer), then decode
    // it back through Abi.decode — the full head/tail walk, compiled to
    // codegen'd slice expressions. The DuckDB oracle constructs the SAME
    // hex blob and decodes it by independent hex-slice arithmetic, so the
    // decoded VALUES are verified, not just row counts.
    "decode_abi" -> { (s, d) =>
      import graft.functions.Abi
      val memo = encode(col("event_type"), "UTF-8")
      val h = concat(
        lpad(lower(hex(col("user_id"))), 64, "0"),          // address slot
        lpad(lower(hex(expr("event_id div 7"))), 64, "0"),  // uint64 slot
        lpad(lower(hex(pmod(col("event_id"), lit(2)))), 64, "0"), // bool
        lpad(lit("80"), 64, "0"),                           // tail ptr: 128
        lpad(lower(hex(length(memo))), 64, "0"),            // tail: length
        rpad(lower(hex(memo)), 64, "0"))                    // tail: payload
      val dec = Abi.decode(unhex(h),
        "Transfer(address from_addr, uint64 amount, bool flag, string memo)")
      // NOT fanned out (round-12 A/B): the decode expression tree is
      // large, so shipping it to 32+ tasks costs more in task-binary
      // serialization than the ~1.2 s serial decode saves (1.50 s
      // fanned vs 1.62 s serial — within noise, with 7.8 s of task
      // deserialize time added)
      Tables.events(s, d)
        .select(col("event_id"),
          dec.getField("from_addr").as("from_addr"),
          dec.getField("amount").as("amount"),
          dec.getField("flag").as("flag"),
          dec.getField("memo").as("memo"))
        .orderBy("event_id")
    },
    // approximate knn SELF-join: per-vector cosine top-k within LSH
    // buckets — the all-pairs corpus op behind diversity sampling /
    // cluster seeding. No SQL oracle (the plane-hash bucketing has no
    // DuckDB twin); recall vs the exact tier is measured in SimilaritySpec.
    "knn_join" -> { (s, d) =>
      Similarity.knnJoin(Tables.embeddings(s, d), "vec_id", "embedding",
          dim = 64, nbits = 4, k = 5, maxBucket = 1000, tables = 6,
          probes = 1)
        .orderBy("id", "rnk")
    },
    // EXACT knn self-join blocked by class label — quadratic per block,
    // never corpus-wide (the verification tier; knn_join is the scale path)
    "knn_exact" -> { (s, d) =>
      Similarity.knnJoinExact(Tables.embeddings(s, d), "vec_id", "embedding",
          blockCol = "label", k = 5)
        .orderBy("id", "rnk")
    },
    // contiguous sequence packing: concatenate each language shard in
    // doc order, cut every 512 tokens — the doc→training-context
    // assignment. Shard-partitioned window (no global sort); integral
    // arithmetic end-to-end so the oracle is exact
    "doc_pack" -> { (s, d) =>
      TextOps.packContiguous(
          Tables.documents(s, d)
            .withColumn("n_tokens",
              size(split(col("text"), "\\s+")).cast("long"))
            .select("doc_id", "lang", "n_tokens"),
          "doc_id", "n_tokens", "lang", budget = 512L)
        .orderBy("doc_id")
    },
    // best-fit-decreasing packing — doc_pack's no-contamination twin
    // (Krell et al. 2021): whole docs only, longest-first best-fit per
    // language shard, near-optimal pad waste (≤ 11/9·OPT+1 bins). The
    // data-dependent sequential heuristic has no SQL twin → rows-only
    // check; PackSpec verifies capacity/offset invariants, partitioning
    // invariance, a golden BFD trace, and that it beats contiguous
    // packing's cross-doc cuts with comparable pack counts
    "doc_pack_bfd" -> { (s, d) =>
      TextOps.packBestFit(
          Tables.documents(s, d)
            .withColumn("n_tokens",
              size(split(col("text"), "\\s+")).cast("long"))
            .select("doc_id", "lang", "n_tokens"),
          "doc_id", "n_tokens", "lang", budget = 512L)
        .orderBy("doc_id")
    },
    // doc_pack_bfd's DRIVER-VISIBLE partial oracle: the assignment itself
    // has no SQL twin, but its invariants do — per shard, every doc packed
    // exactly once (n_docs/total_tokens match the raw corpus), no
    // non-oversize pack over budget, oversize = singleton over-budget
    // docs, and offsets/positions are dense prefix sums in pack order.
    // The booleans fold the BFD-dependent structure into oracle-checkable
    // constants; a violated invariant flips a column and the hash goes red
    "doc_pack_bfd_check" -> { (s, d) =>
      val budget = 512L
      val docs = Tables.documents(s, d)
        .withColumn("n_tokens",
          size(split(col("text"), "\\s+")).cast("long"))
        .select("doc_id", "lang", "n_tokens")
      val packed = TextOps.packBestFit(docs, "doc_id", "n_tokens", "lang",
        budget = budget)
      val joined = packed.join(
        docs.select(col("doc_id"), col("n_tokens")), "doc_id")
      val w = Window.partitionBy("lang", "pack_id").orderBy("pack_pos")
      val perDoc = joined
        .withColumn("exp_offset", coalesce(sum(col("n_tokens")).over(
          w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .withColumn("exp_pos", row_number().over(w) - 1)
      val perPack = perDoc.groupBy("lang", "pack_id").agg(
        sum("n_tokens").as("load"),
        count(lit(1)).as("n_in_pack"),
        max(when(col("pack_offset") =!= col("exp_offset") ||
          col("pack_pos") =!= col("exp_pos"), 1).otherwise(0)).as("bad_layout"),
        max(when(col("oversize") =!= 0L, 1).otherwise(0)).as("oversize_pack"))
      val perShard = perDoc.groupBy(col("lang")).agg(
        count(lit(1)).as("n_docs"), sum("n_tokens").as("total_tokens"))
      val checks = perPack.groupBy(col("lang")).agg(
        (max(when(col("oversize_pack") === 0 && col("load") > budget, 1)
          .otherwise(0)) === 0).as("ok_capacity"),
        (max(col("bad_layout")) === 0).as("ok_layout"),
        (max(when(col("oversize_pack") === 1 &&
          (col("n_in_pack") =!= 1 || col("load") <= budget), 1)
          .otherwise(0)) === 0).as("ok_oversize"))
      perShard.join(checks, "lang")
        .select(col("lang").as("shard"), col("n_docs"), col("total_tokens"),
          col("ok_capacity"), col("ok_layout"), col("ok_oversize"))
        .orderBy("shard")
    },
    // fixed-size sliding-window chunking (200-char windows every 150) —
    // the LLM context-window preparation step; narrow explode, no shuffle
    "doc_chunk" -> { (s, d) =>
      TextOps.chunkFixed(Tables.documents(s, d), "doc_id", "text",
          size = 200, stride = 150)
        .orderBy("doc_id", "chunk_idx")
    },
    // PII redaction (emails, digit runs) + audit count — the scrubbing
    // counterpart of pattern_stats. minDigitRun=1 so the op demonstrably
    // fires on this corpus (props carries only short numbers); the
    // PII-default threshold (6, ids/phones) is value-checked in TextOpsSpec
    "pii_scrub" -> { (s, d) =>
      TextOps.piiScrub(Tables.events(s, d), "event_id", "props",
          minDigitRun = 1)
        .orderBy("event_id")
    },
    // asymmetric n-gram containment — subset-duplication detection (a doc
    // embedded verbatim in a longer one scores ~1 here while its Jaccard
    // stays low); same maxDf hot-shingle guard as the Jaccard tier
    "dedup_containment" -> { (s, d) =>
      Dedup.containmentPairs(Tables.documents(s, d), "doc_id", "text",
          shingleN = 3, minContainment = 0.5, maxDf = 1000L)
        .orderBy("id_a", "id_b")
    },
    // C4/Gopher-style composite quality FILTER: each doc gets a keep/drop
    // verdict plus the first failing rule (the audit trail a curation run
    // ships with). All signals are single-pass narrow expressions; the
    // double comparisons are divisions of small exact integers vs literal
    // thresholds, so the verdict is bit-stable across engines
    "quality_filter" -> { (s, d) =>
      val ws = split(col("text"), " ")
      Tables.documents(s, d)
        .select(col("doc_id"),
          size(ws).cast("long").as("n_tokens"),
          (size(filter(ws, w => w.isin("the", "a", "of", "and", "in")))
            .cast("double") / size(ws).cast("double")).as("stop_ratio"),
          ((size(ws) - size(array_distinct(ws))).cast("double") /
            size(ws).cast("double")).as("dup_ratio"),
          // shared with the streaming curation ingest — same rule order,
          // same thresholds (CSE folds the repeated sub-signals)
          TextOps.qualityVerdict(col("text")).as("reason"))
        .withColumn("keep", col("reason") === "keep")
        .orderBy("doc_id")
    },
    // unigram-LM surprisal proxy (perplexity stand-in): mean inverse corpus
    // probability of the doc's tokens. Deliberately ln-free — ln is not
    // guaranteed bit-identical across math libraries, the N/c(w) ratio is
    // one correctly-rounded IEEE division; the per-doc sum runs as an
    // id-ordered fold (sort_array + aggregate ↔ DuckDB list(ORDER BY) +
    // list_reduce), the same oracle-exact device as embed_centroid
    "rarity_score" -> { (s, d) =>
      val docs = Tables.documents(s, d)
      val words = docs.select(col("doc_id"),
        explode(split(col("text"), " ")).as("w"))
      val tf = words.groupBy("doc_id", "w").agg(count(lit(1)).as("tf"))
      val cw = words.groupBy("w").agg(count(lit(1)).as("cw"))
      val tot = words.agg(count(lit(1)).cast("double").as("__n"))
      tf.join(cw, "w").crossJoin(broadcast(tot))
        .withColumn("val",
          col("tf").cast("double") * (col("__n") / col("cw").cast("double")))
        .groupBy("doc_id")
        .agg(sort_array(collect_list(struct(col("w"), col("val")))).as("xs"),
          sum(col("tf")).as("nt"))
        .select(col("doc_id"), col("nt").cast("long").as("n_tokens"),
          (aggregate(transform(col("xs"), r => r.getField("val")),
            lit(0.0), (a, b) => a + b) / col("nt").cast("double")).as("rarity"))
        .orderBy("doc_id")
    },
    // bigram LM model inspection: top bigrams of the model trained on the
    // 90% slice (doc_id % 10 != 0), with their MLE conditional probability
    // c2/c1 — one exact integer division, no transcendentals. The training
    // split is the point: lm_score's held-out 10% then has REAL unseen
    // bigrams, exercising the OOV path
    "lm_bigram" -> { (s, d) =>
      val m = Lm.train(
        Tables.documents(s, d).where(pmod(col("doc_id"), lit(10)) =!= 0),
        "doc_id", "text")
      m.bigrams.join(m.contexts, "w1")
        .select(col("w1"), col("w2"),
          col("c2").cast("long").as("c2"), col("c1").cast("long").as("c1"),
          (col("c2").cast("double") / col("c1").cast("double")).as("condp"))
        .orderBy(col("c2").desc, col("w1"), col("w2"))
        .limit(50)
    },
    // per-doc fluency under the add-1-smoothed bigram LM (KenLM/CCNet
    // quality-filter shape): every doc's bigram sites scored under the
    // 90%-slice model — held-out docs carry genuine OOV bigrams. The
    // oracle-compared aggregate is the position-ordered fold of the
    // smoothed conditional probabilities (one IEEE division per site,
    // integer operands); the ln-based perplexity twin is LmSpec-verified
    "lm_score" -> { (s, d) =>
      val docs = Tables.documents(s, d)
      val m = Lm.train(
        docs.where(pmod(col("doc_id"), lit(10)) =!= 0), "doc_id", "text")
      Lm.score(docs, "doc_id", "text", m)
        .select("doc_id", "n_bigrams", "n_oov", "sum_condp")
        .orderBy("doc_id")
    },
    // interpolated Kneser–Ney bigram scoring — the smoothing KenLM
    // actually ships (continuation counts, absolute discount d = 0.75),
    // over the same 90%-train / held-out-10% split as lm_score. Every
    // operand is an exact integer or the literal 0.75 (whose integer
    // multiples are exact doubles), the op sequence mirrors the oracle
    // SQL exactly, and the per-doc aggregate is the position-ordered
    // fold — oracle-exact like lm_score. n_backoff counts sites that
    // fell through to the pure continuation distribution (unseen w1)
    "lm_kn" -> { (s, d) =>
      val docs = Tables.documents(s, d)
      val m = Lm.trainKn(
        docs.where(pmod(col("doc_id"), lit(10)) =!= 0), "doc_id", "text")
      Lm.scoreKn(docs, "doc_id", "text", m)
        .orderBy("doc_id")
    },
    // winnowing fingerprint selection (MOSS): per doc, the distinct
    // sliding-window minima of the 3-gram rolling hashes — ~1/w of the
    // gram sites, the compressed content signature the pair tier joins
    // on. All integer math (the text_fingerprint fold + a window min), so
    // the oracle matches exactly; fp_sum is an order-free exact long sum
    "winnow_fp" -> { (s, d) =>
      // per-row codegen'd selection (WinnowFpF) — no site explode, no
      // doc-keyed window shuffle; bit-identical to the explode+window
      // form (DedupSpec parity case), so the oracle SQL is unchanged.
      // n_grams = W−k+1 (k=3) — exactly the site count the old
      // groupBy counted
      val words = split(col("text"), " ")
      Tables.documents(s, d)
        .select(col("doc_id"),
          (size(words) - lit(2)).cast("long").as("n_grams"),
          graft.functions.MinHash.winnowFingerprints(words, 3, 4).as("fps"))
        .where(col("fps").isNotNull)
        .select(col("doc_id"), col("n_grams"),
          size(col("fps")).cast("long").as("n_fp"),
          aggregate(col("fps"), lit(0L), (a, b) => a + b).as("fp_sum"))
        .orderBy("doc_id")
    },
    // shared-fingerprint candidate pairs — the MOSS near-dup/plagiarism
    // tier over the winnowed (w-fold smaller) signature table, hot
    // fingerprints capped by the same broadcast anti-join as the shingle
    // tiers
    "winnow_pairs" -> { (s, d) =>
      Dedup.winnowPairs(Tables.documents(s, d), "doc_id", "text")
        .orderBy("id_a", "id_b")
    },
    // CCNet-style per-LANGUAGE fluency tertiles (head/middle/tail): every
    // doc's mean smoothed bigram probability under the 90%-slice model,
    // rank-bucketed WITHIN its language — CCNet's perplexity buckets are
    // per-language, which is also what keeps the window partitioned (no
    // single-partition global sort; skew is bounded by the largest
    // language — at 100 TB CCNet shards per language anyway, and a
    // monolingual corpus would switch to approx-quantile thresholds).
    // bucket = ((rank-1)*3) div n + 1: pure integer arithmetic, no
    // engine-specific ntile remainder or double→int cast semantics
    "lm_buckets" -> { (s, d) =>
      val docs = Tables.documents(s, d)
      val m = Lm.train(
        docs.where(pmod(col("doc_id"), lit(10)) =!= 0), "doc_id", "text")
      val scored = Lm.score(docs, "doc_id", "text", m)
        .withColumn("avg_condp",
          col("sum_condp") / col("n_bigrams").cast("double"))
        .join(docs.select("doc_id", "lang"), "doc_id")
      val w = Window.partitionBy("lang")
        .orderBy(col("avg_condp").desc, col("doc_id"))
      val wn = Window.partitionBy("lang")
      scored
        .withColumn("rn", row_number().over(w).cast("long"))
        .withColumn("n", count(lit(1)).over(wn))
        .withColumn("bucket", expr("((rn - 1) * 3) div n") + lit(1L))
        .select("doc_id", "lang", "avg_condp", "bucket")
        .orderBy("doc_id")
    },
    // BPE trainer round 1: adjacent-symbol pair counts over the (word,
    // freq) vocabulary table — the quantity every merge iteration of
    // Bpe.train argmaxes. The corpus collapses to the Zipf-bounded vocab
    // in ONE pass; this (and every later round — BpeSpec covers the full
    // iterative trainer against a sequential reference) runs over the
    // vocab table, never the corpus again
    "bpe_pairs" -> { (s, d) =>
      val vocab = graft.ext.Bpe.wordFreqs(Tables.documents(s, d), "text")
        .withColumn("syms", graft.ext.Bpe.initSymbols(col("word")))
      graft.ext.Bpe.pairCounts(vocab)
        .select(col("p1"), col("p2"), col("cnt").cast("long").as("cnt"))
        .orderBy(col("cnt").desc, col("p1"), col("p2"))
        .limit(50)
    },
    // full unicode cleanup ahead of hash dedup/tokenization: NFC
    // composition (custom codegen Expression — Spark has no built-in),
    // control chars → spaces, whitespace collapsed, trimmed. The corpus
    // is ASCII, so the query appends a suffix exercising every dimension
    // for real: a DECOMPOSED e+U+0301 (composes to U+00E9 — one codepoint
    // shorter), a tab, doubled spaces, a trailing space. n_raw/n_norm
    // expose the composition; the hash proves byte-level agreement
    "text_normalize" -> { (s, d) =>
      val raw = concat(col("text"), lit("\tcafe\u0301  bar "))
      Tables.documents(s, d)
        .select(col("doc_id"), raw.as("raw"))
        .select(col("doc_id"),
          length(col("raw")).cast("long").as("n_raw"),
          TextOps.normalizeText(col("raw")).as("norm"))
        .select(col("doc_id"), col("n_raw"),
          length(col("norm")).cast("long").as("n_norm"),
          sha2(col("norm"), 256).as("norm_hash"))
        .orderBy("doc_id")
    },
    // normalized-text exact dedup (RefinedWeb-style): lowercase, strip
    // non-alphanumerics, collapse whitespace, THEN hash — catches the
    // formatting-only near-copies content-hash dedup misses, at the same
    // one-shuffle cost as dedup_exact
    "dedup_normalized" -> { (s, d) =>
      val norm = trim(regexp_replace(
        regexp_replace(lower(col("text")), "[^a-z0-9 ]", ""), "\\s+", " "))
      Tables.documents(s, d)
        .select(col("doc_id"), sha2(norm, 256).as("norm_hash"))
        .groupBy("norm_hash")
        .agg(count(lit(1)).as("n_dups"), min("doc_id").as("keeper"))
        .orderBy("norm_hash")
    },
    // URL-level dedup — tier 0 of the ladder, BEFORE any content hashing
    // (the RefinedWeb / CCNet "same page fetched under many URLs" pass).
    // The corpus has no URL column, so the query synthesizes a
    // deterministic one per doc carrying exactly the noise
    // canonicalization exists to remove — scheme + host case, www.,
    // query string + fragment, trailing slash — over a page identity of
    // doc_id mod 100 (≈5 fetch variants per page at sf0.01), PLUS the two
    // things canonicalization must NOT touch: a `/Page/` path-case variant
    // (paths are case-sensitive per RFC 3986, so it stays a distinct page)
    // and a null-URL slice (url-less docs are filtered, never grouped into
    // a false all-duplicates bucket). One groupBy on the canonical key: no
    // shingles, no signatures, no pairs
    "dedup_url" -> { (s, d) =>
      val url = when(pmod(col("doc_id"), lit(17)) === 0, lit(null))
        .otherwise(concat(
          when(pmod(col("doc_id"), lit(2)) === 0, lit("https://"))
            .otherwise(lit("HTTP://")),
          when(pmod(col("doc_id"), lit(3)) === 0, lit("www.")).otherwise(lit("")),
          when(pmod(col("doc_id"), lit(11)) === 0, lit("EXAMPLE.COM"))
            .otherwise(lit("example.com")),
          when(pmod(col("doc_id"), lit(13)) === 0, lit("/Page/"))
            .otherwise(lit("/page/")),
          pmod(col("doc_id"), lit(100)).cast("string"),
          when(pmod(col("doc_id"), lit(5)) === 0, lit("/")).otherwise(lit("")),
          when(pmod(col("doc_id"), lit(7)) === 0, lit("?utm_source=feed#r"))
            .otherwise(lit(""))))
      Dedup.urlDedup(
          Tables.documents(s, d).withColumn("url", url), "doc_id", "url")
        .orderBy("canonical_url")
    },
    // inverted index build: token → (doc, occurrence count, position list)
    // postings — the retrieval-index construction pass. One map-side-
    // combinable shuffle on (token, doc); positions serialize as a CSV
    // string so the oracle hash-compare stays engine-neutral
    "inverted_index" -> { (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"),
          posexplode(split(col("text"), " ")).as(Seq("pos", "w")))
        .groupBy("w", "doc_id")
        .agg(count(lit(1)).as("n_occ"),
          sort_array(collect_list(col("pos").cast("long"))).as("ps"))
        .select(col("w").as("token"), col("doc_id"), col("n_occ"),
          concat_ws(",", transform(col("ps"), _.cast("string")))
            .as("positions"))
        .orderBy("token", "doc_id")
    },
    // BM25 retrieval scoring (k1=1.2, b=0.75) for a fixed 3-term query —
    // the mining/retrieval counterpart of tfidf. idf uses the raw
    // (N-df+0.5)/(df+0.5) ratio (no ln — cross-engine bit-exactness); the
    // corpus stats (N, Σdl, df) are integral-valued doubles, so their sums
    // are exact in any order; per-term scores add in fixed textual order
    "bm25" -> { (s, d) =>
      TextOps.bm25(Tables.documents(s, d), "doc_id", "text",
          terms = Seq("join", "hash", "scan"))
        .orderBy(col("score").desc, col("doc_id"))
        .limit(20)
    },
    // int8 scalar quantization of the embedding corpus (per-dimension
    // min/max codebook, 4× compression): reports the per-vector max
    // reconstruction error + saturated-code count. min/max/count are
    // order-independent aggregates, so no fold gymnastics needed; the
    // dequantize arithmetic is the same IEEE op sequence on both engines
    "embed_quantize" -> { (s, d) =>
      val pe = Tables.embeddings(s, d)
        .select(col("vec_id"), posexplode(col("embedding")).as(Seq("pos", "x0")))
        .select(col("vec_id"), col("pos"), col("x0").cast("double").as("x"))
      val rng = pe.groupBy("pos").agg(min("x").as("lo"), max("x").as("hi"))
      pe.join(broadcast(rng), "pos")
        .withColumn("scale", (col("hi") - col("lo")) / lit(255.0))
        .withColumn("code", least(
          when(col("scale") > 0.0,
            floor((col("x") - col("lo")) / col("scale"))).otherwise(lit(0.0)),
          lit(255.0)))
        .withColumn("err",
          abs(col("x") - (col("lo") + col("code") * col("scale"))))
        .groupBy("vec_id")
        .agg(max("err").as("max_abs_err"),
          sum(when(col("code") === 255.0, 1L).otherwise(0L)).as("n_sat"))
        .orderBy("vec_id")
    },
    // end-to-end corpus dedup: tiered LSH→exact pairs → connected
    // components → keep min id per cluster; the SURVIVING corpus with the
    // size of the cluster each keeper represents.
    // Threshold 0.5 = the LSH recall-~1 band (see dedup_cluster note:
    // P(collision) ≥ 0.99 at J exactly 0.5, < 1e-10 miss at the corpus's
    // actual J ≥ 0.888 pairs) — the banded candidate tier cannot
    // realistically diverge from the oracle's exact all-pairs Jaccard
    // even under testdata regeneration.
    "dedup_purge" -> { (s, d) =>
      Dedup.dedupCorpus(Tables.documents(s, d), "doc_id", "text",
          shingleN = 3, minJaccard = 0.5, numHashes = 32, bands = 16,
          maxBucket = 1000, maxDf = 1000L)
        .select("doc_id", "lang", "source", "n_members")
        .orderBy("doc_id")
    },
    // domain mixture reweighting — the data-recipe table every multi-source
    // training run starts from (GPT-3/Pile/LLaMA style): per-source token
    // counts, natural share p, temperature-smoothed sampling weight
    // w ∝ p^α at α = 0.5 (one IEEE sqrt — bit-exact cross-engine, like
    // sample_temperature), and the epochs multiplier w/p (how often a
    // domain is revisited per global epoch; upsampled domains > 1).
    // The α-power normalizer Σ p_j^α crosses rows, so it runs as the
    // source-ordered fold (sort_array + aggregate ↔ DuckDB
    // list(ORDER BY) + list_reduce) — ~20 sources, a constant-size fold;
    // everything corpus-sized is the one token-count aggregate
    "mix_weights" -> { (s, d) =>
      val perSrc = Tables.documents(s, d)
        .select(col("source"),
          size(split(col("text"), " ")).cast("long").as("nt"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum("nt").as("n_tokens"))
      val tot = perSrc.agg(sum("n_tokens").as("__t"))
      val shares = perSrc.crossJoin(broadcast(tot))
        .withColumn("p",
          col("n_tokens").cast("double") / col("__t").cast("double"))
        .withColumn("sw", sqrt(col("p")))
      val norm = shares
        .agg(sort_array(collect_list(struct(col("source"), col("sw"))))
          .as("xs"))
        .select(aggregate(transform(col("xs"), r => r.getField("sw")),
          lit(0.0), (a, b) => a + b).as("__s"))
      shares.crossJoin(broadcast(norm))
        .withColumn("w", col("sw") / col("__s"))
        .withColumn("epochs", col("w") / col("p"))
        .select("source", "n_docs", "n_tokens", "p", "w", "epochs")
        .orderBy("source")
    },
    // distilled model-based quality scoring (fastText/FineWeb-Edu shape):
    // a ridge-Newton logistic regression trained ON the rule screen's
    // verdicts (one map-side-combinable Hessian+gradient aggregate per
    // iteration — 20 doubles — driver holds only 5 weights and a 5×5
    // solve), then every doc scored with a calibrated keep-probability +
    // agreement audit. σ's exp and partition-order float sums make the
    // scores engine-local → rows-only check; ClassifierSpec gates
    // weights-vs-sequential-reference and distillation agreement
    "quality_lr" -> { (s, d) =>
      val feats = graft.ext.Classifier
        .features(Tables.documents(s, d), "doc_id", "text")
        .localCheckpoint()
      val m = graft.ext.Classifier.train(feats)
      graft.ext.Classifier.score(feats, m, "doc_id").orderBy("doc_id")
    },
    // quality_lr's DRIVER-VISIBLE partial oracle: the fitted weights are
    // libm/iteration-dependent, but every doc must be scored with a
    // probability in (0,1) (a NaN/overflow flips it) and the trained
    // model must agree with its own training labels at least at chance
    "quality_lr_check" -> { (s, d) =>
      val feats = graft.ext.Classifier
        .features(Tables.documents(s, d), "doc_id", "text")
        .localCheckpoint()
      val m = graft.ext.Classifier.train(feats)
      graft.ext.Classifier.score(feats, m, "doc_id").agg(
        count(lit(1)).cast("long").as("n_docs"),
        (max(when(isnan(col("score")) || col("score") < 0.0 ||
          col("score") > 1.0, 1).otherwise(0)) === 0).as("ok_unit_scores"),
        ((sum(when(col("agree"), 1L).otherwise(0L)) / count(lit(1))) >= 0.5)
          .as("ok_agree_chance"))
    },
    // BPE tokenization of the corpus under a freshly trained merge table
    // (train + encode end-to-end; bpe_pairs shows round 1 of the trainer,
    // BpeSpec verifies both against a sequential reference). The merge
    // table depends on the data, so no static SQL oracle exists —
    // rows-only check; per-doc token count + a hash of the token stream
    // pin the output against accidental nondeterminism (the trainer's
    // argmax tie-break is lexicographic, so the model is reproducible)
    "bpe_encode" -> { (s, d) =>
      val docs = Tables.documents(s, d)
      val (_, vocab) = trainedBpe(docs, numMerges = 12)
      // same-corpus fast path: the trainer's final vocabulary IS the
      // word→tokens dictionary, so no per-merge replay
      graft.ext.Bpe.encodeWithVocab(docs, "doc_id", "text", vocab)
        .select(col("doc_id"),
          size(col("tokens")).cast("long").as("n_tokens"),
          sha2(concat_ws(" ", col("tokens")), 256).as("tok_hash"))
        .orderBy("doc_id")
    },
    // tokenizer fertility audit — the standard multilingual tokenizer
    // metric (mean tokens per word; chars per token): languages a BPE
    // vocabulary underserves show fertility spikes, the signal that drives
    // vocab-size / training-mix decisions. Exact integer sums + one IEEE
    // division, but the merge table is data-dependent → rows-only check;
    // BpeSpec pins fertility ≥ 1 and monotone decrease with more merges
    "bpe_fertility" -> { (s, d) =>
      val docs = Tables.documents(s, d)
      val (_, vocab) = trainedBpe(docs, numMerges = 12)
      graft.ext.Bpe.encodeWithVocab(docs, "doc_id", "text", vocab)
        .select(col("doc_id"), size(col("tokens")).cast("long").as("nt"))
        .join(docs.select(col("doc_id"), col("lang"),
          size(split(col("text"), " ")).cast("long").as("nw"),
          length(col("text")).cast("long").as("nc")), "doc_id")
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"), sum("nt").as("n_tokens"),
          sum("nw").as("n_words"), sum("nc").as("n_chars"))
        .withColumn("fertility",
          col("n_tokens").cast("double") / col("n_words").cast("double"))
        .withColumn("chars_per_token",
          col("n_chars").cast("double") / col("n_tokens").cast("double"))
        .orderBy("lang")
    },
    // guaranteed-exact heavy hitters over the combinatorial 3-gram domain
    // (boilerplate mining): per-partition Misra–Gries summaries (≤ k rows
    // per partition cross the wire, whatever the gram vocabulary) →
    // broadcast semi-join → exact counts over the candidate set only.
    // denom = k makes the candidates a guaranteed superset of every item
    // at share ≥ 1/denom (Sketch.heavyHitters scaladoc), so unlike the
    // HLL/KLL tiers this sketch path is oracle-EXACT. 1/20000 keeps the
    // result meaningful at bench scale too: this corpus's 3-gram head
    // flattens as it grows (random-draw docs), so a sharper share cut
    // empties at sf0.1 while this one mines ~3.2k boilerplate grams
    "heavy_hitters" -> { (s, d) =>
      import s.implicits._
      val grams = Dedup.shingleRows(Tables.documents(s, d), "doc_id", "text",
          n = 3, distinct = false)
        .select("s").as[String]
      Sketch.heavyHitters(grams, k = 20000, denom = 20000L)
        .withColumnRenamed("item", "gram")
        .orderBy(col("cnt").desc, col("gram"))
    },
    // perceptual image fingerprints (classic DCT pHash) over a REAL
    // decodable raster corpus (deterministic 32×32 BMPs seeded by each
    // doc, every 4th doc also planting a pixel-edited near-copy): decode
    // → 32×32 luma → DCT → median-threshold 64 bits, all in one narrow
    // mapPartitions — payloads never shuffle, only (id, 64-bit hash) rows
    // do. Rows-only (double-DCT hash has no SQL twin); MultimodalSpec
    // pins container invariance, edit tolerance, and discrimination
    "media_phash" -> { (s, d) =>
      Multimodal.perceptualHash(
          Multimodal.synthRasterBlobs(Tables.documents(s, d), "doc_id", "text"))
        .orderBy("media_id")
    },
    // the media dedup ladder, composed: content-hash dedup first
    // (byte-identical uploads collapse to one keeper — the corpus's
    // duplicated texts make identical images, exactly the flood the
    // ladder exists for), THEN pHash near-dup pairs within Hamming ≤ 4,
    // banded 8×8-bit so the pigeonhole guarantee covers the declared
    // distance (bands > maxDist; 4×16 only guaranteed ≤ 3 and measurably
    // lost 1/1250 planted pairs). Surviving pairs are the
    // planted pixel-edited near-copies plus rare true near-hashes
    // (MultimodalSpec: every planted pair found)
    "dedup_media" -> { (s, d) =>
      Multimodal.nearDupMedia(
          Multimodal.dedupExactMedia(
            Multimodal.synthRasterBlobs(Tables.documents(s, d), "doc_id", "text")),
          maxDist = 4, bands = 8)
        .orderBy("id_a", "id_b")
    },
    // the audio rung: spectral fingerprints (Haitsma–Kalker robust-hash
    // shape — per-frame Goertzel band energies, sign of the time-delta of
    // band-deltas = amplitude-scale-invariant 64 bits) over a REAL 16-bit
    // WAV corpus seeded per doc, with planted 70%-amplitude re-masters.
    // Same narrow mapPartitions shape as media_phash; rows-only
    "media_audio_fp" -> { (s, d) =>
      Multimodal.perceptualHash(
          Multimodal.synthAudioBlobs(Tables.documents(s, d), "doc_id", "text"))
        .orderBy("media_id")
    },
    // audio near-dup through the same media ladder as dedup_media —
    // content-hash dedup, then banded fingerprint pairs. Audio re-masters
    // drift more bits than pixel edits, so the banding widens to 8×8-bit
    // (pigeonhole guarantee up to Hamming 7) — the blocking/distance dial
    // every banded tier exposes
    "dedup_audio" -> { (s, d) =>
      // OR-amplified two-phase fingerprints: quantization sign flips are
      // frame-boundary-dependent, so a half-frame-shifted second view
      // recovers most re-masters the single framing misses (ladder
      // recall 0.972 -> 0.994 at sf0.1; the amplified phase runs at a
      // stricter distance to bound the extra false-pair rate)
      Multimodal.nearDupAudioAmplified(
          Multimodal.dedupExactMedia(
            Multimodal.synthAudioBlobs(Tables.documents(s, d), "doc_id", "text")),
          maxDist = 7, bands = 8)
        .orderBy("id_a", "id_b")
    },
    // the video rung: majority-vote of per-frame DCT pHashes over REAL
    // extracted AVI frames (frame drops / per-frame edits move few bits,
    // like SimHash under word edits), over a genuine uncompressed-DIB AVI
    // corpus with temporally-coherent frames and planted per-frame-edited
    // re-encodes. Rows-only, same narrow shape as the other media passes
    "media_video_fp" -> { (s, d) =>
      Multimodal.perceptualHash(
          Multimodal.synthVideoBlobs(Tables.documents(s, d), "doc_id", "text"))
        .orderBy("media_id")
    },
    // video near-dup through the same ladder and banding as dedup_audio
    "dedup_video" -> { (s, d) =>
      Multimodal.nearDupMedia(
          Multimodal.dedupExactMedia(
            Multimodal.synthVideoBlobs(Tables.documents(s, d), "doc_id", "text")),
          maxDist = 7, bands = 8)
        .orderBy("id_a", "id_b")
    },
    // REAL raster resize composed with fingerprinting: every corpus BMP
    // box-downscaled to 16×16 (Codecs.resizeRaster — per-channel
    // area-average, re-encoded as real BMP) and pHashed. Narrow payload-
    // in/payload-out mapPartitions; rows-only (double-DCT over resampled
    // pixels has no SQL twin; MultimodalSpec pins dims + pHash stability)
    "media_resize" -> { (s, d) =>
      Multimodal.perceptualHash(
          Multimodal.resizeAll(
            Multimodal.synthRasterBlobs(Tables.documents(s, d), "doc_id", "text"),
            16, 16))
        .withColumnRenamed("phash", "phash_16")
        .orderBy("media_id")
    },
    // content-change keyframe extraction over the REAL AVI corpus: keep
    // frame 0 + frames whose per-frame DCT pHash moves > 8 bits from the
    // last kept frame (shot-boundary core). Generator shape — payloads
    // never shuffle, only (media_id, n_keyframes) aggregates do
    "media_keyframes" -> { (s, d) =>
      Multimodal.keyFrames(
          Multimodal.synthVideoBlobs(Tables.documents(s, d), "doc_id", "text"),
          minDist = 8)
        .toDF()
        .groupBy("media_id")
        .agg(count(lit(1)).as("n_keyframes"), min("frame_no").as("first_kf"))
        .orderBy("media_id")
    },
    // the WHOLE curation pipeline composed end-to-end — quality gate →
    // dictionary redaction → exact dedup of the scrubbed text →
    // per-language corpus accounting — value-verified as ONE query
    // against DuckDB running the identical composition. Every stage is
    // the same operator its standalone query declares; the point is that
    // the COMPOSITION (the thing a user actually runs) stays oracle-exact
    "pipeline_e2e" -> { (s, d) =>
      val dict = Seq("spark", "table", "merge batch", "value")
      val kept = Tables.documents(s, d)
        .where(TextOps.qualityVerdict(col("text")) === "keep")
      val scrubbed = kept.select(col("doc_id"), col("lang"),
        graft.functions.DictMatch.scrub(col("text"), dict, "■").as("text"))
      val keepIds = scrubbed
        .groupBy(sha2(col("text"), 256).as("__h"))
        .agg(min("doc_id").as("doc_id")).select("doc_id")
      scrubbed.join(keepIds, "doc_id")
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(size(split(col("text"), " ")).cast("long")).as("n_tokens"),
          min("doc_id").as("first_doc"))
        .orderBy("lang")
    },
    // single-pass leftmost-longest dictionary REDACTION — the blocklist/
    // phrase-PII scrub for dictionaries too big for regex alternations.
    // With this dictionary (no term nested in another, no cross-term
    // overlap in space-separated text) leftmost-longest equals DuckDB's
    // chained per-term replace, so the scrubbed strings hash-match
    "dict_scrub" -> { (s, d) =>
      val dict = Seq("spark", "table", "merge batch", "value")
      Tables.documents(s, d)
        .select(col("doc_id"),
          graft.functions.DictMatch.scrub(col("text"), dict, "■")
            .as("scrubbed"))
        .select(col("doc_id"),
          length(col("scrubbed")).cast("long").as("n_chars"),
          sha2(col("scrubbed"), 256).as("scrub_hash"))
        .orderBy("doc_id")
    },
    // HYBRID retrieval: reciprocal-rank fusion (Cormack et al. 2009) of
    // the lexical BM25 list and the exact-cosine vector list — the
    // standard two-tower search composition. Each side is a bounded
    // top-N (TakeOrderedAndProject, never corpus ranks), the fusion is a
    // full-outer join of two 100-row lists, and 1/(60+rank) on integer
    // ranks is bit-deterministic on both engines — oracle-exact
    "search_rrf" -> { (s, d) =>
      val n = 100
      // the rank windows run on the ≤100-row top-N lists, so a single
      // partition is correct BY CONSTRUCTION — a constant partition key
      // states that in the plan (same one-partition exchange) and keeps
      // the "No Partition Defined" warning out of the bench tail, where
      // a REAL unpartitioned-window regression would otherwise hide
      // among expected noise. The key must be NON-FOLDABLE (pmod of the
      // id, always 0) — a literal partition key is constant-folded away
      // and the WindowExec comes out unpartitioned after all
      def onePart(id: org.apache.spark.sql.Column) =
        Window.partitionBy(pmod(id, lit(1L)))
      val lex = TextOps.bm25(Tables.documents(s, d), "doc_id", "text",
          terms = Seq("join", "hash", "scan"))
        .orderBy(col("score").desc, col("doc_id")).limit(n)
        .select(col("doc_id").as("id"),
          row_number().over(onePart(col("doc_id"))
            .orderBy(col("score").desc, col("doc_id"))).as("rank_lex"))
      val e = Tables.embeddings(s, d)
      val vec = Similarity.cosineTopK(e, e.where(col("vec_id") === 0L),
          "vec_id", "embedding", k = n)
        .select(col("vec_id").as("id"),
          row_number().over(onePart(col("vec_id"))
            .orderBy(col("cosine").desc, col("vec_id"))).as("rank_vec"))
      lex.join(vec, Seq("id"), "full_outer")
        .select(col("id"),
          (coalesce(lit(1.0) / (lit(60) + col("rank_lex")), lit(0.0)) +
            coalesce(lit(1.0) / (lit(60) + col("rank_vec")), lit(0.0)))
            .as("rrf"))
        .orderBy(col("rrf").desc, col("id"))
        .limit(20)
    },
    // dictionary tagging/filtering via one Aho-Corasick pass (the
    // blocklist/keyword op — a regex alternation's cost grows with the
    // dictionary; the automaton is O(text) whatever its size, riding the
    // scan as a plan-constant reference object). Terms here have no
    // self-overlap, so the oracle's per-term non-overlapping
    // replace-count equals AC's all-end-positions count exactly
    "dict_filter" -> { (s, d) =>
      val dict = Seq("spark", "table", "merge batch", "value")
      Tables.documents(s, d)
        .select(col("doc_id"),
          graft.functions.DictMatch.count(col("text"), dict)
            .as("n_matches"),
          concat_ws(",", graft.functions.DictMatch.terms(col("text"), dict))
            .as("matched"))
        .where(col("n_matches") > 0)
        .orderBy("doc_id")
    },
    // unigram-LM tokenizer training (Kudo 2018 / SentencePiece unigram):
    // EM over the Zipf-bounded word table — per-word forward-backward
    // lattices in a narrow pass, map-side-combined expected counts, a
    // driver-bounded piece inventory. Rows-only (EM probabilities are
    // cross-partition double sums); UnigramSpec pins the E-step against
    // a full segmentation enumeration and EM monotonicity
    "unigram_pieces" -> { (s, d) =>
      import s.implicits._
      val m = trainedUnigram(Tables.documents(s, d), vocabSize = 300)
      m.pieces.toDF("piece", "logp")
        .select(col("piece"), col("logp"))
        .orderBy(col("logp").desc, col("piece"))
    },
    // bpe_encode's DRIVER-VISIBLE partial oracle: the merge table is
    // data-dependent (no SQL twin), but tokenization must be LOSSLESS —
    // concatenating every doc's subword tokens and turning the </w>
    // markers back into spaces must reproduce the doc's exact word
    // sequence, which the oracle computes from the raw text. A dropped
    // word, corrupted merge, or reordered token stream flips the hash
    "bpe_encode_check" -> { (s, d) =>
      val docs = Tables.documents(s, d)
      val (_, vocab) = trainedBpe(docs, numMerges = 12)
      graft.ext.Bpe.encodeWithVocab(docs, "doc_id", "text", vocab)
        .select(col("doc_id"),
          rtrim(regexp_replace(concat_ws("", col("tokens")),
            graft.ext.Bpe.EndOfWord, " ")).as("detok"))
        .orderBy("doc_id")
    },
    // Viterbi tokenization under the trained unigram model — the encode
    // twin of bpe_encode (model broadcast, one narrow pass)
    "unigram_encode" -> { (s, d) =>
      val docs = Tables.documents(s, d)
      graft.ext.Unigram.encode(docs, "doc_id", "text",
          trainedUnigram(docs, vocabSize = 300))
        .select(col("doc_id"),
          size(col("tokens")).cast("long").as("n_tokens"),
          sha2(concat_ws(" ", col("tokens")), 256).as("tok_hash"))
        .orderBy("doc_id")
    },
    // unigram_encode's DRIVER-VISIBLE partial oracle: pieces carry no
    // word marker, so the reconstructable invariant is the space-free
    // character stream — concatenating every doc's pieces must equal the
    // doc's words concatenated (unk chars fall back to single-char
    // pieces, so nothing is ever dropped)
    "unigram_encode_check" -> { (s, d) =>
      val docs = Tables.documents(s, d)
      graft.ext.Unigram.encode(docs, "doc_id", "text",
          trainedUnigram(docs, vocabSize = 300))
        .select(col("doc_id"), concat_ws("", col("tokens")).as("detok"))
        .orderBy("doc_id")
    },
    // subword-regularized tokenization: SAMPLED segmentations from the
    // exact path posterior (sharpened p^α), uniforms drawn from salted
    // XXH64 over (doc, word, lattice position) — bit-deterministic for a
    // salt, fresh segmentations per epoch by changing it
    "unigram_sample" -> { (s, d) =>
      val docs = Tables.documents(s, d)
      graft.ext.Unigram.encodeSampled(docs, "doc_id", "text",
          trainedUnigram(docs, vocabSize = 300), alpha = 0.3, salt = 7L)
        .select(col("doc_id"),
          size(col("tokens")).cast("long").as("n_tokens"),
          sha2(concat_ws(" ", col("tokens")), 256).as("tok_hash"))
        .orderBy("doc_id")
    },
    // cluster-balanced coverage sampling (the diversity-selection step:
    // a proportional draw over a skewed corpus re-creates the skew;
    // round-robin across KMeans cells keeps the rare modes). One narrow
    // codegen'd cell assignment + one cell-keyed window +
    // TakeOrderedAndProject — no global sort. Rows-only (KMeans cells
    // have no SQL twin); SimilaritySpec asserts the exact round-robin
    // allocation against a driver simulation
    "sample_coverage" -> { (s, d) =>
      Similarity.coverageSample(Tables.embeddings(s, d), "vec_id",
          "embedding", nlist = 16, k = 200)
        .select(col("vec_id"), col("ivf_cell"))
        .orderBy("vec_id")
    },
    // sample_coverage's DRIVER-VISIBLE partial oracle: the KMeans cells
    // have no SQL twin, but the round-robin quota arithmetic does — the
    // draw takes exactly min(k, corpus) rows, never more than a cell
    // holds, and water-filled: every cell reaches within 1 of the max
    // take unless its own size stops it. Cell structure cancels out of
    // those three facts, so the oracle states them from the raw corpus
    "sample_coverage_check" -> { (s, d) =>
      val e = Tables.embeddings(s, d)
      val taken = Similarity.coverageSample(e, "vec_id", "embedding",
        nlist = 16, k = 200)
      val (indexed, _) = Similarity.ivfIndex(e, "vec_id", "embedding", 16)
      val sizes = indexed.groupBy("ivf_cell")
        .agg(count(lit(1)).as("cell_size"))
      val takes = taken.groupBy("ivf_cell").agg(count(lit(1)).as("taken"))
      val cells = sizes.join(takes, Seq("ivf_cell"), "left")
        .na.fill(0L, Seq("taken"))
      cells.agg(
          sum("taken").cast("long").as("total_taken"),
          (max(when(col("taken") > col("cell_size"), 1).otherwise(0)) === 0)
            .as("ok_within_size"),
          max(col("taken")).as("__max_take"),
          collect_list(struct(col("cell_size"), col("taken"))).as("__cells"))
        .select(col("total_taken"), col("ok_within_size"),
          forall(col("__cells"), c =>
            c.getField("taken") >= least(c.getField("cell_size"),
              col("__max_take") - 1)).as("ok_balanced"))
    },
    // DSIR data selection (Xie et al. 2023): importance-resample the raw
    // pool toward a target domain (the zh slice as the exemplar corpus)
    // under add-1-smoothed hashed-bigram bag models. The fitted model is a
    // single 1024-row broadcast table; per-doc scoring is a broadcast join
    // + ordered fold (no corpus-keyed shuffle beyond doc_id); selection is
    // Gumbel-top-k (deterministic salted-hash uniforms) running as
    // TakeOrderedAndProject, never a global sort. ln is libm-bound →
    // rows-only check; DsirSpec verifies the weights against a sequential
    // reference and the domain-shift property
    "dsir_select" -> { (s, d) =>
      val docs = Tables.documents(s, d)
      graft.ext.Dsir.select(
          docs.where(col("lang") === "zh"), docs, "doc_id", "text",
          k = 100, buckets = 1024)
        .join(docs.select("doc_id", "lang"), "doc_id")
        .select("doc_id", "lang", "n_feats", "log_w", "gumbel_key")
        .orderBy("doc_id")
    },
    // dsir_select's DRIVER-VISIBLE partial oracle: the importance weights
    // are libm-bound (no SQL twin) but the selection's structure is not —
    // exactly min(k, corpus) DISTINCT docs drawn from the corpus with
    // finite weights, and the defining DSIR property: importance
    // resampling toward the zh exemplar domain OVER-represents zh
    // relative to the raw corpus
    "dsir_select_check" -> { (s, d) =>
      val docs = Tables.documents(s, d)
      val sel = graft.ext.Dsir.select(
          docs.where(col("lang") === "zh"), docs, "doc_id", "text",
          k = 100, buckets = 1024)
        .join(docs.select("doc_id", "lang"), "doc_id")
      val corpusZh = docs.agg(
        (sum(when(col("lang") === "zh", 1L).otherwise(0L)) /
          count(lit(1))).as("zh_rate")).head().getDouble(0)
      sel.agg(
        count(lit(1)).cast("long").as("n_selected"),
        countDistinct(col("doc_id")).cast("long").as("n_distinct"),
        (max(when(isnan(col("log_w")) ||
          col("log_w") === Double.PositiveInfinity ||
          col("log_w") === Double.NegativeInfinity, 1).otherwise(0)) === 0)
          .as("ok_finite"),
        ((sum(when(col("lang") === "zh", 1L).otherwise(0L)) /
          count(lit(1))) >= corpusZh).as("ok_domain_shift"))
    },
    // length-based curriculum ordering (the classic easy→hard schedule,
    // Bengio et al. 2009): per-language token-count tertiles are the
    // phases (short docs = phase 1), and WITHIN a phase the training
    // order is the unbiased salted-hash shuffle — a curriculum orders
    // phases, never the docs inside one. Same integer rank-tertile device
    // as lm_buckets (no ntile, no engine-specific casts) and the same
    // lang-partitioned windows — nothing sorts globally
    "curriculum_order" -> { (s, d) =>
      val u = conv(substring(md5(concat(col("doc_id").cast("string"),
        lit("curr1"))), 1, 15), 16, 10).cast("long")
      val wRank = Window.partitionBy("lang")
        .orderBy(col("n_tokens"), col("doc_id"))
      val wAll = Window.partitionBy("lang")
      val wOrd = Window.partitionBy("lang", "phase").orderBy("u", "doc_id")
      Tables.documents(s, d)
        .select(col("doc_id"), col("lang"),
          size(split(col("text"), " ")).cast("long").as("n_tokens"),
          u.as("u"))
        .withColumn("rn", row_number().over(wRank).cast("long"))
        .withColumn("n", count(lit(1)).over(wAll))
        .withColumn("phase", expr("((rn - 1) * 3) div n") + lit(1L))
        .withColumn("ord", row_number().over(wOrd).cast("long"))
        .select("doc_id", "lang", "n_tokens", "phase", "ord")
        .orderBy("doc_id")
    }
  )

  val oracle: Map[String, String] = PipelineOracles.sql
}
