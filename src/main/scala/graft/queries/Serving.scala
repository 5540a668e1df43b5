package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ext.Similarity

/** The ANN/dedup SERVING layer of the declared inventory: corpus-size
  * dials and memoized persisted-index artifacts (a pure move out of
  * [[PipelineQueries]] — round-12 maintainability split; every member
  * body is unchanged).
  *
  * Artifact-memo contract for the PERSISTED serving indexes
  * (multi-table LSH, multi-assignment IVF, IVF-PQ composite): the index
  * is an input ARTIFACT built once per (session, corpus plan, config) by
  * the offline ingest path
  * ([[graft.ext.Similarity.writeLshMultiTableIndex]] /
  * [[graft.ext.Similarity.writeIvfIndexMulti]] /
  * [[graft.ext.Similarity.writeIvfPqIndex]] — the batch twins of the
  * streaming index writers), so the declared `sim_search_*` queries
  * measure the SERVING shape: a driver-computed probe set against a
  * partition-pruned read. That is the form whose crossover
  * AnnCrossover measures BEATING the brute-force scan at 1M–5M vectors
  * (RECALL.md).
  */
object Serving {

  private val annIndexCache = new java.util.concurrent.ConcurrentHashMap[
    (Int, Int, String), AnyRef]()

  private def annKey(e: DataFrame, cfg: String): (Int, Int, String) =
    (System.identityHashCode(e.sparkSession),
      e.queryExecution.analyzed.semanticHash(), cfg)

  /** The multi-table LSH scale dial, DE-CLAMPED round 12: (nbits,
    * tables) grow JOINTLY. nbits is sized so per-table buckets hold
    * ~250 rows, now clamped to [4, 12]; the table count rises with
    * nbits because per-table hit rate q = P(Binomial(nbits, 1−p) ≤ ...)
    * shrinks as planes are added, and the OR-amplification 1−(1−q)^T
    * must stay ≥ 0.8 — T=12 holds it through nbits=10 (the round-11
    * measured config: 12·12/1024 = 14.1% of corpus bytes), and T=24
    * buys it back at nbits=11–12, where the query-directed 12-bucket
    * probe reads 24·12/4096 ≈ 7.0% of corpus bytes. Measured at 5M
    * (AnnCrossover round 12): recall 0.831 at HALF the round-11 probe
    * bytes; the single-probe wall sits at the exact scan's level there
    * (0.98× in-run) because doubling T doubles the pruned-directory
    * task count and the probe floor is task-scheduling-bound, not
    * byte-bound — which is exactly the floor batch serving divides by
    * |queries| (the declared `sim_search_batch` shape), and which
    * 1000 executors hide entirely while the 2× byte saving persists.
    * The storage trade doubles with T (24× corpus) — the classic
    * multi-table bargain, stated in RECALL.md with the disk arithmetic.
    */
  private[graft] def lshMtDial(n: Long): (Int, Int) = {
    val nbits = math.max(4, math.min(12,
      math.ceil(math.log(n.toDouble / 250.0) / math.log(2.0)).toInt))
    val tables = if (nbits >= 11) 24 else 12
    (nbits, tables)
  }

  /** nbits half of [[lshMtDial]] (Recall/PlanLint's arithmetic pins). */
  private[graft] def lshMtNbits(n: Long): Int = lshMtDial(n)._1

  /** The IVF scale dial: nlist ≈ √N (FAISS guidance). The round-11
    * clamp at 256 existed because the coarse fit was driver-local;
    * [[graft.ext.Similarity.fitCentroids]] distributes the Lloyd's
    * iterations past 256, so the clamp now sits at 4096 — this
    * harness's fit-cost ceiling, not a design one (a cluster raises it
    * toward the √N ideal; at 25B vectors nlist ~10⁵ wants the centroid
    * matrix as an explicit broadcast, noted in fitCentroids).
    */
  private[graft] def ivfNlist(n: Long): Int =
    math.min(4096, math.max(16, math.round(math.sqrt(n.toDouble)).toInt))

  /** The probe-depth dial. ≤ 256 cells: the round-11 linear form,
    * verbatim — nlist/divisor, floored at 8 (capped nlist/2) — so every
    * measured artifact and every test-scale declared config is
    * bit-unchanged. PAST the de-clamp point the probe count grows only
    * as √nlist (≡ N^(1/4)): the probed FRACTION nprobe/nlist then
    * SHRINKS as 1/√nlist instead of freezing — the 100 TB requirement
    * (a frozen fraction is a 14–19 TB read per query there). The two
    * regimes are continuous at 256 (16 = 256/16 = √256). Measured at
    * 5M (AnnCrossover round 12, distributed fit): nlist=4096/nprobe=96
    * (√-dial ×1.5 = 7.0% of corpus bytes) recall 0.800 at 2.33×;
    * nprobe=64 (the bare √ point, 4.7%) recall 0.738 at 2.90×;
    * nlist=1024/nprobe=32 (9.4%) recall 0.775 at 2.48×. Recall at a
    * fixed config RISES with N on this corpus as the true top-20
    * tighten (round 11 measured 0.781@5M → 0.906@20M at l256p16), and
    * the 20M point of the de-clamped dial is in RECALL.md's round-12
    * table — the fraction falls as N^(-1/4) while the recall bar
    * holds where the scale question is asked.
    */
  private[graft] def ivfNprobe(nlist: Int, divisor: Int): Int =
    if (nlist <= 256) math.max(math.min(8, nlist / 2), nlist / divisor)
    else math.round(16.0 / divisor * math.sqrt(nlist.toDouble)).toInt

  /** The IVF-PQ probe-depth dial: 3/16 of cells at the 256-cell dial
    * (48 cells — measured 1.60× at 20M at recall 0.913, the round-11
    * numbers), floored by the plain-IVF small-corpus dial; past the
    * de-clamp point it follows the same √ law as [[ivfNprobe]]
    * (3·√nlist — continuous at 256: 48 = 3·16), so the ADC cell
    * fraction shrinks with N on top of PQ's code-column byte lean.
    */
  private[graft] def pqNprobe(nlist: Int): Int =
    if (nlist <= 256) math.max(ivfNprobe(nlist, 8), nlist * 3 / 16)
    else math.max(ivfNprobe(nlist, 8),
      math.round(3.0 * math.sqrt(nlist.toDouble)).toInt)

  private def corpusSize(e: DataFrame): Long = e.count()

  // cfg strings carry EVERY parameter that affects the written artifact
  // (ADVICE r10: a call differing only in dim/samplePerCode must not
  // silently reuse an index built with the old configuration).

  /** Memoized MULTI-TABLE LSH serving index (round 11 — the 100×-true
    * config): nbits comes from the corpus-size dial. The memo carries
    * the READ RELATION, not just the path: re-reading a bucket-
    * partitioned path pays partition discovery over every directory on
    * every execution (measured seconds at 1M-vector dir counts); the
    * relation's file index is built once per session.
    */
  private[queries] def lshMtIndexOf(e: DataFrame,
      dim: Int): (DataFrame, Int, Int) =
    annIndexCache.computeIfAbsent(annKey(e, s"lshmt$dim"), _ => {
      val (nbits, tables) = lshMtDial(corpusSize(e))
      val path = graft.Harness.scratchDir("graft-lshmtidx-")
      Similarity.writeLshMultiTableIndex(e, "vec_id", "embedding", path,
        dim, nbits, tables)
      (e.sparkSession.read.parquet(path), nbits, tables)
    }).asInstanceOf[(DataFrame, Int, Int)]

  /** Memoized INCREMENTALLY-BUILT multi-table LSH serving index — the
    * ANN half of the ingest story (`dedup_incremental`'s twin): the
    * standing 90% of the corpus (vec_id % 10 != 0) is indexed once by
    * the batch writer; the "new batch" (vec_id % 10 == 0 — including
    * vector 0, the declared probe) is APPENDED via the frozen-plane
    * O(batch) path ([[graft.ext.Similarity.appendLshMultiTableIndex]]),
    * never rewriting a standing row — at 100 TB the rebuild is T
    * corpus-sized write passes, the append is T batch-sized ones. The
    * hyperplanes are deterministic, so probes over this index are
    * BIT-IDENTICAL to the one-shot full index's — the check twin
    * asserts exactly that against the `sim_search_lsh` artifact. nbits
    * comes from the FULL corpus dial: the index is sized for the corpus
    * it serves post-ingest.
    */
  private[queries] def lshMtIncrIndexOf(e: DataFrame,
      dim: Int): (DataFrame, Int, Int) =
    annIndexCache.computeIfAbsent(annKey(e, s"lshmt-incr$dim"),
      _ => {
        val (nbits, tables) = lshMtDial(corpusSize(e))
        val path = graft.Harness.scratchDir("graft-lshmtincr-")
        Similarity.writeLshMultiTableIndex(
          e.where(pmod(col("vec_id"), lit(10)) =!= 0), "vec_id",
          "embedding", path, dim, nbits, tables)
        Similarity.appendLshMultiTableIndex(
          e.where(pmod(col("vec_id"), lit(10)) === 0), "vec_id",
          "embedding", path, dim, nbits, tables)
        (e.sparkSession.read.parquet(path), nbits, tables)
      }).asInstanceOf[(DataFrame, Int, Int)]

  /** Memoized MULTI-ASSIGNMENT IVF serving index (round 11): nlist from
    * the √N dial; the memo carries (relation, centroids, nlist).
    */
  private[queries] def ivfMaIndexOf(e: DataFrame,
      nassign: Int): (DataFrame, Array[Array[Double]], Int) =
    annIndexCache.computeIfAbsent(annKey(e, s"ivfma$nassign"), _ => {
      val nlist = ivfNlist(corpusSize(e))
      val path = graft.Harness.scratchDir("graft-ivfmaidx-")
      val centroids = Similarity.writeIvfIndexMulti(e, "vec_id",
        "embedding", path, nlist, nassign)
      (e.sparkSession.read.parquet(path), centroids, nlist)
    }).asInstanceOf[(DataFrame, Array[Array[Double]], Int)]

  /** Memoized IVF-PQ composite serving index (round 11): multi-assigned
    * coarse cells + PQ code columns + norm + raw vector per row.
    */
  private[queries] def ivfPqIndexOf(e: DataFrame, nassign: Int, m: Int,
      codes: Int, samplePerCode: Int)
      : (DataFrame, Array[Array[Double]], Array[Array[Array[Double]]], Int) =
    annIndexCache.computeIfAbsent(
      annKey(e, s"ivfpq$nassign-$m-$codes-$samplePerCode"), _ => {
        val nlist = ivfNlist(corpusSize(e))
        val path = graft.Harness.scratchDir("graft-ivfpqidx-")
        val (centroids, books) = Similarity.writeIvfPqIndex(e, "vec_id",
          "embedding", path, nlist, nassign, m, codes, samplePerCode)
        (e.sparkSession.read.parquet(path), centroids, books, nlist)
      }).asInstanceOf[(DataFrame, Array[Array[Double]],
        Array[Array[Array[Double]]], Int)]

  /** Memoized MinHash BAND INDEX of the already-ingested corpus — the
    * incremental-dedup serving artifact ([[graft.ext.Dedup.writeBandIndex]],
    * band-partitioned at rest, the text twin of the ANN serving indexes):
    * at 100 TB the corpus is indexed ONCE and each ingest batch probes it,
    * so the declared `dedup_incremental` measures the ingest shape — batch
    * bands joined against the persisted index, never corpus × corpus.
    */
  private[queries] def bandIndexOf(corpus: DataFrame): String =
    annIndexCache.computeIfAbsent(annKey(corpus, "bandidx3-32-16"), _ => {
      val path = graft.Harness.scratchDir("graft-bandidx-")
      graft.ext.Dedup.writeBandIndex(corpus, "doc_id", "text", path,
        shingleN = 3, numHashes = 32, bands = 16)
      path
    }).asInstanceOf[String]
}
