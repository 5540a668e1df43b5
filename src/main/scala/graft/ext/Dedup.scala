package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for large-scale text corpora — the four standard
  * tiers, cheapest first:
  *
  *  1. [[exact]]          — content-hash groupBy. One shuffle on a 32-byte
  *                          key; at 100 TB, hash first so the shuffle moves
  *                          digests, not documents.
  *  2. [[minHashLsh]]     — MinHash + banded LSH for near-duplicate pairs.
  *                          The classic shingle→minhash→band→bucket-join
  *                          pipeline (Broder; Leskovec et al., MMDS ch.3).
  *                          Candidate generation is a self-join on band
  *                          hash — the only quadratic step is within-bucket.
  *  3. [[simHash]]        — 64-bit SimHash fingerprints (Charikar); Hamming
  *                          proximity via 4×16-bit band blocking.
  *  4. [[ngramJaccard]]   — exact n-gram Jaccard over candidate pairs:
  *                          the expensive verifier, run only on survivors of
  *                          2/3 (here exposed standalone for the oracle).
  *
  * Everything is built on deterministic hashes (`sha2`, `xxhash64`) — no
  * RNG, so results are stable across runs, executors and retries.
  */
object Dedup {

  /** The shared skew guard: drop rows whose `keys` group holds more than
    * `cap` rows. One map-side-combined aggregate builds the over-cap key
    * list (tiny by construction — ≤ rows/cap entries), broadcast into a
    * LEFT ANTI join; never a window, which would re-shuffle the probe side
    * and land every row of a hot key on one task. Callers decide whether
    * to checkpoint the result (consumer-count dependent).
    */
  private[ext] def dropHotKeys(df: DataFrame, keys: Seq[String], cap: Long): DataFrame = {
    val hot = df.groupBy(keys.map(col): _*).agg(count(lit(1)).as("__n"))
      .where(col("__n") > cap).select(keys.map(col): _*)
    df.join(broadcast(hot), keys, "left_anti")
  }

  /** True iff `idCol` is an integral type that casts to long losslessly —
    * the id contract of the cluster/purge pipeline (labels are longs).
    */
  private def integralId(df: DataFrame, idCol: String): Boolean =
    df.schema(idCol).dataType match {
      case org.apache.spark.sql.types.ByteType |
           org.apache.spark.sql.types.ShortType |
           org.apache.spark.sql.types.IntegerType |
           org.apache.spark.sql.types.LongType => true
      case _ => false
    }

  /** Exact dedup: group by sha256(text); keeper = min(id).
    * Returns (text_hash, n_dups, keeper).
    */
  def exact(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs
      .groupBy(sha2(col(textCol), 256).as("text_hash"))
      .agg(count(lit(1)).as("n_dups"), min(col(idCol)).as("keeper"))

  /** URL-level dedup — tier 0 of the ladder, BEFORE any content hashing
    * (the RefinedWeb / CCNet "same page fetched under many URLs" pass):
    * group by [[TextOps.normalizeUrl]] of the URL column; keeper = min(id).
    * Returns (canonical_url, n_dups, keeper).
    *
    * Scale shape is identical to [[exact]] — canonicalization is a
    * codegen'd regexp chain evaluated at scan speed, and the only exchange
    * moves (short) canonical keys. It is the cheapest tier precisely
    * because it needs no shingles, no signatures, and no pairs.
    *
    * Null/empty URLs are FILTERED, not grouped: in real crawl corpora
    * `url` is often missing, and a null bucket would report every
    * url-less document as a mutual duplicate with an arbitrary keeper —
    * exactly the false merge this tier exists to avoid. Documents without
    * a URL simply don't participate in URL-level dedup (send them to the
    * content tiers).
    */
  def urlDedup(docs: DataFrame, idCol: String, urlCol: String): DataFrame =
    docs
      .where(col(urlCol).isNotNull && col(urlCol) =!= "")
      .groupBy(TextOps.normalizeUrl(col(urlCol)).as("canonical_url"))
      .agg(count(lit(1)).as("n_dups"), min(col(idCol)).as("keeper"))

  /** The adjacent-slice zip device (one struct row per k consecutive
    * array elements, field names "0".."k-1") shared by every operator
    * that expands word arrays into k-grams shuffle-free —
    * [[winnowSites]], [[graft.ext.Lm.bigramSites]],
    * [[graft.ext.Bpe.pairCounts]]; [[shingleRows]] is the original of the
    * pattern. Plain slice/zip expressions, stays in whole-stage codegen.
    */
  private[ext] def slidingZip(arr: Column, k: Int): Column = {
    val n = greatest(size(arr) - (k - 1), lit(0))
    arrays_zip((0 until k).map(j => slice(arr, lit(j + 1), n)): _*)
  }

  /** Winnowing (Schleimer/Wilkerson/Aiken, MOSS) k-gram sites: one row per
    * word k-gram START position, with the gram's rolling polynomial hash
    * ([[TextOps.fingerprint]] over the gram — the same engine-neutral
    * integer fold as `text_fingerprint`, so a DuckDB oracle matches
    * bit-for-bit). Shuffle-free slice-zip expansion; docs under k words
    * yield no rows.
    *
    * @return (idCol, pos, h)
    */
  def winnowSites(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 3): DataFrame = {
    val grams = transform(
      slidingZip(split(col(textCol), " "), k),
      z => concat_ws(" ", (0 until k).map(j => z.getField(s"$j")): _*))
    docs.select(col(idCol), posexplode(grams).as(Seq("pos", "g")))
      .select(col(idCol), col("pos").cast("long").as("pos"),
        TextOps.fingerprint(col("g")).as("h"))
  }

  /** Select each document's winnowing fingerprints: the distinct minima of
    * a sliding `w`-gram window over the site hashes. Every position opens
    * a window (the tail windows are partial — a deterministic superset of
    * classic winnowing's selection, which stops at the last full window;
    * same guarantee direction: any shared run of ≥ w+k−1 words still
    * shares a fingerprint). The window is PARTITIONED BY document —
    * parallel per doc, no global sort.
    *
    * @return (idCol, h) distinct
    */
  def winnowFingerprints(sites: DataFrame, idCol: String,
      w: Int = 4): DataFrame = {
    val frame = org.apache.spark.sql.expressions.Window
      .partitionBy(idCol).orderBy("pos")
      .rowsBetween(org.apache.spark.sql.expressions.Window.currentRow, w - 1)
    sites.withColumn("h", min(col("h")).over(frame))
      .select(col(idCol), col("h")).distinct()
  }

  /** Candidate near-dup pairs by shared winnowing fingerprints — the
    * MOSS-style plagiarism/near-dup tier: docs sharing ≥ `minShared`
    * selected fingerprints. Fingerprints are ~1/w of the gram sites, so
    * the pair join runs over a w-fold REDUCED table next to the raw
    * shingle join; `maxDf` drops corpus-stopword fingerprints (the same
    * broadcast anti-join cap as the shingle tiers) so a boilerplate gram
    * can never go quadratic.
    *
    * @return (id_a, id_b, n_shared), id_a < id_b
    */
  def winnowPairs(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 3, w: Int = 4, minShared: Long = 2L,
      maxDf: Long = 1000L): DataFrame = {
    // fingerprints per-row via the codegen'd WinnowFpF expression —
    // bit-identical to winnowFingerprints(winnowSites(…)) (DedupSpec
    // parity case) with no site explode and no doc-partitioned window
    // shuffle; only the selected (doc, fp) rows ever leave the scan stage.
    // localCheckpoint: BOTH self-join legs and the hot-key aggregate
    // would otherwise recompute the scan + WinnowFpF + explode + anti-join
    // pipeline (the cappedShingleRows lesson; the x10 soak flagged this
    // tier's constant)
    val fp = dropHotKeys(
      docs.select(col(idCol),
          graft.functions.MinHash.winnowFingerprints(
            split(col(textCol), " "), k, w).as("fps"))
        .where(col("fps").isNotNull)
        .select(col(idCol), explode(col("fps")).as("h")),
      Seq("h"), maxDf)
      .localCheckpoint(false)
    val a = fp.select(col(idCol).as("id_a"), col("h"))
    val b = fp.select(col(idCol).as("id_b"), col("h"))
    a.join(b, "h").where(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("n_shared"))
      .where(col("n_shared") >= minShared)
  }

  /** Word n-gram shingles of a text column, as a deduplicated array.
    * Per-row Column form — convenient for composition; for the hot paths
    * use [[shingleRows]], which stays inside whole-stage codegen.
    *
    * Same slice-zip construction as [[shingleRows]] (NOT element_at): under
    * ANSI mode (the Spark 4 default) element_at past the array end throws,
    * so the old index-based form killed whole jobs on any document shorter
    * than `n` words. This form yields an empty array for short docs — the
    * per-row twin of shingleRows emitting zero rows.
    */
  def shingles(textCol: Column, n: Int): Column = {
    val words = split(textCol, " ")
    val nShingles = greatest(size(words) - (n - 1), lit(0))
    val parts = (0 until n).map(j => slice(words, lit(j + 1), nShingles))
    array_distinct(
      transform(
        arrays_zip(parts: _*),
        z => concat_ws(" ", (0 until n).map(j => z.getField(s"$j")): _*)
      )
    )
  }

  /** (doc, shingle) rows, fully codegen'd and SHUFFLE-FREE: the word array
    * is zipped against its own n−1 shifted slices (`arrays_zip` of `slice`s
    * — plain expressions, not interpreted lambda HOFs), so each row expands
    * to its W−n+1 shingles in a narrow explode. This replaced an earlier
    * posexplode + window-`lead` form whose per-doc window cost a full
    * shuffle+sort before any consumer ran. With `distinct`, the closing
    * aggregate dedups within-doc shingles and is the materialization
    * barrier every consumer reuses (ReuseExchange).
    */
  def shingleRows(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, n: Int, distinct: Boolean = true): org.apache.spark.sql.DataFrame = {
    val words = split(col(textCol), " ")
    // each part j = words[j..], truncated to the common shingle count
    // (W−n+1; empty when W<n) so the zip never pads with nulls
    val nShingles = greatest(size(words) - (n - 1), lit(0))
    val parts = (0 until n).map(j => slice(words, lit(j + 1), nShingles))
    val rows = df
      .select(col(idCol).as("doc"), explode(arrays_zip(parts: _*)).as("z"))
      .select(col("doc"),
        concat_ws(" ", (0 until n).map(j => col(s"z.$j")): _*).as("s"))
    if (distinct) rows.distinct() else rows
  }

  /** k MinHash values per document: for seed s, min over shingles of
    * xxhash64(shingle, s). Narrow (per-row) computation — no shuffle.
    *
    * Codegen'd native expression ([[graft.functions.MinHashSigF]]) — the
    * old `transform(sequence, sd => array_min(transform(…, xxhash64)))`
    * nest was interpreted (HOFs are CodegenFallback) AND re-hashed every
    * shingle string once per seed; the expression hashes each string once
    * and pays one integer mix per seed, bit-identically (DedupSpec parity
    * case). NULL (not an all-null array) for docs with no shingles —
    * callers filter those rows, mirroring the old groupBy path emitting no
    * signature row.
    */
  def minHashSignature(shinglesCol: Column, k: Int): Column =
    graft.functions.MinHash.signature(shinglesCol, k)

  /** MinHash LSH candidate pairs with estimated similarity.
    *
    * @param numHashes signature length k = bands * rowsPerBand
    * @param bands     band count; a pair collides iff some band of the
    *                  signature matches exactly ⇒ P(candidate) ≈
    *                  1-(1-J^r)^b, the usual S-curve.
    * @return (id_a, id_b, est_jaccard) for candidate pairs, id_a < id_b.
    *
    * Scale: the docs→signature stage is narrow; the band explode produces
    * `bands` rows/doc; the self-join shuffles on (band, band_hash) — bucket
    * sizes are the skew risk (see `maxBucket`).
    *
    * @param maxBucket when > 0, drop band-buckets holding more than this
    *                  many docs before the self-join — the skew guard for
    *                  boilerplate floods (a bucket of B docs costs B²
    *                  pairs; at corpus scale a template shared by 10⁶ docs
    *                  would otherwise dominate the whole job). Dropping
    *                  the WHOLE hot bucket (vs sampling it) keeps the
    *                  output deterministic; near-dup pairs inside a flood
    *                  are better handled by exact-hash dedup first.
    */
  def minHashLsh(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int = 3,
      numHashes: Int = 32,
      bands: Int = 8,
      maxBucket: Int = 0
  ): DataFrame = {
    val rowsPerBand = numHashes / bands
    require(bands * rowsPerBand == numHashes, "bands must divide numHashes")

    // Per-row codegen'd signature ([[minHashSignature]] — the native
    // MinHashSigF expression; the interpreted HOF nest it replaced
    // measured 100× slower, and the explode + k-min groupBy form that
    // bridged the gap cost a full shuffle of every shingle row). Now the
    // whole docs→banded pipeline is NARROW; both self-join sides
    // recompute it (column pruning specializes each leg, so ReuseExchange
    // never matches) — recomputing a codegen'd narrow stage is cheaper
    // than materializing an InMemoryRelation, and at cluster scale the
    // signature table is written once and joined against instead.
    val banded = Compute.fanOut(docs
      .where(size(split(col(textCol), " ")) >= shingleN), col(idCol))
      .select(
        col(idCol).as("doc"),
        minHashSignature(shingles(col(textCol), shingleN), numHashes)
          .as("sig"))
      .select(
        col("doc"),
        col("sig"),
        posexplode(graft.functions.MinHash.bandHashes(col("sig"), bands))
          .as(Seq("band", "band_hash")))

    // Hot buckets are dropped via a broadcast anti-join against the (tiny
    // by construction — ≤ rows/maxBucket entries) over-cap bucket list:
    // the aggregate combines map-side and the probe side never shuffles.
    // The earlier Window.partitionBy(band, band_hash) form re-shuffled and
    // sorted the whole banded table, and put every row of a hot bucket on
    // one task — the exact straggler the cap exists to prevent.
    val pruned =
      if (maxBucket <= 0) banded
      else
        // lazy checkpoint for the same reason as cappedShingleRows: with
        // the cap on, both join legs would recompute the signature
        // pipeline AND the hot-list aggregate (sig subtree ×3); one shared
        // RDD measured dedup_minhash 2.2→1.2 s at sf0.1
        dropHotKeys(banded, Seq("band", "band_hash"), maxBucket)
          .localCheckpoint(false)

    val a = pruned.select(col("band"), col("band_hash"),
      col("doc").as("id_a"), col("sig").as("sig_a"))
    val b = pruned.select(col("band"), col("band_hash"),
      col("doc").as("id_b"), col("sig").as("sig_b"))

    a.join(b, Seq("band", "band_hash"))
      .where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        // estimated Jaccard = fraction of matching minhashes
        (aggregate(
          zip_with(col("sig_a"), col("sig_b"),
            (x, y) => when(x === y, lit(1.0)).otherwise(lit(0.0))),
          lit(0.0), (acc, v) => acc + v
        ) / lit(numHashes.toDouble)).as("est_jaccard"))
      .distinct()
  }

  /** 64-bit SimHash per document (Charikar): per-word xxhash64, ±1 vote per
    * bit, sign → bit.
    *
    * One codegen'd pass over the word array
    * ([[graft.functions.SimHash64F]]) — the fingerprint is computed in the
    * scan stage with NO vote exchange at all. This replaces two earlier
    * forms: 64 conditional sums (whose aggregate buffer fell out of
    * codegen) and the 16-long packed-lane groupBy (codegen'd and
    * map-side-combinable, but still a per-doc shuffle, and its 4×16-bit
    * lanes capped documents at 32,767 words). The expression keeps plain
    * int counters, so the length bound is gone; values are bit-identical
    * for every previously-legal input (DedupSpec parity case). Docs with
    * null text drop out, mirroring the explode form.
    */
  def simHash(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.where(col(textCol).isNotNull)
      .select(col(idCol).as("doc"),
        graft.functions.MinHash.simHash64(split(col(textCol), " "))
          .as("simhash"))

  /** SimHash near-dup candidate pairs within Hamming distance `maxDist`,
    * blocked on 4×16-bit bands (a pair within distance 3 must agree on at
    * least one band — pigeonhole).
    */
  def simHashPairs(docs: DataFrame, idCol: String, textCol: String,
      maxDist: Int = 3): DataFrame = {
    val fp = simHash(docs, idCol, textCol)
    // both self-join sides recompute this — cheaper than caching here
    // (see minHashLsh note)
    val banded = fp.select(col("doc"), col("simhash"),
      posexplode(array((0 until 4).map(i =>
        shiftright(col("simhash"), i * 16).bitwiseAND(0xffffL)): _*))
        .as(Seq("band", "band_val")))
    val a = banded.select(col("band"), col("band_val"),
      col("doc").as("id_a"), col("simhash").as("fp_a"))
    val b = banded.select(col("band"), col("band_val"),
      col("doc").as("id_b"), col("simhash").as("fp_b"))
    val hamming = {
      // popcount of xor via bit_count
      bit_count(col("fp_a").bitwiseXOR(col("fp_b")))
    }
    a.join(b, Seq("band", "band_val"))
      .where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), hamming.cast("long").as("hamming"))
      .where(col("hamming") <= maxDist)
      .distinct()
  }

  /** Distinct (doc, shingle) rows with the hot-shingle frequency cap
    * applied: shingles appearing in more than `maxDf` documents are dropped
    * from the WHOLE computation (counts and joins alike, so any Jaccard
    * built on top stays a true Jaccard over the retained shingle set).
    *
    * This is the exact-tier twin of [[minHashLsh]]'s `maxBucket` guard: a
    * boilerplate 3-gram shared by 10⁶ docs would otherwise contribute 10¹²
    * rows to a shingle self-join. Dropping by document frequency is
    * deterministic (no sampling), and boilerplate shingles carry no
    * near-dup signal — C4-style pipelines strip them anyway
    * (see [[TextOps.boilerplateStats]]).
    *
    * Plan shape: the hot-shingle list is a map-side-combinable aggregate
    * whose output is tiny by construction (≤ total-occurrences / maxDf), so
    * it broadcasts and the cap costs one broadcast LEFT ANTI join — no
    * extra shuffle, no per-partition sort (a `Window.partitionBy(s)` form
    * would re-shuffle every consumer on the shingle key).
    */
  def cappedShingleRows(docs: DataFrame, idCol: String, textCol: String,
      shingleN: Int, maxDf: Long, hashKeys: Boolean = false): DataFrame = {
    // hashKeys: replace the gram text with xxhash64(s) at the SOURCE —
    // consumers that only count/join on the key (the pair tiers) shuffle
    // and checkpoint 8-byte longs instead of strings; consumers that need
    // the text (contamination reporting) keep the default
    val sh0 = shingleRows(docs, idCol, textCol, shingleN)
    val sh = if (hashKeys) sh0.select(col("doc"), xxhash64(col("s")).as("s"))
      else sh0
    if (maxDf <= 0) sh
    else
      // LAZY local checkpoint: with the cap on, every consumer (counts +
      // both self-join legs) would otherwise recompute BOTH the shingle
      // subtree and the hot-list aggregate — 6 evaluations instead of 1.
      // The checkpoint collapses the capped table into one shared RDD,
      // materialized on first use (measured at sf0.1: dedup_ngram
      // 4.8→1.9 s, edit_distance 4.4→1.9 s, dedup_cluster 4.4→2.7 s).
      // The uncapped path keeps pure recompute, which measured FASTER
      // than caching there (fewer consumers of a cheaper subtree).
      dropHotKeys(sh, Seq("s"), maxDf).localCheckpoint(false)
  }

  /** Exact n-gram Jaccard similarity for all pairs sharing ≥1 shingle.
    * (id_a, id_b, inter, union, jaccard) — the verification tier; also the
    * DuckDB-oracle-checkable face of near-dup detection.
    *
    * @param maxDf hot-shingle document-frequency cap (0 = uncapped); see
    *              [[cappedShingleRows]]. REQUIRED at corpus scale — the
    *              uncapped self-join is quadratic in the hottest shingle's
    *              document frequency.
    */
  /** The shared pair-generation tier of the exact text-similarity ops:
    * identical-text collapse → distinct capped shingles per REPRESENTATIVE
    * → shingle-equality self-join → member expansion →
    * (id_a, id_b, inter, n_a, n_b), id_a < id_b, one row per doc pair
    * sharing ≥1 retained shingle. [[ngramJaccard]] and [[containmentPairs]]
    * are one `select` each on top.
    *
    * IDENTICAL-TEXT COLLAPSE (round 10): exact copies are the hottest
    * rows of the shingle self-join — a duplicate family of size g shares
    * EVERY gram, multiplying each of its grams' df by g and the join's
    * Σ df² cost by g². Collapsing to one representative per distinct text
    * BEFORE the join and expanding the pair list afterwards is
    * output-identical (identical text ⇒ identical shingle set ⇒ identical
    * counts: cross-family pairs inherit the rep pair's (inter, n_a, n_b),
    * within-family pairs share their whole retained set, inter = n) and is
    * the RefinedWeb exact-before-near ladder applied INSIDE the exact
    * tier. The hot-gram cap keeps document-level semantics: df is the
    * family-size-weighted rep count — exactly the number of DOCUMENTS
    * carrying the gram — so the retained shingle set matches the
    * uncollapsed form's (both declared queries stay DuckDB-oracle-exact).
    *
    * 8-byte join keys (round 9): the pair self-join moves xxhash64(gram),
    * not gram text. Per-doc counts and intersection sizes are unchanged
    * short of a 64-bit collision inside one document's shingle set
    * (~|shingles|²·2⁻⁶⁴).
    */
  /** `keep(inter, n_a, n_b)` is the caller's pair threshold, applied AT
    * THE REP-PAIR AGGREGATE — before the count attach and the member
    * expansion. On low-entropy corpora (small gram vocabulary — the x10
    * soak measures 30k distinct grams at avg df 78) almost every doc pair
    * shares SOME gram, so the aggregate emits tens of millions of
    * below-threshold pairs; filtering them inside the aggregate stage
    * instead of after two more pair-keyed shuffles is the difference
    * between a linear-ish and a quadratic tail. The predicate must be
    * symmetric in (n_a, n_b) (jaccard and max-containment both are);
    * within-family pairs (inter = n_a = n_b) pass any threshold ≤ 1 by
    * construction and are emitted unconditionally.
    */
  private def pairCounts(docs: DataFrame, idCol: String, textCol: String,
      shingleN: Int, maxDf: Long,
      keep: (Column, Column, Column) => Column = (_, _, _) => lit(true))
      : DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy("__t")
    // one corpus shuffle on the text key; checkpointed because the rep
    // table, the weighted-df aggregate and both expansion legs read it
    val members = docs
      .select(col(idCol).as("__id"), col(textCol).as("__t"))
      .where(col("__t").isNotNull)
      .withColumn("__rep", min(col("__id")).over(w))
      .withColumn("__gsz", count(lit(1)).over(w))
      .localCheckpoint(false)
    val reps = members.where(col("__id") === col("__rep"))
      // the family size rides the gram expansion inside the id struct, so
      // the weighted-df aggregate below needs NO join back to the rep
      // table (a join there re-sorted the whole gram table per query)
      .select(struct(col("__rep").as("doc"), col("__gsz")).as("__dg"),
        col("__t"))
    val shRaw = shingleRows(reps, "__dg", "__t", shingleN)
      .select(col("doc.doc").as("doc"), col("doc.__gsz").as("__gsz"),
        xxhash64(col("s")).as("s"))
    val shAll = shRaw.select(col("doc"), col("s"))
    val sh = (if (maxDf <= 0) shAll
    else {
      val hot = shRaw
        .groupBy("s").agg(sum(col("__gsz")).as("__df"))
        .where(col("__df") > maxDf)
        .select("s")
      shAll.join(broadcast(hot), Seq("s"), "left_anti")
    }).localCheckpoint(false)
    val counts = sh.groupBy("doc").agg(count(lit(1)).as("n"))
    // per-rep gram counts RIDE THE JOIN LEGS (attached once onto the
    // checkpointed gram table — AQE broadcasts the count side while it
    // fits, falls back to a doc-keyed shuffle at corpus scale) so the
    // pair aggregate owns (inter, n_a, n_b) outright: the caller's
    // threshold fuses into the aggregate stage and no pair-keyed count
    // join ever runs
    val shN = sh.join(counts, "doc")
    val pairsRep = shN.as("x")
      .join(shN.as("y"), col("x.s") === col("y.s") &&
        col("x.doc") < col("y.doc"))
      .groupBy(col("x.doc").as("__ra"), col("y.doc").as("__rb"),
        col("x.n").as("__na"), col("y.n").as("__nb"))
      .agg(count(lit(1)).as("inter"))
      .where(keep(col("inter"), col("__na"), col("__nb")))
    // cross-family expansion: every member pair across the two families
    // inherits the rep pair's counts; id order re-canonicalized (a copy's
    // id can sort on either side of the other family's ids)
    val memA = members.select(col("__rep").as("__ra"), col("__id").as("__ia"))
    val memB = members.select(col("__rep").as("__rb"), col("__id").as("__ib"))
    val cross = pairsRep
      .join(memA, "__ra")
      .join(memB, "__rb")
      .select(
        least(col("__ia"), col("__ib")).as("id_a"),
        greatest(col("__ia"), col("__ib")).as("id_b"),
        col("inter"),
        when(col("__ia") <= col("__ib"), col("__na")).otherwise(col("__nb"))
          .as("n_a"),
        when(col("__ia") <= col("__ib"), col("__nb")).otherwise(col("__na"))
          .as("n_b"))
    // within-family pairs: identical docs share their whole retained
    // shingle set (inter = n); families whose text retains no shingle
    // (short text, or fully capped) share nothing and emit nothing —
    // the `counts` join enforces that, matching the uncollapsed form
    val withinBase = counts
      .join(members.select(col("__rep").as("doc"), col("__id")), "doc")
    val within = withinBase.as("p")
      .join(withinBase.as("q"),
        col("p.doc") === col("q.doc") && col("p.__id") < col("q.__id"))
      .select(col("p.__id").as("id_a"), col("q.__id").as("id_b"),
        col("p.n").as("inter"), col("p.n").as("n_a"), col("p.n").as("n_b"))
    cross.unionByName(within)
  }

  def ngramJaccard(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int = 3,
      minJaccard: Double = 0.0,
      maxDf: Long = 0L
  ): DataFrame =
    // the threshold ALSO rides into pairCounts' rep-pair aggregate (see
    // its `keep` doc) — this outer where is then a no-op re-statement
    // that keeps the semantics readable and the minJaccard=0 contract
    // (every pair sharing ≥1 retained gram) intact
    pairCounts(docs, idCol, textCol, shingleN, maxDf,
      keep = (i, na, nb) =>
        i.cast("double") / (na + nb - i) >= minJaccard)
      .select(col("id_a"), col("id_b"), col("inter"),
        (col("n_a") + col("n_b") - col("inter")).as("union"),
        (col("inter").cast("double") /
          (col("n_a") + col("n_b") - col("inter"))).as("jaccard"))
      .where(col("jaccard") >= minJaccard)

  /** Exact n-gram CONTAINMENT for all pairs sharing ≥1 retained shingle:
    * C(A⊆B) = |A∩B| / |A| — the asymmetric twin of [[ngramJaccard]] that
    * catches subset duplication (a doc embedded verbatim inside a longer
    * one scores near 1 here while its Jaccard can be arbitrarily low).
    * Same plan shape and `maxDf` hot-shingle guard as the Jaccard tier;
    * the extra columns are free (the counts join already carries n_a/n_b).
    *
    * Scale note: unlike the Jaccard tier, containment pairs CANNOT be
    * pre-filtered through [[minHashCandidates]] — a short doc inside a
    * long one has low Jaccard, exactly the pairs MinHash-LSH is built to
    * skip. The shingle-partitioned join with the `maxDf` cap IS the scale
    * path here (cost ∝ Σ df² over retained shingles, bounded by the cap);
    * at corpus scale raise `shingleN` so fewer shingles collide, or
    * restrict `docs` to a suspect slice first.
    *
    * @param minContainment keep pairs whose LARGER direction
    *                       (inter / min(n_a, n_b)) reaches this threshold
    * @return (id_a, id_b, inter, n_a, n_b, cont_a, cont_b, containment)
    *         with cont_x = inter/n_x and containment = max(cont_a, cont_b)
    */
  def containmentPairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int = 3,
      minContainment: Double = 0.0,
      maxDf: Long = 0L
  ): DataFrame =
    pairCounts(docs, idCol, textCol, shingleN, maxDf,
      keep = (i, na, nb) =>
        greatest(i.cast("double") / na, i.cast("double") / nb)
          >= minContainment)
      .select(col("id_a"), col("id_b"), col("inter"), col("n_a"), col("n_b"),
        (col("inter").cast("double") / col("n_a")).as("cont_a"),
        (col("inter").cast("double") / col("n_b")).as("cont_b"))
      .withColumn("containment", greatest(col("cont_a"), col("cont_b")))
      .where(col("containment") >= minContainment)

  /** Exact n-gram Jaccard for a GIVEN candidate-pair list — the verify
    * stage of the tiered pipeline (LSH proposes, exact verifies). Unlike
    * [[ngramJaccard]] this never self-joins the corpus: cost is linear in
    * Σ|shingles| over the candidate pairs, so a 100 TB corpus pays only for
    * the (orders-of-magnitude smaller) candidate set.
    *
    * Candidates that share no retained shingle drop out (inner join) —
    * their Jaccard is 0, below any useful threshold.
    *
    * @param cand (id_a, id_b) candidate pairs, id_a < id_b
    * @return (id_a, id_b, inter, union, jaccard) — same schema/semantics as
    *         [[ngramJaccard]] restricted to `cand`
    */
  def verifyJaccard(
      cand: DataFrame,
      docs: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int = 3,
      maxDf: Long = 0L
  ): DataFrame = {
    // localCheckpoint: three consumers (per-doc counts, the a-side and
    // b-side joins) partition this subtree on three DIFFERENT keys, so
    // exchange reuse never fires and the explode + hot-shingle-cap
    // pipeline would run three times per query. hashKeys: the verify
    // joins shuffle 8-byte gram hashes, not gram text (see pairCounts)
    val sh = cappedShingleRows(docs, idCol, textCol, shingleN, maxDf,
        hashKeys = true)
      .localCheckpoint(false)
    val counts = sh.groupBy("doc").agg(count(lit(1)).as("n"))
    val inter = cand
      .join(sh.select(col("doc").as("id_a"), col("s")), Seq("id_a"))
      .join(sh.select(col("doc").as("id_b"), col("s")), Seq("id_b", "s"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("inter"))
    inter
      .join(counts.select(col("doc").as("id_a"), col("n").as("n_a")), "id_a")
      .join(counts.select(col("doc").as("id_b"), col("n").as("n_b")), "id_b")
      .select(col("id_a"), col("id_b"), col("inter"),
        (col("n_a") + col("n_b") - col("inter")).as("union"),
        (col("inter").cast("double") /
          (col("n_a") + col("n_b") - col("inter"))).as("jaccard"))
  }

  /** The banded signature rows of a corpus — (doc, band, band_hash), the
    * storable/joinable form of the LSH index. Batch path: explode +
    * codegen'd min-aggregations (see [[minHashLsh]] for why not the lambda
    * form).
    */
  def bandRows(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int = 3,
      numHashes: Int = 32,
      bands: Int = 16
  ): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    // fully NARROW: per-row codegen'd signature + band hashes — no
    // signature exchange at all (the previous explode + k-min groupBy
    // form shuffled every shingle row on doc before banding). Min over
    // the distinct shingle ARRAY equals min over the exploded multiset,
    // and both expressions are bit-identical to the xxhash64 composition
    // (DedupSpec parity case), so bucket contents don't move.
    docs
      .where(size(split(col(textCol), " ")) >= shingleN)
      .select(
        col(idCol).as("doc"),
        posexplode(graft.functions.MinHash.bandHashes(
          minHashSignature(shingles(col(textCol), shingleN), numHashes),
          bands)).as(Seq("band", "band_hash")))
  }

  /** LSH candidate pairs WITHOUT the signature/estimate columns — the lean
    * generator for the tiered pipeline, where exact verification follows
    * anyway. Dropping `sig` before the self-join means the join moves
    * three narrow columns instead of a 32-long array per banded row
    * (measured: routing dedup_cluster through this instead of
    * [[minHashLsh]] saved ~1.8 s at sf0.1). Pure recompute on both legs —
    * the skinny subtree is cheaper to re-run than to materialize (unlike
    * the fat banded table in [[minHashLsh]], which checkpoints).
    */
  def minHashCandidates(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int = 3,
      numHashes: Int = 32,
      bands: Int = 16,
      maxBucket: Int = 0
  ): DataFrame = {
    val banded = bandRows(docs, idCol, textCol, shingleN, numHashes, bands)
    // pure recompute on both legs — the skinny subtree is cheaper to re-run
    // than to materialize (unlike minHashLsh's fat banded table)
    val pruned =
      if (maxBucket <= 0) banded
      else dropHotKeys(banded, Seq("band", "band_hash"), maxBucket)
    pruned.as("a")
      .join(pruned.as("b"), Seq("band", "band_hash"))
      .where(col("a.doc") < col("b.doc"))
      .select(col("a.doc").as("id_a"), col("b.doc").as("id_b"))
      .distinct()
  }

  /** Persist the LSH band index of a corpus, partitioned by band — the
    * "write the signature table once and join against it" form every
    * in-plan recompute comment points at. At 100 TB the corpus is indexed
    * ONCE; each new ingest batch joins against this table instead of
    * re-pairing the whole corpus (see [[candidatesAgainstIndex]]).
    *
    * Layout: batch writes land in `path/batch`, the streaming writer in
    * `path/stream` — SEPARATE segment dirs because a streaming file sink's
    * `_spark_metadata` log claims its whole directory: a reader of a mixed
    * dir would silently see only the stream-committed files. Readers union
    * whichever segments exist.
    */
  def writeBandIndex(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      path: String,
      shingleN: Int = 3,
      numHashes: Int = 32,
      bands: Int = 16
  ): Unit =
    bandRows(docs, idCol, textCol, shingleN, numHashes, bands)
      .write.mode("append").partitionBy("band").parquet(s"$path/batch")

  /** Streaming maintenance of the band index: documents arriving on a
    * stream land band-partitioned, same layout as [[writeBandIndex]] (the
    * dedup twin of [[Similarity.ivfStreamWriter]]). The signature here is
    * the PER-ROW lambda form — a streaming aggregate would need watermarks
    * and the arriving micro-batches are small by definition; min over a
    * multiset ignores duplicates, so it equals the batch path's
    * distinct-shingle aggregation exactly (asserted in StreamDedupSpec).
    */
  def bandIndexStreamWriter(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      path: String,
      checkpoint: String,
      shingleN: Int = 3,
      numHashes: Int = 32,
      bands: Int = 16
  ): org.apache.spark.sql.streaming.StreamingQuery = {
    val rowsPerBand = numHashes / bands
    require(bands * rowsPerBand == numHashes, "bands must divide numHashes")
    val sig = minHashSignature(shingles(col(textCol), shingleN), numHashes)
    docs
      // docs shorter than shingleN words have no shingles: the batch path
      // emits zero rows for them — mirror that instead of emitting a
      // null-signature row (minHashSignature is null there)
      .where(size(split(col(textCol), " ")) >= shingleN)
      .select(
        col(idCol).as("doc"),
        posexplode(graft.functions.MinHash.bandHashes(sig, bands))
          .as(Seq("band", "band_hash")))
      .writeStream.format("parquet")
      .option("path", s"$path/stream") // segment dir — see writeBandIndex
      .option("checkpointLocation", checkpoint)
      .partitionBy("band")
      .outputMode("append")
      .start()
  }

  /** Incremental near-dup candidates: a NEW batch of documents against the
    * persisted band index — the 100 TB ingest pattern (cost ∝ batch ×
    * matching buckets, never corpus²). Returns normalized (id_a < id_b)
    * pairs where at least one side is a new doc; batch-internal pairs are
    * included (the new docs' bands join themselves through the index iff
    * the index already contains them — pass an index that does, or union).
    *
    * @param maxBucket cap applied to INDEX bucket sizes (aggregate over
    *                  the index scan + broadcast anti-join, same guard as
    *                  [[minHashCandidates]])
    */
  def candidatesAgainstIndex(
      newDocs: DataFrame,
      idCol: String,
      textCol: String,
      indexPath: String,
      shingleN: Int = 3,
      numHashes: Int = 32,
      bands: Int = 16,
      maxBucket: Int = 0
  ): DataFrame = {
    val spark = newDocs.sparkSession
    // union whichever segments exist (batch-indexed corpus + streamed tail)
    val fs = new org.apache.hadoop.fs.Path(indexPath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val segments = Seq(s"$indexPath/batch", s"$indexPath/stream")
      .filter(p => fs.exists(new org.apache.hadoop.fs.Path(p)))
    require(segments.nonEmpty, s"no band-index segments under $indexPath")
    // one read per segment root (a multi-root partitioned read trips
    // partition discovery), unioned — same partition pruning per leg
    val idx0 = segments
      .map(p => spark.read.parquet(p)
        .select(col("doc"), col("band"), col("band_hash")))
      .reduce(_ unionByName _)
    val idx =
      if (maxBucket <= 0) idx0
      else dropHotKeys(idx0, Seq("band", "band_hash"), maxBucket)
    bandRows(newDocs, idCol, textCol, shingleN, numHashes, bands)
      .select(col("doc").as("__new"), col("band"), col("band_hash"))
      .join(idx, Seq("band", "band_hash"))
      .where(col("__new") =!= col("doc"))
      .select(least(col("__new"), col("doc")).as("id_a"),
        greatest(col("__new"), col("doc")).as("id_b"))
      .distinct()
  }

  /** Tiered near-dup pairs — the 100 TB composition: MinHash-LSH proposes
    * candidates (banded, skew-capped, via [[minHashCandidates]]), exact
    * Jaccard verifies survivors. No corpus-wide shingle self-join anywhere
    * in the plan.
    *
    * Recall note: a true pair is missed only if ALL `bands` bands disagree —
    * P(miss) = (1−J^r)^bands with r = numHashes/bands. Near-dup thresholds
    * worth clustering on (J ≥ ~0.7) with r=2, bands=16 give P(miss) < 1e-8;
    * DedupSpec asserts pair-set equality vs the exact tier on the test
    * corpora.
    *
    * @return (id_a, id_b) pairs with exact Jaccard ≥ minJaccard
    */
  def nearDupPairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int = 3,
      minJaccard: Double = 0.5,
      numHashes: Int = 32,
      bands: Int = 16,
      maxBucket: Int = 0,
      maxDf: Long = 0L
  ): DataFrame = {
    val cand = minHashCandidates(docs, idCol, textCol, shingleN, numHashes,
      bands, maxBucket)
    verifyJaccard(cand, docs, idCol, textCol, shingleN, maxDf)
      .where(col("jaccard") >= minJaccard)
      .select("id_a", "id_b")
  }

  /** End-to-end corpus deduplication — the operation every tier above is a
    * stage of: tiered near-dup pairs ([[nearDupPairs]]: LSH proposes, exact
    * Jaccard verifies), connected components ([[connectedComponents]]), keep
    * the minimum id per cluster, return the SURVIVING rows of `docs` with
    * the size of the cluster each survivor represents (`n_members` = 1 for
    * docs with no near-dup).
    *
    * Scale shape: pair generation is banded + skew-capped (never corpus²),
    * the component solve runs on the pair graph (orders of magnitude
    * smaller than the corpus), and the final keep is one join of the corpus
    * against the (small) survivor-label table — the corpus itself is
    * scanned, never self-joined.
    */
  def dedupCorpus(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int = 3,
      minJaccard: Double = 0.5,
      numHashes: Int = 32,
      bands: Int = 16,
      maxBucket: Int = 0,
      maxDf: Long = 0L
  ): DataFrame = {
    // same integral-id contract as connectedComponents: a non-numeric
    // string id would cast to null in the keeper join below and silently
    // return an empty corpus instead of failing
    require(integralId(docs, idCol),
      s"dedupCorpus needs an integral (long-castable) id column; " +
        s"'$idCol' is ${docs.schema(idCol).dataType.simpleString}")
    val pairs = nearDupPairs(docs, idCol, textCol, shingleN, minJaccard,
      numHashes, bands, maxBucket, maxDf)
    val cc = connectedComponents(pairs, docs.select(idCol), idCol)
    val sizes = cc.groupBy("label").agg(count(lit(1)).as("n_members"))
    val keepers = cc.where(col("node") === col("label"))
      .join(sizes, "label")
      .select(col("node").as("__keep"), col("n_members"))
    docs.join(keepers, docs(idCol).cast("long") === col("__keep"))
      .drop("__keep")
  }

  /** Connected components over near-dup pairs: the step that turns pairwise
    * duplicate evidence into dedup groups ("keep one doc per cluster").
    * Deterministic — the label of a component is its smallest member id.
    *
    * @param pairs undirected edges (id_a, id_b); ids must be integral
    *              (castable to long — both paths cast, so output schema is
    *              (node LONG, label LONG) regardless of which path runs)
    * @param nodes one row per node (`idCol`) — isolated nodes keep their
    *              own id as the cluster label
    * @param maxDriverEdges pair graphs at or below this size are solved
    *              with driver-side union-find: ONE job (a limit-bounded
    *              collect), zero iterations. The pair graph is the OUTPUT
    *              of near-dup detection, orders of magnitude smaller than
    *              the corpus, so this is the common case even at 100 TB —
    *              the same "small model on the driver, big data on the
    *              executors" split as the ANN index fits. Larger graphs
    *              take [[connectedComponentsStar]], whose O(log n) rounds
    *              shuffle only the pair graph.
    * @return (node, label)
    */
  def connectedComponents(
      pairs: DataFrame, nodes: DataFrame, idCol: String,
      maxDriverEdges: Long = 1000000L): DataFrame = {
    val spark = nodes.sparkSession
    import spark.implicits._
    val p = pairs.select(col("id_a").cast("long"), col("id_b").cast("long"))
    // probe with a bounded collect: if the whole pair list fits under the
    // limit we already hold it — no checkpoint, no count job, no recompute
    // clamp to what a driver array can actually hold — a larger request
    // (or Long.MaxValue) must route to the distributed path, not probe a
    // truncated edge list and silently solve an incomplete graph
    val cap = math.min(maxDriverEdges, Int.MaxValue.toLong - 2)
    val probe = p.limit((cap + 1).toInt)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val labels = if (probe.length <= cap) {
      // union-find with path compression; union-by-min ⇒ every component's
      // root (= label) is its minimum id
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
        var c = x
        while (parent.getOrElse(c, c) != r) { val q = parent(c); parent(c) = r; c = q }
        r
      }
      probe.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val withEdge = probe.flatMap(e => Seq(e._1, e._2)).distinct
      broadcast(withEdge.map(n => (n, find(n))).toSeq.toDF("node", "label"))
    } else connectedComponentsStar(p)
    // isolated nodes can never change label, so they stay out of both
    // solvers and rejoin here — the star rounds shuffle the pair graph,
    // never the corpus
    nodes.select(col(idCol).cast("long").as("node"))
      .join(labels, Seq("node"), "left")
      .select(col("node"), coalesce(col("label"), col("node")).as("label"))
  }

  /** Connected components by alternating large-star / small-star rounds
    * (Kiveris et al., "Connected Components in MapReduce and Beyond") —
    * the distributed path of [[connectedComponents]]. It converges in
    * O(log n) rounds, where min-label propagation would need diameter
    * rounds. Each round is one groupBy + one join over the edge set; the
    * edge set only shrinks toward a star per component, so rounds cost
    * less as they go, and `localCheckpoint` truncates lineage each round
    * (the candidate-pair input is computed once, by the first pin).
    * Returns (node, label) for nodes that appear in `pairs`; the label is
    * the component's minimum id (asserted equal to the driver union-find
    * path on random graphs in DedupSpec).
    *
    *  - large-star: every directed pair (u,v), v > u, re-links v to
    *    m(u) = min(Γ(u) ∪ u) — tall trees flatten geometrically.
    *  - small-star: every directed pair (u,v), v ≤ u, re-links v (and u)
    *    to m≤(u) = min over u's smaller neighbors — stars canonicalize.
    */
  def connectedComponentsStar(pairs: DataFrame): DataFrame = {
    def canon(df: DataFrame): DataFrame = df
      .select(least(col("u"), col("v")).as("u"),
        greatest(col("u"), col("v")).as("v"))
      .where(col("u") =!= col("v"))
      .distinct()
    def adj(e: DataFrame): DataFrame =
      e.select(col("u").as("x"), col("v").as("y"))
        .union(e.select(col("v").as("x"), col("u").as("y")))

    var e = canon(pairs.select(col("id_a").as("u"), col("id_b").as("v")))
      .localCheckpoint(true)
    var done = e.isEmpty
    var rounds = 0
    while (!done && rounds < 30) {
      // large-star
      val a1 = adj(e)
      val m1 = a1.groupBy("x").agg(min(col("y")).as("mn"))
        .select(col("x"), least(col("mn"), col("x")).as("m"))
      val ls = canon(a1.join(m1, "x").where(col("y") > col("x"))
        .select(col("y").as("u"), col("m").as("v")))
      // small-star
      val a2 = adj(ls).where(col("y") <= col("x"))
      val m2 = a2.groupBy("x").agg(min(col("y")).as("m"))
      val ss = canon(
        a2.join(m2, "x").select(col("y").as("u"), col("m").as("v"))
          .union(m2.select(col("x").as("u"), col("m").as("v"))))
        .localCheckpoint(true)
      // converged when the edge set is stable (set equality both ways)
      done = ss.count() == e.count() &&
        ss.except(e).isEmpty
      e = ss
      rounds += 1
    }
    // fail loudly: labels from a still-evolving edge set would silently
    // split real duplicate clusters
    if (!done && !e.isEmpty) throw new IllegalStateException(
      "connectedComponentsStar did not converge in 30 rounds")
    // converged edges form stars rooted at component minima
    adj(e).groupBy(col("x").as("node"))
      .agg(min(col("y")).as("mn"))
      .select(col("node"), least(col("mn"), col("node")).as("label"))
  }

  /** Train/eval contamination check — the decontamination step of an LLM
    * data pipeline: for each EVAL document, the fraction of its distinct
    * n-gram shingles that appear anywhere in the TRAIN corpus. Ratios near
    * 1 mean the eval doc leaks into training data.
    *
    * Scale shape (train is the 100 TB side): the train leg is a RAW
    * shingle scan — no corpus-wide distinct, no train-side shuffle. The
    * (small) eval shingle set broadcasts into the join; only the matched
    * (eval doc, shingle) pairs — bounded by the eval corpus size — are
    * deduplicated and aggregated.
    *
    * @return (idCol, n_shingles, n_matched, contamination_ratio) — one row
    *         per eval document, 0 ratio when nothing matches
    */
  def contamination(
      train: DataFrame,
      evalDocs: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int = 3
  ): DataFrame = {
    val ev = shingleRows(evalDocs, idCol, textCol, shingleN) // distinct (doc,s)
    val evCounts = ev.groupBy("doc").agg(count(lit(1)).as("n_shingles"))
    val matched = shingleRows(train, idCol, textCol, shingleN, distinct = false)
      .select("s")
      .join(broadcast(ev), Seq("s"))
      .select("doc", "s").distinct()
      .groupBy("doc").agg(count(lit(1)).as("n_matched"))
    // anchor on the eval DOC set, not the shingle counts: a doc shorter
    // than shingleN words has no shingles and would otherwise vanish from
    // the report — it must appear with n_shingles = 0, ratio 0
    evalDocs.select(col(idCol).cast("long").as("doc")).distinct()
      .join(evCounts, Seq("doc"), "left")
      .join(matched, Seq("doc"), "left")
      .select(col("doc").as(idCol),
        coalesce(col("n_shingles"), lit(0L)).as("n_shingles"),
        coalesce(col("n_matched"), lit(0L)).as("n_matched"),
        when(coalesce(col("n_shingles"), lit(0L)) === 0L, lit(0.0))
          .otherwise(coalesce(col("n_matched"), lit(0L)).cast("double") /
            col("n_shingles").cast("double")).as("contamination_ratio"))
  }

  /** Unsigned right shift with a COLUMN shift amount (functions.shiftright
    * only takes a literal Int) — bridges the Catalyst expression directly,
    * stays inside whole-stage codegen.
    */
  private def shru(x: Column, n: Column): Column = {
    import org.apache.spark.sql.graftbridge.Bridge
    Bridge.column(
      org.apache.spark.sql.catalyst.expressions.ShiftRightUnsigned(
        Bridge.expression(x), Bridge.expression(n)))
  }

  /** Bloom-filter decontamination — the map-only scale tier of
    * [[contamination]], flagging TRAIN docs (the side a decontamination
    * pass actually drops; the exact tier reports per-eval-doc overlap).
    *
    * The eval set's distinct shingles fold into a fixed-size Bloom bitmap
    * (k = `numHashes` xxhash64 probes into m = next-pow-2 of
    * `bitsPerGram`×grams bits). Eval sets are benchmark-sized by nature,
    * so the bitmap is KBs–MBs REGARDLESS of train-corpus scale; it ships
    * to executors as one array<bigint> literal. Train-side membership is
    * k codegen'd hash+bit probes per shingle — NO join and NO train-side
    * shuffle except the closing per-doc aggregate, where exact
    * [[contamination]] shuffles every train shingle into a broadcast join.
    * At 100 TB of train text this is the screen you run first (or instead:
    * its error is one-sided — a miss is definitive, a hit may be a false
    * positive at rate ≈ (1−e^{−kn/m})^k ≈ 0.0094 at the 16-bits/gram,
    * k=5 defaults — so exact-contaminated ⊆ bloom-flagged, spec-gated in
    * DedupSpec).
    *
    * The driver-side collect is the SET-BIT INDEX LIST — bounded by
    * k × eval grams, an eval-sized quantity like [[contamination]]'s
    * broadcast eval shingle set, never anything train-sized.
    *
    * @return (idCol, n_shingles, n_flagged, flag_ratio, contaminated) —
    *         one row per train doc; short docs keep n_shingles = 0
    */
  def contaminationBloom(
      train: DataFrame,
      evalDocs: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int = 3,
      bitsPerGram: Int = 16,
      numHashes: Int = 5
  ): DataFrame = {
    val grams = shingleRows(evalDocs, idCol, textCol, shingleN)
      .select("s").distinct()
    val nGrams = math.max(1L, grams.count())
    val mBits = java.lang.Long.highestOneBit(
      math.max(64L, nGrams * bitsPerGram) * 2 - 1)
    val probes = (i: Column) =>
      (0 until numHashes).map(k => pmod(xxhash64(lit(k), i), lit(mBits)))
    val setBits = grams
      .select(explode(array(probes(col("s")): _*)).as("idx"))
      .distinct().collect().map(_.getLong(0))
    val words = new Array[Long]((mBits >>> 6).toInt)
    setBits.foreach(b => words((b >>> 6).toInt) |= (1L << (b & 63L).toInt))
    val bm = typedlit(words.toSeq)
    val hit = probes(col("s")).map { idx =>
      (shru(element_at(bm, shru(idx, lit(6)).cast("int") + 1),
        idx.bitwiseAND(lit(63L)).cast("int")).bitwiseAND(lit(1L)) === 1L)
        .cast("int")
    }.reduce(_ * _) // all k bits set ⇔ product of the 0/1 probes is 1
    val flagged = shingleRows(train, idCol, textCol, shingleN)
      .withColumn("hit", hit.cast("long"))
      .groupBy("doc")
      .agg(count(lit(1)).as("n_shingles"), sum("hit").as("n_flagged"))
    train.select(col(idCol).cast("long").as("doc")).distinct()
      .join(flagged, Seq("doc"), "left")
      .select(col("doc").as(idCol),
        coalesce(col("n_shingles"), lit(0L)).as("n_shingles"),
        coalesce(col("n_flagged"), lit(0L)).as("n_flagged"),
        when(coalesce(col("n_shingles"), lit(0L)) === 0L, lit(0.0))
          .otherwise(coalesce(col("n_flagged"), lit(0L)).cast("double") /
            col("n_shingles").cast("double")).as("flag_ratio"),
        (coalesce(col("n_flagged"), lit(0L)) > 0L).as("contaminated"))
  }

  /** Embedding near-dup: pairs of vectors with cosine ≥ threshold, candidate-
    * limited to shared LSH buckets (see [[Similarity.lshBucketed]]).
    *
    * `maxBucket` > 0 engages the [[Similarity.lshBandedCapped]] skew
    * guard (hot buckets split with fresh hyperplane bits; degenerate
    * residue dropped) — same role as this file's MinHash `maxBucket` /
    * n-gram `maxDf` caps, bounding the within-bucket quadratic on
    * anisotropic corpora.
    *
    * `tables` > 1 OR-amplifies like the MinHash bands: a pair colliding in
    * ANY of the independent hyperplane tables is a candidate, recall
    * 1−(1−p)^L for per-table collision probability p = (1−θ/π)^nbits.
    * Low cosine thresholds (large θ) make single-table recall poor —
    * measured 0.14 at minCosine 0.3 / nbits 4 (`graft.Recall`) — so pick
    * `tables` from the threshold, not taste. `probes` > 0 adds
    * query-directed multi-probe rows on one join leg
    * ([[Similarity.lshBandedCappedProbed]]): recall per byte between
    * table-count steps, since a probe row widens one leg where a new
    * table replicates the whole corpus into both.
    */
  def embeddingNearDup(
      embs: DataFrame,
      idCol: String,
      vecCol: String,
      dim: Int,
      nbits: Int,
      minCosine: Double,
      maxBucket: Long = 0L,
      tables: Int = 1,
      probes: Int = 0
  ): DataFrame = {
    val bucketed =
      if (probes == 0) Similarity.lshBandedCapped(embs, vecCol, dim, nbits,
        tables, maxBucket)
      else Similarity.lshBandedCappedProbed(embs, vecCol, dim, nbits,
        tables, maxBucket, probes)
    if (tables == 1 && probes == 0) {
      // single table: buckets disjoint ⇒ pairs unique; norms once per
      // vector BEFORE the pair join (each vector appears in many pairs;
      // computing norm2 per pair tripled the per-pair work), vectors ride
      // the bucket join, one dot per pair
      val n = bucketed.withColumn("__norm", sqrt(Similarity.norm2(col(vecCol))))
      val a = n.select(col("tbl"), col("lsh_bucket"), col(idCol).as("id_a"),
        col(vecCol).as("v_a"), col("__norm").as("n_a"))
      val b = n.select(col("tbl"), col("lsh_bucket"), col(idCol).as("id_b"),
        col(vecCol).as("v_b"), col("__norm").as("n_b"))
      a.join(b, Seq("tbl", "lsh_bucket"))
        .where(col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"),
          (Similarity.dot(col("v_a"), col("v_b")) /
            (col("n_a") * col("n_b"))).as("cosine"))
        .where(col("cosine") >= minCosine)
        .distinct()
    } else {
      // OR-amplified: dedup the 16-byte (id_a, id_b) candidate rows BEFORE
      // attaching vectors, so a pair colliding in m of the L tables is
      // scored once, not m times (the same restructure as
      // [[Similarity.knnJoin]]; measured ~2× on the 8-table config, same
      // candidate set and output)
      val cand = if (probes == 0) {
        val pa = bucketed.select(col("tbl"), col("lsh_bucket"),
          col(idCol).as("id_a"))
        val pb = bucketed.select(col("tbl"), col("lsh_bucket"),
          col(idCol).as("id_b"))
        pa.join(pb, Seq("tbl", "lsh_bucket"))
          .where(col("id_a") < col("id_b"))
          .select("id_a", "id_b").distinct()
      } else {
        // multi-probe: home leg vs home∪probe leg; canonicalize — a pair
        // can collide in either orientation (see Similarity.knnJoin)
        val pa = bucketed.where(col("__home"))
          .select(col("tbl"), col("lsh_bucket"), col(idCol).as("id_a"))
        val pb = bucketed.select(col("tbl"), col("lsh_bucket"),
          col(idCol).as("id_b"))
        pa.join(pb, Seq("tbl", "lsh_bucket"))
          .where(col("id_a") =!= col("id_b"))
          .select(least(col("id_a"), col("id_b")).as("id_a"),
            greatest(col("id_a"), col("id_b")).as("id_b"))
          .distinct()
      }
      val vec = embs.select(col(idCol), col(vecCol))
        .withColumn("__norm", sqrt(Similarity.norm2(col(vecCol))))
      cand
        .join(vec.select(col(idCol).as("id_a"), col(vecCol).as("v_a"),
          col("__norm").as("n_a")), "id_a")
        .join(vec.select(col(idCol).as("id_b"), col(vecCol).as("v_b"),
          col("__norm").as("n_b")), "id_b")
        .select(col("id_a"), col("id_b"),
          (Similarity.dot(col("v_a"), col("v_b")) /
            (col("n_a") * col("n_b"))).as("cosine"))
        .where(col("cosine") >= minCosine)
    }
  }

  // ───────────────────────── substring-level dedup ──────────────────────

  /** Every k-gram occurrence site as (doc, pos, g): one row per POSITION,
    * not per distinct gram — span analysis needs each site, including a
    * gram repeating inside one document. `pos` is the 0-based index of the
    * gram's first token. Same zipped-slice construction as [[shingleRows]]
    * (plain expressions, narrow generator, no shuffle); `posexplode` keeps
    * the position that a window-`lead` form would have bought with a
    * shuffle+sort.
    */
  def spanSites(docs: DataFrame, idCol: String, textCol: String,
      k: Int): DataFrame = {
    val words = split(col(textCol), " ")
    val nGrams = greatest(size(words) - (k - 1), lit(0))
    val parts = (0 until k).map(j => slice(words, lit(j + 1), nGrams))
    docs
      .select(col(idCol).as("doc"),
        posexplode(arrays_zip(parts: _*)).as(Seq("pos", "z")))
      .select(col("doc"), col("pos"),
        concat_ws(" ", (0 until k).map(j => col(s"z.$j")): _*).as("g"))
  }

  /** Per-document duplicated-span statistics — the substring tier of dedup
    * (Lee et al. 2022, "Deduplicating Training Data Makes Language Models
    * Better"): document-level tiers miss the license header or nav bar
    * pasted into thousands of otherwise-unique pages. A position is
    * duplicated when its word k-gram occurs at ≥ `minSites` sites anywhere
    * in the corpus (another document or elsewhere in the same one).
    * Returns (idCol, n_grams, n_dup, dup_frac) per document with ≥1 gram.
    *
    * Shape at 100 TB: one map-side-combinable aggregate keyed on the gram
    * and one join back — both shuffle on the gram key; swap the string for
    * xxhash64(g) to move 8-byte keys instead of text (collision-tolerant
    * for counting). Never a per-gram window: a hot boilerplate gram would
    * land its whole partition on one task. The sites table is evaluated by
    * both branches — persist/checkpoint it when the corpus scan dominates.
    */
  def duplicateSpanStats(docs: DataFrame, idCol: String, textCol: String,
      k: Int, minSites: Long = 2L): DataFrame = {
    // both the per-gram aggregate and the join-back probe consume the
    // exploded sites on the GRAM key: hash it to 8 bytes (site counts are
    // collision-tolerant) and checkpoint once so the explode doesn't run
    // twice — the two fixes the x10 soak flagged on this tier (the gram
    // text was the dominant shuffle payload)
    val sites = spanSites(docs, idCol, textCol, k)
      .select(col("doc"), xxhash64(col("g")).as("g"))
      .localCheckpoint(false)
    val cnt = sites.groupBy("g").agg(count(lit(1)).as("__sites"))
    sites.join(cnt, "g")
      .groupBy("doc")
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("__sites") >= minSites, 1L).otherwise(0L)).as("n_dup"))
      .withColumn("dup_frac",
        col("n_dup").cast("double") / col("n_grams").cast("double"))
      .withColumnRenamed("doc", idCol)
  }

  /** The scrub form: cut every token covered by a duplicated k-gram and
    * re-join the survivors with single spaces. Overlapping spans merge
    * naturally (a token survives iff NO duplicated gram covers it).
    * Returns (idCol, clean_text, n_cut); documents with nothing duplicated
    * pass through verbatim via the left join.
    *
    * The per-token membership test is `exists` over the document's own
    * duplicated-position list — O(tokens · dup-positions) per document,
    * driver-free and fine while dup positions are sparse; a boilerplate-
    * saturated corpus should run [[duplicateSpanStats]] first and route
    * high-`dup_frac` docs to drop rather than scrub.
    */
  def scrubDuplicateSpans(docs: DataFrame, idCol: String, textCol: String,
      k: Int, minSites: Long = 2L): DataFrame = {
    // same hashed-gram + shared-checkpoint shape as duplicateSpanStats
    val sites = spanSites(docs, idCol, textCol, k)
      .select(col("doc"), col("pos"), xxhash64(col("g")).as("g"))
      .localCheckpoint(false)
    val cnt = sites.groupBy("g").agg(count(lit(1)).as("__sites"))
    val dupPos = sites.join(cnt, "g")
      .where(col("__sites") >= minSites)
      .groupBy("doc")
      .agg(sort_array(collect_list(col("pos"))).as("__dp"))
    docs
      .join(dupPos, docs(idCol) === dupPos("doc"), "left")
      .withColumn("__dp",
        coalesce(col("__dp"), array().cast("array<int>")))
      .withColumn("__ws", split(col(textCol), " "))
      .withColumn("__kept",
        filter(col("__ws"), (_, i) =>
          !exists(col("__dp"), p => i >= p && i < p + lit(k))))
      .select(col(idCol),
        array_join(col("__kept"), " ").as("clean_text"),
        (size(col("__ws")) - size(col("__kept"))).cast("long").as("n_cut"))
  }
}
