package graft

import org.apache.spark.sql.functions._

import graft.ext.Dedup

/** Value-level verification for the hash-based dedup tiers that have no
  * DuckDB oracle (the driver only rows-checks them): MinHash estimates are
  * compared against exact Jaccard, SimHash against identity.
  */
class DedupSpec extends SparkSpec {
  import spark.implicits._

  private val base = "the quick brown fox jumps over the lazy dog again and again"
  private def corpus = Seq(
    (0L, base),
    (1L, base),                                   // exact dup of 0
    (2L, base + " tonight"),                      // near dup of 0
    (3L, "completely different words about spark catalyst tungsten and shuffles here"),
    (4L, "completely different words about spark catalyst tungsten and shuffles there"),
    (5L, "unrelated text speaking of cabbages kings walruses carpenters oysters beaches")
  ).toDF("doc_id", "text")

  test("codegen MinHashSigF/SigBandsF are bit-identical to the xxhash64 HOF forms") {
    // random shingle arrays incl. short, repeated, and null-element cases
    val rnd = new scala.util.Random(91)
    val rows = (0 until 60).map { i =>
      val n = 1 + rnd.nextInt(12)
      (i.toLong, (0 until n).map(_ => s"sh${rnd.nextInt(30)}"))
    }.toDF("id", "shingles")
    val k = 32; val bands = 8; val r = k / bands
    val hofSig = transform(sequence(lit(0), lit(k - 1)),
      sd => array_min(transform(col("shingles"), sh => xxhash64(sh, sd))))
    val hofBands = transform(sequence(lit(0), lit(bands - 1)),
      b => xxhash64(slice(col("sig"), b * r + 1, lit(r)), b))
    val got = rows
      .withColumn("sig", graft.functions.MinHash.signature(col("shingles"), k))
      .withColumn("bh", graft.functions.MinHash.bandHashes(col("sig"), bands))
      .withColumn("sig_ref", hofSig)
      .withColumn("bh_ref", hofBands)
      .collect()
    got.foreach { row =>
      assert(row.getSeq[Long](row.fieldIndex("sig")) ==
        row.getSeq[Long](row.fieldIndex("sig_ref")),
        s"sig mismatch for id ${row.getLong(0)}")
      assert(row.getSeq[Long](row.fieldIndex("bh")) ==
        row.getSeq[Long](row.fieldIndex("bh_ref")),
        s"band-hash mismatch for id ${row.getLong(0)}")
    }
    // empty shingle array => null signature (the groupBy form emits no row)
    val empty = Seq((0L, Seq.empty[String])).toDF("id", "shingles")
      .select(graft.functions.MinHash.signature(col("shingles"), k).as("sig"))
      .collect()
    assert(empty.head.isNullAt(0))
  }

  test("codegen WinnowFpF matches the explode+window fingerprint selection") {
    val rnd = new scala.util.Random(17)
    val vocab = Seq("alpha", "beta", "gamma", "delta", "épsilon", "ζeta",
      "x", "", "longerword")
    val texts = (0 until 40).map { i =>
      val n = rnd.nextInt(14) // incl. docs shorter than k
      (i.toLong, (0 until n).map(_ => vocab(rnd.nextInt(vocab.size)))
        .mkString(" "))
    } :+ (99L, "a  b c d e f") // double space => empty word in the split
    val docs = texts.toDF("doc_id", "text")
    val (k, w) = (3, 4)
    val ref = Dedup.winnowFingerprints(
        Dedup.winnowSites(docs, "doc_id", "text", k), "doc_id", w)
      .collect().groupBy(_.getLong(0))
      .view.mapValues(_.map(_.getLong(1)).sorted.toSeq).toMap
    val got = docs.select(col("doc_id"),
        graft.functions.MinHash.winnowFingerprints(
          split(col("text"), " "), k, w).as("fps"))
      .collect()
      .flatMap(r => if (r.isNullAt(1)) None
        else Some(r.getLong(0) -> r.getSeq[Long](1).toSeq))
      .toMap
    assert(got == ref, {
      val onlyRef = ref.keySet -- got.keySet
      val onlyGot = got.keySet -- ref.keySet
      s"docs only in ref: $onlyRef, only in got: $onlyGot, " +
        s"diffs: ${ref.collect { case (id, v) if got.get(id).exists(_ != v) => id }}"
    })
  }

  test("codegen SimHash64F matches the packed-lane vote pipeline") {
    val rnd = new scala.util.Random(53)
    val vocab = Seq("alpha", "beta", "gamma", "δelta", "", "x", "repeat")
    val texts = (0 until 30).map { i =>
      val n = 1 + rnd.nextInt(20)
      (i.toLong, (0 until n).map(_ => vocab(rnd.nextInt(vocab.size)))
        .mkString(" "))
    } :+ (98L, "") // split("") = [""], one empty word
    val docs = texts.toDF("doc_id", "text")
    // the replaced pipeline, inlined as the reference: explode + xxhash64
    // + 16 packed 4x16-bit lane sums + majority test
    val words = docs.select(col("doc_id").as("doc"),
        explode(split(col("text"), " ")).as("w"))
      .withColumn("h", xxhash64(col("w")))
    val packed = (0 until 16).map { i =>
      (0 until 4).map { j =>
        shiftleft(shiftright(col("h"), 4 * i + j).bitwiseAND(1), 16 * j)
      }.reduce(_ + _)
    }
    val aggs = packed.zipWithIndex.map { case (p, i) => sum(p).as(s"p$i") } :+
      count(lit(1)).as("n")
    val fpRef = (0 until 64).map { b =>
      val cnt = shiftright(col(s"p${b / 4}"), 16 * (b % 4)).bitwiseAND(0xffffL)
      when(cnt * 2 > col("n"), lit(1L << b)).otherwise(lit(0L))
    }.reduce(_ + _)
    val ref = words.groupBy("doc").agg(aggs.head, aggs.tail: _*)
      .select(col("doc"), fpRef.as("simhash"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val got = Dedup.simHash(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == ref)
  }

  test("fingerprint expressions are SQL-callable after registerAll") {
    graft.functions.MinHash.registerAll(spark)
    Seq((1L, "the quick brown fox jumps over the lazy dog"))
      .toDF("id", "text").createOrReplaceTempView("sqlfp")
    val r = spark.sql(
      """SELECT minhash_sig(split(text, ' '), 8) AS sig,
        |  sig_bands(minhash_sig(split(text, ' '), 8), 4) AS bands,
        |  simhash64(split(text, ' ')) AS sh,
        |  winnow_fp(split(text, ' '), 3, 4) AS wf
        |FROM sqlfp""".stripMargin).collect().head
    assert(r.getSeq[Long](0).length == 8)
    assert(r.getSeq[Long](1).length == 4)
    // SQL and Column paths must agree exactly
    val viaCol = Seq((1L, "the quick brown fox jumps over the lazy dog"))
      .toDF("id", "text")
      .select(
        graft.functions.MinHash.simHash64(split(col("text"), " ")).as("sh"),
        graft.functions.MinHash.winnowFingerprints(
          split(col("text"), " "), 3, 4).as("wf"))
      .collect().head
    assert(r.getLong(2) == viaCol.getLong(0))
    assert(r.getSeq[Long](3) == viaCol.getSeq[Long](1))
  }

  test("exact dedup groups identical texts, keeper = min id") {
    val r = Dedup.exact(corpus, "doc_id", "text")
      .orderBy("keeper").collect()
    assert(r.length == 5)
    val dupGroup = r.find(_.getAs[Long]("n_dups") == 2).get
    assert(dupGroup.getAs[Long]("keeper") == 0L)
  }

  test("minhash estimate tracks exact jaccard on candidate pairs") {
    val exact = Dedup.ngramJaccard(corpus, "doc_id", "text", shingleN = 3)
      .collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")) ->
        r.getAs[Double]("jaccard")).toMap
    val est = Dedup.minHashLsh(corpus, "doc_id", "text",
      shingleN = 3, numHashes = 64, bands = 16).collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")) ->
        r.getAs[Double]("est_jaccard")).toMap
    // the exact-dup pair must be found with estimate 1.0
    assert(est((0L, 1L)) == 1.0)
    // every candidate's estimate within 0.3 of exact (64 hashes ⇒ σ≈0.06)
    est.foreach { case (pair, e) =>
      val j = exact.getOrElse(pair, 0.0)
      assert(math.abs(e - j) < 0.3, s"pair $pair est $e vs exact $j")
    }
    // high-similarity pairs must be candidates (S-curve: J≈0.9 ⇒ P≈1)
    exact.filter(_._2 > 0.8).keys.foreach(p => assert(est.contains(p)))
  }

  test("simhash: identical docs collide at distance 0, near dups are close") {
    val pairs = Dedup.simHashPairs(corpus, "doc_id", "text", maxDist = 16)
      .collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")) ->
        r.getAs[Long]("hamming")).toMap
    assert(pairs((0L, 1L)) == 0L)
    assert(pairs.get((3L, 4L)).exists(_ <= 16))
  }

  test("minhash bucket cap drops flooded buckets, keeps small-bucket pairs") {
    val flood = (10L until 40L).map(i => (i, base)) // 30 identical docs
    val docs = (corpus.collect().map(r => (r.getLong(0), r.getString(1)))
      .toSeq ++ flood).toDF("doc_id", "text")
    val capped = Dedup.minHashLsh(docs, "doc_id", "text",
        numHashes = 64, bands = 16, maxBucket = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // the flood (plus docs 0/1, same text) exceeds every cap'd bucket —
    // none of its pairs survive; the distinct near-dup pair (3,4) does
    assert(!capped.exists { case (x, y) => x >= 10L && y >= 10L })
    assert(capped.contains((3L, 4L)))
  }

  test("connected components: min-label propagation over a chained graph") {
    // components: {1,2,3,4} (a chain — needs >1 round), {5,6}, singletons 7,8
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (5L, 6L))
      .toDF("id_a", "id_b")
    val nodes = (1L to 8L).toDF("doc_id")
    val expected = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      5L -> 5L, 6L -> 5L, 7L -> 7L, 8L -> 8L)
    // driver union-find path (default threshold)
    val fast = Dedup.connectedComponents(pairs, nodes, "doc_id")
      .collect().map(r => r.getAs[Long]("node") -> r.getAs[Long]("label"))
      .toMap
    assert(fast == expected)
    // distributed star path (threshold forced to 0)
    val dist = Dedup.connectedComponents(pairs, nodes, "doc_id",
        maxDriverEdges = 0L)
      .collect().map(r => r.getAs[Long]("node") -> r.getAs[Long]("label"))
      .toMap
    assert(dist == expected)
  }

  test("connected components: the distributed path labels a 70-node chain") {
    // diameter 69: more rounds than any diameter-bound propagation loop
    // should be allowed to run; the star path needs O(log n)
    val pairs = (0L until 69L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val nodes = (0L until 70L).toDF("doc_id")
    val got = Dedup.connectedComponents(pairs, nodes, "doc_id",
        maxDriverEdges = 0L)
      .collect().map(r => r.getAs[Long]("node") -> r.getAs[Long]("label"))
      .toMap
    assert(got == (0L until 70L).map(_ -> 0L).toMap)
  }

  test("large-star/small-star CC matches the driver union-find path on " +
    "random graphs") {
    val rnd = new scala.util.Random(42)
    (0 until 3).foreach { trial =>
      val n = 30
      // a 10-node chain forces diameter >> log(n); plus random extra edges
      val edges = (0 until 9).map(i => (i.toLong, (i + 1).toLong)) ++
        (0 until 15).map(_ => (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
          .filter(p => p._1 != p._2)
      val pairs = edges.toDF("id_a", "id_b")
      val nodes = (0L until n.toLong).toDF("doc_id")
      // default threshold: the driver union-find path
      val simple = Dedup.connectedComponents(pairs, nodes, "doc_id")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val star = Dedup.connectedComponentsStar(pairs)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      // star covers exactly the nodes with at least one edge
      assert(star.keySet == edges.flatMap(e => Seq(e._1, e._2)).toSet)
      star.foreach { case (nd, lb) =>
        assert(simple(nd) == lb, s"trial $trial node $nd: $lb vs ${simple(nd)}")
      }
    }
  }

  test("maxDf cap stops a boilerplate flood from exploding the pair count") {
    // 40 docs sharing a boilerplate prefix but otherwise unique: every pair
    // shares the hot shingles, so the uncapped self-join yields all C(40,2)
    // pairs — the quadratic blowup the cap exists to stop. One genuine
    // near-dup pair (100,101) with its own distinct text must survive.
    val boiler = "subscribe to our newsletter for daily updates and offers"
    val flood = (0L until 40L).map(i =>
      (i, s"$boiler unique$i tail$i words$i alpha$i beta$i gamma$i delta$i"))
    val docs = (flood ++ Seq(
      (100L, "the walrus and the carpenter were walking close at hand"),
      (101L, "the walrus and the carpenter were walking close at hand today")
    )).toDF("doc_id", "text")
    val uncapped = Dedup.ngramJaccard(docs, "doc_id", "text", shingleN = 3)
    val capped = Dedup.ngramJaccard(docs, "doc_id", "text", shingleN = 3,
      maxDf = 10L)
    // uncapped: the flood alone contributes all 780 pairs
    assert(uncapped.where(col("id_a") < 40L && col("id_b") < 40L).count() ==
      40L * 39 / 2)
    // capped: hot shingles (df=40 > 10) are dropped, flood pairs vanish;
    // the distinct near-dup pair is untouched (its shingles have df ≤ 2)
    val cappedPairs = capped.collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    assert(!cappedPairs.exists { case (a, b) => a < 40L && b < 40L })
    assert(cappedPairs.contains((100L, 101L)))
  }

  test("verifyJaccard reproduces ngramJaccard exactly on its own pairs") {
    val exact = Dedup.ngramJaccard(corpus, "doc_id", "text", shingleN = 3)
      .collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")) ->
        (r.getAs[Long]("inter"), r.getAs[Long]("union"),
          r.getAs[Double]("jaccard"))).toMap
    val cand = exact.keys.toSeq.toDF("id_a", "id_b")
    val verified = Dedup.verifyJaccard(cand, corpus, "doc_id", "text",
        shingleN = 3)
      .collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")) ->
        (r.getAs[Long]("inter"), r.getAs[Long]("union"),
          r.getAs[Double]("jaccard"))).toMap
    assert(verified == exact)
  }

  test("tiered nearDupPairs matches the exact tier on the sf0.001 corpus") {
    // the declared dedup_cluster path: LSH proposes, exact verifies — must
    // equal the corpus-wide exact self-join at test scale (recall argument
    // in Dedup.nearDupPairs scaladoc)
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    def pairSet(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    val exact = pairSet(Dedup.ngramJaccard(docs, "doc_id", "text",
      shingleN = 3, minJaccard = 0.3, maxDf = 1000L).select("id_a", "id_b"))
    val tiered = pairSet(Dedup.nearDupPairs(docs, "doc_id", "text",
      shingleN = 3, minJaccard = 0.3, numHashes = 32, bands = 16,
      maxBucket = 1000, maxDf = 1000L))
    assert(tiered == exact)
    assert(exact.nonEmpty) // the corpus plants near-dups — no vacuous pass
  }

  test("containment flags a doc embedded in a longer one that jaccard misses") {
    val short = "alpha beta gamma delta epsilon zeta"
    val long = short + " plus many extra words that dilute the union " +
      "so the jaccard similarity of the embedded pair stays very low indeed"
    val docs = Seq((0L, short), (1L, long),
      (2L, "entirely unrelated text about walruses and carpenters by the sea"))
      .toDF("doc_id", "text")
    val cont = Dedup.containmentPairs(docs, "doc_id", "text",
      shingleN = 3, minContainment = 0.9).collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")) ->
        (r.getAs[Double]("cont_a"), r.getAs[Double]("containment"))).toMap
    // every shingle of the short doc appears in the long one
    assert(cont((0L, 1L))._1 == 1.0 && cont((0L, 1L))._2 == 1.0)
    assert(cont.size == 1)
    // ...while the symmetric tier scores the same pair well under 0.5
    val j = Dedup.ngramJaccard(docs, "doc_id", "text", shingleN = 3)
      .where($"id_a" === 0L && $"id_b" === 1L)
      .head().getAs[Double]("jaccard")
    assert(j < 0.5, s"jaccard $j unexpectedly high")
  }

  test("dedupCorpus keeps min id per cluster and every non-dup doc") {
    val r = Dedup.dedupCorpus(corpus, "doc_id", "text",
      shingleN = 3, minJaccard = 0.3, numHashes = 32, bands = 16)
      .collect()
      .map(x => x.getAs[Long]("doc_id") -> x.getAs[Long]("n_members")).toMap
    // {0,1,2} cluster → keeper 0 with 3 members; {3,4} → keeper 3; 5 solo
    assert(r == Map(0L -> 3L, 3L -> 2L, 5L -> 1L))
  }

  test("dedupCorpus rejects a non-integral id column instead of returning empty") {
    // a string id would cast to null in the keeper join and silently drop
    // the whole corpus — the contract check must fail loudly instead
    val strDocs = Seq(("a", "some text here"), ("b", "other text there"))
      .toDF("doc_id", "text")
    val e = intercept[IllegalArgumentException] {
      Dedup.dedupCorpus(strDocs, "doc_id", "text")
    }
    assert(e.getMessage.contains("integral"))
  }

  test("contamination: leaked eval doc scores 1, clean doc scores 0") {
    val train = Seq(
      (1L, "the quick brown fox jumps over the lazy dog tonight"),
      (2L, "completely different training words about spark and shuffles")
    ).toDF("doc_id", "text")
    val eval = Seq(
      (100L, "the quick brown fox jumps over the lazy dog tonight"), // leak
      (101L, "unique evaluation text that shares nothing with training"),
      (102L, "completely different training words but then it diverges here"),
      (103L, "too short") // < shingleN words: must still appear, ratio 0
    ).toDF("doc_id", "text")
    val r = Dedup.contamination(train, eval, "doc_id", "text")
      .collect().map(x => x.getLong(0) ->
        (x.getAs[Long]("n_matched"), x.getAs[Double]("contamination_ratio")))
      .toMap
    assert(r(100L)._2 == 1.0)
    assert(r(101L) == ((0L, 0.0)))
    // partial overlap: shares the leading trigrams only
    assert(r(102L)._1 > 0 && r(102L)._2 < 1.0)
    // shingle-less doc is reported, not dropped
    assert(r(103L) == ((0L, 0.0)))
  }

  test("contamination_bloom: one-sided error vs the exact tier") {
    // 120 train docs, 3 of which leak an eval shingle run; the bloom
    // screen must flag every truly contaminated doc (a miss is
    // impossible — all k bits of a present gram are set) and its false
    // positives must stay near the (1−e^{−kn/m})^k design rate
    val rnd = new scala.util.Random(11)
    val vocab = Array("alpha", "beta", "gamma", "delta", "epsilon", "zeta",
      "eta", "theta", "iota", "kappa", "lambda", "mu", "nu", "xi")
    val evalDocs = (0L until 10L).map(i =>
      (i, Seq.fill(12)(vocab(rnd.nextInt(vocab.length))).mkString(" ")))
    val leak = evalDocs(3)._2.split(" ").take(6).mkString(" ")
    val train = (100L until 220L).map { i =>
      val base = Seq.fill(15)(vocab(rnd.nextInt(vocab.length))).mkString(" ")
      (i, if (i % 40 == 0) s"$leak $base" else base)
    }
    val trainDf = train.toDF("doc_id", "text")
    val evalDf = evalDocs.toDF("doc_id", "text")
    val exact = Dedup.contamination(trainDf, evalDf, "doc_id", "text")
    // exact reports per-EVAL doc; recompute the train-side truth directly:
    // a train doc is contaminated iff it shares a 3-shingle with eval
    val evalGrams = evalDocs.flatMap(_._2.split(" ").sliding(3)
      .map(_.mkString(" "))).toSet
    val truth = train.map { case (id, t) =>
      id -> t.split(" ").sliding(3).map(_.mkString(" "))
        .exists(evalGrams.contains)
    }.toMap
    val bloom = Dedup.contaminationBloom(trainDf, evalDf, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getAs[Boolean]("contaminated"))
      .toMap
    assert(bloom.keySet == train.map(_._1).toSet)
    // one-sided: every truly contaminated doc is flagged, no exceptions
    truth.filter(_._2).keys.foreach(id =>
      assert(bloom(id), s"bloom MISSED contaminated doc $id"))
    // false positives are possible but must be rare at 16 bits/gram, k=5
    val fp = bloom.count { case (id, f) => f && !truth(id) }
    assert(fp <= math.max(2, train.size / 20),
      s"$fp false positives out of ${train.size} train docs")
    // and the planted leaks really are in the truth set (test is live)
    assert(truth.count(_._2) >= 3)
    assert(exact.count() == evalDocs.size.toLong)
  }

  test("embedding near-dup finds the planted duplicate vector") {
    val v = (0 until 64).map(i => math.sin(i).toFloat)
    val v2 = v.updated(0, v(0) + 0.001f) // near-identical
    val w = (0 until 64).map(i => math.cos(i * 3 + 1).toFloat)
    val embs = Seq((0L, v), (1L, v2), (2L, w))
      .toDF("vec_id", "embedding")
    val r = Dedup.embeddingNearDup(embs, "vec_id", "embedding",
      dim = 64, nbits = 4, minCosine = 0.99).collect()
    assert(r.map(x => (x.getLong(0), x.getLong(1))).contains((0L, 1L)))
    assert(r.length == 1)
  }

  // substring tier: a shared 5-word header pasted into otherwise-unique
  // docs. Doc 10/11 share "alpha beta gamma delta epsilon" (positions 0-4
  // in both ⇒ grams at pos 0 duplicated); their tails are unique. Doc 12
  // is all-unique. Doc 13 repeats a 5-gram WITHIN itself.
  private def spanCorpus = Seq(
    (10L, "alpha beta gamma delta epsilon unique tail one here now"),
    (11L, "alpha beta gamma delta epsilon other ending words go there"),
    (12L, "totally fresh content with no shared spans anywhere at all"),
    (13L, "x1 x2 x3 x4 x5 filler x1 x2 x3 x4 x5")
  ).toDF("doc_id", "text")

  test("duplicateSpanStats counts per-site duplication incl. within-doc repeats") {
    val r = Dedup.duplicateSpanStats(spanCorpus, "doc_id", "text", k = 5)
      .collect().map(x => x.getAs[Long]("doc_id") ->
        ((x.getAs[Long]("n_grams"), x.getAs[Long]("n_dup")))).toMap
    // 10 words ⇒ 6 grams; only the gram starting at pos 0 is shared
    assert(r(10L) == ((6L, 1L)))
    assert(r(11L) == ((6L, 1L)))
    assert(r(12L) == ((6L, 0L)))
    // 11 words ⇒ 7 grams; "x1..x5" at pos 0 and 6 are two sites of the
    // same gram — both duplicated with no other doc involved
    assert(r(13L) == ((7L, 2L)))
  }

  test("scrubDuplicateSpans cuts exactly the covered tokens, merges overlaps") {
    val r = Dedup.scrubDuplicateSpans(spanCorpus, "doc_id", "text", k = 5)
      .collect().map(x => x.getAs[Long]("doc_id") ->
        ((x.getAs[String]("clean_text"), x.getAs[Long]("n_cut")))).toMap
    assert(r(10L) == (("unique tail one here now", 5L)))
    assert(r(11L) == (("other ending words go there", 5L)))
    assert(r(12L)._2 == 0L)
    assert(r(12L)._1 == "totally fresh content with no shared spans anywhere at all")
    // both sites cut; "filler" survives between them
    assert(r(13L) == (("filler", 10L)))
  }

  test("span stats agree with a driver-side reference fold under fuzz") {
    val rnd = new scala.util.Random(77)
    val vocab = Vector("a", "b", "c", "d", "e", "f")
    val docs = (0L until 40L).map { i =>
      (i, Seq.fill(4 + rnd.nextInt(12))(vocab(rnd.nextInt(vocab.size)))
        .mkString(" "))
    }
    val k = 3
    // reference: count every k-gram site across the corpus
    val sites = docs.flatMap { case (id, t) =>
      t.split(" ").sliding(k).filter(_.length == k).zipWithIndex
        .map { case (g, p) => (id, p, g.mkString(" ")) }
    }
    val freq = sites.groupBy(_._3).map { case (g, xs) => g -> xs.size }
    val expect = sites.groupBy(_._1).map { case (id, xs) =>
      id -> ((xs.size.toLong, xs.count(s => freq(s._3) >= 2).toLong))
    }
    val got = Dedup.duplicateSpanStats(docs.toDF("doc_id", "text"), "doc_id",
        "text", k = k)
      .collect().map(x => x.getAs[Long]("doc_id") ->
        ((x.getAs[Long]("n_grams"), x.getAs[Long]("n_dup")))).toMap
    assert(got == expect)
  }

  test("winnowFingerprints matches a sequential reference selection") {
    // reference: same polynomial per-gram hash, sliding window-of-w min
    // (every start position, partial tails), distinct
    def gramHash(g: Seq[String]): Long =
      g.foldLeft(0L)((h, w) =>
        (h * 31 + (w.length.toLong * 256 + w.head.toLong)) % 1000000007L)
    def refFps(text: String, k: Int, w: Int): Set[Long] = {
      val hs = text.split(" ").sliding(k).filter(_.length == k)
        .map(g => gramHash(g.toSeq)).toVector
      hs.indices.map(i => hs.slice(i, math.min(i + w, hs.length)).min).toSet
    }
    val rnd = new scala.util.Random(11)
    val vocab = Vector("ab", "cde", "fg", "hij", "kl", "mnop", "qr")
    val docs = (0L until 40L).map { i =>
      (i, Seq.fill(3 + rnd.nextInt(15))(vocab(rnd.nextInt(vocab.size)))
        .mkString(" "))
    }
    val got = Dedup.winnowFingerprints(
        Dedup.winnowSites(docs.toDF("doc_id", "text"), "doc_id", "text",
          k = 3), "doc_id", w = 4)
      .collect().groupBy(_.getLong(0))
      .map { case (id, rs) => id -> rs.map(_.getLong(1)).toSet }
    val expect = docs.map { case (id, t) => id -> refFps(t, 3, 4) }
      .filter(_._2.nonEmpty).toMap
    assert(got == expect)
  }

  test("winnowPairs: a shared >= w+k-1 word run guarantees a shared fingerprint") {
    // docs 1/2 share an 6-word run (w+k-1 = 6 at k=3,w=4) inside unrelated
    // text; doc 3 shares nothing
    val run = "alpha beta gamma delta epsilon zeta"
    val df = Seq(
      (1L, s"one two three $run four five six"),
      (2L, s"seven eight $run nine ten eleven twelve"),
      (3L, "thirteen fourteen fifteen sixteen seventeen eighteen nineteen")
    ).toDF("doc_id", "text")
    val pairs = Dedup.winnowPairs(df, "doc_id", "text", minShared = 1L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("winnowPairs maxDf cap drops corpus-stopword fingerprints") {
    // every doc opens with the same full >= w+k-1 run (guaranteed shared
    // fingerprint, in ALL 10 docs); each tail is unique. With the cap
    // below the corpus size the boilerplate fingerprints are dropped and
    // no pairs remain — the quadratic hot-gram blowup is structurally off
    val run = "alpha beta gamma delta epsilon zeta"
    val df = (0L until 10L).map(i => (i, s"$run tail$i end$i more$i"))
      .toDF("doc_id", "text")
    val all = Dedup.winnowPairs(df, "doc_id", "text", minShared = 1L)
    val capped = Dedup.winnowPairs(df, "doc_id", "text", minShared = 1L,
      maxDf = 5L)
    assert(all.count() == 45L) // all C(10,2) pairs share the run
    assert(capped.count() == 0)
  }
}
