package graft

import org.apache.spark.sql.functions._

import graft.ext.{Dedup, Similarity}

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  test("cosine: identity = 1, orthogonal = 0, opposite = -1") {
    val df = Seq(
      ("id", Seq(1f, 0f), Seq(1f, 0f)),
      ("orth", Seq(1f, 0f), Seq(0f, 1f)),
      ("opp", Seq(1f, 0f), Seq(-1f, 0f))
    ).toDF("k", "a", "b")
    val r = df.select(col("k"),
      Similarity.cosine(col("a"), col("b")).as("c"))
      .collect().map(x => x.getString(0) -> x.getDouble(1)).toMap
    assert(math.abs(r("id") - 1.0) < 1e-12)
    assert(math.abs(r("orth")) < 1e-12)
    assert(math.abs(r("opp") + 1.0) < 1e-12)
  }

  test("brute-force top-k returns the nearest vectors in order") {
    // query = e0; corpus vectors at increasing angles
    val vecs = (0 until 10).map { i =>
      val a = i * 0.15
      (i.toLong, Seq(math.cos(a).toFloat, math.sin(a).toFloat))
    }
    val df = vecs.toDF("vec_id", "embedding")
    val top = Similarity.cosineTopK(df, df.where(col("vec_id") === 0),
      "vec_id", "embedding", k = 3).collect()
    assert(top.map(_.getLong(0)).toSeq == Seq(0L, 1L, 2L))
    assert(top.map(_.getDouble(1)).toSeq.reverse.sorted.reverse ==
      top.map(_.getDouble(1)).toSeq) // descending
  }

  test("knnJoin: per-vector neighbours rank correctly with usable recall") {
    // clustered fixture — neighbours should be overwhelmingly
    // same-cluster
    val rnd = new scala.util.Random(11)
    val centers = (0 until 5).map(_ => Array.fill(16)(rnd.nextGaussian()))
    val vecs = (0 until 100).map { i =>
      val c = centers(i % 5)
      (i.toLong, c.map(x => (x + 0.1 * rnd.nextGaussian()).toFloat).toSeq)
    }
    val df = vecs.toDF("vec_id", "embedding").cache()
    val knn = Similarity.knnJoin(df, "vec_id", "embedding",
      dim = 16, nbits = 3, k = 5).collect()
    val byId = knn.groupBy(_.getLong(0))
    // every covered vector gets ≤ k ranked neighbours, rnk dense from 1,
    // cosines descending per id
    byId.foreach { case (_, rows) =>
      val sorted = rows.sortBy(_.getLong(3))
      assert(sorted.map(_.getLong(3)).toSeq == (1L to sorted.length).toSeq)
      val cos = sorted.map(_.getDouble(2)).toSeq
      assert(cos.zip(cos.tail).forall { case (x, y) => x >= y })
      assert(rows.length <= 5)
    }
    // recall vs exact neighbours for vector 0 (same-cluster bucketing)
    val exact = Similarity.cosineTopK(df, df.where(col("vec_id") === 0),
      "vec_id", "embedding", k = 6).collect().map(_.getLong(0)).toSet - 0L
    val approx = byId(0L).map(_.getLong(1)).toSet
    val recall = exact.intersect(approx).size.toDouble / exact.size
    assert(recall >= 0.5, s"knn recall $recall too low")
  }

  test("knnJoinExact: block-local exact neighbours match a driver recomputation") {
    val rnd = new scala.util.Random(13)
    val vecs = (0 until 60).map { i =>
      (i.toLong, i % 3, Seq.fill(8)(rnd.nextGaussian().toFloat))
    }
    val df = vecs.toDF("vec_id", "label", "embedding")
    val got = Similarity.knnJoinExact(df, "vec_id", "embedding",
      blockCol = "label", k = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    def dot(x: Seq[Float], y: Seq[Float]): Double =
      x.zip(y).foldLeft(0.0) { case (a, (p, q)) => a + p.toDouble * q.toDouble }
    def cos(a: Seq[Float], b: Seq[Float]): Double =
      dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b)))
    val expect = vecs.flatMap { case (id, lb, v) =>
      vecs.filter(o => o._2 == lb && o._1 != id)
        .map(o => (o._1, cos(v, o._3)))
        .sortBy { case (nid, c) => (-c, nid) }
        .take(3).zipWithIndex
        .map { case ((nid, _), i) => (id, nid, i + 1L) }
    }.toSet
    assert(got.map(t => (t._1, t._2, t._4)).toSet == expect)
    // dense ranks 1..k per id, cosines descending
    got.groupBy(_._1).foreach { case (_, rows) =>
      val sorted = rows.sortBy(_._4)
      assert(sorted.map(_._4).toSeq == (1L to rows.length).toSeq)
      val cs = sorted.map(_._3).toSeq
      assert(cs.zip(cs.tail).forall { case (x, y) => x >= y })
      assert(rows.length == 3) // 20 per block, so k is always reachable
    }
  }

  test("semanticPairs: exact within cells, subset of all-pairs, complete at nlist=1") {
    val rnd = new scala.util.Random(17)
    val centers = (0 until 4).map(_ => Array.fill(16)(rnd.nextGaussian()))
    val vecs = (0 until 80).map { i =>
      val c = centers(i % 4)
      (i.toLong, c.map(x => (x + 0.05 * rnd.nextGaussian()).toFloat).toSeq)
    }
    val df = vecs.toDF("vec_id", "embedding").cache()
    def dot(x: Seq[Float], y: Seq[Float]): Double =
      x.zip(y).foldLeft(0.0) { case (a, (p, q)) => a + p.toDouble * q.toDouble }
    def cos(a: Seq[Float], b: Seq[Float]): Double =
      dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b)))
    val exactPairs = (for {
      (ia, va) <- vecs; (ib, vb) <- vecs if ia < ib && cos(va, vb) >= 0.8
    } yield (ia, ib)).toSet

    val got = Similarity.semanticPairs(df, "vec_id", "embedding",
      nlist = 4, minCosine = 0.8).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // every emitted pair is a true near-dup with the exact cosine value
    val byVec = vecs.toMap
    got.foreach { case (a, b, c) =>
      assert(a < b)
      assert(math.abs(c - cos(byVec(a), byVec(b))) < 1e-12)
      assert(c >= 0.8)
    }
    assert(got.map(t => (t._1, t._2)).toSet.subsetOf(exactPairs))
    // tight clusters: the cell partition should find nearly everything
    assert(got.length.toDouble / exactPairs.size >= 0.9,
      s"semantic recall ${got.length.toDouble / exactPairs.size} too low")

    // nlist=1 = one cell = the exact all-pairs set, bit-for-bit
    val all = Similarity.semanticPairs(df, "vec_id", "embedding",
      nlist = 1, minCosine = 0.8).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(all == exactPairs)
  }

  test("semanticPairs: hot-cell hash split bounds pair work and stays a subset") {
    // all vectors in one tight cluster → one hot cell; maxCell forces a
    // split, results must remain exact-valued pairs (recall may drop)
    val rnd = new scala.util.Random(19)
    val base = Array.fill(8)(rnd.nextGaussian())
    val vecs = (0 until 90).map { i =>
      (i.toLong, base.map(x => (x + 0.01 * rnd.nextGaussian()).toFloat).toSeq)
    }
    val df = vecs.toDF("vec_id", "embedding").cache()
    val got = Similarity.semanticPairs(df, "vec_id", "embedding",
      nlist = 2, minCosine = 0.9, maxCell = 30L).collect()
    // split into ≥3 sub-cells of ≤30: pair count far below the 90² blowup
    assert(got.nonEmpty)
    assert(got.length <= 3 * 30 * 29 / 2,
      s"${got.length} pairs — hot-cell split did not bound the quadratic")
    def dot(x: Seq[Float], y: Seq[Float]): Double =
      x.zip(y).foldLeft(0.0) { case (a, (p, q)) => a + p.toDouble * q.toDouble }
    val byVec = vecs.toMap
    got.foreach { r =>
      val (a, b) = (r.getLong(0), r.getLong(1))
      val (va, vb) = (byVec(a), byVec(b))
      val c = dot(va, vb) / (math.sqrt(dot(va, va)) * math.sqrt(dot(vb, vb)))
      assert(math.abs(r.getDouble(2) - c) < 1e-12 && c >= 0.9)
    }
  }

  test("semanticDedupCorpus: min id survives per planted cluster with the right size") {
    // 3 tight clusters of 5 + 10 isolated vectors; at cosine ≥ 0.9 the
    // clusters collapse to their min id and the isolated all survive
    val rnd = new scala.util.Random(29)
    val centers = (0 until 3).map(_ => Array.fill(12)(rnd.nextGaussian()))
    val clustered = (0 until 15).map { i =>
      val c = centers(i % 3)
      (i.toLong, c.map(x => (x + 0.005 * rnd.nextGaussian()).toFloat).toSeq)
    }
    val isolated = (100 until 110).map { i =>
      (i.toLong, Seq.fill(12)(rnd.nextGaussian().toFloat))
    }
    val df = (clustered ++ isolated).toDF("vec_id", "embedding").cache()
    val survivors = Similarity.semanticDedupCorpus(df, "vec_id", "embedding",
      nlist = 3, minCosine = 0.9).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Long]("n_members")).toMap
    // isolated vectors could by chance be near-dups of something; verify
    // against the exact pair truth instead of assuming independence
    def dot(x: Seq[Float], y: Seq[Float]): Double =
      x.zip(y).foldLeft(0.0) { case (a, (p, q)) => a + p.toDouble * q.toDouble }
    def cos(a: Seq[Float], b: Seq[Float]): Double =
      dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b)))
    val all = clustered ++ isolated
    val dupOf = all.map { case (id, v) =>
      id -> all.filter(o => o._1 != id && cos(v, o._2) >= 0.9).map(_._1)
    }.toMap
    // the three cluster minima survive with n_members = 5
    assert(survivors(0L) == 5 && survivors(1L) == 5 && survivors(2L) == 5)
    // every isolated vector with no true near-dup survives as a singleton
    isolated.map(_._1).filter(dupOf(_).isEmpty).foreach { id =>
      assert(survivors(id) == 1L, s"isolated $id missing or grouped")
    }
    // no clustered non-minimum survives
    (3L until 15L).foreach(id => assert(!survivors.contains(id)))
  }

  test("PCA: orthonormal axes, descending variance, recovers a planted rank-2 structure") {
    // rank-2 data in 8 dims: x = a·u + b·w + tiny noise
    val rnd = new scala.util.Random(23)
    def unit(v: Array[Double]) = {
      val n = math.sqrt(v.map(x => x * x).sum); v.map(_ / n)
    }
    val u = unit(Array.fill(8)(rnd.nextGaussian()))
    // Gram-Schmidt w ⊥ u
    val w0 = Array.fill(8)(rnd.nextGaussian())
    val uw = u.zip(w0).map { case (a, b) => a * b }.sum
    val w = unit(w0.zip(u).map { case (x, ui) => x - uw * ui })
    val vecs = (0 until 200).map { i =>
      val a = 3.0 * rnd.nextGaussian(); val b = 1.0 * rnd.nextGaussian()
      (i.toLong, (0 until 8).map(j =>
        (a * u(j) + b * w(j) + 1e-4 * rnd.nextGaussian()).toFloat))
    }
    val df = vecs.toDF("vec_id", "embedding").cache()
    val (mean, comps, eig) = Similarity.pcaFit(df, "embedding", dim = 8, k = 3)
    // orthonormal rows
    for (i <- comps.indices; j <- comps.indices) {
      val d = comps(i).zip(comps(j)).map { case (a, b) => a * b }.sum
      val want = if (i == j) 1.0 else 0.0
      assert(math.abs(d - want) < 1e-8, s"comp ${i}.${j} = $d")
    }
    // eigenvalues descending, top-2 carry essentially all the variance
    assert(eig.zip(eig.tail).forall { case (a, b) => a >= b })
    assert(eig(0) > eig(1) && eig(1) > 100 * eig(2),
      s"expected rank-2 spectrum, got ${eig.toSeq}")
    // top axis aligns with the dominant planted direction (sign-free)
    val align = math.abs(comps(0).zip(u).map { case (a, b) => a * b }.sum)
    assert(align > 0.999, s"pc1·u = $align")
    // projections reproduce the data: sample variance of pc1 ≈ eig(0)
    val pcs = Similarity.pcaProject(df, "vec_id", "embedding", mean, comps)
      .orderBy("vec_id").collect().map(r => (r.getDouble(1), r.getDouble(2)))
    val n = pcs.length
    val v1 = pcs.map(_._1).map(x => x * x).sum / n -
      math.pow(pcs.map(_._1).sum / n, 2)
    assert(math.abs(v1 - eig(0)) / eig(0) < 1e-6,
      s"pc1 variance $v1 vs eigenvalue ${eig(0)}")
    // per-row reconstruction from 2 components matches to noise level
    val byId = vecs.toMap
    pcs.zipWithIndex.take(20).foreach { case ((p1, p2), i) =>
      val rec = (0 until 8).map(j =>
        mean(j) + p1 * comps(0)(j) + p2 * comps(1)(j))
      val orig = byId(i.toLong)
      val err = math.sqrt((0 until 8)
        .map(j => math.pow(orig(j) - rec(j), 2)).sum)
      assert(err < 1e-2, s"vec $i reconstruction error $err")
    }
  }

  test("PCA whitening: anisotropic corpus comes out unit-variance and uncorrelated") {
    // axis-aligned anisotropic Gaussian: variances 25, 4, 1, ~0 in 6 dims
    val rnd = new scala.util.Random(31)
    val sd = Array(5.0, 2.0, 1.0, 0.5, 0.1, 0.01)
    val vecs = (0 until 400).map { i =>
      (i.toLong, (0 until 6).map(j => (sd(j) * rnd.nextGaussian()).toFloat))
    }
    val df = vecs.toDF("vec_id", "embedding").cache()
    val (mean, comps, eigs) = Similarity.pcaFit(df, "embedding", dim = 6, k = 3)
    val w = Similarity.pcaWhiten(df, "vec_id", "embedding", mean, comps, eigs)
      .orderBy("vec_id").collect()
      .map(r => (r.getDouble(1), r.getDouble(2), r.getDouble(3)))
    val n = w.length.toDouble
    val cols = Seq(w.map(_._1), w.map(_._2), w.map(_._3))
    // each whitened coordinate: mean ~0, variance ~1
    cols.zipWithIndex.foreach { case (xs, j) =>
      val mu = xs.sum / n
      val v = xs.map(x => (x - mu) * (x - mu)).sum / n
      assert(math.abs(mu) < 0.05, s"wc${j + 1} mean $mu")
      assert(math.abs(v - 1.0) < 0.05, s"wc${j + 1} variance $v")
    }
    // pairwise correlation ~0
    for (a <- 0 until 3; b <- a + 1 until 3) {
      val (xa, xb) = (cols(a), cols(b))
      val (ma, mb) = (xa.sum / n, xb.sum / n)
      val covAb = xa.zip(xb).map { case (x, y) => (x - ma) * (y - mb) }.sum / n
      assert(math.abs(covAb) < 0.05, s"cov(wc${a + 1}, wc${b + 1}) = $covAb")
    }
  }

  test("IVF: probing more cells increases recall to 1.0 at nprobe=nlist") {
    val rnd = new scala.util.Random(11)
    val centers = (0 until 4).map(_ => Array.fill(16)(rnd.nextGaussian()))
    val vecs = (0 until 200).map { i =>
      val c = centers(i % 4)
      (i.toLong, c.map(x => (x + 0.1 * rnd.nextGaussian()).toFloat).toSeq)
    }
    val df = vecs.toDF("vec_id", "embedding").cache()
    val (indexed, centroids) = Similarity.ivfIndex(df, "vec_id", "embedding",
      nlist = 4)
    val cached = indexed.cache()
    val query = vecs.head._2.toArray
    val exact = Similarity.cosineTopK(df, df.where(col("vec_id") === 0),
      "vec_id", "embedding", k = 10).collect().map(_.getLong(0)).toSet
    val probe1 = Similarity.ivfTopK(cached, centroids, query, "vec_id",
      "embedding", nprobe = 1, k = 10).collect().map(_.getLong(0)).toSet
    val probeAll = Similarity.ivfTopK(cached, centroids, query, "vec_id",
      "embedding", nprobe = 4, k = 10).collect().map(_.getLong(0)).toSet
    assert(probeAll == exact)                       // nprobe=nlist ⇒ exact
    val recall1 = exact.intersect(probe1).size.toDouble / exact.size
    assert(recall1 >= 0.5, s"nprobe=1 recall $recall1")
  }

  test("PQ ADC: recall vs brute force on clustered vectors") {
    val rnd = new scala.util.Random(13)
    val centers = (0 until 4).map(_ => Array.fill(32)(rnd.nextGaussian()))
    val vecs = (0 until 200).map { i =>
      val c = centers(i % 4)
      (i.toLong, c.map(x => (x + 0.1 * rnd.nextGaussian()).toFloat).toSeq)
    }
    val df = vecs.toDF("vec_id", "embedding").cache()
    val (encoded, codebooks) = Similarity.pqIndex(df, "vec_id", "embedding",
      m = 8, k = 8)
    val query = vecs.head._2.toArray
    val exact = Similarity.cosineTopK(df, df.where(col("vec_id") === 0),
      "vec_id", "embedding", k = 10).collect().map(_.getLong(0)).toSet
    val pq = Similarity.pqTopK(encoded, codebooks, query, "vec_id",
        "embedding", k = 10, rerank = 50)
      .collect().map(_.getLong(0)).toSet
    val recall = exact.intersect(pq).size.toDouble / exact.size
    assert(recall >= 0.7, s"PQ recall $recall too low")
    // codes are deterministic: re-encoding yields identical code columns
    val (encoded2, _) = Similarity.pqIndex(df, "vec_id", "embedding",
      m = 8, k = 8)
    val a = encoded.select("vec_id", "pq_0", "pq_7").collect().toSeq
    val b = encoded2.select("vec_id", "pq_0", "pq_7").collect().toSeq
    assert(a.toSet == b.toSet)
  }

  test("lshSignatureLocal is bit-identical to the codegen'd signature") {
    // the driver-side twin is what turns a serving query's probe into a
    // partition-pruned read — one flipped bit would probe the wrong
    // buckets silently, so the parity is pinned over a fuzz corpus
    // (incl. zero vectors, whose all-`>= 0` dots exercise the acc==0 edge)
    val rnd = new scala.util.Random(17)
    val vecs = (0 until 200).map(i =>
      (i.toLong, if (i == 0) Seq.fill(16)(0f)
      else Seq.fill(16)(rnd.nextGaussian().toFloat)))
    val df = vecs.toDF("vec_id", "embedding")
    for (nbits <- Seq(1, 4, 6)) {
      val sparkSide = df.select(col("vec_id"),
        Similarity.lshSignature(col("embedding"), 16, nbits)).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      vecs.foreach { case (id, v) =>
        assert(Similarity.lshSignatureLocal(v.toArray, 16, nbits) ==
          sparkSide(id), s"signature mismatch at id=$id nbits=$nbits")
      }
    }
  }

  test("codegen dot product is bit-identical to the interpreted HOF fold") {
    val rnd = new scala.util.Random(3)
    val vecs = (0 until 100).map(i =>
      (i.toLong, Seq.fill(64)(rnd.nextGaussian().toFloat)))
    val df = vecs.toDF("vec_id", "a").withColumn("b", reverse(col("a")))
    val interp = aggregate(
      zip_with(col("a"), col("b"), (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, x) => acc + x)
    val rows = df.select(
      Similarity.dot(col("a"), col("b")).as("fast"), interp.as("slow"),
      Similarity.norm2(col("a")).as("fastn"),
      aggregate(transform(col("a"), x => x.cast("double") * x.cast("double")),
        lit(0.0), (acc, x) => acc + x).as("slown")).collect()
    rows.foreach { r =>
      assert(java.lang.Double.doubleToLongBits(r.getDouble(0)) ==
        java.lang.Double.doubleToLongBits(r.getDouble(1)))
      assert(java.lang.Double.doubleToLongBits(r.getDouble(2)) ==
        java.lang.Double.doubleToLongBits(r.getDouble(3)))
    }
    // null contract also matches the HOF fold: length mismatch or a null
    // element yields null, never a partial sum
    val edge = Seq(
      (1L, Seq[java.lang.Float](1f, 2f), Seq[java.lang.Float](1f)),
      (2L, Seq[java.lang.Float](1f, null), Seq[java.lang.Float](1f, 2f)),
      (3L, Seq[java.lang.Float](1f, 2f), Seq[java.lang.Float](3f, 4f))
    ).toDF("k", "a", "b")
    val er = edge.select(col("k"),
      Similarity.dot(col("a"), col("b")).as("fast"),
      aggregate(zip_with(col("a"), col("b"),
          (x, y) => x.cast("double") * y.cast("double")),
        lit(0.0), (acc, x) => acc + x).as("slow"))
      .collect().map(r => r.getLong(0) ->
        ((if (r.isNullAt(1)) None else Some(r.getDouble(1)),
          if (r.isNullAt(2)) None else Some(r.getDouble(2))))).toMap
    assert(er(1L) == ((None, None)))
    assert(er(2L) == ((None, None)))
    assert(er(3L) == ((Some(11.0), Some(11.0))))
  }

  test("lshBucketedCapped is a no-op when no bucket exceeds the cap") {
    val vecs = (0 until 80).map(i =>
      (i.toLong, (0 until 16).map(j => math.sin(i * 17 + j).toFloat)))
    val df = vecs.toDF("vec_id", "embedding")
    val plain = Similarity.lshBucketed(df, "embedding", 16, 4)
      .select("vec_id", "lsh_bucket").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val capped = Similarity.lshBucketedCapped(df, "embedding", 16, 4,
        maxBucket = 1000)
      .select("vec_id", "lsh_bucket").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(capped == plain)
  }

  test("capped bucketing splits an anisotropic corpus; no bucket exceeds the cap") {
    // dominant first coordinate: every base hyperplane's sign is biased the
    // same way, concentrating a large fraction of the corpus in one bucket —
    // the skew shape real (anisotropic) embedding spaces produce
    val rnd = new scala.util.Random(23)
    val vecs = (0 until 200).map { i =>
      val v = (2.0 +: Seq.fill(15)(rnd.nextGaussian()))
        .map(_.toFloat)
      (i.toLong, v)
    }
    val df = vecs.toDF("vec_id", "embedding").cache()
    val cap = 20L
    def bucketSizes(b: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      b.groupBy("lsh_bucket").agg(count(lit(1)).as("n"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val uncapped = bucketSizes(Similarity.lshBucketed(df, "embedding", 16, 4))
    assert(uncapped.values.max > cap, "fixture must actually be skewed")
    val capped = bucketSizes(
      Similarity.lshBucketedCapped(df, "embedding", 16, 4, maxBucket = cap))
    // the hard invariant the 100 TB path depends on: per-bucket pair count
    // is bounded, no bucket in the join input exceeds the cap
    assert(capped.values.max <= cap,
      s"capped max bucket ${capped.values.max} > $cap")
    // refinement (not the drop backstop) must do most of the work: the
    // corpus is noisy, so fresh hyperplanes can split the hot buckets
    val survived = capped.values.sum
    assert(survived >= 150, s"only $survived/200 rows survived the cap")
    // pair-count actually shrank vs the uncapped quadratic
    def pairs(m: Map[Long, Long]) = m.values.map(n => n * (n - 1) / 2).sum
    assert(pairs(capped) < pairs(uncapped))
  }

  test("banded capped bucketing: no (table, bucket) group exceeds the cap (fuzz)") {
    // the invariant the per-bucket pair joins depend on, across corpus
    // shapes: isotropic, anisotropic (dominant direction), degenerate
    // (near-identical vectors — backstop territory)
    val rnd = new scala.util.Random(43)
    for (round <- 0 until 3) {
      val n = 150 + rnd.nextInt(100)
      val vecs = (0 until n).map { i =>
        val v: Seq[Float] = round % 3 match {
          case 0 => Seq.fill(12)(rnd.nextGaussian().toFloat)
          case 1 => (3.0 +: Seq.fill(11)(rnd.nextGaussian())).map(_.toFloat)
          case _ => 50f +: Seq.fill(11)(0.01f * rnd.nextInt(3))
        }
        (i.toLong, v)
      }
      val capped = Similarity.lshBandedCapped(
        vecs.toDF("vec_id", "embedding"), "embedding",
        dim = 12, nbits = 3, tables = 3, maxBucket = 12)
      val sizes = capped.groupBy("tbl", "lsh_bucket")
        .agg(count(lit(1)).as("n")).collect().map(_.getLong(2))
      assert(sizes.maxOption.forall(_ <= 12),
        s"round $round: bucket of ${sizes.maxOption} exceeds cap 12")
    }
  }

  test("degenerate pile (identical direction) is hard-dropped, not quadratic") {
    // all vectors point the same way: refinement bits agree too, so the
    // backstop is the only defense — the pile is dropped outright and the
    // pair join sees zero candidates instead of n²/2
    val vecs = (0 until 100).map { i =>
      (i.toLong, (50f +: Seq.fill(15)(0.001f * (i % 7))).toSeq)
    }
    val df = vecs.toDF("vec_id", "embedding")
    val capped = Similarity.lshBucketedCapped(df, "embedding", 16, 4,
      maxBucket = 10)
    val sizes = capped.groupBy("lsh_bucket").agg(count(lit(1)).as("n"))
      .collect().map(_.getLong(1))
    assert(sizes.isEmpty || sizes.max <= 10)
    // knnJoin with the cap terminates with bounded work and no crash
    val knn = Similarity.knnJoin(df, "vec_id", "embedding",
      dim = 16, nbits = 4, k = 3, maxBucket = 10)
    assert(knn.count() <= 100 * 3)
  }

  test("coverageSample balances across clusters regardless of their sizes") {
    // four tight, well-separated clusters with sizes 100:50:10:5
    val rnd = new scala.util.Random(5)
    val centers = Seq(
      Array.fill(16)(0f), Array.fill(16)(10f),
      (0 until 16).map(i => if (i % 2 == 0) 10f else -10f).toArray,
      (0 until 16).map(i => if (i < 8) -10f else 10f).toArray)
    val sizes = Seq(100, 50, 10, 5)
    val rows = for {
      (c, lbl) <- centers.zipWithIndex
      j <- 0 until sizes(lbl)
    } yield (lbl * 1000L + j, c.map(x => x + rnd.nextFloat() * 0.1f).toSeq,
      lbl)
    val df = rows.toDF("vec_id", "embedding", "true_cluster")
    // ground truth: the operator's own (deterministic) cell assignment
    val (indexed, _) = Similarity.ivfIndex(df, "vec_id", "embedding", 4)
    val cellSizes = indexed.groupBy("ivf_cell").count()
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val cellHash = indexed.select(col("ivf_cell"),
        xxhash64(col("ivf_cell"), lit(42L)).as("h"))
      .distinct().collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    // driver simulation of round-robin allocation: rank r across cells
    // ordered by (hashed cell, cell), cells out of members drop out
    def expectedAlloc(k: Int): Map[Int, Long] = {
      val order = cellSizes.keys.toSeq.sortBy(c => (cellHash(c), c))
      val alloc = scala.collection.mutable.Map.empty[Int, Long]
        .withDefaultValue(0L)
      var left = k; var r = 1L
      while (left > 0 && cellSizes.exists(_._2 >= r)) {
        order.foreach { c =>
          if (left > 0 && cellSizes(c) >= r) { alloc(c) += 1; left -= 1 }
        }
        r += 1
      }
      alloc.toMap
    }
    for (k <- Seq(7, 12, 40, 165)) {
      val sample = Similarity.coverageSample(df, "vec_id", "embedding",
        nlist = 4, k = k)
      val byCell = sample.groupBy("ivf_cell").count()
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
      assert(byCell == expectedAlloc(k).filter(_._2 > 0),
        s"k=$k: got $byCell, sizes $cellSizes")
      assert(sample.count() == math.min(k, 165))
    }
    // the balance property vs a proportional draw: with k=12, every
    // non-empty cell gets its fair share (max-min <= 1 before exhaustion)
    val alloc12 = expectedAlloc(12).filter(_._2 > 0).values
    assert(alloc12.max - alloc12.min <= 1)
    // deterministic across runs
    val s1 = Similarity.coverageSample(df, "vec_id", "embedding",
      nlist = 4, k = 12).select("vec_id").collect().map(_.getLong(0)).sorted
    val s2 = Similarity.coverageSample(df, "vec_id", "embedding",
      nlist = 4, k = 12).select("vec_id").collect().map(_.getLong(0)).sorted
    assert(s1.toSeq == s2.toSeq)
  }

  test("native LshSigsF matches the composed when(dot>=0) form bit-for-bit") {
    // the frozen plane-sign constant (Similarity.planeSign) — duplicated
    // here so a silent change to the plane family fails this parity case
    def planeSign(i: Int, plane: Int): Double = {
      val x = i.toLong * 2654435761L + plane.toLong * 40503L + 12345L
      val mixed = (x ^ (x >>> 16)) * 0x45d9f3bL
      if (((mixed ^ (mixed >>> 13)) & 1L) == 0L) 1.0 else -1.0
    }
    val dim = 16; val nbits = 4; val tables = 3
    val rnd = new scala.util.Random(11)
    val fuzz: Seq[(Long, Seq[java.lang.Float])] =
      (0 until 60).map(i => (i.toLong,
        Seq.fill(dim)(java.lang.Float.valueOf(rnd.nextGaussian().toFloat)))) ++
      Seq(
        (100L, Seq.fill(dim)(java.lang.Float.valueOf(Float.NaN))),       // NaN dots
        (101L, Seq.fill(dim - 3)(java.lang.Float.valueOf(1f))),          // short
        (102L, Seq.fill(dim + 2)(java.lang.Float.valueOf(1f))),          // long
        (103L, (Seq.fill(dim - 1)(java.lang.Float.valueOf(1f)) :+
          (null: java.lang.Float))))                                     // null elem
    val df = fuzz.toDF("vec_id", "v")
    val signs = Array.tabulate(tables * nbits, dim)((p, i) => planeSign(i, p))
    // the composed generation this expression replaced: one 16-literal
    // plane array + dot + when per bit, summed per table
    val composed = array((0 until tables).map { t =>
      (0 until nbits).map { j =>
        val plane = array((0 until dim).map(i =>
          lit(signs(t * nbits + j)(i))): _*)
        when(Similarity.dot(col("v"), plane) >= 0, lit(1L << j))
          .otherwise(lit(0L))
      }.reduce(_ + _)
    }: _*)
    val rows = df.select(col("vec_id"),
      graft.functions.VectorFunctions.lshSigs(col("v"), signs, nbits)
        .as("fast"),
      composed.as("slow")).collect()
    rows.foreach { r =>
      assert(r.getSeq[Long](1) == r.getSeq[Long](2),
        s"signature mismatch for vec ${r.getLong(0)}")
    }
    // NaN dots take the Spark `>=` branch (NaN > any number): all bits set
    val nan = rows.find(_.getLong(0) == 100L).get.getSeq[Long](1)
    assert(nan.forall(_ == (1L << nbits) - 1))
    // mismatch / null element: all-zero signatures, like the null dots
    Seq(101L, 102L, 103L).foreach { id =>
      assert(rows.find(_.getLong(0) == id).get.getSeq[Long](1)
        .forall(_ == 0L))
    }
    // the documented difference: a NULL vector yields NULL (drops out of
    // bucketing) where the composed form bucketed it at 0 in every table
    val nv = Seq((1L, null: Seq[java.lang.Float])).toDF("vec_id", "v")
      .select(graft.functions.VectorFunctions.lshSigs(col("v"), signs, nbits))
      .collect()
    assert(nv.head.isNullAt(0))
  }

  test("LshSigsProbesF: home elements are bit-identical to LshSigsF; " +
    "probe elements flip exactly the weakest-margin planes") {
    val dim = 16; val nbits = 4; val tables = 3; val probes = 2
    val rnd = new scala.util.Random(19)
    val fuzz: Seq[(Long, Seq[java.lang.Float])] =
      (0 until 80).map(i => (i.toLong,
        Seq.fill(dim)(java.lang.Float.valueOf(rnd.nextGaussian().toFloat)))) ++
      Seq(
        (100L, Seq.fill(dim)(java.lang.Float.valueOf(Float.NaN))),
        (101L, Seq.fill(dim - 3)(java.lang.Float.valueOf(1f))),
        (102L, (Seq.fill(dim - 1)(java.lang.Float.valueOf(1f)) :+
          (null: java.lang.Float))))
    val df = fuzz.toDF("vec_id", "v")
    // any ±1 matrix works here (the frozen-family parity is the
    // LshSigsF test's job); seeded so the case is deterministic
    val srnd = new scala.util.Random(7)
    val signs = Array.tabulate(tables * nbits, dim)((_, _) =>
      if (srnd.nextBoolean()) 1.0 else -1.0)
    val rows = df.select(col("vec_id"),
      graft.functions.VectorFunctions.lshSigs(col("v"), signs, nbits)
        .as("home"),
      graft.functions.VectorFunctions.lshSigsProbes(col("v"), signs, nbits,
        probes).as("probed")).collect()
    val byId = fuzz.toMap
    rows.foreach { r =>
      val id = r.getLong(0)
      val home = r.getSeq[Long](1)
      val probed = r.getSeq[Long](2)
      assert(probed.length == tables * (probes + 1))
      (0 until tables).foreach { t =>
        val base = t * (probes + 1)
        assert(probed(base) == home(t),
          s"home signature diverged at id=$id table=$t")
        // each probe variant flips exactly one bit; flipped planes are
        // distinct within the table
        val flippedPlanes = (1 to probes).map { q =>
          val x = probed(base + q) ^ home(t)
          assert(java.lang.Long.bitCount(x) == 1,
            s"probe $q flips ${java.lang.Long.bitCount(x)} bits at id=$id")
          java.lang.Long.numberOfTrailingZeros(x)
        }
        assert(flippedPlanes.distinct.size == probes,
          s"duplicate flipped planes at id=$id table=$t: $flippedPlanes")
        // driver-side margin brute force on clean full-dim vectors: the
        // flipped planes are the weakest-|margin| ones, weakest first
        val v = byId(id)
        if (v.length == dim && !v.contains(null) &&
            !v.exists(f => f.floatValue().isNaN)) {
          val margins = (0 until nbits).map { p =>
            var acc = 0.0
            var i = 0
            while (i < dim) {
              acc += v(i).toDouble * signs(t * nbits + p)(i); i += 1
            }
            math.abs(acc)
          }
          val expected = (0 until nbits).sortBy(p => (margins(p), p))
            .take(probes)
          assert(flippedPlanes == expected,
            s"flip order diverged at id=$id table=$t: " +
              s"$flippedPlanes vs $expected (margins $margins)")
        }
      }
    }
    // degenerate rows: all margins tie (0 or all-NaN→Inf) ⇒ planes 0,1
    Seq(100L, 101L, 102L).foreach { id =>
      val r = rows.find(_.getLong(0) == id).get
      val home = r.getSeq[Long](1)
      val probed = r.getSeq[Long](2)
      (0 until tables).foreach { t =>
        val base = t * (probes + 1)
        assert(probed(base + 1) == (home(t) ^ 1L) &&
          probed(base + 2) == (home(t) ^ 2L),
          s"degenerate flip order at id=$id table=$t")
      }
    }
  }

  test("knnJoin/embeddingNearDup with probes: candidate pairs are a " +
    "superset of the unprobed tier's; recall does not regress") {
    val rnd = new scala.util.Random(23)
    val dim = 16
    // anisotropic clustered corpus — the regime where home buckets miss
    val centers = (0 until 5).map(_ => Array.fill(dim)(rnd.nextGaussian()))
    val vecs = (0 until 300).map { i =>
      val c = centers(i % 5)
      (i.toLong, c.map(x => (x + 0.45 * rnd.nextGaussian()).toFloat).toSeq)
    }
    val df = vecs.toDF("vec_id", "embedding").cache()
    def pairSet(d: org.apache.spark.sql.DataFrame) =
      d.select("id_a", "id_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val plain = pairSet(Dedup.embeddingNearDup(df, "vec_id", "embedding",
      dim, nbits = 4, minCosine = 0.3, maxBucket = 120, tables = 4))
    val probed = pairSet(Dedup.embeddingNearDup(df, "vec_id", "embedding",
      dim, nbits = 4, minCosine = 0.3, maxBucket = 120, tables = 4,
      probes = 1))
    assert(plain.subsetOf(probed),
      s"probed pair set lost ${(plain -- probed).size} unprobed pairs")
    assert(probed.size >= plain.size)
    // every emitted pair clears the threshold with its exact cosine
    val bad = Dedup.embeddingNearDup(df, "vec_id", "embedding", dim,
      nbits = 4, minCosine = 0.3, maxBucket = 120, tables = 4, probes = 1)
      .where(col("cosine") < 0.3).count()
    assert(bad == 0L)
    // knnJoin: probed neighbour recall vs exact top-3 must not regress
    val exact = Similarity.knnJoinExact(df.withColumn("__one", lit(1)),
      "vec_id", "embedding", "__one", k = 3)
      .select("id", "neighbor").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    def knnRecall(probes: Int): Double = {
      val got = Similarity.knnJoin(df, "vec_id", "embedding", dim,
        nbits = 4, k = 3, maxBucket = 120, tables = 4, probes = probes)
        .select("id", "neighbor").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      exact.intersect(got).size.toDouble / exact.size
    }
    val r0 = knnRecall(0)
    val r1 = knnRecall(1)
    assert(r1 >= r0, s"probed knn recall $r1 below unprobed $r0")
  }

  test("lshSignatureLocalFrom is bit-identical to every table of the " +
    "codegen'd signature array") {
    // the multi-table serving probe derives table t's bucket on the
    // driver from planes t*nbits ..< (t+1)*nbits; one flipped bit in any
    // table probes the wrong partitions silently
    val rnd = new scala.util.Random(29)
    val vecs = (0 until 150).map(i =>
      (i.toLong, if (i == 0) Seq.fill(16)(0f)
      else Seq.fill(16)(rnd.nextGaussian().toFloat)))
    val df = vecs.toDF("vec_id", "embedding")
    for (nbits <- Seq(3, 8); tables <- Seq(1, 4)) {
      val sigArr = graft.functions.VectorFunctions.lshSigs(
        col("embedding"),
        Array.tabulate(tables * nbits, 16)((p, i) =>
          // reproduce signMatrix(16, 0, tables*nbits) via the public
          // driver twin: bit p of table t is plane t*nbits+p — asserted
          // against lshSignatureLocalFrom below, which uses planeSign
          if (Similarity.lshSignatureLocalFrom(
            Array.tabulate(16)(d => if (d == i) 1f else 0f),
            16, p, 1) == 1L) 1.0 else -1.0),
        nbits)
      val sparkSide = df.select(col("vec_id"), sigArr.as("sigs")).collect()
        .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
      vecs.foreach { case (id, v) =>
        (0 until tables).foreach { t =>
          assert(Similarity.lshSignatureLocalFrom(v.toArray, 16,
            t * nbits, nbits) == sparkSide(id)(t),
            s"table $t signature mismatch at id=$id nbits=$nbits")
        }
      }
    }
  }

  test("lshBandedCappedProbed under a FORCING cap: candidate superset of " +
    "the unprobed tier still holds (legs derive identical refined keys)") {
    // an anisotropic pile forces the refine+drop guard: vectors share a
    // dominant direction so home buckets concentrate, and cap=40 is well
    // under the concentration. If the probe leg's refined keys diverged
    // from the home leg's (e.g. sizes measured on home∪probe rows, or
    // different extra-bit widths), home-home collisions would be LOST
    // relative to the unprobed tier and the superset would break.
    val rnd = new scala.util.Random(61)
    val base = Array.fill(16)(rnd.nextGaussian())
    val vecs = (0 until 400).map { i =>
      (i.toLong,
        base.map(x => (x + 0.3 * rnd.nextGaussian()).toFloat).toSeq)
    }
    val df = vecs.toDF("vec_id", "embedding").cache()
    def pairSet(d: org.apache.spark.sql.DataFrame) =
      d.select("id_a", "id_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val plain = pairSet(Dedup.embeddingNearDup(df, "vec_id", "embedding",
      dim = 16, nbits = 4, minCosine = 0.5, maxBucket = 40, tables = 3))
    val probed = pairSet(Dedup.embeddingNearDup(df, "vec_id", "embedding",
      dim = 16, nbits = 4, minCosine = 0.5, maxBucket = 40, tables = 3,
      probes = 2))
    assert(plain.nonEmpty, "corpus produced no pairs — test lost its bite")
    assert(plain.subsetOf(probed),
      s"probed tier lost ${(plain -- probed).size} of ${plain.size} " +
        "unprobed pairs under the forcing cap")
  }

  test("annTopKMultiTableBatch: per-query output is bit-identical to the " +
    "single-query probe on the same index") {
    val rnd = new scala.util.Random(53)
    val centers = (0 until 5).map(_ => Array.fill(16)(rnd.nextGaussian()))
    val vecs = (0 until 200).map { i =>
      val c = centers(i % 5)
      (i.toLong, c.map(x => (x + 0.2 * rnd.nextGaussian()).toFloat).toSeq)
    }
    val df = vecs.toDF("vec_id", "embedding").cache()
    val path = tmpDir("lshmt-batch")
    Similarity.writeLshMultiTableIndex(df, "vec_id", "embedding", path,
      dim = 16, nbits = 4, tables = 4)
    val idx = spark.read.parquet(path)
    def bits(r: org.apache.spark.sql.Row) =
      (r.getLong(0), java.lang.Double.doubleToLongBits(r.getDouble(1)))
    val qids = Seq(0L, 7L, 42L, 199L)
    val batchRows = Similarity.annTopKMultiTableBatch(idx,
      qids.map(q => (q, vecs(q.toInt)._2.toArray)), "vec_id", "embedding",
      dim = 16, nbits = 4, tables = 4, k = 8, probeBudget = 3)
      .select(col("query_id"), col("vec_id"), col("cosine"), col("rnk"))
      .collect()
      .groupBy(_.getLong(0))
    // rnk is dense 1..n per query (row_number contract — a regression to
    // rank() would gap or duplicate it and still pass the bit-equality)
    batchRows.foreach { case (q, rows) =>
      assert(rows.map(_.getLong(3)).sorted.toSeq == (1L to rows.size).toSeq,
        s"query $q ranks not dense 1..${rows.size}")
    }
    val batch = batchRows
      .view.mapValues(_.sortBy(_.getLong(3))
        .map(r => (r.getLong(1),
          java.lang.Double.doubleToLongBits(r.getDouble(2)))).toSeq)
      .toMap
    qids.foreach { q =>
      val single = Similarity.annTopKMultiTable(idx,
        vecs(q.toInt)._2.toArray, "vec_id", "embedding", dim = 16,
        nbits = 4, tables = 4, k = 8, probeHamming = 0, probeBudget = 3)
        .collect().map(bits).toSeq
      assert(batch(q) == single,
        s"batch output diverged from single probe for query $q")
    }
    // every query retrieves itself (density asserted above)
    qids.foreach { q =>
      assert(batch(q).map(_._1).contains(q), s"query $q lost itself")
    }
  }

  test("ivfTopKMultiBatch / ivfPqTopKIndexedBatch: per-query output is " +
    "bit-identical to the single-query probes on the same indexes") {
    val rnd = new scala.util.Random(59)
    val centers = (0 until 4).map(_ => Array.fill(16)(rnd.nextGaussian()))
    val vecs = (0 until 240).map { i =>
      val c = centers(i % 4)
      (i.toLong, c.map(x => (x + 0.3 * rnd.nextGaussian()).toFloat).toSeq)
    }
    val df = vecs.toDF("vec_id", "embedding").cache()
    def bits(r: org.apache.spark.sql.Row) =
      (r.getLong(0), java.lang.Double.doubleToLongBits(r.getDouble(1)))
    val qids = Seq(0L, 11L, 123L)
    val qs = qids.map(q => (q, vecs(q.toInt)._2.toArray))

    val maPath = tmpDir("ivfma-batch")
    val cMa = Similarity.writeIvfIndexMulti(df, "vec_id", "embedding",
      maPath, nlist = 8, nassign = 2)
    val maIdx = spark.read.parquet(maPath)
    val maBatch = Similarity.ivfTopKMultiBatch(maIdx, cMa, qs, "vec_id",
      "embedding", nprobe = 3, k = 8, nassign = 2)
      .collect()
      .groupBy(_.getLong(0)).view
      .mapValues(_.sortBy(_.getLong(3))
        .map(r => (r.getLong(1),
          java.lang.Double.doubleToLongBits(r.getDouble(2)))).toSeq)
      .toMap
    qids.foreach { q =>
      val single = Similarity.ivfTopKMulti(maIdx, cMa,
        vecs(q.toInt)._2.toArray, "vec_id", "embedding", nprobe = 3,
        k = 8, nassign = 2).collect().map(bits).toSeq
      assert(maBatch(q) == single,
        s"IVF batch output diverged from single probe for query $q")
    }

    val pqPath = tmpDir("ivfpq-batch")
    val (cents, books) = Similarity.writeIvfPqIndex(df, "vec_id",
      "embedding", pqPath, nlist = 4, nassign = 2, m = 4, codes = 16,
      samplePerCode = 8)
    val pqIdx = spark.read.parquet(pqPath)
    val pqBatch = Similarity.ivfPqTopKIndexedBatch(pqIdx, cents, books,
      qs, "vec_id", "embedding", nprobe = 2, k = 8, rerank = 40,
      nassign = 2)
      .collect()
      .groupBy(_.getLong(0)).view
      .mapValues(_.sortBy(_.getLong(3))
        .map(r => (r.getLong(1),
          java.lang.Double.doubleToLongBits(r.getDouble(2)))).toSeq)
      .toMap
    qids.foreach { q =>
      val single = Similarity.ivfPqTopKIndexed(pqIdx, cents, books,
        vecs(q.toInt)._2.toArray, "vec_id", "embedding", nprobe = 2,
        k = 8, rerank = 40, nassign = 2).collect().map(bits).toSeq
      assert(pqBatch(q) == single,
        s"IVF-PQ batch output diverged from single probe for query $q")
    }

    // batch contract edges: a duplicated query id breaks the pigeonhole
    // pre-cut's per-id row bound, so all three batch probes REFUSE it
    val dup = Seq((0L, vecs(0)._2.toArray), (0L, vecs(1)._2.toArray))
    intercept[IllegalArgumentException] {
      Similarity.annTopKMultiTableBatch(maIdx, dup, "vec_id", "embedding",
        dim = 16, nbits = 4, tables = 4, k = 4, probeBudget = 2)
    }
    intercept[IllegalArgumentException] {
      Similarity.ivfTopKMultiBatch(maIdx, cMa, dup, "vec_id", "embedding",
        nprobe = 2, k = 4, nassign = 2)
    }
    intercept[IllegalArgumentException] {
      Similarity.ivfPqTopKIndexedBatch(pqIdx, cents, books, dup, "vec_id",
        "embedding", nprobe = 2, k = 4, rerank = 8, nassign = 2)
    }
    // an all-empty shortlist (every probed row filtered out) returns 0
    // rows with the contract schema — same as the single-query probe,
    // not an exception
    val emptyRes = Similarity.ivfPqTopKIndexedBatch(
      pqIdx.where(lit(false)), cents, books, qs, "vec_id", "embedding",
      nprobe = 2, k = 8, rerank = 40, nassign = 2)
    assert(emptyRes.columns.toSeq ==
      Seq("query_id", "vec_id", "cosine", "rnk"))
    assert(emptyRes.count() == 0L)
  }

  test("PqAdcBatchF matches the composed element_at(typedLit) ADC form " +
    "bit-for-bit per query") {
    val rnd = new scala.util.Random(67)
    val m = 4; val codes = 8; val nQ = 3
    val luts: Seq[Seq[Seq[Double]]] = Seq.fill(nQ)(
      Seq.fill(m)(Seq.fill(codes)(rnd.nextGaussian())))
    val rows = (0 until 60).map { i =>
      (i.toLong, i % nQ, Seq.fill(m)(rnd.nextInt(codes)))
    }.map { case (id, qi, cs) => (id, qi, cs(0), cs(1), cs(2), cs(3)) }
    val df = rows.toDF("id", "qi", "pq_0", "pq_1", "pq_2", "pq_3")
    val fast = graft.functions.VectorFunctions.pqAdcBatch(col("qi"),
      (0 until m).map(j => col(s"pq_$j")), luts)
    // the single-query composed form, dispatched per qi by when-chains
    val slow = (0 until nQ).foldLeft(lit(null).cast("double")) { (acc, q) =>
      val score = (0 until m).map { j =>
        element_at(typedLit[Seq[Double]](luts(q)(j).toIndexedSeq),
          col(s"pq_$j") + 1)
      }.reduce(_ + _)
      when(col("qi") === q, score).otherwise(acc)
    }
    val got = df.select(col("id"), fast.as("f"), slow.as("s")).collect()
    got.foreach { r =>
      assert(java.lang.Double.doubleToLongBits(r.getDouble(1)) ==
        java.lang.Double.doubleToLongBits(r.getDouble(2)),
        s"ADC mismatch at id=${r.getLong(0)}")
    }
    // interpreted path agrees with codegen
    val expr = graft.functions.PqAdcBatchF(
      (0 to m).map(i => org.apache.spark.sql.catalyst.expressions
        .BoundReference(i, org.apache.spark.sql.types.IntegerType,
          nullable = false)), luts)
    rows.take(10).foreach { case (_, qi, c0, c1, c2, c3) =>
      val row = org.apache.spark.sql.catalyst.InternalRow(qi, c0, c1, c2, c3)
      val expect = (0 until m).map(j =>
        luts(qi)(j)(Seq(c0, c1, c2, c3)(j))).sum
      assert(java.lang.Double.doubleToLongBits(
        expr.eval(row).asInstanceOf[Double]) ==
        java.lang.Double.doubleToLongBits(expect),
        "interpreted ADC diverged")
    }
  }

  test("annTopKMultiTable: full-coverage probe is bit-identical to the " +
    "exact scan; partial probe partition-prunes to the key set") {
    val rnd = new scala.util.Random(31)
    val centers = (0 until 5).map(_ => Array.fill(16)(rnd.nextGaussian()))
    val vecs = (0 until 200).map { i =>
      val c = centers(i % 5)
      (i.toLong, c.map(x => (x + 0.15 * rnd.nextGaussian()).toFloat).toSeq)
    }
    val df = vecs.toDF("vec_id", "embedding").cache()
    val qv = vecs(7)._2.toArray
    def bits(r: org.apache.spark.sql.Row) =
      (r.getLong(0), java.lang.Double.doubleToLongBits(r.getDouble(1)))
    // nbits=2 + Hamming-2 probes all 4 buckets of every table — full
    // corpus coverage through the dedup path (every vector collides in
    // all 3 probed tables), so the result must equal the exact scan
    // bit-for-bit: same ids, same cosine doubles, same tie-break
    val fullPath = tmpDir("lshmt-full")
    Similarity.writeLshMultiTableIndex(df, "vec_id", "embedding", fullPath,
      dim = 16, nbits = 2, tables = 3)
    val exact = Similarity.cosineTopK(df, Seq(Tuple1(qv.toSeq))
        .toDF("embedding"), "vec_id", "embedding", k = 10)
      .collect().map(bits).toSeq
    val served = Similarity.annTopKMultiTable(spark, fullPath, qv,
      "vec_id", "embedding", dim = 16, nbits = 2, tables = 3, k = 10,
      probeHamming = 2).collect().map(bits).toSeq
    assert(served == exact, "full-coverage multi-table probe diverged")
    // query-directed probing at a full budget covers the same 4 buckets
    // (subsets of the 2 weak planes = every bucket) — identical output
    val adaptive = Similarity.annTopKMultiTable(spark, fullPath, qv,
      "vec_id", "embedding", dim = 16, nbits = 2, tables = 3, k = 10,
      probeHamming = 0, probeBudget = 4).collect().map(bits).toSeq
    assert(adaptive == exact, "full-budget adaptive probe diverged")
    // the adaptive key set: per table, distinct keys led by the own
    // bucket (flip mask ∅ scores 0), all within the table's namespace
    (4 to 16 by 4).foreach { budget =>
      val keys = Similarity.probeKeysMultiTableAdaptive(qv, 16, 6, 8,
        budget)
      assert(keys.size == 8 * budget, s"budget=$budget size=${keys.size}")
      assert(keys.distinct.size == keys.size, "duplicate adaptive keys")
      (0 until 8).foreach { t =>
        val own = (t.toLong << 6) |
          Similarity.lshSignatureLocalFrom(qv, 16, t * 6, 6)
        assert(keys(t * budget) == own,
          s"table $t adaptive probe must lead with the own bucket")
        keys.slice(t * budget, (t + 1) * budget).foreach(
          k0 => assert(k0 >> 6 == t, s"key $k0 outside table $t namespace"))
      }
    }
    // realistic config: partial probe must partition-prune on lsh_key,
    // touch only probed key directories, and keep usable recall
    val path = tmpDir("lshmt")
    Similarity.writeLshMultiTableIndex(df, "vec_id", "embedding", path,
      dim = 16, nbits = 6, tables = 8)
    val res = Similarity.annTopKMultiTable(spark, path, qv,
      "vec_id", "embedding", dim = 16, nbits = 6, tables = 8, k = 10,
      probeHamming = 1)
    val planStr = res.queryExecution.executedPlan.toString
    assert(planStr.contains("PartitionFilters") &&
      planStr.contains("lsh_key"),
      s"expected a partition-pruned scan, got:\n$planStr")
    val got = res.collect().map(bits).toSeq
    assert(got.map(_._1).contains(7L), "self vector not retrieved")
    val recall = exact.map(_._1).toSet
      .intersect(got.map(_._1).toSet).size.toDouble / exact.size
    assert(recall >= 0.5, s"multi-table recall $recall too low")
    // files actually read sit only in probed key directories
    val probed = Similarity.probeKeysMultiTable(qv, 16, 6, 8, 1).toSet
    val touched = spark.read.parquet(path)
      .where(col("lsh_key").isin(probed.toSeq.map(Long.box): _*))
      .select(input_file_name()).distinct().as[String].collect()
    touched.foreach { f =>
      val b = f.split("lsh_key=")(1).split("/")(0).toLong
      assert(probed.contains(b), s"read outside the probe set: $f")
    }
  }

  test("nearestCentroidsK: k=1 equals nearestCentroid; ordering matches " +
    "a driver-side brute force") {
    val rnd = new scala.util.Random(37)
    val cents = Array.fill(6)(Array.fill(8)(rnd.nextGaussian()))
    val vecs = (0 until 100).map(i =>
      (i.toLong, Seq.fill(8)(rnd.nextGaussian().toFloat)))
    val df = vecs.toDF("vec_id", "embedding")
    val got = df.select(col("vec_id"),
      graft.functions.VectorFunctions.nearestCentroid(
        col("embedding"), cents).as("one"),
      graft.functions.VectorFunctions.nearestCentroidsK(
        col("embedding"), cents, 3).as("three")).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getSeq[Int](2))).toSeq
    val expected = vecs.map { case (id, v) =>
      val d = cents.zipWithIndex.map { case (c, ix) =>
        (c.zip(v).map { case (ci, vi) =>
          val x = vi.toDouble - ci; x * x
        }.sum, ix)
      }
      id -> d.sortBy(t => (t._1, t._2)).take(3).map(_._2).toSeq
    }.toMap
    got.foreach { case (id, one, three) =>
      assert(three == expected(id), s"top-3 cells mismatch at id=$id")
      assert(one == three.head, s"k=1 head mismatch at id=$id")
    }
  }

  test("nearestCentroidsK: NaN/Inf vectors backfill the smallest unused " +
    "cells (never -1), matching nearestCentroid at k=1") {
    val cents = Array.fill(5)(Array.fill(4)(0.5))
    // every centroid distance is NaN (NaN element) or Inf (overflow) —
    // the strict < never fires, so all k slots would stay -1 without the
    // backfill, silently writing the row into an unprobeable partition
    val degenerate = Seq(
      (1L, Seq.fill(4)(Float.NaN)),
      (2L, Seq.fill(4)(Float.MaxValue)))
    val df = degenerate.toDF("vec_id", "embedding")
    val got = df.select(col("vec_id"),
      graft.functions.VectorFunctions.nearestCentroid(
        col("embedding"), cents).as("one"),
      graft.functions.VectorFunctions.nearestCentroidsK(
        col("embedding"), cents, 1).as("k1"),
      graft.functions.VectorFunctions.nearestCentroidsK(
        col("embedding"), cents, 3).as("k3")).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getSeq[Int](2),
        r.getSeq[Int](3)))
    got.foreach { case (id, one, k1, k3) =>
      assert(one == 0, s"nearestCentroid contract at id=$id: $one")
      assert(k1 == Seq(0), s"k=1 backfill at id=$id: $k1")
      assert(k3 == Seq(0, 1, 2), s"k=3 backfill at id=$id: $k3")
    }
    // interpreted path (nullSafeEval) agrees with codegen
    val bound = graft.functions.NearestCentroidsKF(
      org.apache.spark.sql.catalyst.expressions.BoundReference(0,
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.FloatType), nullable = true),
      cents.map(_.toIndexedSeq).toIndexedSeq, 3)
    degenerate.foreach { case (_, v) =>
      val row = org.apache.spark.sql.catalyst.InternalRow(
        org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(v.toArray))
      val out = bound.eval(row)
        .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
      assert(out.toIntArray().toSeq == Seq(0, 1, 2),
        s"interpreted backfill diverged: ${out.toIntArray().toSeq}")
    }
  }

  test("multi-assignment IVF: full probe is bit-identical to exact; " +
    "partial probe recall >= single-assignment at the same nprobe") {
    val rnd = new scala.util.Random(41)
    val centers = (0 until 6).map(_ => Array.fill(16)(rnd.nextGaussian()))
    val vecs = (0 until 240).map { i =>
      val c = centers(i % 6)
      (i.toLong, c.map(x => (x + 0.35 * rnd.nextGaussian()).toFloat).toSeq)
    }
    val df = vecs.toDF("vec_id", "embedding").cache()
    val qv = vecs(11)._2.toArray
    def bits(r: org.apache.spark.sql.Row) =
      (r.getLong(0), java.lang.Double.doubleToLongBits(r.getDouble(1)))
    val exact = Similarity.cosineTopK(df, Seq(Tuple1(qv.toSeq))
        .toDF("embedding"), "vec_id", "embedding", k = 10)
      .collect().map(bits).toSeq
    val maPath = tmpDir("ivfma")
    val cMa = Similarity.writeIvfIndexMulti(df, "vec_id", "embedding",
      maPath, nlist = 8, nassign = 2)
    val maIdx = spark.read.parquet(maPath)
    // nprobe = nlist probes every cell; the max-per-id dedup collapses
    // the 2 copies of every vector — output must equal exact bit-for-bit
    val full = Similarity.ivfTopKMulti(maIdx, cMa, qv, "vec_id",
      "embedding", nprobe = 8, k = 10, nassign = 2).collect().map(bits).toSeq
    assert(full == exact, "full multi-assign probe diverged from exact")
    // partial probe: multi-assignment sees boundary vectors the
    // single-assignment index loses (deterministic corpus+fit ⇒ stable)
    val (saIdx, cSa) = Similarity.ivfIndex(df, "vec_id", "embedding",
      nlist = 8)
    val exactIds = exact.map(_._1).toSet
    def recallOf(d: org.apache.spark.sql.DataFrame): Double =
      exactIds.intersect(d.collect().map(_.getLong(0)).toSet)
        .size.toDouble / exactIds.size
    val rMa = recallOf(Similarity.ivfTopKMulti(maIdx, cMa, qv, "vec_id",
      "embedding", nprobe = 2, k = 10, nassign = 2))
    val rSa = recallOf(Similarity.ivfTopK(saIdx, cSa, qv, "vec_id",
      "embedding", nprobe = 2, k = 10))
    assert(rMa >= rSa,
      s"multi-assign recall $rMa below single-assign $rSa")
    assert(rMa >= 0.5, s"multi-assign recall $rMa too low")
    // the probe partition-prunes on ivf_cell
    val planStr = Similarity.ivfTopKMulti(maIdx, cMa, qv, "vec_id",
        "embedding", nprobe = 2, k = 10, nassign = 2)
      .queryExecution.executedPlan.toString
    assert(planStr.contains("PartitionFilters") &&
      planStr.contains("ivf_cell"),
      s"expected a partition-pruned scan, got:\n$planStr")
  }

  test("ivfPqTopKIndexed: full probe + full rerank is bit-identical to " +
    "exact; ADC reads code columns only") {
    val rnd = new scala.util.Random(43)
    val centers = (0 until 4).map(_ => Array.fill(16)(rnd.nextGaussian()))
    val vecs = (0 until 200).map { i =>
      val c = centers(i % 4)
      (i.toLong, c.map(x => (x + 0.2 * rnd.nextGaussian()).toFloat).toSeq)
    }
    val df = vecs.toDF("vec_id", "embedding").cache()
    val qv = vecs(3)._2.toArray
    def bits(r: org.apache.spark.sql.Row) =
      (r.getLong(0), java.lang.Double.doubleToLongBits(r.getDouble(1)))
    val path = tmpDir("ivfpq")
    val (cents, books) = Similarity.writeIvfPqIndex(df, "vec_id",
      "embedding", path, nlist = 4, nassign = 2, m = 4, codes = 16,
      samplePerCode = 8)
    val idx = spark.read.parquet(path)
    val exact = Similarity.cosineTopK(df, Seq(Tuple1(qv.toSeq))
        .toDF("embedding"), "vec_id", "embedding", k = 10)
      .collect().map(bits).toSeq
    // nprobe = nlist + rerank >= corpus: the exact re-rank sees every
    // vector, so the ADC ordering cannot cost recall — bit-identical
    val full = Similarity.ivfPqTopKIndexed(idx, cents, books, qv,
        "vec_id", "embedding", nprobe = 4, k = 10, rerank = 300,
        nassign = 2)
      .collect().map(bits).toSeq
    assert(full == exact, "full ivf-pq probe diverged from exact")
    // realistic probe keeps usable recall and self-retrieval
    val part = Similarity.ivfPqTopKIndexed(idx, cents, books, qv,
        "vec_id", "embedding", nprobe = 2, k = 10, rerank = 50,
        nassign = 2)
      .collect().map(bits).toSeq
    assert(part.map(_._1).contains(3L), "self vector not retrieved")
    val recall = exact.map(_._1).toSet
      .intersect(part.map(_._1).toSet).size.toDouble / exact.size
    assert(recall >= 0.5, s"ivf-pq recall $recall too low")
  }

  test("lsh bucket is deterministic across evaluations") {
    val vecs = (0 until 50).map(i =>
      (i.toLong, (0 until 16).map(j => math.sin(i * 17 + j).toFloat)))
    val df = vecs.toDF("vec_id", "embedding")
    val b1 = Similarity.lshBucketed(df, "embedding", 16, 6)
      .select("vec_id", "lsh_bucket").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val b2 = Similarity.lshBucketed(df, "embedding", 16, 6)
      .select("vec_id", "lsh_bucket").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(b1 == b2)
  }

  test("index append paths: probes over build(A)+append(B) are " +
    "result-identical to the one-shot union build / frozen-quantizer " +
    "union transform") {
    val rnd = new scala.util.Random(71)
    val centers = (0 until 4).map(_ => Array.fill(16)(rnd.nextGaussian()))
    val all = (0 until 200).map { i =>
      val c = centers(i % 4)
      (i.toLong, c.map(x => (x + 0.25 * rnd.nextGaussian()).toFloat).toSeq)
    }
    // batch = every 10th id (includes id 0 — a probe of it proves the
    // append actually landed); standing = the rest
    val standing = all.filter(_._1 % 10 != 0).toDF("vec_id", "embedding")
    val batch = all.filter(_._1 % 10 == 0).toDF("vec_id", "embedding")
    val union = all.toDF("vec_id", "embedding").cache()
    def bits(r: org.apache.spark.sql.Row) =
      (r.getLong(0), java.lang.Double.doubleToLongBits(r.getDouble(1)))
    val qids = Seq(0L, 10L, 57L, 123L) // two appended, two standing
    def qv(q: Long) = all(q.toInt)._2.toArray

    // MT-LSH: planes are deterministic ⇒ append ≡ one-shot union build
    val oneShot = tmpDir("lshmt-oneshot")
    Similarity.writeLshMultiTableIndex(union, "vec_id", "embedding",
      oneShot, dim = 16, nbits = 4, tables = 4)
    val incr = tmpDir("lshmt-incr")
    Similarity.writeLshMultiTableIndex(standing, "vec_id", "embedding",
      incr, dim = 16, nbits = 4, tables = 4)
    Similarity.appendLshMultiTableIndex(batch, "vec_id", "embedding",
      incr, dim = 16, nbits = 4, tables = 4)
    val oneIdx = spark.read.parquet(oneShot)
    val incrIdx = spark.read.parquet(incr)
    assert(incrIdx.count() == union.count() * 4, "MT index row count")
    qids.foreach { q =>
      val a = Similarity.annTopKMultiTable(oneIdx, qv(q), "vec_id",
        "embedding", dim = 16, nbits = 4, tables = 4, k = 8,
        probeHamming = 0, probeBudget = 3).collect().map(bits).toSeq
      val b = Similarity.annTopKMultiTable(incrIdx, qv(q), "vec_id",
        "embedding", dim = 16, nbits = 4, tables = 4, k = 8,
        probeHamming = 0, probeBudget = 3).collect().map(bits).toSeq
      assert(a == b, s"MT-LSH appended-index probe diverged for query $q")
      assert(b.map(_._1).contains(q), s"query $q lost itself")
    }

    // IVF-MA: frozen quantizer ⇒ append ≡ the writer's union transform
    // under the SAME centroids (a one-shot union build would re-train
    // them from a different sample — that is the documented contract)
    val maPath = tmpDir("ivfma-incr")
    val cents = Similarity.writeIvfIndexMulti(standing, "vec_id",
      "embedding", maPath, nlist = 6, nassign = 2)
    Similarity.appendIvfIndexMulti(batch, "vec_id", "embedding", maPath,
      cents, nassign = 2)
    val maIdx = spark.read.parquet(maPath)
    assert(maIdx.count() == union.count() * 2, "IVF-MA index row count")
    val expectedMa = (0 until 2).map { r =>
      union.select(col("*"),
          element_at(graft.functions.VectorFunctions.nearestCentroidsK(
            col("embedding"), cents, 2), r + 1).as("ivf_cell"))
        .withColumn("__norm", sqrt(Similarity.norm2(col("embedding"))))
    }.reduce(_ unionByName _)
    qids.foreach { q =>
      val a = Similarity.ivfTopKMulti(expectedMa, cents, qv(q), "vec_id",
        "embedding", nprobe = 3, k = 8, nassign = 2)
        .collect().map(bits).toSeq
      val b = Similarity.ivfTopKMulti(maIdx, cents, qv(q), "vec_id",
        "embedding", nprobe = 3, k = 8, nassign = 2)
        .collect().map(bits).toSeq
      assert(a == b, s"IVF-MA appended-index probe diverged for query $q")
    }

    // IVF-PQ: frozen quantizer AND codebooks ⇒ same ADC arithmetic
    val pqPath = tmpDir("ivfpq-incr")
    val (pCents, books) = Similarity.writeIvfPqIndex(standing, "vec_id",
      "embedding", pqPath, nlist = 4, nassign = 2, m = 4, codes = 16,
      samplePerCode = 8)
    Similarity.appendIvfPqIndex(batch, "vec_id", "embedding", pqPath,
      pCents, books, nassign = 2)
    val pqIdx = spark.read.parquet(pqPath)
    assert(pqIdx.count() == union.count() * 2, "IVF-PQ index row count")
    val expectedPq = (0 until 2).map { r =>
      Similarity.pqEncode(
        union.select(col("*"),
          element_at(graft.functions.VectorFunctions.nearestCentroidsK(
            col("embedding"), pCents, 2), r + 1).as("ivf_cell")),
        "embedding", books)
    }.reduce(_ unionByName _)
    qids.foreach { q =>
      val a = Similarity.ivfPqTopKIndexed(expectedPq, pCents, books,
        qv(q), "vec_id", "embedding", nprobe = 2, k = 8, rerank = 40,
        nassign = 2).collect().map(bits).toSeq
      val b = Similarity.ivfPqTopKIndexed(pqIdx, pCents, books, qv(q),
        "vec_id", "embedding", nprobe = 2, k = 8, rerank = 40,
        nassign = 2).collect().map(bits).toSeq
      assert(a == b, s"IVF-PQ appended-index probe diverged for query $q")
    }
  }

  test("distributed coarse-quantizer fit (nlist > 256): shape, cell " +
    "coverage, and an end-to-end probe over the de-clamped index") {
    val rnd = new scala.util.Random(97)
    val centers = (0 until 8).map(_ => Array.fill(8)(3.0 * rnd.nextGaussian()))
    val all = (0 until 3000).map { i =>
      val c = centers(i % 8)
      (i.toLong, c.map(x => (x + 0.3 * rnd.nextGaussian()).toFloat).toSeq)
    }
    val corpus = all.toDF("vec_id", "embedding").cache()

    // nlist = 300 forces the distributed Lloyd's path
    val cents = Similarity.fitCentroids(corpus, "vec_id", "embedding", 300)
    assert(cents.length == 300, s"expected 300 centroids, got ${cents.length}")
    assert(cents.forall(_.length == 8), "centroid dim")
    assert(cents.forall(_.forall(d => !d.isNaN && !d.isInfinite)),
      "non-finite centroid")

    // the fit must actually move centroids toward the data: assignment
    // over the corpus should touch many cells (a broken fold that left
    // init rows untouched still passes shape checks — coverage doesn't)
    val cells = corpus.select(graft.functions.VectorFunctions
        .nearestCentroid(col("embedding"), cents).as("c"))
      .distinct().count()
    assert(cells >= 50, s"only $cells cells populated out of 300")

    // end-to-end: build the de-clamped IVF-MA index and probe it — the
    // serving shape at nlist > 256 (fraction shrinks with nlist at fixed
    // nprobe; recall here just needs to be sane on a clustered corpus)
    val path = tmpDir("ivfma-declamped")
    val wCents = Similarity.writeIvfIndexMulti(corpus, "vec_id",
      "embedding", path, nlist = 300, nassign = 2)
    val idx = spark.read.parquet(path)
    assert(idx.count() == 6000L, "nassign=2 index row count")
    val exact = Similarity.cosineTopK(corpus,
        Seq(Tuple1(all(7)._2)).toDF("embedding"), "vec_id", "embedding", 10)
      .select("vec_id").as[Long].collect().toSet
    val got = Similarity.ivfTopKMulti(idx, wCents, all(7)._2.toArray,
        "vec_id", "embedding", nprobe = 30, k = 10, nassign = 2)
      .select("vec_id").as[Long].collect().toSet
    assert(got.contains(7L), "self vector not retrieved")
    val recall = exact.intersect(got).size.toDouble / exact.size
    assert(recall >= 0.6, s"de-clamped IVF recall $recall too low")
    corpus.unpersist(): Unit
  }

  test("batch index writers/appends fail fast on a streaming-sink path; " +
    "appends raise on a wrong-dim batch") {
    val rnd = new scala.util.Random(83)
    val vecs = (0 until 40).map(i =>
      (i.toLong, Array.fill(8)(rnd.nextGaussian().toFloat).toSeq))
      .toDF("vec_id", "embedding")
    // a path carrying a streaming sink's _spark_metadata log: a batch
    // read lists files from the log ONLY, so batch-appended rows would
    // be silently invisible to every probe (ADVICE r11) — the append
    // must refuse, not corrupt
    val streamed = tmpDir("lshmt-streamowned")
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(streamed, "_spark_metadata"))
    intercept[IllegalArgumentException] {
      Similarity.appendLshMultiTableIndex(vecs, "vec_id", "embedding",
        streamed, dim = 8, nbits = 4, tables = 2)
    }
    intercept[IllegalArgumentException] {
      Similarity.writeLshMultiTableIndex(vecs, "vec_id", "embedding",
        streamed, dim = 8, nbits = 4, tables = 2)
    }
    val cents = Array(Array.fill(8)(0.0), Array.fill(8)(1.0))
    intercept[IllegalArgumentException] {
      Similarity.appendIvfIndexMulti(vecs, "vec_id", "embedding",
        streamed, cents, nassign = 1)
    }
    val books = Array.fill(2)(Array.fill(4)(Array.fill(4)(0.0)))
    intercept[IllegalArgumentException] {
      Similarity.appendIvfPqIndex(vecs, "vec_id", "embedding", streamed,
        cents, books, nassign = 1)
    }

    // wrong-dim batch: a mis-assigned index row is DURABLE corruption
    // (probes carry the dim require on the query side only), so the
    // append's per-row guard must raise rather than write (ADVICE r11)
    val maPath = tmpDir("ivfma-dimguard")
    Similarity.writeIvfIndexMulti(vecs, "vec_id", "embedding", maPath,
      nlist = 2, nassign = 1)
    val cents2 = Similarity.writeIvfIndexMulti(vecs, "vec_id",
      "embedding", maPath, nlist = 2, nassign = 1)
    val wrongDim = (0 until 5).map(i =>
      (1000L + i, Array.fill(5)(0.5f).toSeq)).toDF("vec_id", "embedding")
    val before = spark.read.parquet(maPath).count()
    // raise_error surfaces as SparkRuntimeException (USER_RAISED_EXCEPTION)
    // or job-abort SparkException depending on where the write fails —
    // pin the guard by MESSAGE, not exception class
    def dimRefused(f: => Unit): Unit = {
      val e = intercept[Exception](f)
      assert(Option(e.getMessage).getOrElse("").contains("dim") ||
        Option(e.getCause).exists(c =>
          Option(c.getMessage).getOrElse("").contains("dim")),
        s"expected the dim guard, got: $e")
    }
    dimRefused {
      Similarity.appendIvfIndexMulti(wrongDim, "vec_id", "embedding",
        maPath, cents2, nassign = 1)
    }
    dimRefused {
      Similarity.appendIvfPqIndex(wrongDim, "vec_id", "embedding",
        maPath, cents2,
        Array.fill(4)(Array.fill(4)(Array.fill(2)(0.0))), nassign = 1)
    }
    dimRefused {
      Similarity.appendLshMultiTableIndex(wrongDim, "vec_id", "embedding",
        maPath, dim = 8, nbits = 4, tables = 2)
    }
    // a refused append must not have landed partial rows
    assert(spark.read.parquet(maPath).count() == before,
      "wrong-dim append landed rows")
  }
}
