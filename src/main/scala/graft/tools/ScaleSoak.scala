package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** 10× scale-soak harness: synthesizes an sf1-equivalent documents +
  * embeddings corpus (testdata stops at sf0.1), runs the dedup / ANN /
  * media / text tiers at both scales, and reports per-query wall-clock
  * ratios — the "would the plan survive a scale-up" evidence, measured
  * rather than argued. A tier is healthy when its ratio stays near the
  * data ratio (linear work: scans, banded joins, narrow fingerprints) or
  * matches its DOCUMENTED candidate growth (knn_exact is block-quadratic
  * by contract; nothing else is allowed to be).
  *
  * Corpus synthesis is bootstrap-×F with controlled structure: every
  * source doc yields F variants — the original, one EXACT copy, one
  * near-copy (~2.5% word edits), and F−3 fresh texts (same length and
  * word distribution, order shuffled and half the words resampled, so
  * they are NOT near anything). Duplicate-cluster sizes stay bounded
  * (2–3) as the corpus grows — duplicate RATE is scale-free, exactly the
  * regime the banded/bucketed designs assume; a generator that let
  * clusters grow with the corpus would measure hot-key caps, not scaling.
  * Embeddings mirror the same scheme (original / tight-noise near-dup /
  * fresh norm-matched vectors, labels inherited).
  */
object ScaleSoak {

  /** The soaked tiers: every declared query whose input is the documents
    * or embeddings corpus and whose design claims a scale path. Paired
    * with the growth the design documents (ratio gate = factor × slack;
    * knn_exact is quadratic by contract and gated at factor²).
    */
  val tier: Seq[(String, String)] = Seq(
    "dedup_exact" -> "linear",
    "dedup_normalized" -> "linear",
    "dedup_minhash" -> "linear",
    "dedup_ngram" -> "linear",
    "dedup_cluster" -> "linear",
    "dedup_purge" -> "linear",
    "dedup_containment" -> "linear",
    "dedup_incremental" -> "linear",
    "dedup_simhash" -> "linear",
    "dedup_span" -> "linear",
    "winnow_pairs" -> "linear",
    "edit_distance" -> "linear",
    "dedup_embedding" -> "linear",
    "dedup_semantic" -> "linear",
    "dedup_semantic_purge" -> "linear",
    "sim_search" -> "linear",
    "sim_search_lsh" -> "linear",
    "sim_search_ivf" -> "linear",
    "sim_search_pq" -> "linear",
    "knn_join" -> "linear",
    "knn_exact" -> "quadratic",
    "media_phash" -> "linear",
    "dedup_media" -> "linear",
    "dedup_audio" -> "linear",
    "dedup_video" -> "linear",
    "heavy_hitters" -> "linear",
    "text_fingerprint" -> "linear",
    "quality_filter" -> "linear",
    "lang_id" -> "linear",
    "bm25" -> "linear",
    "tfidf" -> "linear"
  )

  /** Completed-output probe keyed on a CONTENT STAMP (srcDir + factor
    * written beside `_SUCCESS`), through the Hadoop FileSystem of
    * `outDir` — a bare java.io.File `_SUCCESS` check silently reuses a
    * stale corpus when the source dir or factor changed, and is always
    * false (⇒ regenerates every run) for any non-local outDir.
    */
  private def stamp(srcDir: String, factor: Int, vocabLimit: Int = 2000) =
    if (vocabLimit == 2000) s"$srcDir|$factor" // legacy stamp — keep warm
    else s"$srcDir|$factor|v$vocabLimit"

  private def stampedDone(spark: SparkSession, dir: String,
      expect: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val succ = new org.apache.hadoop.fs.Path(dir, "_SUCCESS")
    val st = new org.apache.hadoop.fs.Path(dir, "_graft_stamp")
    fs.exists(succ) && fs.exists(st) && {
      val in = fs.open(st)
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString == expect
      finally in.close()
    }
  }

  private def writeStamp(spark: SparkSession, dir: String,
      content: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(dir, "_graft_stamp")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    try out.write(content.getBytes("UTF-8")) finally out.close()
  }

  def generate(spark: SparkSession, srcDir: String, outDir: String,
      factor: Int, vocabLimit: Int = 2000,
      withVectors: Boolean = true): Unit = {
    import spark.implicits._
    val expect = stamp(srcDir, factor, vocabLimit)
    if (stampedDone(spark, s"$outDir/documents.parquet", expect) &&
      (!withVectors ||
        stampedDone(spark, s"$outDir/embeddings.parquet", expect))) return

    // global vocab for the fresh-text resampling (one tiny job);
    // vocabLimit bounds it — 2000 covers the source corpus's whole
    // working set, the Zipf variant passes its full synthetic vocabulary
    val vocab = spark.read.parquet(s"$srcDir/documents.parquet")
      .select(explode(split(col("text"), " ")).as("w"))
      .where(col("w") =!= "")
      .groupBy("w").count()
      .orderBy(col("count").desc, col("w"))
      .limit(vocabLimit).select("w").as[String].collect()
    val bc = spark.sparkContext.broadcast(vocab)

    val srcDocs = spark.read.parquet(s"$srcDir/documents.parquet")
      .select("doc_id", "text", "lang", "source")
      .as[(Long, String, String, String)]
      .repartition(32)
    srcDocs.flatMap { case (id, text, lang, source) =>
      val words = text.split(" ").filter(_.nonEmpty)
      (0 until factor).map { v =>
        val rnd = new scala.util.Random(id * 1315423911L + v)
        val t = v match {
          case 0 | 1 => text // original + one exact copy
          case 2 => // near-copy: ~2.5% of words resampled
            val w = words.clone()
            val edits = math.max(1, w.length / 40)
            (0 until edits).foreach { _ =>
              w(rnd.nextInt(w.length)) = bc.value(rnd.nextInt(bc.value.length))
            }
            w.mkString(" ")
          case _ => // fresh: same length, shuffled order, half resampled
            Array.tabulate(words.length) { _ =>
              if (rnd.nextBoolean()) bc.value(rnd.nextInt(bc.value.length))
              else words(rnd.nextInt(words.length))
            }.mkString(" ")
        }
        (id * factor + v, t, lang, source, t.length.toLong)
      }
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$outDir/documents.parquet")
    writeStamp(spark, s"$outDir/documents.parquet",
      stamp(srcDir, factor, vocabLimit))

    if (withVectors) generateVectors(spark, srcDir, outDir, factor)
  }

  /** Synthesize a REALISTIC-VOCABULARY source corpus: `nDocs` documents
    * of Zipf-distributed words over a `vocabSize`-word vocabulary
    * (s≈1.07, the classic natural-text exponent). The driver testdata's
    * documents draw from a 31-word template vocabulary — only ~30k
    * distinct 3-grams exist, so at 10× scale EVERY doc pair shares grams
    * and the exact pair tiers measure gram saturation, not real-text
    * sparsity (SOAK.md round 10). This corpus has ~10k words ⇒ a gram
    * space the corpus cannot saturate, so pair-tier soak ratios measure
    * the join's true scaling regime. Deterministic (seeded per doc id),
    * same schema/length envelope as the testdata documents.
    */
  def synthZipfSource(spark: SparkSession, dir: String, nDocs: Int,
      vocabSize: Int = 10000): Unit = {
    import spark.implicits._
    val expect = s"zipf|$nDocs|$vocabSize"
    if (stampedDone(spark, s"$dir/documents.parquet", expect)) return
    // cumulative Zipf weights, broadcast once; binary-search sampling
    val cum = new Array[Double](vocabSize)
    var acc = 0.0
    var r = 0
    while (r < vocabSize) {
      acc += 1.0 / math.pow((r + 1).toDouble, 1.07); cum(r) = acc; r += 1
    }
    val bc = spark.sparkContext.broadcast(cum)
    spark.range(nDocs.toLong).repartition(32).as[Long].map { id =>
      val rnd = new scala.util.Random(id * 0x9e3779b97f4a7c15L + 17L)
      val c = bc.value
      val total = c(c.length - 1)
      def word(): String = {
        val x = rnd.nextDouble() * total
        var lo = 0; var hi = c.length - 1
        while (lo < hi) {
          val mid = (lo + hi) >>> 1
          if (c(mid) < x) lo = mid + 1 else hi = mid
        }
        s"w$lo"
      }
      val len = 40 + rnd.nextInt(80)
      val text = Seq.fill(len)(word()).mkString(" ")
      (id, text, "en", "zipf", text.length.toLong)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    writeStamp(spark, s"$dir/documents.parquet", expect)
  }

  /** The embeddings half of [[generate]], callable on its own — the ANN
    * crossover harness ([[AnnCrossover]]) scales vectors to 50× without
    * paying for a 50× text corpus it never reads.
    */
  def generateVectors(spark: SparkSession, srcDir: String, outDir: String,
      factor: Int): Unit = {
    import spark.implicits._
    if (stampedDone(spark, s"$outDir/embeddings.parquet",
        stamp(srcDir, factor)))
      return
    val srcVecs = spark.read.parquet(s"$srcDir/embeddings.parquet")
      .select("vec_id", "embedding", "label")
      .as[(Long, Array[Float], Int)]
      .repartition(32)
    srcVecs.flatMap { case (id, vec, label) =>
      val norm = math.sqrt(vec.map(x => x.toDouble * x).sum)
      (0 until factor).map { v =>
        val rnd = new scala.util.Random(id * 2654435761L + v)
        val out = v match {
          case 0 => vec
          case 1 => // tight-noise near-dup (cosine ≈ 0.999)
            vec.map(x => x + (rnd.nextGaussian() * 0.01 * norm /
              math.sqrt(vec.length.toDouble)).toFloat)
          case _ => // fresh norm-matched vector, label inherited
            val g = Array.fill(vec.length)(rnd.nextGaussian())
            val gn = math.sqrt(g.map(x => x * x).sum)
            g.map(x => (x / gn * norm).toFloat)
        }
        (id * factor + v, out, label)
      }
    }.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$outDir/embeddings.parquet")
    writeStamp(spark, s"$outDir/embeddings.parquet", stamp(srcDir, factor))
  }

  /** The pair tiers the Zipf-vocabulary variant soaks: document-input
    * only (the synthetic corpus carries no embeddings), centred on the
    * exact pair tiers whose x10 ratios the 31-word corpus could not
    * measure honestly.
    */
  private val zipfTiers = Set(
    "dedup_exact", "dedup_normalized", "dedup_minhash", "dedup_ngram",
    "dedup_containment", "dedup_span", "dedup_simhash", "winnow_pairs",
    "edit_distance", "dedup_cluster", "dedup_purge", "dedup_incremental")

  def main(args: Array[String]): Unit = {
    val vocabMode = sys.env.getOrElse("SPARK_GRAFT_SOAK_VOCAB", "source")
    val factor = sys.env.getOrElse("SPARK_GRAFT_SOAK_FACTOR", "10").toInt
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "2").toInt
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.Harness.session(cpus)

    val zipf = vocabMode == "zipf10k"
    val srcDir =
      if (zipf) {
        val d = sys.env.getOrElse("SPARK_GRAFT_ZIPF_SRC",
          "/tmp/graft-zipf-src")
        synthZipfSource(spark, d, nDocs = 5000, vocabSize = 10000)
        d
      } else sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val outDir = sys.env.getOrElse("SPARK_GRAFT_SOAK_DIR",
      if (zipf) s"/tmp/graft-zipf-x$factor" else s"/tmp/graft-soak-x$factor")

    if (zipf)
      generate(spark, srcDir, outDir, factor, vocabLimit = 10000,
        withVectors = false)
    else generate(spark, srcDir, outDir, factor)
    // the scaled dir carries only documents/embeddings; every soaked
    // query reads nothing else

    def time(fn: (SparkSession, String) => DataFrame, dir: String): Double =
      graft.Harness.timeMin(1)(
        fn(spark, dir).write.format("noop").mode("overwrite").save())

    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val selected = tier
      .filter { case (n, _) => !zipf || zipfTiers.contains(n) }
      .filter { case (n, _) => only.forall(_.contains(n)) }

    // warmup both corpora (footers + codegen), untimed
    Seq(srcDir, outDir).foreach { d =>
      (if (zipf) Seq("documents") else Seq("documents", "embeddings"))
        .foreach(t =>
          spark.read.parquet(s"$d/$t.parquet").limit(1).count())
    }
    try time(graft.SparkEntry.queries(selected.head._1), srcDir)
    catch { case _: Throwable => }

    // interleaved whole sweeps (the Bench noise discipline), min per cell
    val base = scala.collection.mutable.Map.empty[String, Double]
    val scaled = scala.collection.mutable.Map.empty[String, Double]
    (0 until reps).foreach { _ =>
      selected.foreach { case (name, _) =>
        val fn = graft.SparkEntry.queries(name)
        val b = time(fn, srcDir)
        val s = time(fn, outDir)
        base(name) = math.min(base.getOrElse(name, Double.MaxValue), b)
        scaled(name) = math.min(scaled.getOrElse(name, Double.MaxValue), s)
      }
    }

    val rows = selected.map { case (name, growth) =>
      val r = scaled(name) / math.max(base(name), 1e-9)
      (name, growth, base(name), scaled(name), r)
    }
    def f(d: Double) = f"$d%.2f"
    val json = rows.map { case (n, g, b, s, r) =>
      s""""$n":{"growth":"$g","base_s":${f(b)},"scaled_s":${f(s)},"ratio":${f(r)}}"""
    }.mkString(",")
    println(s"""{"metric":"scale_soak","factor":$factor,"reps":$reps,""" +
      s""""vocab":"$vocabMode","queries":{$json}}""")
    spark.stop()
  }
}
