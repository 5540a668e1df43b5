package graftbench

import java.io.{File, PrintWriter}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkEntry
import graft.queries.{CapabilityQueries, ParityQueries}

/** `query`: closed loop, one client. Untimed, each query of a fixed named
  * subset of `SparkEntry.queries` runs once and its result is checked
  * against a recorded row count and checksum (this also warms the JVM and
  * the codegen cache). Then a fixed number of timed passes over the subset,
  * each query written to the `noop` sink; a query's time is its median over
  * the passes. Sync and store code is never touched.
  */
object Query {
  /** The heavy deduplication and similarity queries dominate the total;
    * the many sub-second parity and relational queries dominate the
    * geometric mean. Every family in [[family]] is covered.
    */
  val subset: Seq[String] = Seq(
    // heavy: connected components over near-duplicate pairs, an exact kNN
    // join, a product-quantized ANN probe (codebooks shipped per stage)
    "dedup_cluster", "knn_exact", "sim_search_pq_check",
    // parity operators (driver-floor bound)
    "scan_block", "point_lookup", "reorg_ancestor",
    // relational surface
    "join_hash", "window_rank", "sort_topk",
    // exact dedup, media hashing, text scoring
    "dedup_exact", "media_phash", "quality_score")

  def family(q: String): String =
    if (ParityQueries.defs.contains(q)) "parity"
    else if (CapabilityQueries.defs.contains(q)) "relational"
    else if (q.startsWith("media_") || Seq("dedup_media", "dedup_audio",
        "dedup_video").exists(q.startsWith)) "media"
    else if (q.startsWith("dedup_") || q.startsWith("winnow_") ||
        q.startsWith("contamination")) "dedup"
    else if (q.startsWith("sim_search") || q.startsWith("knn_") ||
        q.startsWith("embed_")) "similarity"
    else "text"

  val families = Seq("parity", "relational", "dedup", "similarity", "media", "text")

  /** Timed passes per run: ~8 s each at the seed commit on 4 cores. */
  val passes = 2
  /** Queries checked at once in the untimed pass. */
  val warmThreads = 3

  /** Order-independent result checksum: row count plus the sum of row
    * hashes. Top-level doubles (and arrays of them) are rounded to six
    * decimals first, so summation order cannot move the last bits.
    */
  def checksum(df: DataFrame): (Long, Long) = {
    val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    def fractional(t: DataType): Boolean = t match {
      case DoubleType | FloatType => true
      case ArrayType(e, _) => fractional(e)
      case MapType(k, v, _) => fractional(k) || fractional(v)
      case StructType(fs) => fs.exists(f => fractional(f.dataType))
      case _ => false
    }
    val cols: Seq[Column] = named.schema.fields.toSeq.map { f =>
      val c = col(f.name)
      f.dataType match {
        case DoubleType | FloatType => round(c.cast(DoubleType), 6)
        case ArrayType(DoubleType | FloatType, _) =>
          transform(c, x => round(x.cast(DoubleType), 6))
        case t if fractional(t) => lit(0) // nested doubles: not hashed
        case _ => c
      }
    }
    val r = named.select(xxhash64(cols :+ lit(1): _*).as("h"))
      .agg(count(lit(1)), coalesce(sum(col("h") % lit(1000000007L)), lit(0L)))
      .head()
    (r.getLong(0), r.getLong(1))
  }

  def run(ctx: Ctx, o: Outcome, sfDir: String, golden: File,
      record: Boolean): Unit = {
    val spark = ctx.spark
    val tables = Seq("events", "lineitem", "orders", "customer", "part",
      "supplier", "nation", "region", "documents", "embeddings")
      .filter(t => new File(s"$sfDir/$t.parquet").exists())
    require(tables.contains("events"), s"no test tables under $sfDir")

    // set-up: open every table (file listing, footer, schema)
    val setups = (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      tables.foreach(t => spark.read.parquet(s"$sfDir/$t.parquet").schema)
      (System.nanoTime() - t0) / 1e9
    }

    val queries = subset.map(q => q -> SparkEntry.queries(q))
    // checked, untimed pass, three queries at a time: it compiles every
    // query's code once, so the timed passes run warm
    val pool = java.util.concurrent.Executors.newFixedThreadPool(warmThreads)
    val pending = queries.map { case (q, fn) =>
      q -> pool.submit(() => o.op(s"check $q")(checksum(fn(spark, sfDir))))
    }
    val sums = pending.map { case (q, f) => q -> f.get() }.toMap
    pool.shutdown()
    spark.catalog.clearCache()
    if (record) {
      // a second pass tells a stable checksum from an order-dependent one
      val again = queries.map { case (q, fn) =>
        val s = checksum(fn(spark, sfDir)); spark.catalog.clearCache(); q -> s
      }.toMap
      val w = new PrintWriter(golden, "UTF-8")
      try w.println(subset.map { q =>
        val (n, h) = sums(q).get
        val hash = if (again(q)._2 == h) h.toString else "null"
        s"""  "$q": {"rows": $n, "hash": $hash}"""
      }.mkString("{\n", ",\n", "\n}"))
      finally w.close()
    } else {
      val expect = Golden.read(golden)
      subset.foreach { q =>
        val ok = (sums(q), expect.get(q)) match {
          case (Some((n, h)), Some((en, eh))) => n == en && eh.forall(_ == h)
          case _ => false
        }
        o.check(s"query $q result matches the recorded checksum", ok)
      }
    }

    Log.phase("query: checked pass done")
    val window = Window.start(ctx)
    val times = queries.map(_._1 -> ArrayBuffer.empty[Double]).toMap
    (1 to passes).foreach { _ =>
      queries.foreach { case (q, fn) =>
        val t0 = System.nanoTime()
        o.op(s"query $q")(ctx.tracer.span(s"query.${family(q)}", q)(
          fn(spark, sfDir).write.format("noop").mode("overwrite").save()))
        times(q) += (System.nanoTime() - t0) / 1e9
        spark.catalog.clearCache()
      }
    }
    val w = window.stop()
    Log.phase("query: window done")

    val med = subset.map(q => Stats.median(times(q).toSeq))
    o.e2e("throughput_per_s") = med.size / med.sum
    o.e2e("latency_p50_s") = Stats.median(med)
    o.e2e("latency_p90_s") = Stats.quantile(med, 0.9)
    o.e2e("cpu_s") = w.cpuSeconds / passes
    o.e2e("setup_s") = Stats.median(setups)
    o.detail("query_total_s") = (med.sum, "s")
    o.detail("query_geomean_s") = (Stats.geomean(med), "s")
    o.detail("passes") = (passes.toDouble, "count")
    subset.zip(med).foreach { case (q, m) => o.detail(s"q.$q") = (m, "s") }
    w.fillProcess(o)
    if (ctx.tracer.enabled) families.foreach { f =>
      val spans = ctx.tracer.named(s"query.$f")
      val wall = spans.map(_.seconds).sum / passes
      val task = spans.map(_.taskMs.get).sum / 1e3 / passes
      o.layer(s"query.$f.wall_s") = wall
      o.layer(s"query.$f.task_s") = task
      o.layer(s"query.$f.jobs") = spans.map(_.jobs.get).sum.toDouble / passes
      o.layer(s"query.$f.floor_s") = wall - task / ctx.cores
    }
  }
}

/** Reads the recorded `{"query": {"rows": n, "hash": h|null}}` file. */
object Golden {
  def read(f: File): Map[String, (Long, Option[Long])] = {
    val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(f)
    val out = Map.newBuilder[String, (Long, Option[Long])]
    node.fields().forEachRemaining { e =>
      val h = e.getValue.get("hash")
      out += e.getKey -> (e.getValue.get("rows").asLong(),
        if (h == null || h.isNull) None else Some(h.asLong()))
    }
    out.result()
  }
}
