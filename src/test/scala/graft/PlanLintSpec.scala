package graft

import org.apache.spark.sql.execution._
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.aggregate.{HashAggregateExec, ObjectHashAggregateExec, SortAggregateExec}
import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
import org.apache.spark.sql.execution.window.{WindowExec, WindowGroupLimitExec}

/** The automated twin of PLANS.md's snapshot discipline: every declared
  * query's EXECUTED SparkPlan is walked and the scale anti-patterns fail
  * the build —
  *
  *  - CartesianProduct anywhere;
  *  - BroadcastNestedLoopJoin whose broadcast side is not provably
  *    bounded (a 1-row stat frame joined cross-wise is the one legitimate
  *    shape in the inventory — ungrouped aggregates, limits and tiny
  *    local relations count as bounds);
  *  - an unpartitioned WindowExec whose input is not limit-bounded (the
  *    "Moving all data to a single partition" shape; search_rrf's
  *    100-row-limited rank windows are the accepted case).
  *
  * A planted offender per class proves the lint actually bites. Plans are
  * linted at sf0.001 — plan SHAPE is scale-free; values are not needed.
  */
class PlanLintSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  /** Every node of the physical tree, descending through AQE roots and
    * reused exchanges/subqueries.
    */
  private def allNodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => a +: allNodes(a.executedPlan)
    case r: exchange.ReusedExchangeExec => r +: allNodes(r.child)
    case other => other +: other.children.flatMap(allNodes)
  }

  /** A subtree is BOUNDED when something below guarantees few rows:
    * a limit, a top-k, an ungrouped (single-row) aggregate, a window
    * group-limit, a small literal relation, or a point-equality filter
    * (a key-filtered dim lookup — sim_search's broadcast query vector is
    * `embeddings WHERE vec_id = 0`; the anti-patterns this lint hunts are
    * corpus × corpus shapes, which carry no such filter).
    */
  private def bounded(p: SparkPlan): Boolean = allNodes(p).exists {
    case _: GlobalLimitExec | _: LocalLimitExec | _: CollectLimitExec |
        _: TakeOrderedAndProjectExec | _: WindowGroupLimitExec => true
    case h: HashAggregateExec       => h.groupingExpressions.isEmpty
    case s: SortAggregateExec       => s.groupingExpressions.isEmpty
    case o: ObjectHashAggregateExec => o.groupingExpressions.isEmpty
    case l: LocalTableScanExec      => l.rows.lengthCompare(1000) <= 0
    case r: RDDScanExec             => r.name == "ParallelCollectionRDD"
    case f: FilterExec =>
      import org.apache.spark.sql.catalyst.expressions._
      f.condition.exists {
        case EqualTo(_: AttributeReference, _: Literal) => true
        case EqualTo(_: Literal, _: AttributeReference) => true
        case _ => false
      }
    case _ => false
  }

  /** Lint one physical plan; returns the violations (empty = clean). */
  private def lint(plan: SparkPlan): Seq[String] = allNodes(plan).flatMap {
    case c: CartesianProductExec =>
      Some(s"CartesianProduct: ${c.simpleStringWithNodeId()}")
    case b: BroadcastNestedLoopJoinExec =>
      val bc = b.buildSide match {
        case org.apache.spark.sql.catalyst.optimizer.BuildLeft => b.left
        case _ => b.right
      }
      if (bounded(bc)) None
      else Some(s"unbounded BroadcastNestedLoopJoin: ${b.simpleStringWithNodeId()}")
    case w: WindowExec if w.partitionSpec.isEmpty =>
      if (bounded(w.child)) None
      else Some(s"unpartitioned unbounded Window: ${w.simpleStringWithNodeId()}")
    case _ => None
  }

  test("planted offenders are caught (the lint bites)") {
    import spark.implicits._
    val big = spark.range(0, 2000).toDF("a")
    val big2 = spark.range(0, 2000).toDF("b")
    // a genuine unbounded cartesian (hinted, else Spark broadcasts the
    // small side into a BNLJ — also caught, but as the other class)
    val cart = big.hint("shuffle_replicate_nl").crossJoin(big2)
    assert(lint(cart.queryExecution.executedPlan)
      .exists(_.contains("CartesianProduct")), "planted cartesian not caught")
    // a genuine unbounded nested loop (non-equi, no bound on either side)
    val bnlj = big.join(big2, $"a" * 2 =!= $"b" * 3)
    assert(lint(bnlj.queryExecution.executedPlan).nonEmpty,
      "planted nested loop not caught")
    // a genuine unpartitioned window over unbounded input
    val win = big.withColumn("rn",
      org.apache.spark.sql.functions.row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy("a")))
    assert(lint(win.queryExecution.executedPlan)
      .exists(_.contains("Window")), "planted global window not caught")
    // and the accepted shapes pass: 1-row stat cross join, limited window
    val stat = big.agg(org.apache.spark.sql.functions.max("a").as("m"))
    assert(lint(big.crossJoin(stat).queryExecution.executedPlan).isEmpty,
      "1-row stat broadcast join must be accepted")
    val limWin = big.limit(100).withColumn("rn",
      org.apache.spark.sql.functions.row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy("a")))
    assert(lint(limWin.queryExecution.executedPlan).isEmpty,
      "limit-bounded global window must be accepted")
  }

  SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
    test(s"plan lint: $name") {
      val df = fn(spark, sf)
      val bad = lint(df.queryExecution.executedPlan)
      assert(bad.isEmpty,
        s"$name has scale anti-patterns:\n${bad.mkString("\n")}\n" +
          df.queryExecution.executedPlan.toString)
    }
  }

  test("declared ANN serving probes: bounded corpus fraction at the 1M+ " +
    "dial point, and the executed plan partition-prunes to exactly the " +
    "driver-computed key set") {
    // the DE-CLAMPED dials must SHRINK the probed fraction with N —
    // pinned as arithmetic so a config drift fails here before
    // AnnCrossover re-measures it
    val (nbits1m, tables1m) = graft.queries.Serving.lshMtDial(1000000L)
    assert(nbits1m == 12 && tables1m == 24,
      s"LSH joint dial at 1M moved: ($nbits1m, $tables1m)")
    // query-directed probe: 12 buckets per table of 24 tables
    val lshFrac = tables1m * 12.0 / (1L << nbits1m).toDouble
    assert(lshFrac <= 0.08, f"LSH MT probe fraction at 1M: $lshFrac%.3f")
    val nlist1m = graft.queries.Serving.ivfNlist(1000000L)
    assert(nlist1m == 1000, s"IVF dial at 1M moved: $nlist1m")
    val ivfFrac = 3.0 * graft.queries.Serving
      .ivfNprobe(nlist1m, 16) / nlist1m.toDouble
    assert(ivfFrac <= 0.10, f"IVF MA probe fraction at 1M: $ivfFrac%.3f")
    // the de-clamp's 100×-question pin: at 20M the fraction must be
    // BELOW the round-11 frozen 18.75%, and keep falling (≤ 8% —
    // the round-11 verdict's bar); at 1G lower still
    val nlist20m = graft.queries.Serving.ivfNlist(20000000L)
    assert(nlist20m == 4096, s"IVF dial at 20M moved: $nlist20m")
    val ivfFrac20m = 3.0 * graft.queries.Serving
      .ivfNprobe(nlist20m, 16) / nlist20m.toDouble
    assert(ivfFrac20m <= 0.08,
      f"IVF MA probe fraction at 20M: $ivfFrac20m%.3f")
    val ivfFrac1g = 3.0 * graft.queries.Serving.ivfNprobe(
      graft.queries.Serving.ivfNlist(1000000000L), 16) /
      graft.queries.Serving.ivfNlist(1000000000L).toDouble
    assert(ivfFrac1g <= ivfFrac20m,
      "IVF probe fraction must not grow with N")
    // PQ composite (round-12 √ dial past the de-clamp point: pqNprobe =
    // 3·√nlist, continuous with the r11 3/16·nlist at 256; rerank 800):
    // the ADC pass reads code columns (m bytes + norm ≈ 1/32 of the
    // vector payload) of nassign·nprobe/nlist of the index — the BYTE
    // fraction stays a few % because the scan never touches the vector
    // column (PLANS.md's ReadSchema shows codes only), and the cell
    // fraction now also shrinks with N
    val pqNprobe1m = graft.queries.Serving.pqNprobe(nlist1m)
    assert(pqNprobe1m == 95, s"PQ probe dial at 1M moved: $pqNprobe1m")
    val pqCells = 2.0 * pqNprobe1m / nlist1m.toDouble
    assert(pqCells <= 0.20, f"IVF-PQ probed-cell fraction at 1M: $pqCells%.3f")
    val pqCodeBytes = pqCells * (16.0 + 8.0) / (64.0 * 4 + 24.0)
    assert(pqCodeBytes <= 0.02,
      f"IVF-PQ ADC byte fraction at 1M: $pqCodeBytes%.4f")
    val pqCells20m = 2.0 * graft.queries.Serving.pqNprobe(nlist20m) /
      nlist20m.toDouble
    assert(pqCells20m < pqCells,
      "IVF-PQ probed-cell fraction must shrink with N")
    // and the plan itself: the probe scan's partition filter carries
    // EXACTLY tables*budget keys (12×12 — the query-directed probe set;
    // nothing else is listed or read — the same property the
    // files-touched check in SimilaritySpec's annTopKMultiTable case
    // pins at the file level)
    val df = SparkEntry.queries("sim_search_lsh")(spark, sf)
    val scans = allNodes(df.queryExecution.executedPlan).collect {
      case f: FileSourceScanExec if f.partitionFilters.nonEmpty => f
    }
    assert(scans.nonEmpty, "no partition-pruned scan in sim_search_lsh")
    val keyCounts = scans.map { f =>
      f.partitionFilters.flatMap(_.collect {
        case s: org.apache.spark.sql.catalyst.expressions.InSet =>
          s.hset.size
        case i: org.apache.spark.sql.catalyst.expressions.In =>
          i.list.size
      }).sum
    }
    assert(keyCounts.exists(_ == 12 * 12),
      s"expected a ${12 * 12}-key probe, got $keyCounts")
  }

  test("no declared query plans an UNPARTITIONED WindowExec at all " +
    "(bounded or not) — the bench tail must stay warning-free") {
    // the lint above ACCEPTS limit-bounded global windows, so a
    // regression from the non-foldable one-partition key back to a
    // foldable literal (which Catalyst folds away, leaving an empty
    // partitionSpec — exactly what happened to the first fix) would
    // pass the lint while re-flooding the bench tail with "No
    // Partition Defined" warnings a REAL unpartitioned-window
    // regression could then hide in. Pin the stronger property: the
    // inventory plans zero unpartitioned WindowExec nodes, period.
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        allNodes(fn(spark, sf).queryExecution.executedPlan).collect {
          case w: WindowExec if w.partitionSpec.isEmpty => name
        }
    }.distinct
    assert(offenders.isEmpty,
      s"unpartitioned WindowExec in: ${offenders.mkString(", ")}")
  }
}
