package graft

/** Regenerates the physical-plan snapshots behind PLANS.md:
  * `sbt "runMain graft.PlanDump [sfDir] [query...]"` prints
  * `.explain("formatted")`-style plans for the named queries (default: the
  * headline set). Auditing tool only — not part of the driver contract.
  */
object PlanDump {
  private val headline = Seq("scan_range", "join_hash", "agg_group",
    "sort_topk", "join_asof", "sim_search", "sim_search_pq", "sim_search_lsh",
    "dedup_minhash", "dedup_cluster", "dedup_embedding", "knn_join",
    "window_rank", "zorder_key", "append_index", "decode_abi",
    "funnel_steps", "funnel_any", "agg_quantiles_approx", "dedup_purge",
    "dedup_span", "source_cap", "bm25", "inverted_index", "quality_filter",
    "rarity_score", "dedup_semantic", "embed_quantize", "join_salted",
    "lm_score", "bpe_pairs", "text_normalize", "winnow_pairs",
    "heavy_hitters", "dsir_select", "curriculum_order", "doc_pack_bfd",
    "lm_kn", "quality_lr", "mix_weights", "media_phash", "dedup_media",
    "dedup_audio", "join_hamming", "join_interval", "media_keyframes",
    "unigram_encode", "sample_coverage", "media_resize",
    "search_rrf", "dict_filter", "join_overlap", "tx_store_roundtrip",
    "tx_time_travel", "tx_changes",
    // round 9: the exact pair tiers after the hashed-gram-key pass, and
    // a representative of the new fingerprint-tier check twins
    "dedup_ngram", "dedup_containment", "edit_distance",
    "dedup_minhash_check",
    // round 10/11: the persisted-index ANN serving probes (the
    // snapshots must show PartitionFilters carrying the driver-computed
    // lsh_key / ivf_cell probe sets) and the tx-table interop legs
    "sim_search_ivf", "tx_export", "tx_import",
    // late round 11: incremental dedup against the persisted band index,
    // and the incremental ANN serving probe (same pruned shape as
    // sim_search_lsh over the build+append index)
    "dedup_incremental", "sim_search_incremental",
    // round 12: the third serving tier's batch row (one ADC scan fans
    // per-query via the broadcast probe frame; per-(query,cell) pre-cut
    // window, then the unioned IN-filtered rerank legs)
    "sim_search_batch_pq")

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names = if (args.length > 1) args.drop(1).toSeq else headline
    // SPARK_GRAFT_PLAN_MODE=codegen prints WholeStageCodegen subtree counts
    // + generated code (audits that big projections haven't bailed out of
    // codegen); default stays the compact simple plan
    val mode = sys.env.getOrElse("SPARK_GRAFT_PLAN_MODE", "simple") match {
      case "codegen" => org.apache.spark.sql.execution.CodegenMode
      case "formatted" => org.apache.spark.sql.execution.FormattedMode
      case _ => org.apache.spark.sql.execution.SimpleMode
    }
    val spark = Harness.session("8")
    // AQE wraps everything in AdaptiveSparkPlan, under which CodegenMode
    // reports "0 subtrees" — turn it off for the codegen audit only
    if (mode == org.apache.spark.sql.execution.CodegenMode)
      spark.conf.set("spark.sql.adaptive.enabled", "false")
    // OFF, not WARN: localCheckpoint cleanup logs benign "non-existent
    // accumulator" DAGScheduler errors that would otherwise flood the
    // regenerated PLANS.md with stack traces
    spark.sparkContext.setLogLevel("OFF")
    names.foreach { q =>
      println(s"## $q\n")
      println("```")
      println(SparkEntry.queries(q)(spark, sfDir).queryExecution
        .explainString(mode).trim)
      println("```\n")
    }
    spark.stop()
  }
}
