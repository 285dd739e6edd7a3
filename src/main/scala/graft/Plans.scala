package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.{ConcurrentHashMap, CountDownLatch}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.execution.SimpleMode

/** Plan and job evidence for named queries, on the [[Session]] the
  * bench and the correctness dump run on. Each query executes ONCE at
  * the bench SF (`SPARK_GRAFT_SF_DIR`, as for [[Bench]]):
  *   - its executed physical plan goes to the output file — after the
  *     action, so AdaptiveSparkPlan prints the final (`isFinalPlan=true`)
  *     plan with AQE's runtime join and coalescing decisions;
  *   - every Spark job it submitted goes to stdout with its wall time,
  *     stage/task counts and call site, marked `build` (submitted while
  *     the DataFrame was constructed: schema inference, at-rest artifact
  *     builds, eager checkpoints), `action`, or `other` (a thread that
  *     carries neither mark).
  * Query names come from `SPARK_GRAFT_QUERIES` (default: [[headline]]).
  * Usage: SPARK_GRAFT_SF_DIR=<sfDir> runMain graft.Plans [outFile]
  * (default docs/PLANS.md)
  */
object Plans {
  val headline = Seq(
    "knn_cosine", "knn_join", "q1_agg", "q3_join", "q5_join", "q9_profit",
    "meta_filter", "dedup_minhash", "dedup_jaccard", "dedup_embedding",
    "ann_lsh", "ann_lsh_tables", "ann_knn_join", "ann_pq_static",
    "ann_pq_rerank", "ann_ivfpq_static", "events_window",
    "events_session_window", "top_orders_per_customer", "skew_join_salted",
    "ann_sq8", "ann_sq8_rerank", "asof_join", "search_hybrid",
    "dedup_clusters", "dedup_incremental", "docs_chunk",
    "pack_sequences", "decontaminate", "tfidf_terms", "quality_filter",
    "events_funnel", "events_retention",
    "ngram_topk", "quality_repetition", "dup_spans", "shard_assign",
    "mix_budget", "dedup_edit", "embed_dim_stats", "label_centroids",
    "ann_recall", "knn_radius", "ann_ivf", "ann_ivfpq",
    "ann_ivfpq_residual", "events_zscore", "pipeline_corpus",
    "ann_bq", "ann_bq_rerank", "ann_ivf_filtered", "search_mmr",
    "hybrid_weighted", "quality_perplexity", "ann_ivfbq",
    "docs_zorder", "tokens_hh_exact", "lang_tokens_hh",
    "ann_recall_matrix", "pipeline_corpus_neardup",
    "events_rollup", "events_gapfill", "q10_returns",
    "sample_stratified", "corpus_diff", "incremental_embed",
    "events_grouping_sets", "vector_sql_radius", "source_overlap",
    "sample_quota", "events_lag_features", "dedup_group_sizes",
    "doclen_hist", "sample_stratified_source", "events_zscore_gapfill",
    "tokens_hh_approx", "decontaminate_bloom", "table_profile",
    "data_checks", "dedup_recall", "dedup_recall_matrix", "search_ndcg",
    "embed_drift", "pii_redact", "embed_outliers", "knn_grouped",
    "knn_label_purity", "collocations_pmi", "decontaminate_frac",
    "dup_source_matrix", "quality_by_source", "dedup_normalized",
    "dedup_containment", "corpus_zipf", "keywords_by_source",
    "embed_integrity", "fingerprint_winnow", "dedup_winnow",
    "events_anomaly_mad", "dedup_winnow_verify", "pipeline_pretrain_mix",
    "dedup_winnow_recall", "quality_perplexity2", "decontaminate_spans",
    "dedup_winnow_matrix", "q6_forecast", "q18_big_orders",
    "mix_temperature", "pack_efficiency", "pipeline_rag_index",
    "events_seasonality", "user_activity_deciles",
    "events_transitions", "orders_rfm", "supplier_balance_outliers",
    "corpus_datasheet", "embed_pca", "bpe_merges", "source_similarity",
    "vocab_coverage", "dedup_cluster_best", "events_ewma",
    "embed_pca_hist", "bpe_tokenize", "q4_priority", "q12_late_priority",
    "ngram_diversity", "template_prefixes", "quality_classifier",
    "source_kl", "tokens_cms", "graph_pagerank", "dedup_semantic",
    "pq_distortion", "q14_promo", "q17_small_qty", "q22_idle_customers",
    "vocab_oov", "token_fertility", "orders_pareto", "ivf_balance",
    "dedup_quality_cost", "events_stickiness", "chunks_dedup",
    "quality_entropy", "quality_rules", "orders_gap", "split_leakage",
    "embed_norm_hist", "simhash_hamming", "join_skew_profile",
    "pipeline_eval_prep", "lsh_plan", "tokens_cms_sweep",
    "orders_basket_pairs", "corpus_heaps", "trade_matrix",
    "embed_dist_hist", "events_lifespan", "ann_ivfsq",
    "vector_sql_offset", "part_repeat_buyers", "vector_sql_between",
    "split_group_aware", "users_hll", "mine_hard_negatives",
    "importance_weights", "ngram_novelty", "ivf_append",
    "shard_rebalance", "users_kmv_overlap", "recall_dim_budget",
    "basket_rules", "price_qty_regression", "q7_volume",
    "q13_custdist", "events_window_topk", "docs_scd2",
    "snapshot_neardup", "tokens_entropy_rate", "multimodal_manifest",
    "activity_bitmap", "orders_seasonality", "quality_drift",
    "decontaminate_sweep", "dedup_cluster_density", "users_hll_rollup",
    "vocab_kmv_jaccard", "events_props_stats", "q8_market_share",
    "q19_disjunct", "mine_triplets", "split_group_audit", "bloom_plan",
    "knn_graph_stats", "knn_hubness", "eval_matched_sample",
    "q2_min_cost", "q11_important_parts", "q15_top_supplier",
    "q16_supplier_cnt", "q20_top_share_suppliers", "q21_waiting_supplier",
    "orders_cohort_ltv", "curriculum_phases", "corpus_burstiness",
    "events_attribution", "search_maxsim", "search_maxsim_pruned",
    "events_rollup_incremental", "events_funnel_latency",
    "dedup_threshold_sweep", "vector_sql_union", "multimodal_dedup",
    "ivf_plan", "graph_triangles", "ann_sq4", "split_temporal",
    "events_changepoint", "events_quantile_sketch",
    "multimodal_cdc_dedup", "zonemap_prune", "dedup_cdc_recall",
    "interval_join", "dedup_cc_star", "embed_rp",
    "shard_consistent", "corpus_yield_report", "ann_rp_rerank",
    "mix_waterfill", "graph_assortativity", "embed_centroid_drift",
    "bloom_fpr_audit", "split_ppl_gap", "ann_ivf_adaptive",
    "dedup_growth_curve", "vocab_fof", "events_dispersion",
    "pq_subspace_balance", "lang_id_nb", "orders_gap_survival",
    "nation_supplier_hhi", "knn_classifier_eval", "tokens_colloc_llr",
    "graph_modularity", "split_kfold_balance", "events_path3",
    "corpus_rep_filter", "quality_psi", "users_activity_gini",
    "events_forecast_backtest", "batch_padding_waste",
    "docs_k_anonymity", "quality_bootstrap_ci", "orders_tier_migration",
    "knn_graph_nndescent", "graph_label_prop", "graph_lp_modularity",
    "cluster_silhouette", "cluster_elbow", "coreset_kcenter",
    "vocab_heaps", "quality_ks", "embed_eff_dim",
    "events_markov_stationary", "knn_graph_search", "knn_graph_append",
    "ann_pq_permuted", "knn_graph_delete", "dedup_graph_cc",
    "events_acf", "graph_coreness", "search_phrase", "events_holt_backtest",
    "knn_graph_search_routed", "quality_auc_dup",
    "knn_graph_filtered", "vector_sql_ann",
    "knn_graph_search_pq", "vector_sql_ann_graph", "graph_connectivity",
    "vector_sql_ann_l2", "vector_sql_ann_graph_l2",
    "vector_sql_ann_dot_fallback", "embed_linear_search",
    "vector_sql_ann_dml_delete", "vector_sql_ann_dml_update",
    "vector_sql_ann_cosine_recall", "vector_sql_ann_count")

  /** Local property carrying the phase a job is submitted in. */
  private val Phase = "graft.plans.phase"

  private final case class Job(id: Int, phase: String, t0: Long,
      site: String, stages: Int, tasks: Int) { @volatile var t1 = 0L }

  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse("docs/PLANS.md")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      sys.error("set SPARK_GRAFT_SF_DIR to the bench SF directory"))
    val names = sys.env.get("SPARK_GRAFT_QUERIES")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(headline)
    val cpus = Session.cpus
    val spark = Session(cpus)
    val sc = spark.sparkContext
    val jobs = new ConcurrentHashMap[Int, Job]()
    // the listener bus is asynchronous: a "flush" job's end event is
    // delivered after every event of the query's own jobs
    @volatile var flushed = new CountDownLatch(1)
    sc.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val site = e.stageInfos.map(si =>
            si.name.take(40) + "@" + si.details.linesIterator
              .filter(_.contains("graft")).take(1).mkString.trim.take(80))
          .mkString(" | ").take(300)
        jobs.put(e.jobId, Job(e.jobId,
          Option(e.properties).flatMap(p => Option(p.getProperty(Phase)))
            .getOrElse("other"), e.time,
          site, e.stageInfos.size, e.stageInfos.map(_.numTasks).sum))
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        Option(jobs.get(e.jobId)).foreach { j =>
          j.t1 = e.time
          if (j.phase == "flush") flushed.countDown()
        }
    })
    val sb = new StringBuilder
    sb ++= "# Physical plans of headline queries\n\n"
    sb ++= s"Generated by `graft.Plans` on `$sfDir`, on `graft.Session`\n"
    sb ++= s"(`local[$cpus]`, GraftExtensions on) — the session `graft.Bench`\n"
    sb ++= "and `graft.Verify` run on. What to look for:\n"
    sb ++= "`PushedFilters` at the scans, `BroadcastHashJoin` for dims,\n"
    sb ++= "`partial_knn_block` before the single-partition exchange in knn_join,\n"
    sb ++= "`TakeOrderedAndProject` for every top-k, and `*(n)` marking\n"
    sb ++= "whole-stage codegen around the distance expressions.\n"
    sb ++= "\nPlans are dumped AFTER execution (`isFinalPlan=true`), so\n"
    sb ++= "join strategies are what AQE actually chose from runtime\n"
    sb ++= "sizes — the TPC-H-style joins carry no broadcast() hints on\n"
    sb ++= "tables that scale with SF (customer/part/supplier); a\n"
    sb ++= "BroadcastHashJoin there is AQE's small-SF decision, not a\n"
    sb ++= "forced hint that would OOM at 100x.\n"
    names.foreach { name =>
      jobs.clear()
      flushed = new CountDownLatch(1)
      val t0 = System.nanoTime()
      sc.setLocalProperty(Phase, "build")
      val df = SparkEntry.queries(name)(spark, sfDir)
      val t1 = System.nanoTime()
      sc.setLocalProperty(Phase, "action")
      // run THIS dataset's own query execution (count() would plan a
      // separate aggregate) so AdaptiveSparkPlan reports the FINAL plan
      df.collect()
      val t2 = System.nanoTime()
      sc.setLocalProperty(Phase, "flush")
      sc.parallelize(Seq(0), 1).count()
      sc.setLocalProperty(Phase, null)
      flushed.await()
      sb ++= s"\n## $name\n\n```\n${df.queryExecution.explainString(SimpleMode)}```\n"
      val js = jobs.values.asScala.toSeq.filter(_.phase != "flush").sortBy(_.id)
      println(f"PLANS $name total=${(t2 - t0) / 1e9}%.2fs " +
        f"build=${(t1 - t0) / 1e9}%.2fs jobs=${js.size}")
      js.foreach { j =>
        val d = if (j.t1 == 0) -1.0 else (j.t1 - j.t0) / 1e3
        println(f"  job=${j.id}%-4d ${j.phase}%-6s ${d}%6.3fs " +
          f"stages=${j.stages}%-3d tasks=${j.tasks}%-5d ${j.site}")
      }
      spark.catalog.clearCache()
      sc.getPersistentRDDs.values.foreach(_.unpersist(false))
    }
    // streaming_search executes inside foreachBatch, so its evidence
    // is the PER-MICRO-BATCH probe plan: replay one batch statically
    // (same tagged corpus + centroids + first-10 query batch as
    // SearchStream.searchBatchDrain) and dump what every batch runs
    locally {
      import org.apache.spark.sql.functions._
      val e = Tables.load(spark, sfDir, "embeddings")
      val cents = e.where(col("vec_id") < 8)
        .select(col("vec_id").cast("int").as("cluster"),
          transform(col("embedding"), _.cast("double")).as("centroid"))
      val tagged = graft.operators.Ann.tagCorpus(e, "vec_id", "embedding", cents)
      val batch = e.where(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      val probe = graft.operators.Ann.searchIvfBatch(
        tagged, cents, batch, "vec_id", "embedding", "cosine", 10, 2)
      probe.collect()
      val plan = probe.queryExecution.explainString(SimpleMode)
      sb ++= s"\n## streaming_search (per-micro-batch probe)\n\n```\n$plan```\n"
    }
    // streaming_late_audit: the EXECUTED streaming plan of the
    // watermarked aggregation — EventTimeWatermark feeding the
    // StateStoreRestore/Save pair AROUND a partial aggregate (state is
    // touched once per (window, type) per batch, not once per row)
    locally {
      val plan = graft.streaming.EventStream.lateAuditPlanString(spark, sfDir)
      sb ++= s"\n## streaming_late_audit (executed micro-batch plan)\n\n```\n$plan```\n"
    }
    Files.createDirectories(Paths.get(out).toAbsolutePath.getParent)
    Files.writeString(Paths.get(out), sb.toString)
    println(s"wrote $out")
    spark.stop()
  }
}
