package graft

import org.scalatest.funsuite.AnyFunSuite

/** Plan-shape regression guard for headline queries: the scale claims
  * in SURVEY §2 (one shuffle here, pushdown there, top-k never a full
  * sort) are properties of the PHYSICAL PLAN, so they are asserted on
  * the physical plan — a refactor that silently adds an exchange or
  * drops a pushed filter fails here, not in a 100× production run.
  * Counts use the pre-execution plan string; only
  * "Exchange hashpartitioning" (a real shuffle) is counted — range
  * exchanges for final presentation ordering and broadcast exchanges
  * are allowed.
  */
class PlanGuardSpec extends AnyFunSuite {
  import org.apache.spark.sql.execution.SparkPlan
  import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
  import org.apache.spark.sql.execution.window.WindowExec

  lazy val spark = SparkTestSession.spark
  private val dir = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, dir).queryExecution.executedPlan.toString
  private def hashExchanges(p: String): Int =
    "Exchange hashpartitioning".r.findAllIn(p).length

  /** All WindowExec nodes, descending through the AQE wrapper (an
    * AdaptiveSparkPlanExec is a leaf — collect() won't cross it). */
  private def windows(p: SparkPlan): Seq[WindowExec] = p match {
    case a: AdaptiveSparkPlanExec => windows(a.inputPlan)
    case w: WindowExec => w +: p.children.flatMap(windows)
    case _ => p.children.flatMap(windows)
  }

  test("knn_cosine: top-k is TakeOrderedAndProject, zero shuffles") {
    val p = plan("knn_cosine")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(hashExchanges(p) === 0, p)
  }

  test("q1_agg: exactly one hash shuffle (the aggregate)") {
    assert(hashExchanges(plan("q1_agg")) === 1)
  }

  test("events_window: exactly one hash shuffle") {
    assert(hashExchanges(plan("events_window")) === 1)
  }

  test("events_rollup: ROLLUP costs the same single shuffle") {
    val p = plan("events_rollup")
    assert(p.contains("Expand"), p)
    assert(hashExchanges(p) === 1, p)
  }

  test("sample_stratified: map-side predicate, one audit shuffle") {
    assert(hashExchanges(plan("sample_stratified")) === 1)
  }

  test("q10_returns: pushed returnflag filter + TakeOrderedAndProject") {
    val p = plan("q10_returns")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(p.contains("EqualTo(l_returnflag,R)"), p)
  }

  test("meta_filter: predicates reach the parquet scan") {
    val p = plan("meta_filter")
    assert(p.contains("PushedFilters: ["), p)
    assert(!p.replaceAll("\\s", "").contains("PushedFilters:[]"), p)
  }

  test("corpus_diff: bounded by join(2) + rollup(1) shuffles") {
    assert(hashExchanges(plan("corpus_diff")) <= 3)
  }

  test("tokens_hh_approx: sketch built map-side after the pinned repartition") {
    val p = plan("tokens_hh_approx")
    // partial aggregation = the whole per-bucket sketch is built on
    // the (sorted) map side; the reduce merge is identity
    assert(p.contains("partial_heavy_hitters"), p)
    // exactly the explicit 4-way repartition that pins the trajectory
    // — the groupBy must NOT add a second data shuffle on top (the
    // explicit hashpartitioning(pid) already satisfies it)
    assert(hashExchanges(p) === 1, p)
  }

  test("events_zscore_gapfill: events shuffle once; windows run on the grid") {
    val p = plan("events_zscore_gapfill")
    // the hourly aggregate subtree appears twice pre-execution (grid
    // span + fill join both read it); AQE's ReuseExchange collapses
    // them at runtime (PLANS.md shows the final plan). Guard that no
    // THIRD events read sneaks in and the shuffle budget stays at:
    // hourly agg (x2 pre-reuse) + span agg + fill join + window
    assert("FileScan parquet".r.findAllIn(p).length <= 2, p)
    assert(hashExchanges(p) <= 5, p)
  }

  test("decontaminate_bloom: the Bloom probe filters the scan map-side") {
    val p = plan("decontaminate_bloom")
    assert(p.contains("might_contain"), p)
  }

  test("pii_redact: map-only scrub — zero shuffles, pruned 2-column scan") {
    val p = plan("pii_redact")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(hashExchanges(p) === 0, p)
    assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string>"), p)
  }

  test("embed_outliers: broadcast centroids + rank cut below the exchange") {
    val p = plan("embed_outliers")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("vec_l2"), p)
    // WindowGroupLimit Partial runs BEFORE the label exchange, so only
    // k rows per partition per label reach the window sort
    assert("WindowGroupLimit".r.findAllIn(p).length === 2, p)
  }

  test("knn_grouped: faceted cut below the exchange, one group shuffle") {
    val p = plan("knn_grouped")
    assert("WindowGroupLimit".r.findAllIn(p).length === 2, p)
    assert(hashExchanges(p) === 1, p)
  }

  test("fingerprint_winnow: ONE window pass selects fingerprints — no self-join") {
    val p = plan("fingerprint_winnow")
    // the struct(h,-pos) min replaces the start×member range join: no
    // SortMergeJoin/BNLJ anywhere in the selection subtree (the only
    // join is the summary's count join)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("dedup_normalized: map-only digests, one source shuffle") {
    val p = plan("dedup_normalized")
    assert(p.contains("normalize_text"), p)
    // count(DISTINCT x2) expands to the standard two-step aggregate:
    // shuffle on (source, digests), then on source
    assert(hashExchanges(p) <= 2, p)
  }

  test("events_anomaly_mad: one event-volume shuffle; windows on the hourly frame") {
    val p = plan("events_anomaly_mad")
    // hourly agg = 1 exchange; the two median selections re-shuffle
    // |keys|x|hours| rows only
    assert("FileScan parquet".r.findAllIn(p).length === 1, p)
    assert(p.contains("ReadSchema: struct<ts:timestamp_ntz,event_type:string,value:double>")
      || p.contains("ReadSchema: struct<ts:bigint,event_type:string,value:double>"), p)
  }

  test("dedup_containment: pair list broadcast against the corpus projection") {
    val p = plan("dedup_containment")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("sorted_intersect_size"), p)
  }

  // Composed-pipeline fusion guards: these three queries CLAIM their
  // stages fuse into one DAG (SURVEY §2), so the exchange/scan budget
  // of the pre-execution plan is pinned EXACTLY. A refactor that
  // materializes between stages moves work out of the plan (counts
  // DROP — rag_index's intentional chunk-store checkpoint is why its
  // serving plan legitimately shows zero file scans), and one that
  // un-fuses or double-reads a stage adds exchanges/scans (counts
  // RISE). Both directions should fail here, not in a 100× run.
  private def scans(p: String): Int =
    "FileScan parquet".r.findAllIn(p).length

  test("pipeline_corpus: fused five-scan, seven-shuffle DAG") {
    val p = plan("pipeline_corpus")
    assert(hashExchanges(p) === 7, p.linesIterator.take(40).mkString("\n"))
    assert(scans(p) === 5, p.linesIterator.take(40).mkString("\n"))
  }

  test("pipeline_pretrain_mix: fused ten-scan, thirteen-shuffle DAG") {
    val p = plan("pipeline_pretrain_mix")
    assert(hashExchanges(p) === 13, p.linesIterator.take(40).mkString("\n"))
    assert(scans(p) === 10, p.linesIterator.take(40).mkString("\n"))
  }

  test("pipeline_rag_index: serving probe over the checkpointed chunk store") {
    val p = plan("pipeline_rag_index")
    // zero exchanges (the chunks are tagged by the map-only ivf_assign
    // kernel), zero file scans: the chunk store is embedded once into
    // an eager checkpoint and every downstream stage reads THAT, never
    // the documents table
    assert(hashExchanges(p) === 0, p.linesIterator.take(40).mkString("\n"))
    assert(scans(p) === 0, p.linesIterator.take(40).mkString("\n"))
  }

  test("pipeline_corpus_neardup: minhash keep-one fused into the corpus DAG") {
    val p = plan("pipeline_corpus_neardup")
    assert(hashExchanges(p) === 3, p.linesIterator.take(40).mkString("\n"))
    assert(scans(p) === 1, p.linesIterator.take(40).mkString("\n"))
  }

  test("orders_rfm / user_activity_deciles: no partition-less window anywhere") {
    for (q <- Seq("orders_rfm", "user_activity_deciles", "orders_pareto")) {
      val exec = SparkEntry.queries(q)(spark, dir)
        .queryExecution.executedPlan
      val bad = windows(exec).filter(_.partitionSpec.isEmpty)
      assert(bad.isEmpty,
        s"$q funnels an entity-scale frame through one task:\n" +
          bad.mkString("\n"))
    }
  }

  test("q4_priority: EXISTS stays a semi join (orders never duplicated)") {
    val p = plan("q4_priority")
    assert(p.contains("LeftSemi"), p)
    assert(p.contains("EqualTo(l_returnflag,R)"), p)
  }

  test("source_similarity: profile joins, no nested-loop anywhere") {
    val p = plan("source_similarity")
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("vocab_coverage: global window only after the top-64 cut") {
    val df = SparkEntry.queries("vocab_coverage")(spark, dir)
    df.collect() // final AQE plan
    val exec = df.queryExecution.executedPlan
    // the partition-less windows are INSIDE the post-TakeOrdered
    // <=64-row frame: assert the cut exists in the same plan
    assert(exec.toString.contains("TakeOrderedAndProject"), exec.toString)
  }

  test("q17_small_qty: decorrelated threshold joins, no nested loop") {
    val p = plan("q17_small_qty")
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    // the part predicate reaches the scan
    assert(p.contains("EqualTo(p_brand,Brand#13)"), p)
  }

  test("q22_idle_customers: windowed NOT EXISTS stays a left anti join") {
    val p = plan("q22_idle_customers")
    assert(p.contains("LeftAnti"), p)
    // the order-date window pushes to the orders scan
    assert(p.contains("GreaterThanOrEqual(o_orderdate"), p)
  }

  test("q2_min_cost: correlated MIN decorrelated, filters reach scans") {
    val p = plan("q2_min_cost")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    // part-type and region predicates push to their scans, so only
    // 1/6 of lineitem ever reaches the (part,supplier) aggregate
    assert(p.contains("EqualTo(p_type,STANDARD)"), p)
    assert(p.contains("EqualTo(r_name,EUROPE)"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("q11_important_parts: global threshold is a 1-row broadcast") {
    val p = plan("q11_important_parts")
    // the only nested-loop is the 1-row total broadcast by design;
    // the supplier slice predicate reaches the scan
    assert(p.contains("LessThan(s_nationkey,5)"), p)
    assert(p.contains("BroadcastExchange"), p)
  }

  test("q15_top_supplier: date window pushed, scalar MAX broadcast") {
    val p = plan("q15_top_supplier")
    assert(p.contains("GreaterThanOrEqual(l_shipdate"), p)
    assert(p.contains("BroadcastExchange"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q16_supplier_cnt: NOT-IN blacklist is an anti join before distinct") {
    val p = plan("q16_supplier_cnt")
    assert(p.contains("LeftAnti"), p)
    // (PushedFilters renders truncated here, so assert the Filter)
    assert(p.contains("< 25"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("q20_top_share_suppliers: name prefix pushed, share join equi") {
    val p = plan("q20_top_share_suppliers")
    assert(p.contains("StringStartsWith(p_name,red)"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q21_waiting_supplier: EXISTS pair is semi+anti on the orderkey") {
    val p = plan("q21_waiting_supplier")
    assert(p.contains("LeftSemi"), p)
    assert(p.contains("LeftAnti"), p)
    assert(p.contains("EqualTo(o_orderstatus,F)"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("orders_cohort_ltv: equi joins only, partial aggs") {
    val p = plan("orders_cohort_ltv")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("partial_"), p)
  }

  test("curriculum_phases / events_attribution: every window partitioned") {
    for (q <- Seq("curriculum_phases", "events_attribution")) {
      val exec = SparkEntry.queries(q)(spark, dir).queryExecution.executedPlan
      assert(windows(exec).forall(_.partitionSpec.nonEmpty), s"$q: $exec")
    }
  }

  test("corpus_burstiness: corpus collapses to vocab moments map-side") {
    val p = plan("corpus_burstiness")
    assert(p.contains("partial_"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("search_maxsim: one doc-keyed aggregate, top-k is TakeOrdered") {
    val p = plan("search_maxsim")
    // the 4-row query frame broadcasts; the corpus-sized side must
    // reach its single exchange only as partial maxes
    assert(hashExchanges(p) === 1, p)
    assert(p.contains("partial_"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("events_rollup_incremental: base+delta merge, no history window") {
    val p = plan("events_rollup_incremental")
    assert(p.contains("Union"), p)
    assert(p.contains("partial_"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("events_funnel_latency: quantile windows on the bounded histogram") {
    val exec = SparkEntry.queries("events_funnel_latency")(spark, dir)
      .queryExecution.executedPlan
    // every window partitioned (by step), running over histogram rows
    assert(windows(exec).forall(_.partitionSpec.nonEmpty), exec.toString)
  }

  test("dedup_threshold_sweep: one verify pass, histogram-side joins tiny") {
    val p = plan("dedup_threshold_sweep")
    // the candidate verify joins are equi on doc ids; the only
    // nested-loop joins are against the 5-row threshold frame
    assert(p.contains("partial_"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("multimodal_dedup: digest equi join, df-capped") {
    val p = plan("multimodal_dedup")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("partial_"), p)
  }

  test("graph_triangles: wedge closure is a semi join on ordered edges") {
    val p = plan("graph_triangles")
    assert(p.contains("LeftSemi"), p)
    assert(p.contains("partial_"), p)
  }

  test("vector_sql_union: branches fuse through a Union of top-k plans") {
    val p = plan("vector_sql_union")
    assert(p.contains("Union"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("search_maxsim_pruned: probed-cluster semi-reduction before scoring") {
    val p = plan("search_maxsim_pruned")
    // candidate docs come from the broadcast probed-cluster join;
    // the scoring side still folds through partial maxes
    assert(p.contains("BroadcastExchange"), p)
    assert(p.contains("partial_"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("eval_matched_sample: per-eval argmin folds map-side") {
    val p = plan("eval_matched_sample")
    // the ~64-row eval frame broadcasts; the corpus-sized side must
    // collapse through partial topk BEFORE its only exchange
    assert(p.contains("partial_topk_pairs"), p)
    assert(p.contains("BroadcastExchange"), p)
  }

  test("dedup_semantic: cluster-equi pair join, no cartesian") {
    val p = plan("dedup_semantic")
    // the centroid assignment crossJoins a broadcast k-row table by
    // design (the ann_ivf shape); what must NOT appear is an
    // unbounded cartesian, and the PAIR stage must join ON cluster
    assert(!p.contains("CartesianProduct"), p)
    assert("Join \\[cluster#".r.findAllIn(p).nonEmpty, p)
  }

  test("tokens_cms: counter table is broadcast, vocab aggregated map-side") {
    val p = plan("tokens_cms")
    assert(p.contains("BroadcastExchange"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("quality_classifier / ngram_diversity: corpus collapses map-side") {
    // partial aggregation before each query's only corpus-sized
    // exchange: the explode feeds partial_count, never raw rows
    for (q <- Seq("quality_classifier", "ngram_diversity")) {
      val p = plan(q)
      assert(p.contains("partial_"), s"$q: $p")
      assert(!p.contains("CartesianProduct"), s"$q: $p")
    }
  }

  test("pipeline_eval_prep: fused hygiene DAG, no cartesian, anti-leak joins equi") {
    val p = plan("pipeline_eval_prep")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("orders_gap / simhash_hamming: windows partitioned, joins equi") {
    val exec = SparkEntry.queries("orders_gap")(spark, dir)
      .queryExecution.executedPlan
    assert(windows(exec).forall(_.partitionSpec.nonEmpty), exec.toString)
    val p = plan("simhash_hamming")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("embed_pca gram partials: one shuffle moves dim^2-per-partition rows") {
    import graft.operators.Pca
    val docs = graft.Tables.load(spark, dir, "embeddings")
    val p = Pca.gramPartials(docs, "embedding", 64)
      .queryExecution.executedPlan.toString
    // mapPartitions accumulation -> ONE hash exchange for the (i,j)
    // merge; anything more means the n-scaling stage re-shuffled
    assert(hashExchanges(p) === 1, p)
  }

  test("mine_hard_negatives: anchors broadcast, TopKPairs partials, no cartesian") {
    val p = plan("mine_hard_negatives")
    assert(p.contains("BroadcastExchange"), p)
    // the per-anchor cut must partial-aggregate BEFORE the qid
    // exchange — the shuffle carries anchors x k x partitions rows,
    // never the anchors x corpus pair stream
    assert(p.contains("partial_topk_pairs"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("users_hll: register table shuffles (type, reg) partials, never users") {
    val p = plan("users_hll")
    // the sketch's only corpus-sized stage is map-side: both the
    // register max and the exact-distinct companion partial-aggregate
    // before their exchanges
    assert(p.contains("partial_max"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("recall_dim_budget: every budget is one knn_block scan with no pair join") {
    val p = plan("recall_dim_budget")
    assert(p.contains("partial_knn_block"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("Window"), p)
  }

  test("split_group_aware: no cartesian anywhere in the pairs->CC->split chain") {
    val p = plan("split_group_aware")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("events_window_topk: rank cut runs as WindowGroupLimit partials") {
    val p = plan("events_window_topk")
    assert(p.contains("WindowGroupLimit"), p)
  }

  test("q7_volume: nation-pruned sides broadcast, no cartesian") {
    val p = plan("q7_volume")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("ann_sq4: map-only packed-code scan, no exchange before TakeOrdered") {
    val p = plan("ann_sq4")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(hashExchanges(p) === 0, p)
  }

  test("split_temporal: per-user presence fold shuffles users once, shared count broadcasts") {
    val p = plan("split_temporal")
    // the only corpus-keyed exchanges are the split aggregate and the
    // user presence fold; the 1-row shared count joins via broadcast
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("zonemap_prune: every window is bucket-partitioned, day frame never one task") {
    val exec = SparkEntry.queries("zonemap_prune")(spark, dir)
      .queryExecution.executedPlan
    assert(windows(exec).forall(_.partitionSpec.nonEmpty), exec.toString)
    assert(!exec.toString.contains("CartesianProduct"), exec.toString)
  }

  test("multimodal_cdc_dedup: digests through the shuffle, blobs never; no cartesian") {
    val p = plan("multimodal_cdc_dedup")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    // the pair join must key on the 32-char digest equi-condition
    assert(p.contains("SortMergeJoin") || p.contains("BroadcastHashJoin")
      || p.contains("ShuffledHashJoin"), p)
  }

  test("events_quantile_sketch: bottom-k is TakeOrdered partials, no global sort") {
    val p = plan("events_quantile_sketch")
    // the KMV sample must run as TakeOrderedAndProject (per-partition
    // bottom-k merged), never a full Sort + Limit over the corpus
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("events_changepoint: day frame broadcasts for the prefix triangle, no window") {
    val exec = SparkEntry.queries("events_changepoint")(spark, dir)
      .queryExecution.executedPlan
    val p = exec.toString
    // the triangle prefix join must be a broadcast of the tiny day
    // frame, and there must be NO window (the prefix is join-built)
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    assert(windows(exec).isEmpty, p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("shard_consistent: map-only argmax, zero hash shuffles") {
    // per-doc HRW argmax is a projection; the only exchange is the
    // final single-partition global aggregate
    assert(hashExchanges(plan("shard_consistent")) === 0)
  }

  test("corpus_yield_report: rule union joins, no cartesian/nested loop") {
    val p = plan("corpus_yield_report")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("interval_join: bucketed EQUI join, never Catalyst's nested loop") {
    val p = plan("interval_join")
    // the whole point of AsOf.intervalJoin: the range predicate rides
    // a (key, bucket) hash join as a post-filter — a plan with a
    // nested-loop join means the bucketing regressed to O(n*m)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("SortMergeJoin") || p.contains("BroadcastHashJoin")
      || p.contains("ShuffledHashJoin"), p)
  }

  test("mix_waterfill: every window partitioned, frame is |langs| rows") {
    val df = SparkEntry.queries("mix_waterfill")(spark, dir)
    val p = df.queryExecution.executedPlan
    // the windows run AFTER the corpus collapses to |langs| rows;
    // each must carry a partition spec (lit(0) / iscap), never a
    // partition-less global window over an unbounded frame
    assert(windows(p).forall(_.partitionSpec.nonEmpty), p.toString)
    assert(!p.toString.contains("CartesianProduct"), p.toString)
  }

  test("graph_assortativity: degree joins are equi, no pairwise corpus") {
    val p = plan("graph_assortativity")
    // moments come from the BANDED edge list joined to the degree
    // table on node ids — a nested loop would mean the edge list
    // degenerated to doc-pairs
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("embed_centroid_drift: one centroid shuffle, dim-sized fold frame") {
    val p = plan("embed_centroid_drift")
    // (label, dim) partial sums collapse map-side; the only hash
    // exchanges are the two aggregate stages ((label,dim) then label)
    assert(hashExchanges(p) <= 2, p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("bloom_fpr_audit: bit-set membership join broadcasts") {
    val p = plan("bloom_fpr_audit")
    // the <=4096-row bit table must ride a broadcast — a shuffled
    // membership join would move the whole probe side for a
    // constant-size filter
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("corpus_rep_filter: 16-row ban list broadcasts, coverage is equi") {
    val p = plan("corpus_rep_filter")
    // the boilerplate ban list is a TakeOrdered-16 broadcast and the
    // (doc, pos) excision is an equi anti-join — a nested loop here
    // means coverage regressed to positions x ban-list pairs
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("split_ppl_gap: LM scoring is hash joins, no cartesian") {
    val p = plan("split_ppl_gap")
    // the train count tables are vocab-bounded and must ride (pk)/(w1)
    // HASH joins; the only nested loop allowed is the 1-row
    // vocab-size broadcast (a crossJoin against a scalar frame)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("knn_classifier_eval: sample broadcast + TopKPairs partials") {
    val p = plan("knn_classifier_eval")
    // corpus scanned once against the broadcast query sample with the
    // bounded-heap aggregate doing map-side partials
    assert(p.contains("partial_topk_pairs"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("quality_bootstrap_ci: x64 fan-out collapses in map-side partials") {
    val p = plan("quality_bootstrap_ci")
    // the corpus x 64-replica stream must partial-aggregate to
    // |sources| x 64 sums BEFORE its exchange — a missing partial
    // would shuffle 64x the corpus
    assert(p.contains("partial_sum"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("orders_tier_migration: two keyed aggregates, no cartesian") {
    val p = plan("orders_tier_migration")
    // midpoint rides a 1-row broadcast; everything else is customer-
    // keyed aggregation
    assert(!p.contains("CartesianProduct"), p)
  }

  test("cluster_silhouette: broadcast centroids, n-row exchanges only") {
    val p = plan("cluster_silhouette")
    // centroid frame broadcast; TopKAgg(k=2) folds the n x 8
    // candidate stream map-side, so the two exchanges (vec_id fold,
    // cluster rollup) carry n rows, never n x k
    assert(p.contains("BroadcastExchange"), p)
    assert(p.contains("partial_topk_pairs"), p)
    assert(hashExchanges(p) === 2, p)
  }

  test("cluster_elbow: ONE shared SSE scan for all four k") {
    val p = plan("cluster_elbow")
    // 4 trainings are checkpointed away at build time; the four SSE
    // passes share one corpus scan against a k-tagged 30-row
    // centroid broadcast — two exchanges total ((k, vec) min fold,
    // per-k rollup), not one per k
    assert(hashExchanges(p) === 2, p)
    assert(p.contains("BroadcastExchange"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("graph_label_prop: community rollup is one shuffle + top-k cut") {
    val p = plan("graph_label_prop")
    // per-round joins are checkpointed away; the visible plan is the
    // final (lbl) count + TakeOrderedAndProject top-15
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(hashExchanges(p) === 1, p)
  }

  test("quality_ks: every CDF window partitioned by source") {
    val exec = SparkEntry.queries("quality_ks")(spark, dir)
      .queryExecution.executedPlan
    assert(windows(exec).nonEmpty, exec.toString)
    assert(windows(exec).forall(_.partitionSpec.nonEmpty), exec.toString)
  }

  test("coreset_kcenter ROUND job: broadcast centers, map-side min fold") {
    // the driver loop executes eagerly (the final query plan is just
    // a LocalTableScan), so guard the per-round scoring frame
    // directly: centers broadcast (BNLJ, not cartesian), ONE n-row
    // exchange for the min fold
    import org.apache.spark.sql.functions.{col, transform => atransform}
    val sample = graft.Tables.load(spark, dir, "embeddings")
      .limit(50)
      .select(col("vec_id").as("id"),
        atransform(col("embedding"), _.cast("double")).as("v"))
    val centers = sample.limit(2)
      .select(col("id").as("cid"), col("v").as("cv"))
    val p = graft.operators.Coreset.kcenterRound(sample, centers)
      .queryExecution.executedPlan.toString
    assert(p.contains("BroadcastExchange"), p)
    assert(!p.contains("CartesianProduct"), p)
    // the min fold partial-aggregates before any exchange; on the
    // single-partition test sample the exchange elides entirely
    assert(p.contains("partial_min"), p)
    assert(hashExchanges(p) <= 1, p)
  }

  test("knn_graph appendBatch: refine is id-keyed with TopKPairs partials") {
    // the build and probe localCheckpoint away; the visible appended-
    // graph plan is the touched-node re-refine — candidate generation
    // and re-scoring must be equi-joins on node ids with the bounded-
    // heap aggregate folding map-side, never a cartesian
    import org.apache.spark.sql.functions.{col, transform => atransform}
    val emb = graft.Tables.load(spark, dir, "embeddings")
    val n = emb.count()
    val cut = n - math.max(1L, n / 16L)
    val build = graft.operators.KnnGraph.nnDescentBuild(
      emb.where(col("vec_id") < cut), "vec_id", "embedding", 16)
    val batch = emb.where(col("vec_id") >= cut)
      .select(col("vec_id").as("qid"),
        atransform(col("embedding"), _.cast("double")).as("qv"),
        graft.operators.Ann.lshSignature(col("embedding"), 8)
          .as("qbucket"))
    val p = graft.operators.KnnGraph.appendBatch(build, batch, 16)
      .graph.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("partial_topk_pairs"), p)
  }

  test("knn_graph deleteBatch: no SortMergeJoin, the id drops are broadcast") {
    // the deleted and touched ids are a batch: the drops go through
    // VectorStore.delete's broadcast anti-join, so neither the graph
    // nor the vectors are shuffled for them
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.catalyst.plans.LeftAnti
    import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}
    val emb = graft.Tables.load(spark, dir, "embeddings")
    val build = graft.operators.KnnGraph.nnDescentBuild(emb, "vec_id", "embedding", 16)
    val del = build.vecs.where(col("id") % 13 === 0).select(col("id"))
    val d = graft.operators.KnnGraph.deleteBatch(build, del, 16)
    for ((name, df) <- Seq("graph" -> d.graph, "vecs" -> d.vecs)) {
      val nodes = SparkTestSession.executed(df)
      // as planned, before AQE re-plans with runtime statistics, and
      // as executed
      val planned = df.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.inputPlan
        case p => p
      }
      assert(planned.collect { case j: SortMergeJoinExec => j }.isEmpty, s"$name: $planned")
      assert(!nodes.exists(_.isInstanceOf[SortMergeJoinExec]), s"$name: ${nodes.head}")
      assert(nodes.exists {
        case j: BroadcastHashJoinExec => j.joinType == LeftAnti
        case _ => false
      }, s"$name: ${nodes.head}")
    }
  }

  test("dedup_graph_cc: percentile threshold never a global window") {
    // the exact-P5 edge-weight cut must run as histogram + partitioned
    // prefix sum (Rank.globalCumSum), not a corpus-sized unpartitioned
    // row_number — the CC loop executes eagerly, so guard the visible
    // final plan's windows and the absence of cartesians
    val exec = SparkEntry.queries("dedup_graph_cc")(spark, dir)
      .queryExecution.executedPlan
    assert(windows(exec).forall(_.partitionSpec.nonEmpty), exec.toString)
    assert(!exec.toString.contains("CartesianProduct"), exec.toString)
  }

  test("vocab_heaps: no cartesian, bounded decile window") {
    // the only global-ordered window runs on the bounded 10-row
    // decile frame (vocab_coverage contract)
    val ph = plan("vocab_heaps")
    assert(!ph.contains("CartesianProduct"), ph)
  }

  test("search_phrase: postings pruned map-side, no window, no cartesian") {
    // the positional-AND joins run on the isin-pruned posting frame
    // (checkpointed, so the visible plan starts there); phrase
    // alignment is pure equi-joins — a window or cartesian here
    // means the inverted-index shape regressed
    val exec = SparkEntry.queries("search_phrase")(spark, dir)
      .queryExecution.executedPlan
    val p = exec.toString
    assert(windows(exec).isEmpty, p)
    assert(!p.contains("CartesianProduct"), p)
    // the pruned posting stream is scanned once per phrase-term leg,
    // all joins keyed by (doc_id, aligned pos) — hash or sort-merge,
    // never nested-loop
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("events_acf: one event-volume aggregate, lag join keyed, no window") {
    val exec = SparkEntry.queries("events_acf")(spark, dir)
      .queryExecution.executedPlan
    val p = exec.toString
    assert(windows(exec).isEmpty, p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("graph_coreness: per-round windows are per-src, never global") {
    // the h-index rank fold partitions by src on the edge subgraph;
    // rounds execute eagerly (localCheckpoint), so guard the final
    // visible plan: partitioned windows only, no cartesian
    val exec = SparkEntry.queries("graph_coreness")(spark, dir)
      .queryExecution.executedPlan
    assert(windows(exec).forall(_.partitionSpec.nonEmpty), exec.toString)
    assert(!exec.toString.contains("CartesianProduct"), exec.toString)
  }

  test("embed_linear_search: map-side embed, top-k never a full sort") {
    // the seam is mapPartitions (no shuffle before the rank); the
    // cosine top-10 must plan as TakeOrderedAndProject
    val p = plan("embed_linear_search")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(hashExchanges(p) === 0, p)
  }

  test("vector_sql_ann_dot_fallback: exact TakeOrdered, no index probe") {
    // dot can't honor the L2-routed candidates, so the plan must be
    // the exact scan: top-k TakeOrdered, no cluster partition filter
    val p = plan("vector_sql_ann_dot_fallback")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("PartitionFilters: [cluster"), p)
  }

  test("corpus_yield_report: rules compose keyed, never a cartesian") {
    val exec = SparkEntry.queries("corpus_yield_report")(spark, dir)
      .queryExecution.executedPlan
    val p = exec.toString
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }
}
