package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{Window => LogicalWindow}
import org.apache.spark.sql.functions._

/** PLANS.md as a test gate: the physical-plan properties the engine is
  * designed around, asserted against `queryExecution.executedPlan` for the
  * flagship queries so a plan regression (lost pushdown, a broadcast side
  * falling back to shuffle, a global window sneaking in) fails `sbt test`
  * instead of waiting for a bench diff.
  *
  * Counters are string-pattern based on the plan dump (the same evidence
  * PLANS.md records): `Exchange hashpartitioning/rangepartitioning/
  * SinglePartition` counts data shuffles while deliberately excluding
  * `BroadcastExchange` (broadcasting a filtered dim is the *goal*, not a
  * shuffle). Window placement is asserted on the optimized logical plan —
  * a `Window` with an empty partitionSpec is the single-partition
  * bottleneck shape this engine forbids. The last test breaks a pushdown
  * on purpose and asserts the detector notices, so the gate can't rot
  * into vacuously-true string matching.
  */
class PlanAuditSpec extends GraftSpecBase {

  private def df(name: String): DataFrame =
    SparkEntry.queries(name)(spark, sf())

  private def plan(name: String): String =
    df(name).queryExecution.executedPlan.toString

  private def shuffles(p: String): Int =
    Seq("Exchange hashpartitioning", "Exchange rangepartitioning", "Exchange SinglePartition")
      .map(pat => pat.r.findAllIn(p).length).sum

  private def broadcastJoins(p: String): Int = "BroadcastHashJoin".r.findAllIn(p).length

  private def globalWindows(d: DataFrame): Int =
    d.queryExecution.optimizedPlan.collect {
      case w: LogicalWindow if w.partitionSpec.isEmpty => w
    }.size

  test("q2_filter_project: every predicate pushed, columns pruned, zero shuffles, codegen") {
    val p = plan("q2_filter_project")
    assert(p.contains("GreaterThanOrEqual(l_shipdate,1997-01-01"), p)
    assert(p.contains("IsNotNull(l_quantity)"), p)
    assert(shuffles(p) === 0, p)
    // 6 of lineitem's 11 columns read; the rest never leave the reader
    assert(!p.contains("l_returnflag") && !p.contains("l_tax"), p)
    assert(p.contains("*("), "expected a WholeStageCodegen span\n" + p)
  }

  test("q1_pricing_summary: single shuffle between partial and final aggregate") {
    val p = plan("q1_pricing_summary")
    assert(p.contains("LessThanOrEqual(l_shipdate"), p)
    assert(shuffles(p) === 1, p)
    assert("HashAggregate".r.findAllIn(p).length === 2, p) // map-side combine
  }

  test("q3_shipping_priority: filtered customer+orders broadcast, lineitem never pre-shuffled") {
    val p = plan("q3_shipping_priority")
    assert(p.contains("EqualTo(c_mktsegment,BUILDING)"), p)
    assert(p.contains("LessThan(o_orderdate"), p)
    assert(p.contains("GreaterThan(l_shipdate"), p)
    assert(broadcastJoins(p) === 2 && !p.contains("SortMergeJoin"), p)
    assert(shuffles(p) === 1, p) // only the groupBy aggregation shuffles
  }

  test("q5_local_supplier: the whole 5-dim star joins by broadcast") {
    val p = plan("q5_local_supplier")
    assert(p.contains("EqualTo(r_name,ASIA)"), p)
    assert(broadcastJoins(p) === 5 && !p.contains("SortMergeJoin"), p)
    assert(shuffles(p) === 1, p)
  }

  test("q9_product_revenue: part filter pushed as StringContains, star broadcast") {
    val p = plan("q9_product_revenue")
    assert(p.contains("StringContains(p_name,red)"), p)
    assert(broadcastJoins(p) >= 4 && !p.contains("SortMergeJoin"), p)
    assert(shuffles(p) === 1, p)
  }

  test("events_session_windows: native session windows cost exactly one keyed shuffle") {
    val p = plan("events_session_windows")
    assert(shuffles(p) === 1, p)
    assert("HashAggregate".r.findAllIn(p).length === 2, p)
  }

  test("q_topk_per_group: bounded-heap aggregate, not a rank window") {
    val d = df("q_topk_per_group")
    assert(globalWindows(d) === 0)
    assert(d.queryExecution.optimizedPlan.collect { case w: LogicalWindow => w }.isEmpty,
      "top-k per group must use the TopKBy aggregate, not a window")
    val p = d.queryExecution.executedPlan.toString
    assert(p.toLowerCase.contains("graft_topk_by"), p)
  }

  test("flagship plans contain no global (partition-less) window and no cartesian join") {
    // Curated to construction-cheap queries: the e2e/streaming entries run
    // real pipelines at construction time and are covered by their own specs.
    val names = Seq(
      "q1_pricing_summary", "q2_filter_project", "q3_shipping_priority",
      "q5_local_supplier", "q9_product_revenue", "q_ntile_deciles",
      "q_window_rank", "q_running_total", "cdc_apply_merge", "cdc_scd2_history",
      "events_session_windows", "q_topk_per_group", "q_domain_quota",
      "q_skew_profile", "events_window_topk", "text_dup_spans",
      "q_token_budget_select", "sim_centroid_outliers", "text_vocab_coverage",
      "text_hash_classifier", "text_html_extract", "corpus_snapshot_diff",
      "q_quantile_calibration",
      // round-7 wave 2. Excluded: q_hierarchy_flatten (eager localCheckpoint
      // rounds at construction time) and the histogram/day-domain queries
      // whose cumulative windows run single-partition BY DESIGN over a
      // provably bounded domain (events_user_cohorts, q_pareto_abc,
      // events_convert_latency, q_open_orders_sweep, q_fair_share,
      // q_id_gaps) — their boundedness argument lives in the docstrings
      // and the oracle gate covers them.
      "events_transitions", "text_url_blocklist", "events_debounce",
      "q_partial_merge", "text_bitmap_index", "events_attribution",
      "q_record_linkage", "mm_header_parse", "q_fifo_allocation",
      "graph_pagerank", "events_winsorize",
      // round-8 batch additions. Excluded: graph_components (eager
      // propagation rounds at construction, the q_hierarchy_flatten
      // class) — its plan discipline is covered by the named
      // graph_degree_stats gate sharing the same edge build.
      "events_ema_daily", "text_zipf_slope", "embed_quantize",
      "corpus_epoch_order", "text_ngram_novelty", "sim_ann_recall",
      "sim_pq_recall", "graph_degree_stats", "dedup_prefix",
      "q_rolling_median", "events_heatmap"
    )
    names.foreach { n =>
      val d = df(n)
      assert(globalWindows(d) === 0, s"$n has a partition-less Window")
      val p = d.queryExecution.executedPlan.toString
      assert(!p.contains("CartesianProduct"), s"$n has a cartesian product:\n$p")
    }
  }

  test("q_quantile_calibration: thresholds broadcast back, the corpus never sorts or shuffles") {
    val d = df("q_quantile_calibration")
    val p = d.queryExecution.executedPlan.toString
    assert(broadcastJoins(p) === 1, p)
    // the only shuffles belong to the tiny (source, n_chars) histogram:
    // one for its hash-agg, one for the per-source window sort
    assert(shuffles(p) <= 2, p)
    assert(globalWindows(d) === 0)
  }

  test("text_hash_classifier: constant-size weight model broadcast, one map-side-combined agg") {
    val p = plan("text_hash_classifier")
    assert(broadcastJoins(p) === 1, p)
    assert(shuffles(p) === 1, p) // the per-doc aggregate only
    assert("HashAggregate".r.findAllIn(p).length === 2, p)
  }

  test("cdc_apply_merge: compaction and merge stay within two keyed shuffles") {
    val p = plan("cdc_apply_merge")
    assert(shuffles(p) <= 2, p)
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
  }

  // ------- round 8: the bench's most expensive queries get named gates
  // (r7 advice: the top of the cost table is exactly where a silent plan
  // regression costs the most wall-clock at 100 TB).

  test("text_lm_score: bigram model broadcast to the scoring join, corpus never sort-merge-joined") {
    val d = df("text_lm_score")
    val p = d.queryExecution.executedPlan.toString
    assert(broadcastJoins(p) >= 1, p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(globalWindows(d) === 0)
    // model-side aggs + per-doc score agg; anything beyond means the
    // corpus itself started shuffling
    assert(shuffles(p) <= 3, p)
  }

  test("q_reco_fallback: both top-3 lists via bounded-heap TopKBy, no rank windows, no all-pairs") {
    val d = df("q_reco_fallback")
    val p = d.queryExecution.executedPlan.toString
    assert(p.toLowerCase.contains("graft_topk_by"), p)
    assert(d.queryExecution.optimizedPlan.collect { case w: LogicalWindow => w }.isEmpty,
      "reco fallback must not rank via windows")
    // the cohort-keyed semi join may be SMJ or broadcast (AQE decides at
    // runtime on heap-sized sides). One nested-loop join is sanctioned:
    // broadcasting the 3-row GLOBAL fallback list onto uncovered cohorts
    // (a bounded micro-list attach); a second would mean an all-pairs shape
    assert(!p.contains("CartesianProduct"), p)
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).length <= 1, p)
    assert(p.contains("BroadcastNestedLoopJoin BuildRight, Cross"), p)
  }

  test("q_assoc_rules: basket-bounded pair generation; only the 1-row global count cross-attaches") {
    val d = df("q_assoc_rules")
    val p = d.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"), p)
    // exactly one nested-loop join is sanctioned: broadcasting the single
    // global basket-count row onto the pair table (a scalar attach, not a
    // pair explosion) — anything more means candidate generation regressed
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).length <= 1, p)
    assert(p.contains("BroadcastNestedLoopJoin BuildRight, Cross"), p)
    assert(globalWindows(d) === 0)
  }

  test("dedup_minhash_incremental: banded candidates only, no all-pairs shape") {
    // NOTE: construction localCheckpoints the candidate set (per design —
    // it is reused by both the fresh×corpus and fresh×fresh branches), so
    // building the DataFrame runs those bounded jobs at sf0.001 scale.
    val d = df("dedup_minhash_incremental")
    val p = d.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    assert(globalWindows(d) === 0)
  }

  test("graph_degree_stats: degree table materialized once; edge build never a self-join") {
    val d = df("graph_degree_stats")
    val p = d.queryExecution.executedPlan.toString
    // deg is localCheckpointed (computed once for both the histogram and
    // total branches), so the visible plan is hist + 1-row total attach
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"), p)
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).length <= 1, p)
    assert(globalWindows(d) === 0)
    assert(shuffles(p) <= 3, p)
    // the shared edge build: zero joins, and exactly two exchanges — the
    // orderkey agg's, and the deliberate (u,v) REPARTITION_BY_NUM that
    // REPLACES the support agg's ENSURE_REQUIREMENTS exchange (r9: the
    // support count's partial+final pair then runs fused in one stage on
    // already-partitioned data, so per-task agg state is pairs/N instead
    // of a mostly-unique-key map-side mega-map — see GraphOps docstring).
    // The load-bearing property: the pair explode feeds the exchange
    // DIRECTLY (no HashAggregate between Generate and the repartition).
    // audited on the UNCACHED build pipeline: copurchaseEdges AND (r16)
    // copurchasePairCounts both return session-cached checkpoints (a
    // Scan ExistingRDD leaf, no build plan to audit) — the build shape
    // this test pins lives in copurchasePairCountsBuild + the support
    // filter
    val ep = graft.operators.GraphOps
      .copurchasePairCountsBuild(Tables.lineitem(spark, sf()))
      .where(org.apache.spark.sql.functions.col("n_orders") >= 2)
      .select(org.apache.spark.sql.functions.col("u"), org.apache.spark.sql.functions.col("v"))
      .queryExecution.executedPlan.toString
    assert(!ep.contains("Join"), ep)
    assert(shuffles(ep) === 2, ep)
    assert(ep.contains("REPARTITION_BY_NUM"), ep)
    // plan reads bottom-up: the Exchange directly above the Generate span
    // must be the repartition, not an agg — i.e. no partial agg before
    // the shuffle of the exploded pairs
    val gen = ep.indexOf("Generate explode")
    val seg = ep.substring(0, gen)
    val lastExchange = seg.lastIndexOf("Exchange hashpartitioning")
    val lastAgg      = seg.lastIndexOf("HashAggregate")
    assert(lastExchange > lastAgg, ep)
  }

  test("sim_pq_recall: codebook joins broadcast; only the probe truth pass nested-loops") {
    val d = df("sim_pq_recall")
    val p = d.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"), p)
    // the probe truth pass is the ONLY nested-loop shape (the
    // bruteForceTopK idiom); it appears twice in the plan text because
    // the truth table feeds two parents (n_true agg + the recall
    // semi-join) — a third occurrence would mean ADC scoring regressed
    // to an all-pairs join
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).length <= 2, p)
    assert(p.contains("BroadcastNestedLoopJoin BuildRight"), p)
    assert(broadcastJoins(p) >= 2, p)
    assert(globalWindows(d) === 0)
  }

  test("text_dup_spans: per-doc span work; only doc-keyed equi-joins, bounded shuffles") {
    val d = df("text_dup_spans")
    val p = d.queryExecution.executedPlan.toString
    // span stats re-attach to per-doc shingle counts by doc_id — hash
    // equi-joins only; a nested-loop/cartesian here would be a cross-doc
    // comparison this operator must never do
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    assert(globalWindows(d) === 0)
    // shingle-count agg, span-run agg chain, and the doc_id re-attach —
    // all doc-keyed; a 5th shuffle would mean a corpus-wide stage appeared
    assert(shuffles(p) <= 4, p)
  }

  test("sim_ivf_incremental: centroid table broadcast, corpus-proportional query side NOT broadcast") {
    // NOTE: construction runs two bounded driver jobs (threshold scalar +
    // seed collect) — model-sized, fine at sf0.001.
    val d = df("sim_ivf_incremental")
    val p = d.queryExecution.executedPlan.toString
    // exactly one broadcast build: the nCells×dim centroid table (used by
    // both the assign and probe branches). A second would mean the
    // query batch is being broadcast again — the unbounded-build-side
    // shape the sf10 probe OOM'd on.
    assert("BroadcastExchange".r.findAllIn(p).length <= 2, p) // assign + probe reuse, AQE may dedupe to 1
    assert(!p.contains("CartesianProduct"), p)
    // the scored corpus⋈queries join must be a hash equi-join on cell, not
    // a broadcast of the query side: after the centroid crossJoins, no
    // BroadcastHashJoin may remain for the cell join
    assert(p.contains("SortMergeJoin") || "ShuffledHashJoin".r.findAllIn(p).nonEmpty,
      "cell join must shuffle, not broadcast, when queries grow with the corpus\n" + p)
    assert(globalWindows(d) === 0)
  }

  test("curation gate: the pushed-down Filter tokenizes each text at most twice; IVF assignment has no aggregate or cartesian join") {
    // the gate predicates are pushed through the withQuality/withLangId
    // projects into one Filter, which does no subexpression elimination:
    // the TextQuality and LangPred kernels hold one tokenization each
    val gate = operators.TextAnalysis.withLangId(
      operators.TextAnalysis.withQuality(Tables.documents(spark, sf()), "text"), "text")
      .filter(col("quality_score") >= 0.5 && col("lang_pred") === "en")
      .select("doc_id", "text")
    val filters = gate.queryExecution.executedPlan.collect { case f: org.apache.spark.sql.execution.FilterExec => f }
    assert(filters.nonEmpty, gate.queryExecution.executedPlan)
    filters.foreach { f =>
      val splits = f.condition.collect { case e: org.apache.spark.sql.catalyst.expressions.StringSplit => e }.size
      assert(splits <= 2, f.condition.sql)
    }
    // an explicit seedSource builds the assignment uncached, so its plan
    // (not a checkpoint scan) is what is audited
    val emb = Tables.embeddings(spark, sf())
    val assign = operators.Similarity.ivfAssign(emb, "vec_id", "embedding", nCells = 4, seedSource = Some(emb))
    val p = assign.queryExecution.executedPlan.toString
    assert(!p.contains("Aggregate") && !p.contains("CartesianProduct") && !p.contains("NestedLoopJoin"), p)
    assert(p.contains("graft_nearest_cell"), p)
  }

  test("sim_rp_lsh: banded self-join on (band,bucket), never all-pairs") {
    // audited on the UNCACHED build stage: the public entry returns the
    // session-cached checkpoint (a Scan ExistingRDD leaf), so the banding
    // shape this test pins lives in rpPairsUnfiltered
    val emb = Tables.embeddings(spark, sf())
    val d = graft.operators.Similarity
      .rpPairsUnfiltered(emb, "vec_id", "embedding", bands = 2,
        bitsPerBand = graft.operators.Similarity.bitsFor(emb.count()), dim = 64)
      .filter(org.apache.spark.sql.functions.col("cosine") >= 0.3)
    val p = d.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    // candidate generation joins on the band+bucket equi-key
    assert(p.contains("band") && p.contains("bucket"), p)
    assert(globalWindows(d) === 0)
  }

  test("q_discount_response: part dim broadcast, two-level agg, no sort-merge join") {
    // r8 flagged this query at 9x its shape-twin q9_product_revenue in one
    // full-suite run; adjacent same-binary runs (bench_history 104317,
    // 121205) and a warm head-to-head show parity (~0.25-0.62 s at sf0.1)
    // — the outlier was a host stall, not the plan. Pin the plan shape the
    // parity depends on so a silent broadcast fallback can't recreate it.
    val d = df("q_discount_response")
    val p = d.queryExecution.executedPlan.toString
    assert(broadcastJoins(p) === 1, p)              // part dim broadcast, fact never shuffled for the join
    assert(!p.contains("SortMergeJoin"), p)
    assert(shuffles(p) === 2, p)                    // (brand,pct) agg + brand agg; both map-side combined
    assert("HashAggregate".r.findAllIn(p).length >= 4, p)
    assert(globalWindows(d) === 0)
  }

  test("embed_dim_stats: explode feeds ONE map-side-combined agg, no join, no window") {
    // the per-dim profile's whole scale story is "posexplode → bounded
    // (dim) hash-agg"; a join or window sneaking in would break it
    val d = df("embed_dim_stats")
    val p = d.queryExecution.executedPlan.toString
    assert(shuffles(p) === 1, p)                    // partial agg map-side, one exchange on dim
    assert("HashAggregate".r.findAllIn(p).length === 2, p)
    assert(!p.contains("Join"), p)
    assert(globalWindows(d) === 0)
  }

  test("corpus_source_entropy: two bounded hash-aggs, zero joins") {
    val d = df("corpus_source_entropy")
    val p = d.queryExecution.executedPlan.toString
    assert(shuffles(p) <= 2, p)                     // (lang,source) then (lang)
    assert(!p.contains("Join"), p)
    assert(globalWindows(d) === 0)
  }

  test("dedup_rate_by_length: bit-length buckets, NO global sort or window") {
    // the audit deliberately uses length(bin(n_chars)) instead of ntile —
    // an ntile would be a Window with empty partitionSpec (one-partition
    // global sort); pin its absence
    val d = df("dedup_rate_by_length")
    assert(globalWindows(d) === 0)
    assert(!d.queryExecution.executedPlan.toString.contains("Exchange rangepartitioning"),
      d.queryExecution.executedPlan.toString.take(4000))
  }

  test("dedup_cross_modal_agree: embeddings equi-joined onto the pair list, never nested-loop") {
    val p = plan("dedup_cross_modal_agree")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
    assert(!p.contains("SortMergeJoin"), p)         // pair list is small: both joins broadcast/hash
  }

  test("events_latency_digest: bounded-key aggs, partitioned window only, no join") {
    // the digest's scale story is "nothing grows with event count":
    // (type, bucket) agg → per-type window over ≤1024 rows → type agg
    val d = df("events_latency_digest")
    val p = d.queryExecution.executedPlan.toString
    assert(!p.contains("Join"), p)
    assert(globalWindows(d) === 0)
    assert(shuffles(p) <= 3, p)
  }

  test("events_kmv_distinct: bounded-heap sketch agg, no join, no global window") {
    val d = df("events_kmv_distinct")
    val p = d.queryExecution.executedPlan.toString
    assert(!p.contains("Join"), p)
    assert(globalWindows(d) === 0)
    assert(p.contains("graft_topk_by"), p.take(3000))
  }

  test("events_cms_topk: sketch agg bounded, top-20 via TakeOrdered, counter join broadcast") {
    val d = df("events_cms_topk")
    val p = d.queryExecution.executedPlan.toString
    // the global top-20 must be the map-side-partial TakeOrderedAndProject,
    // never a global sort
    assert(p.contains("TakeOrderedAndProject"), p.take(3000))
    assert(!p.contains("Sort ["), p)
    // the 2048-row counter grid attaches by broadcast, not shuffle join
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
    assert(!p.contains("SortMergeJoin"), p)
    assert(globalWindows(d) === 0)
  }

  test("events_kmv_overlap: bounded heaps + broadcast pair algebra; only the certification join is corpus-sized") {
    val d = df("events_kmv_overlap")
    val p = d.queryExecution.executedPlan.toString
    // per-type sketches through the bounded-heap aggregate
    assert(p.contains("graft_topk_by"), p.take(3000))
    // pair fan-out over the types-sized sketch table: inequality join →
    // nested-loop is sanctioned ONLY because both sides are ≤types rows
    assert(globalWindows(d) === 0)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("events_kmv_merge_daily: two bounded-heap levels, no window, no sort-merge join") {
    val d = df("events_kmv_merge_daily")
    val p = d.queryExecution.executedPlan.toString
    assert("graft_topk_by".r.findAllIn(p).size >= 2, p.take(3000)) // per-day heap + merge heap
    assert(globalWindows(d) === 0)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("negative control: an opaque predicate visibly loses its pushdown") {
    // Same shape as q2's scan, but the shipdate bound is wrapped in an
    // expression parquet can't evaluate — the PushedFilters assertion that
    // guards q2 MUST come back false here, proving the gate detects a
    // broken pushdown rather than matching vacuously.
    val broken = Tables.lineitem(spark, sf())
      .filter(expr("length(cast(l_shipdate as string)) > 5 and l_quantity < 5.0"))
      .select("l_orderkey", "l_quantity")
    val p = broken.queryExecution.executedPlan.toString
    assert(!p.contains("GreaterThanOrEqual(l_shipdate"), p)
    assert(p.contains("LessThan(l_quantity,5.0)"), p) // the pushable half still pushes
  }

  // ------- round 10: the new batch's most expensive members get named gates

  test("text_cdc_chunk_dedup: scan prunes to 3 columns, no nested-loop stage in the linear class") {
    val d = df("text_cdc_chunk_dedup")
    val p = d.queryExecution.executedPlan.toString
    // the gram explode is the honest linear cost — it must read ONLY
    // (doc_id, source, text); a scan that also reads lang/n_chars means
    // pruning broke through the explode
    assert(!p.contains("lang"), p.linesIterator.filter(_.contains("ReadSchema")).mkString("\n"))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    assert(globalWindows(d) === 0) // spans window partitions by doc_id
  }

  test("graph_kcore_peel: no nested loop; per-round degree aggs are map-side combined") {
    val d = df("graph_kcore_peel")
    val p = d.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("events_ks_drift: windows stay partitioned by type over the bounded bucket grid") {
    val d = df("events_ks_drift")
    assert(globalWindows(d) === 0)
    val p = d.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"), p)
  }

  test("sim_nsw_greedy: the walk never sort-merges — frontier broadcast through every hop") {
    // the sf10 probe caught the hop join re-sorting the corpus-sized vector
    // table every round once the frontier's size estimate inflated through
    // the edge-table join (SCALING.md round-10 probe 3); the fix pins every
    // walk join to a broadcast of the bounded frontier. The whole query plans
    // without a single SortMergeJoin: the graph build is hash-agg + window
    // over banded candidates, and certification joins broadcast the probes.
    val p = df("sim_nsw_greedy").queryExecution.executedPlan.toString
    assert(!p.contains("SortMergeJoin"), p.linesIterator.filter(_.contains("Join")).mkString("\n"))
    assert(p.contains("BroadcastHashJoin"), "walk joins should be broadcast-hash")
  }

  test("graph_jaccard_neighbors: degree-ordered triangles, no cartesian/nested-loop anywhere") {
    // r11 rewrite (VERDICT r10 #3): wedges generate at each triangle's
    // lowest-(degree, id) corner — Σ outdeg² work. The enumeration is
    // keyed joins only; a cartesian or nested loop here means the
    // orientation structs stopped driving the equi-join keys.
    val p = plan("graph_jaccard_neighbors")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("text_kn_continuation: all three model joins broadcast; no checkpointed bigram stream") {
    // The charset²-bounded bigram/context/continuation models must sit
    // UNDER the validation scan as broadcasts (plus the 1-row type
    // total) — a SortMergeJoin here means a model side lost its size
    // estimate and the linear scoring pass started shuffling bigrams.
    // The r11 sf10 probe separately caught the shared explode being
    // localCheckpointed (205 s) — the plan now contains no scan-side
    // checkpoint (LogicalRDD) feeding the scoring join.
    val d = df("text_kn_continuation")
    val p = d.queryExecution.executedPlan.toString
    assert(!p.contains("SortMergeJoin"), p.linesIterator.filter(_.contains("Join")).mkString("\n"))
    assert(broadcastJoins(p) >= 3, s"expected >=3 broadcast model joins\n$p")
  }

  test("sim_hamming_rerank: rerank joins broadcast the bounded sides; Hamming window stays per-query") {
    val d = df("sim_hamming_rerank")
    assert(globalWindows(d) === 0, "rank windows must stay partitioned")
    val p = d.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), "query codes/vectors should broadcast")
  }

  test("q_session_cap_split: windows partitioned by user, never global") {
    assert(globalWindows(df("q_session_cap_split")) === 0)
  }

  test("events_topk_merge_daily: exact side is TakeOrdered, not a global sort") {
    val p = plan("events_topk_merge_daily")
    assert(p.contains("TakeOrderedAndProject"), "exact top-20 must plan per-partition heaps\n" + p)
  }
}
