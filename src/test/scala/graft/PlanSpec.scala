package graft

import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan shape assertions (SURVEY.md §4b, task contract: ".explain
  * the plan and iterate until it's the plan you'd want"). These pin the
  * scale-critical properties so a refactor can't silently regress them:
  * pushdown reaching the parquet scan, broadcast joins staying broadcast,
  * top-k avoiding the full sort, aggregates doing map-side partials, and
  * the custom expressions staying inside whole-stage codegen.
  */
class PlanSpec extends AnyFunSuite with GraftSuite {
  private val sf = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString

  test("projection pushdown reaches the parquet scan") {
    val p = plan("scan_projection_pushdown")
    assert(p.contains("PushedFilters: ["), s"no pushed filters:\n$p")
    assert(p.contains("ReadSchema: struct<l_orderkey:bigint,l_linenumber:int,l_shipdate"),
      s"scan reads more than the projected columns:\n$p")
  }

  test("partition-key filter prunes the partitioned scan to one directory") {
    val df = SparkEntry.queries("scan_partition_pruning")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    // The query itself require()s selectedPartitions == 1 at
    // construction (a failure would have thrown above); here pin the
    // plan shape too: the year predicate must appear INSIDE a non-empty
    // PartitionFilters list on the scan — "PartitionFilters: [" alone
    // would also match the empty rendering "PartitionFilters: []".
    assert(raw"PartitionFilters: \[[^\]]*o_year".r.findFirstIn(p).isDefined,
      s"o_year predicate is not a partition filter on the scan:\n$p")
  }

  test("dim-filtered join injects dynamic partition pruning into the fact scan") {
    val df = SparkEntry.queries("scan_dynamic_pruning")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    assert(p.toLowerCase.contains("dynamicpruning"),
      s"no dynamic pruning expression on the partitioned fact scan:\n$p")
  }

  test("runtime bloom filter prunes the fact side before its shuffle") {
    // The query's own require() already proves injection in the
    // optimized logical plan; this pins the physical side — the
    // might_contain probe must sit on the lineitem (application) side,
    // i.e. the fact rows are tested against the bloom BEFORE the
    // exchange carries them.
    val df = SparkEntry.queries("join_runtime_bloom")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("might_contain"), s"no bloom probe in physical plan:\n$p")
    assert(p.contains("bloom_filter_agg"), s"no bloom build subquery:\n$p")
  }

  test("NOT IN plans a null-aware hash anti join, not a nested loop") {
    val p = plan("subquery_not_in")
    assert(p.contains("NULL-aware") || p.contains("LeftAnti"),
      s"NOT IN did not plan as an anti join:\n$p")
    assert(!p.contains("BroadcastNestedLoop"),
      s"NOT IN fell back to the O(n*m) nested loop:\n$p")
  }

  test("filter predicates are pushed to the orders scan") {
    val p = plan("filter_predicates")
    assert(p.contains("PushedFilters: [Or("), s"OR predicate not pushed:\n$p")
  }

  test("dimension joins broadcast") {
    val p = plan("join_broadcast")
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast join:\n$p")
    assert(!p.contains("SortMergeJoin"), s"dimension join degraded to SMJ:\n$p")
  }

  test("star join broadcasts every dimension") {
    val p = plan("join_multiway_star")
    val broadcasts = "BroadcastHashJoin".r.findAllIn(p).length
    assert(broadcasts >= 3, s"expected >=3 broadcast joins, got $broadcasts:\n$p")
  }

  test("top-k plans TakeOrderedAndProject, not a global sort") {
    val p = plan("sort_limit_topk")
    assert(p.contains("TakeOrderedAndProject"), s"expected TakeOrdered:\n$p")
  }

  test("group-by does map-side partial aggregation") {
    val p = plan("agg_groupby")
    assert(p.contains("HashAggregate") &&
      "HashAggregate".r.findAllIn(p).length >= 2,
      s"expected partial+final HashAggregate:\n$p")
  }

  test("theta-range join broadcasts the banded dimension side") {
    val p = plan("join_theta_range")
    assert(p.contains("BroadcastHashJoin"), s"banded join must broadcast parts:\n$p")
  }

  test("custom as-of join plans as AsOfJoinExec with sorted co-clustered children") {
    val p = plan("join_asof_custom")
    assert(p.contains("AsOfJoin"), s"custom operator missing:\n$p")
    assert(p.contains("Sort ["), s"children must be sorted for the merge:\n$p")
    assert(p.contains("Exchange hashpartitioning"),
      s"children must be hash-clustered on the key:\n$p")
    // and it agrees with the union-window formulation of the same op
    val custom = SparkEntry.queries("join_asof_custom")(spark, sf).collect().map(_.toString)
    val window = SparkEntry.queries("join_asof")(spark, sf).collect().map(_.toString)
    assert(custom.toSeq === window.toSeq)
  }

  test("fs listing plans as a column-pruned DSv2 BatchScan") {
    val p = plan("fs_ls")
    assert(p.contains("BatchScan fslist"), s"expected the DSv2 listing scan:\n$p")
    assert(p.contains("cols=name,is_dir"),
      s"fs_ls must prune the listing to (name, is_dir):\n$p")
  }

  test("prefix-filtered jaccard never plans a cartesian or nested-loop join") {
    val p = plan("dedup_ngram_jaccard")
    assert(!p.contains("CartesianProduct"), s"cartesian in exact-jaccard plan:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"), s"nested-loop in exact-jaccard plan:\n$p")
    assert(p.contains("graft_intersect_size") || p.contains("sortedintersectsize"),
      s"verify step must use the sorted-merge kernel:\n$p")
  }

  test("decontamination probes the training corpus via broadcast, never shuffling it") {
    // The eval shingle set must be the broadcast side; the training
    // corpus' only exchanges are the eval distinct + final rollup.
    val p = plan("decontaminate_ngram")
    assert(p.contains("BroadcastHashJoin"),
      s"eval shingle set is not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"training corpus is being shuffled through the contamination join:\n$p")
  }

  test("stratified sampling is map-only up to its output sort") {
    // Salted-md5 threshold selection must not shuffle: the only
    // exchange in the plan is the rangepartitioning for the final
    // deterministic orderBy.
    val p = plan("sample_stratified")
    // \S+ not [a-z]+: 'Exchange SinglePartition' must be caught too.
    val exchanges = "Exchange \\S+".r.findAllIn(p).toList
    assert(exchanges.forall(_.contains("rangepartitioning")),
      s"sampling shuffled beyond the output sort: $exchanges\n$p")
  }

  test("PCA projection is map-only up to its output sort") {
    // The artifact-consumer claim pinned: the trained basis arrives as
    // a broadcast literal and the projection dot is a map pass — the
    // only exchange is the rangepartitioning for the deterministic
    // emission orderBy (no aggregation, no join, no data shuffle).
    val p = plan("feat_pca_project")
    val exchanges = "Exchange \\S+".r.findAllIn(p).toList
    assert(exchanges.forall(_.contains("rangepartitioning")),
      s"projection shuffled beyond the output sort: $exchanges\n$p")
  }

  test("pixel decode ops are map-only up to their output sort") {
    // The round-13 real-codec claim pinned: encode→decode→pixel-math
    // runs entirely inside the per-partition batch (one corpus scan);
    // the only exchanges are the rangepartitioning for the
    // deterministic emission order and (round 14) the scale-adaptive
    // Tables.spread round-robin that floors input parallelism for the
    // CPU-bound codec pass — a no-op once the scan itself has ≥
    // cluster-width splits. A regression that introduced a KEYED
    // shuffle (e.g. a per-doc groupBy creeping in) would still show
    // here: hashpartitioning is neither of the allowed forms.
    for (name <- Seq("mm_resize", "mm_feature_extract", "mm_frame_sample",
        "mm_audio_sample_stats")) {
      val p = plan(name)
      val exchanges = "Exchange \\S+".r.findAllIn(p).toList
      assert(exchanges.forall(e => e.contains("rangepartitioning") ||
          e.contains("RoundRobinPartitioning")),
        s"$name shuffled beyond the output sort + input spread: $exchanges\n$p")
    }
  }

  test("DCT phash generates candidates by banded equi-join, never quadratically") {
    // Same scale shape as the embedding/aHash dedups: candidates come
    // from the 4x15-bit band equi-join; any cartesian/BNLJ here would
    // be quadratic in the corpus.
    val p = plan("mm_phash_dct")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"DCT phash planned a quadratic join:\n$p")
    assert(p.contains("band") && p.contains("bv"),
      s"banded equi-join keys missing from the plan:\n$p")
  }

  test("funnel stages share one user_id shuffle across both windows and the rollup") {
    // All three funnel stages ride a single hashpartitioning(user_id)
    // exchange: both Window nodes and the per-user HashAggregate reuse
    // it; the only other exchange is the 3-row global rollup. A
    // regression to the naive 3-join form would re-shuffle events per
    // stage and show up here as extra hashpartitioning exchanges.
    val p = plan("funnel_stages")
    val exchanges = "Exchange \\S+".r.findAllIn(p).toList
    assert(exchanges.count(_.contains("hashpartitioning")) == 1,
      s"expected exactly one keyed shuffle, got: $exchanges\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin"),
      s"funnel regressed to a join-per-stage shape:\n$p")
  }

  test("embedding dedup generates candidates by LSH-band equi-join, never quadratically") {
    // Candidate generation must be an equi-join on (label, band, bits)
    // — never a cartesian/BNLJ block scan — and the survivor filter a
    // left-anti join.
    val p = plan("dedup_embedding")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"embedding dedup planned a quadratic join:\n$p")
    assert(p.contains("LeftAnti"), s"survivor rule is not an anti-join:\n$p")
  }

  test("LSH bucket kernel appears in the plan and keeps codegen alive") {
    import org.apache.spark.sql.execution.ExplainMode
    val p = plan("sim_ann_lsh")
    assert(p.contains("lshbucket"), s"LshBucket kernel missing from the plan:\n$p")
    val noAqe = spark.newSession()
    noAqe.conf.set("spark.sql.adaptive.enabled", "false")
    val gen = SparkEntry.queries("sim_ann_lsh")(noAqe, sf)
      .queryExecution.explainString(ExplainMode.fromString("codegen"))
    assert(gen.contains("WholeStageCodegen subtrees"), s"no codegen output:\n${gen.take(500)}")
    assert(!gen.matches("(?s).*Found 0 WholeStageCodegen.*"), "zero codegen subtrees")
  }

  test("stream-stream join batch twin plans a keyed join, never a BNLJ") {
    val p = plan("stream_stream_join")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"interval join degenerated to a nested loop:\n$p")
  }

  test("custom dot-product expression stays inside whole-stage codegen") {
    import org.apache.spark.sql.execution.ExplainMode
    val df = SparkEntry.queries("sim_pairs_threshold")(spark, sf)
    assert(df.queryExecution.executedPlan.toString.contains("dotproductf"),
      "custom expression missing from the plan")
    // Codegen mode materializes the generated Java: the dot product must
    // compile into a whole-stage span (a CodegenFallback expression would
    // leave zero subtrees around it). AQE wraps the plan before execution
    // and reports zero subtrees, so inspect with AQE off.
    val noAqe = spark.newSession()
    noAqe.conf.set("spark.sql.adaptive.enabled", "false")
    val gen = SparkEntry.queries("sim_pairs_threshold")(noAqe, sf)
      .queryExecution.explainString(ExplainMode.fromString("codegen"))
    assert(gen.contains("WholeStageCodegen subtrees"), s"no codegen output:\n${gen.take(500)}")
    assert(!gen.matches("(?s).*Found 0 WholeStageCodegen.*"), "zero codegen subtrees")
  }

  test("two-level global-order ops broadcast their offset table") {
    // shuffle_global / sample_token_budget / mm_shard_pack exist
    // precisely to avoid a global window; the small bucket-offset table
    // must come back to the corpus as a broadcast, never by shuffling
    // the corpus.
    for (q <- Seq("shuffle_global", "sample_token_budget", "mm_shard_pack")) {
      val p = plan(q)
      assert(p.contains("BroadcastHashJoin"),
        s"$q: offsets join is not broadcast:\n$p")
      assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
        s"$q: corpus is shuffled to meet the offset table:\n$p")
    }
  }

  test("delta_snapshot_diff is one full-outer sort-merge join on the key") {
    val p = plan("delta_snapshot_diff")
    assert(p.contains("SortMergeJoin") && p.contains("FullOuter"),
      s"snapshot diff is not a full-outer SMJ:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"snapshot diff degenerated to a nested loop:\n$p")
  }

  test("join_skew_salted shuffles on the salted key, never broadcasts") {
    val p = plan("join_skew_salted")
    assert(p.contains("SortMergeJoin"),
      s"salted join lost its merge hint:\n$p")
    assert(!p.contains("BroadcastHashJoin"),
      s"the dim side broadcast — nothing is being salted:\n$p")
    // The salt must be part of the join keys (that's the whole point:
    // the hot key's rows spread over SALT reducers).
    assert(raw"SortMergeJoin \[[^\]]*salt".r.findFirstIn(p).isDefined,
      s"salt is not in the join keys:\n$p")
  }

  test("single-key window chains plan exactly one exchange") {
    // merge_scd2 (lag → filter → lead) and ts_ohlc_downsample (two
    // row_number windows + rollup on the same keys) are written so every
    // stage rides one user-keyed shuffle; a second Exchange would mean a
    // regression re-clustering the corpus per stage.
    // join_asof_nearest's backward+forward windows likewise share one
    // user-keyed partitioning. ts_changepoint
    // (mean/cusum/argmax windows, all on user_id) and win_streak
    // (explicit user_id repartition feeding distinct → island window →
    // two rollups) each make the same single-shuffle claim in their
    // query comments.
    for (q <- Seq("merge_scd2", "ts_ohlc_downsample", "join_asof_nearest",
        "ts_changepoint", "win_streak")) {
      val p = plan(q)
      val n = "Exchange hashpartitioning".r.findAllIn(p).length
      assert(n === 1, s"$q: expected 1 shuffle, found $n:\n$p")
    }
  }

  test("weighted median never shuffles or sorts the full table") {
    // The two-phase bucket prune's whole claim: with a 3-value group
    // key, the naive window form shuffles every row into 3 partitions
    // (parallelism 3 at any cluster size). The pruned form may shuffle
    // only reduced or pruned data: the bucket rollup (map-side partial
    // first), its tiny window sort, and the crossing-bucket subset —
    // while the full-table pass reaches the broadcast join straight
    // from the scan.
    val p = plan("agg_weighted_median")
    assert(p.contains("BroadcastHashJoin"),
      s"crossing-bucket spec is not broadcast:\n$p")
    val n = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(n === 3, s"expected 3 reduced-data shuffles, found $n:\n$p")
    // The probe side must be Scan → Filter/Project → BroadcastHashJoin
    // with no Exchange in between (the full table never shuffles). In
    // the tree rendering, probe-branch lines carry a ':' continuation
    // mark before the node name; build-side and post-join lines don't.
    assert(!p.linesIterator.exists(l =>
        l.indexOf("Exchange") > 0 &&
        l.substring(0, l.indexOf("Exchange")).contains(":")),
      s"an Exchange appeared on the probe (full-table) side:\n$p")
  }

  test("profile_summary reads the table once and profiles via a single Expand") {
    val p = plan("profile_summary")
    assert(p.contains("Expand"),
      s"multi-distinct profile did not plan an Expand:\n$p")
    val scans = "FileScan parquet".r.findAllIn(p).length
    assert(scans === 1, s"profile pass scans the table $scans times:\n$p")
  }

  test("profile_summary_approx's production branch is Expand-free") {
    // The query unions an approx branch (the 100 TB path: HLL sketches
    // in ONE ordinary aggregate) with an exact branch that exists only
    // to power the oracle's bar flag. Exactly one Expand may appear —
    // the exact branch's — proving the approx aggregate itself plans
    // sketch merges, not row multiplication.
    val p = plan("profile_summary_approx")
    val expands = "Expand".r.findAllIn(p).length
    assert(expands === 1,
      s"expected exactly 1 Expand (exact gate branch only), found $expands:\n$p")
    assert(p.contains("approx_count_distinct") || p.contains("HyperLogLog"),
      s"approx branch does not plan HLL sketches:\n$p")
  }

  test("feat_minmax_scale broadcasts the per-type stats, never shuffling the stream") {
    val p = plan("feat_minmax_scale")
    assert(p.contains("BroadcastHashJoin"),
      s"stats table did not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"minmax encode degraded to a full-stream shuffle join:\n$p")
  }

  test("text_vocab_build reduces map-side before the single vocab shuffle") {
    val p = plan("text_vocab_build")
    // partial_count before the exchange = the corpus-sized explode is
    // combined per-task; only vocab-sized partials cross the network.
    assert(p.contains("partial_count") || p.contains("Partial"),
      s"vocab count has no map-side partial aggregate:\n$p")
  }

  test("ts_cross_corr self-joins the hourly rollup as an equi-join") {
    val p = plan("ts_cross_corr")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"lagged self-join lost its equi-key:\n$p")
  }

  test("no query plans a cartesian or nested-loop join except the deliberate cross") {
    // The global anti-pattern net: at 100 TB a CartesianProduct or
    // BroadcastNestedLoopJoin anywhere is a scale-killer, so every
    // banded/blocked operator must keep planning as an equi-join.
    // Exempt: the explicitly-cartesian operator, and the
    // scalar-attach crossJoin(broadcast(...)) sites whose build side is
    // O(1) rows BY CONSTRUCTION — each is a broadcast of a global
    // no-groupBy aggregate (or a literal query row), so the "nested
    // loop" is a map-side attach of one row, not a join explosion:
    // a 1-row corpus count (text_tfidf), a 1-row query vector
    // (sim_cosine_topk), a per-language profile (text_langid),
    // centroids × 1 query vector (sim_ann_ivf), 1-row quantized query
    // codes (sim_quantized_rerank), 1-row newest-day ref
    // (agg_decay_halflife), 1-row collect_list of the 8 fixed centroids
    // (dedup_semantic, sim_kmeans_step), 1-row node count
    // (graph_pagerank_step), 1-row corpus token total
    // (text_unigram_logprob), and 1-row node/edge/triangle counts
    // (graph_triangles). Round-7 additions, same argument: a 1-row
    // exact-distincts gate branch (profile_summary_approx), 1-row
    // quartile cut points (sample_curriculum), and the ≤ n/100-row
    // broadcast query block of the recall audit (sim_ann_recall and
    // its probe-depth twin sim_ann_recall_multiprobe — the brute-force
    // side is the op's deliberate sampled truth set), the 1-row
    // rank-1 merge winner attach (bpe_merge_apply), the power
    // step's 1-row start-vector and norm attaches (feat_pca_power_step),
    // the 1-row bigram-type-count attach onto the top-200 selection
    // (text_kneser_ney), and the 1-row three-sketch estimate attach
    // (agg_hll_intersect). Anything NEW showing up here needs the same
    // bounded-by-construction argument. Round-8 addition:
    // sim_ann_production is the fifth recall-audit cell and carries the
    // same ≤ n/100-row broadcast query block for its sampled
    // brute-force truth side (the candidate side stays an equi-join);
    // sim_pq_adc attaches a 1-row 128-struct codebook and a 1-row
    // query vector (the kmeans/quantized_rerank argument — map-side
    // attach of O(1) rows, zero shuffle over the corpus);
    // sim_ivf_pq composes those same attaches with the 2-row probe
    // set and a 1-row candidate count — all O(1) by construction;
    // graph_hits_step attaches the 1-row (max-hub, max-authority)
    // normalizers and graph_modularity the 1-row edge-count m — both
    // graph_triangles' counts-attach argument; ts_mk_trend's pairwise
    // sign join and its three 1-row statistic attaches all ride the
    // calendar-bounded hour table (hours-in-corpus² pairs at ANY
    // corpus size — the ts_acf boundedness argument). Round-9
    // addition: agg_ks_test (and agg_mannwhitney_u, the same banded
    // two-level ECDF machinery) attaches a 1-row (min, max, n0, n1)
    // global-aggregate row to band values into its 256 buckets — the
    // subquery_scalar/agg_decay_halflife argument (one tiny job, then
    // a map-side attach of one row); text_perplexity_filter attaches
    // its 1-row tercile cut points the same way (plus the shared
    // unigram scorer's 1-row corpus-total attach, already exempted
    // via text_unigram_logprob).
    // fs_tier_plan attaches its 1-row ref-instant (max mtime) the same
    // way. agg_roc_auc is the third user of the banded two-level ECDF
    // machinery (the agg_ks_test 1-row range/count attach, verbatim);
    // agg_calibration_bins and feat_psi_drift attach the same 1-row
    // (lo, hi, …) global-range row. text_bm25_score attaches its 1-row
    // (N, Σlen) corpus globals the same way (the text_tfidf
    // corpus-count argument; its df side joins as a broadcast
    // equi-join, never nested-loop). sim_pq_train attaches the same 1-row 128-struct codebook as
    // sim_pq_adc. The converging trainers (sim_kmeans_converged,
    // sim_pq_train_converged, feat_pca_power_converged) emit their
    // held last round, a local table, so their plans are checked here
    // like any other key.
    val allowed = Set("join_cross", "agg_ks_test", "agg_mannwhitney_u",
      "agg_roc_auc", "agg_calibration_bins", "feat_psi_drift",
      "text_perplexity_filter", "fs_tier_plan", "text_bm25_score",
      "text_tfidf", "text_langid", "sim_cosine_topk", "sim_ann_ivf",
      "sim_quantized_rerank", "agg_decay_halflife", "dedup_semantic",
      "sim_kmeans_step", "graph_pagerank_step",
      "text_unigram_logprob",
      "graph_triangles", "profile_summary_approx", "sample_curriculum",
      "sim_ann_recall", "sim_ann_recall_multiprobe", "sim_ann_multitable",
      "sim_ann_stacked", "sim_ann_production", "sim_pq_adc", "sim_pq_train",
      "sim_ivf_pq",
      "sim_matryoshka_audit", "graph_hits_step", "graph_modularity",
      "graph_louvain_step", "graph_louvain_coarsen", "graph_louvain_level2",
      "graph_coarsen_invariant",
      "join_point_in_interval", "ts_mk_trend", "bpe_merge_apply",
      "feat_pca_power_step", "text_kneser_ney",
      "agg_hll_intersect")
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, _) if allowed(name) => None
      case (name, q) =>
        val p = q(spark, sf).queryExecution.executedPlan.toString
        CacheDrain.drain(spark) // between keys, as Bench does
        if (p.contains("CartesianProduct") || p.contains("BroadcastNestedLoopJoin"))
          Some(name)
        else None
    }
    assert(offenders.isEmpty,
      s"scale-killer join shapes in: ${offenders.mkString(", ")}")
  }

  test("no unpartitioned window runs over a data-sized input anywhere in the map") {
    // Round 15 (VERDICT r14 item 3): a Window with an EMPTY partition
    // spec moves its whole input through one partition — the classic
    // top-k anti-pattern when the input is data-sized (a global
    // row_number over a 10⁷-term vocabulary ranks everything to keep
    // 500). Legitimate instances are windows over PROVABLY BOUNDED
    // inputs: every path from the window down to a leaf passes a
    // GlobalLimit (the orderBy().limit(k) + re-rank pattern —
    // sim_pq_adc, text_vocab_build) or a zero-grouping (1-row)
    // aggregate, or ends in a LocalRelation. One bounded branch does
    // not bound a join with a data-sized one. Anything else fails the
    // suite.
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, GlobalLimit, LocalRelation, LogicalPlan, Window => LWindow}
    def bounded(p: LogicalPlan): Boolean = p match {
      case _: GlobalLimit | _: LocalRelation => true
      case a: Aggregate if a.groupingExpressions.isEmpty => true
      case _ => p.children.nonEmpty && p.children.forall(bounded)
    }
    // Audited instances (round 15): every window here runs over a table
    // ALREADY REDUCED by a grouped aggregate whose key domain is
    // structurally bounded — value grids (spearman: quantity 1..50 /
    // 11 discount points), digit/bucket/hour domains (benford ≤9,
    // cusum/ltob/stl/seasonal hourly-bucket series, shuffle_global's
    // bucket prefix), or #source-row tables (epoch_plan, interleave,
    // mixture_weights, js_divergence, mixture_resample,
    // chi_square/cramers_v/MI status×priority contingency). Their
    // scaladocs carry the boundedness argument;
    // the gate exists to stop NEW data-sized instances (the
    // text_vocab_build / zipf / bigram_lm class this round removed).
    // Fixed-bin tables over a clamped bin key belong here too, though
    // a 1-row range aggregate on one branch let them pass the old
    // any-node rule: the 256 ECDF bands of agg_ks_test,
    // agg_mannwhitney_u and agg_roc_auc (least(255, floor((v − lo) /
    // width)) over values ≥ the broadcast minimum lo) and the 10 score
    // deciles of agg_calibration_bins and feat_psi_drift (least(9,
    // floor(10p)) over p ∈ [0, 1], plus one null bin when hi = lo).
    val boundedByDomain = Set("agg_benford_test", "agg_chi_square",
      "agg_ks_test", "agg_mannwhitney_u", "agg_roc_auc",
      "agg_calibration_bins", "feat_psi_drift",
      "agg_cramers_v", "agg_mutual_information", "agg_spearman_corr",
      "pipeline_epoch_plan", "pipeline_interleave_sources",
      "pipeline_mixture_weights", "sample_mixture_resample",
      "shuffle_global", "text_js_divergence", "ts_cusum_changepoint",
      "ts_downsample_ltob", "ts_seasonal_profile", "ts_stl_decompose")
    // Every key's plan is built here, so this test also checks that
    // building a query leaves the caller's session conf as it was.
    val conf = spark.conf.getAll
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, q) =>
        val lp = q(spark, sf).queryExecution.optimizedPlan
        CacheDrain.drain(spark) // between keys, as Bench does
        val now = spark.conf.getAll
        assert(now === conf, s"building $name changed the session conf: " +
          (now.keySet ++ conf.keySet).filter(k => now.get(k) != conf.get(k)))
        val bad = if (boundedByDomain(name)) Nil else lp.collect {
          case w: LWindow if w.partitionSpec.isEmpty && !bounded(w.child) => w
        }
        if (bad.nonEmpty) Some(name) else None
    }
    assert(offenders.isEmpty,
      s"unpartitioned window over unbounded input in: ${offenders.mkString(", ")}")
  }
}
