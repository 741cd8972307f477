package graft.queries

import graft.{SparkEntry, SparkSpec}

/** Suite-wide plan lint: EVERY declared query's executed plan is swept
  * for the scale anti-patterns the per-query reviews hunt by hand —
  * cartesian products, nested-loop joins, Expand row-blowups. Deliberate
  * uses are allowlisted WITH their justification; anything new fails the
  * suite, so an accidental plan degradation (a dropped equi-key, a new
  * multi-distinct) is caught at test time, not by the next bench round.
  *
  * Plans are built on sf0.001 (plan shapes are SF-invariant; queries
  * with eager artifact builds execute them at smoke scale).
  */
class PlanLintSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  /** BroadcastNestedLoopJoin is legitimate exactly where a small
    * broadcast side meets a non-equi or all-pairs contract. */
  private val bnljAllowed: Map[String, String] = Map(
    "q72_ivf_assign" -> "broadcast centroid table × vectors: the IVF argmax assignment kernel",
    "q73_ivf_topk" -> "same IVF assignment kernel inside the inline index build",
    "q122_semantic_dedup" -> "IVF-blocked cosine: broadcast centroid argmax assignment",
    "q153_semantic_decontaminate" -> "cross-set IVF probe: broadcast bench-centroid table against both the bench (top-1 assignment) and corpus (nprobe probes) sides",
    "q134_ivf_append" -> "delta assignment against broadcast stored centroids",
    // (q143's search plan has NO BNLJ: the q141 kernels run only in the
    // eager one-time artifact build; the returned plan reads stored frames)
    "q141_ivfpq_topk" -> "IVF-PQ: the broadcast centroid argmax kernel (q72); the PQ encode against probed-list members is a broadcast equi-join on the subspace",
    "q144_ivfpq_residual_topk" -> "residual IVF-PQ: the broadcast centroid argmax kernel, plus the nprobe-row query-residual frame crossJoined with the broadcast codebook (nprobe*k rows)",
    "q154_ann_refine" -> "the q141 kernels build the ADC shortlist stage; the refine stage itself is a broadcast equi semi-join of 30 ids",
    "q94_bm25" -> "broadcast 1-row corpus-stats frame joined to every doc",
    "q125_unigram_logprob" -> "broadcast 1-row corpus token-count frame",
    "q57_baseline_scores" -> "broadcast 1-row global-stats frame",
    "q120_notify_digest" -> "broadcast 1-row headline-stats frame crossJoined onto top-N",
    "q128_sql_range_join" -> "the rule's residual branch: BNLJ kept ONLY for over-cap intervals (empty at runtime, AQE-collapsed)",
    "q106_temperature_mix" -> "broadcast per-stratum rate frame (|strata| rows)",
    "q138_cluster_balanced_sample" -> "q72's broadcast centroid argmax kernel + q106's broadcast per-cluster rate frame",
    "q33_pair_features" -> "candidate-capped θ-join: both sides are top-100-per-org by contract (reference pipeline.py:335-336 caps pairs at 10k/org-pair) — the score-threshold condition has no equi-key by design",
    "q35_recommendations" -> "same candidate-capped θ-join as q33 feeding the ranked output",
    "q74_tfidf" -> "broadcast 1-row corpus-size frame (N for idf) crossJoined onto term stats",
    "q92_negative_sampling" -> "broadcast 1-row part-count frame (the modulus for the hash draw)",
    "q108_dau_wau" -> "broadcast 1-row date-bounds frame (d0,d1) range-joined to the day scaffold — bounded by the calendar, not the fact table",
    "q109_rfm" -> "broadcast 1-row order-statistic edges frame crossJoined for scan-local scoring",
    "q162_kmv_overlap" -> "broadcast |sources|-row theta frame: the all-pairs (a < b) scaffold over sketch keys — k-scale by construction",
    "q165_sketch_screened_decon" -> "same |sources|-row theta scaffold as q162 (the screen stage reuses kmvOverlapPairs)",
    "q163_hist_quantile" -> "broadcast |probs|-row frame crossJoined onto ≤bins histogram rows per group",
    "q174_hard_negatives" -> "broadcast 20-row query batch × corpus: the brute-force mining contract (all cross-label pairs scored by design; corpus-scale Q routes through the stored IVF index instead)",
    "q178_metric_ci" -> "the point-estimate row joins the CI row on the literal 'all' scope — constant folding degenerates the 1×1 equi-join to a BNLJ of two single-row frames",
    "q179_hybrid_rrf" -> "q94's broadcast 1-row corpus-stats frame inside the BM25 leg of the fusion",
    "q194_dsir_weights" -> "broadcast 1-row model-totals frame (Tn,Rn) crossJoined onto the bucket-domain ratio table (numBuckets rows)",
    "q195_dsir_select" -> "same DSIR ratio build: 1-row totals frame onto the bucket domain",
    "q197_dsir_shard_merge" -> "same DSIR ratio build over the MERGED shard artifacts: 1-row totals onto the bucket domain",
    "q198_dsir_select_audit" -> "same DSIR ratio build inside the audited weight pass: 1-row totals onto the bucket domain",
    "q199_selector_agreement" -> "same DSIR ratio build inside the agreement frame's weight pass: 1-row totals onto the bucket domain",
    "q180_cms_shard_merge" -> "broadcast 1-row shard-count frame crossJoined onto the 20-row probe read-out",
    "q182_semantic_outliers" -> "q72's broadcast centroid argmax kernel feeding the per-cell decile window",
    "q184_join_size_estimate" -> "two 1-row frames (sketch estimate x exact cardinality) crossJoined for the comparison row",
    // q185 and q102 no longer appear here: both now materialize their
    // result eagerly (leak-hygiene localCheckpoint) so the declared plan
    // is a checkpoint scan — their deliberate BNLJs (q185's sample-scale
    // all-pairs truth; q102's broadcast 1-row edge frame) still execute
    // inside the checkpoint and stay documented in the operator scaladoc
    "q188_decayed_engagement" -> "broadcast 1-row t_ref (max ts) frame crossJoined onto the events scan",
    "q191_ql_retrieval" -> "q94's broadcast 1-row corpus-stats frame, the query-likelihood variant",
    "q202_curation_funnel" -> "the q194/q195 DSIR ratio build inside the selection stage: broadcast 1-row totals frame onto the bucket domain (numBuckets rows)",
    "q203_ann_operating_curve" -> "the instrument's broadcast query-batch joins: queries × centroid table (probe ranking), queries × PQ codebook (ADC lookup build), and queries × corpus for the ground-truth all-pairs pass — tuning harness contract like q185, never the serving path",
    "q204_ann_spilled_curve" -> "q203's instrument contract over the trained+spilled index: broadcast query batch × stored centroids/codebook, plus the contracted all-pairs ground-truth pass",
    "q172_corpus_datasheet" -> "broadcast 1-row global-stats frame (the checkpointed multi-agg) crossJoined as the per-language denominator — the r16 zero-driver-read rewrite of the former .head() scalar pull",
    "q211_ann_twostage_curve" -> "the q203/q204 instrument contract for the binary two-stage curve: broadcast query batch × packed-code corpus (the deliberate stage-0 full scan at 1/32 bytes), broadcast config frame joined on the rh <= B(bpct) inequality (5 rows), and the contracted all-pairs ground-truth pass; the hamming rank itself is materialized (localCheckpoint), so only the tiny-side joins plan as BNLJ")

  /** Expand is legitimate only for SQL grouping sets. */
  private val expandAllowed: Map[String, String] = Map(
    "q80_cube_rollup" -> "CUBE semantics ARE grouping sets — Expand is the operator",
    "q126_sliding_window" -> "Spark's TimeWindowing compiles slide<length windows to an Expand of length/slide rows — the operator's defined fan-out, scan-local")

  test("no declared query plans a cartesian product, an unexpected " +
      "nested-loop join, or an unexpected Expand; allowlists stay live") {
    val plans = SparkEntry.queries.toSeq.sortBy(_._1).map {
      case (name, fn) =>
        name -> (try fn(spark, dir).queryExecution.executedPlan.toString
          catch { case e: Throwable => s"BUILD FAILED: ${e.getMessage}" })
    }.toMap
    val violations = plans.toSeq.sortBy(_._1).flatMap { case (name, plan) =>
      Seq(
        Option.when(plan.contains("BUILD FAILED"))(s"$name: $plan"),
        Option.when(plan.contains("CartesianProduct"))(
          s"$name: CartesianProduct (never acceptable — no equi-key and nothing broadcastable)"),
        Option.when(plan.contains("BroadcastNestedLoopJoin") &&
            !bnljAllowed.contains(name))(
          s"$name: unexpected BroadcastNestedLoopJoin — add an equi-key or justify in the allowlist"),
        Option.when(plan.contains("Expand") && !expandAllowed.contains(name))(
          s"$name: unexpected Expand — multi-distinct or grouping-set blowup")
      ).flatten
    }
    // staleness sweep: an allowlist entry whose query no longer plans the
    // operator would silently re-authorize a FUTURE reintroduction —
    // entries must point at live queries whose plans still contain the
    // allowlisted operator, or be removed
    val stale =
      bnljAllowed.keys.filterNot(n =>
          plans.get(n).exists(_.contains("BroadcastNestedLoopJoin")))
        .map(n => s"$n: stale BNLJ allowlist entry (query gone or plan no longer has BNLJ) — remove it") ++
      expandAllowed.keys.filterNot(n =>
          plans.get(n).exists(_.contains("Expand")))
        .map(n => s"$n: stale Expand allowlist entry — remove it")
    assert(violations.isEmpty && stale.isEmpty,
      (violations ++ stale).mkString("\n", "\n", ""))
  }
}
