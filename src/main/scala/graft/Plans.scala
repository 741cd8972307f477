package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Dumps formatted physical plans for every bench-significant query —
  * the `.explain("formatted")` review loop (PushedFilters, ReadSchema,
  * broadcast selection, WholeStageCodegen spans). Queries that
  * `localCheckpoint` mid-pipeline (the LSH/CC family) additionally get
  * STAGE sections explaining the un-materialized pipeline the
  * post-checkpoint plan hides behind an RDD scan. Usage:
  *   tools/run.sh graft.Plans [sfDir] > PLANS.md
  *   tools/run.sh graft.Plans [sfDir] qNNN_name... > plans.md
  * The second form dumps only the named declared queries — the
  * before/after evidence for a change that moves a few plans. */
object Plans {

  private def dump(title: String, df: DataFrame, note: String = ""): Unit = {
    println(s"## $title\n")
    if (note.nonEmpty) println(note + "\n")
    println("```")
    // queryExecution.explainString avoids stdout interleaving
    println(df.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode))
    println("```\n")
  }

  def main(argv: Array[String]): Unit = {
    val (named, args) = argv.partition(SparkEntry.queries.contains)
    require(args.length <= 1,
      s"usage: Plans [sfDir] [query...]; unknown query ${args.last}")
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // every query ≥1s in the round bench, plus one representative per
    // plan-shape family below the bar
    val picks = Seq(
      "q01_pricing_summary",   // scan + partial agg: pushdown + pruning
      "q04_join_fk_rollup",    // star join: broadcast + SMJ selection
      "q09_topk_per_group",    // window top-k
      "q28_broadcast_lookup",  // explicit broadcast hash join
      "q31_er_features",       // blocked ER join + 9 pair features
      "q32_er_resolve",        // two-phase ER: exact shortcut + JW domain prune
      "q35_recommendations",   // candidate pairs + features + rank
      "q36_er_confusion",      // ER metrics: one agg over the match join
      "q43_minhash_neardups",  // dedup tail (stage plan: LSH section below)
      "q46_ngram_jaccard",     // postings self-join with maxDf hot-gram cap
      "q51_language_id",       // n-gram scoring, scan-local expressions
      "q56_ranking_metrics",   // global windows + single-row agg
      "q69_asof_join",         // as-of: union + keyed window, no range join
      "q72_ivf_assign",        // IVF: broadcast NL join + argmax partial agg
      "q74_tfidf",             // partial-agg df + one broadcast stats row
      "q75_dup_clusters",      // CC census tail (stage plans: CC section below)
      "q78_percentiles",       // rank-selected percentile_disc, no buffering agg
      "q82_column_profile",    // two column-pruned scans, no Expand
      "q84_corpus_clean",      // curation funnel: one scan/window/agg
      "q85_pq_adc_topk",       // PQ: broadcast codebook encode + ADC lookup
      "q86_scd2_intervals",    // SCD2: two windows, one shared Exchange
      "q87_incremental_rollup",// old ⊕ delta algebraic merge, two scans
      "q89_range_join_windows",// binned range join: equi-join, no NL
      "q92_negative_sampling", // anti-join + hash-deterministic draw
      "q93_decontaminate",     // bench grams broadcast, corpus never SMJs
      "q94_bm25",              // scan-local tfs + one broadcast stats row
      "q96_pack_sequences",    // per-shard prefix-sum window
      "q98_chunk_docs",        // scan-local row generation, no hash shuffle
      "q102_psi_drift",        // exact PSI: shared edge broadcast, two scans
      "q103_funnel",           // chained stage windows, one user Exchange
      "q105_attribution",      // as-of channel join + money rollup
      "q107_canonical_docs",   // canonical pick tail over CC labels
      "q108_dau_wau",          // explode-into-window WAU, one Exchange
      "q109_rfm",              // distributed order-stat edges + scan-local score
      "q110_basket_pairs",     // basket cap BEFORE pair self-join
      "q115_incremental_dedup",// delta-vs-corpus tail (stage plan below)
      "q118_next_conversion",  // forward as-of: union + window, one shuffle
      "q120_notify_digest",    // TakeOrdered top-N + broadcast stats row
      "q121_interval_overlap", // interval×interval: double bin-explode equi-join
      "q122_semantic_dedup",   // IVF-blocked cosine pairs, broadcast argmax
      "q123_mad_anomalies",    // rank frame checkpointed once (stage plan below)
      "q124_leakage_safe_split",// CC labels tail + component-hash split
      "q125_unigram_logprob",  // partial-agg ctf + term join + decimal ln sum
      "q126_sliding_window",   // window() slide explode + one hash agg
      "q127_deduped_corpus",   // left-anti vs CC labels + canonical union
      "q128_sql_range_join",   // AutoBinRangeJoin: naive SQL -> equi-join
      "q129_bulk_csv_scan",    // DSv2 connector: PushedFilters/ReadSchema
      "q130_artifact_corpus",  // q127 tail over STORED labels parquet
      "q131_span_dedup",       // tile window (one content Exchange) + doc rebuild
      "q132_ivf_index_topk",   // search over the STORED centroids/assignments
      "q133_decontaminate_bloom", // bloom scan-local prune + exact confirm join
      "q134_ivf_append",       // delta-only assignment vs stored centroids
      "q135_psi_windows",      // drift monitor: literal edges, one window agg
      "q136_compacted_layout", // compaction + partitioned/z-ordered lake read
      "q138_cluster_balanced_sample", // IVF-stratum temperature rates
      "q139_scd2_merge",       // anti-join passthrough + seeded delta window
      "q140_token_budget_mix", // per-source quota window, md5 order
      "q141_ivfpq_topk",       // probe lists -> members -> ADC lookup
      "q144_ivfpq_residual_topk", // residual codes + per-list ADC tables
      "q145_delete_where",     // post-delete lake read (files rewritten ∝ matches)
      "q148_lexrank_summary",  // per-doc tile pair join, one doc-hash Exchange family
      "q149_feedback_metrics", // feedback pre-agg BEFORE prediction join
      "q151_point_upsert",     // post-upsert lake read (files rewritten ∝ keys)
      "q152_variant_compare",  // tiny variant rollup + window'd control row
      "q153_semantic_decontaminate", // cross-set IVF probe: broadcast centroids x2
      "q154_ann_refine",       // broadcast shortlist ids -> exact cosine re-rank
      "q155_boilerplate",      // tile df windows over ONE content Exchange
      "q156_dup_pagerank",     // 3 damped rounds over checkpointed edge list
      "q157_boilerplate_artifact", // q155 via STORED tile keys: LEFT ANTI join
      "q158_ivfpq_refined_serving", // stored-index ADC shortlist + exact re-rank
      "q159_er_salted_skew",   // hot ER block salted 8x: salt keys + Generate
      "q160_kmv_sketch",       // bounded bottom-k agg: ≤k-long partials shuffle
      "q162_kmv_overlap",      // all-pairs theta intersect over k-row frames
      "q163_hist_quantile",    // per-day bin partials + ≤bins-row read-out
      "q165_sketch_screened_decon", // sketch screen composed before exact join
      "q166_bpe_encode",       // trained-table codegen apply: one scan + one agg
      "q169_lm_doc_nll",       // pair explode + two artifact joins + decimal sum
      "q170_sliding_span_dedup", // stride-1 window hash + coverage + local rebuild
      "q171_bootstrap_ci",     // xB lane explode into one partial agg
      "q173_bpe_compression",  // trained bpe_encode projection + per-source agg
      "q174_hard_negatives",   // broadcast query batch x corpus + top-k window
      "q175_filter_reasons",   // q169 scoring joins + scan-local reason array
      "q176_lm_shard_merge",   // stored per-shard count artifacts: union+sum rollup
      "q178_metric_ci",        // per-group NDCG + bootstrap lane explode CI
      "q180_cms_shard_merge",  // stored per-shard CMS cells: additive merge read-out
      "q181_keyword_tags",     // scan-local grams x broadcast dictionary
      "q184_join_size_estimate", // CMS inner product vs agg-then-join exact
      "q185_lsh_operating_curve", // shared-signature re-banding x2 + all-pairs truth
      "q187_containment_pairs",  // capped bands + exact verify, no sig prune
      "q193_boost_score",        // frozen-model margin+attribution: 1 Project post-sort
      "q194_dsir_weights",       // gram explode + broadcast ratio join + doc agg
      "q195_dsir_select",        // Gumbel keys -> TakeOrdered top-k, rank on k rows
      "q196_quality_model",      // features + frozen margin: ONE codegen projection
      "q199_selector_agreement", // q194 weight pass + q196 projection + id join
      "q200_bpe_byte_train",     // byte-level batched rounds (kernel scan + vocab aggs)
      "q202_curation_funnel",    // 5-stage composed funnel (quality->decon->dedup->DSIR->mix)
      "q203_ann_operating_curve",// config-joined probe/ADC/refine off the stored index
      "q204_ann_spilled_curve",  // trained+spilled curve off stored k-means artifacts
      "q205_schema_evolution",   // two-generation rename/default/cast union
      "q206_export_roundtrip",   // export->read-back intersect, both serializers
      "q207_ops_metrics_rollup", // Grafana panel math: agg pass + exact-p95 window
      "q208_microbatch_batch_twin", // drained+replayed sink read (partition discovery)
      "q209_binary_hamming_topk", // packed sign-bit projection + popcount TakeOrdered
      "q210_opq_adc_recall",     // OPQ vs flat off stored artifacts: rotation projections + ADC aggs
      "q211_ann_twostage_curve", // binary stage-0 rank + config-filtered ADC + exact refine
      "q212_funnel_evolved",     // two-generation evolved read -> quality gate -> dedup -> rollup
      "q213_er_block_stats",     // O(n) block budget: two aggs + key equi-join, no pair space
      "q214_binary_adc_serving", // 3-stage serve: hamming TakeOrdered -> semi-join ADC -> refine
      "q215_index_erasure")      // remove_ids: deleteWhere rewrites + post-erasure stored serve
    // per-query reader notes where the right plan is easy to misread
    val notes = Map(
      "q128_sql_range_join" -> ("The user wrote the naive theta join " +
        "(ts >= w_from AND ts < w_to) in SQL; AutoBinRangeJoin rewrote " +
        "it at optimization time. The Union is the cap-guarded rewrite: " +
        "the BroadcastHashJoin branch carries every interval spanning " +
        "<= maxBinsPerRow bins (all of them here -- 2h windows, 1h " +
        "bins), the BroadcastNestedLoopJoin branch is the RESIDUAL for " +
        "over-cap intervals only (build side filtered to " +
        "bin-count > cap, empty at runtime; AQE collapses an empty " +
        "build). Without the rule the WHOLE join is that BNLJ."),
      "q123_mad_anomalies" -> ("The rank frame (ONE events scan, then " +
        "the giantGroups=true range-partitioned selection: range sort + " +
        "zipWithIndex + group-start offsets -- no 5-task window) is " +
        "localCheckpointed and feeds all four consumers -- median agg, " +
        "deviation join, MAD rank, final rollup -- so this plan shows " +
        "RDD scans of the materialized frame where r7's plan " +
        "re-executed the parquet scan + window per consumer (4 scans). " +
        "The window-path rank-frame stage plan is dumped in its own " +
        "section below."),
      "q136_compacted_layout" -> ("The final scan reads the REWRITTEN " +
        "lake (compacted small-file sink -> Hive day partitions, " +
        "z-ordered on (user_id, value) within each): the day-range " +
        "predicate appears as PartitionFilters -- 25 of 30 day " +
        "directories are eliminated at PLANNING time, before any " +
        "footer is read -- and the user_id predicate as PushedFilters " +
        "against row groups whose z-order makes their user_id min/max " +
        "tight, so the reader skips most groups inside the surviving " +
        "5 directories. The two pruning layers multiply; at 100 TB " +
        "this layout is the difference between scanning the table and " +
        "reading ~1% of it."),
      "q139_scd2_merge" -> ("Three disjoint slices union'd: the " +
        "untouched-keys LEFT ANTI join (at a partitioned store this is " +
        "the partition-preserving passthrough -- nothing is rewritten), " +
        "the touched keys' closed intervals (plain key join, no window), " +
        "and the open-interval seeds unioned with the delta re-entering " +
        "the change-point window. Every join and both windows hash on " +
        "user_id, so the slices share one Exchange family; the history " +
        "is never globally re-sorted and the delta window's input is " +
        "one seed row per touched key plus the delta itself."),
      "q141_ivfpq_topk" -> ("The two broadcast kernels compose: the IVF " +
        "argmax assignment (BNLJ against the broadcast centroid table + " +
        "partial-agg argmax) restricts to probed-list members, then the " +
        "PQ encode (BNLJ against the broadcast codebook) runs ONLY over " +
        "those members, and the ADC sum is a broadcast hash join " +
        "against the m x k lookup table. The final top-k is " +
        "TakeOrderedAndProject. At scale with assignments as the " +
        "storage partition key, the unprobed lists are never read and " +
        "candidate memory is m bytes per vector."),
      "q145_delete_where" -> ("The plan shown is the POST-DELETE rollup " +
        "read; the deletion itself is the maintenance job (a pruned " +
        "predicate scan finds the files containing subjects, only those " +
        "rewrite — at a z-ordered 100 TB lake the clean files are never " +
        "read). What matters here: the read after erasure is a plain " +
        "pruned scan, indistinguishable from a never-contained-them " +
        "table."),
      "q149_feedback_metrics" -> ("The feedback log (the high-volume " +
        "side at serving scale) hits a partial-agg HashAggregate per " +
        "(prediction_id, day) BEFORE the join with the prediction log " +
        "-- the join's probe side is one row per prediction-day, never " +
        "raw event volume. The final (model_version, day) rollup " +
        "re-aggregates a frame whose cardinality is predictions, and " +
        "its output is variants x days. One shuffle per key change, " +
        "map-side combine on both."),
      "q151_point_upsert" -> ("The plan shown is the POST-UPSERT " +
        "rollup read (the q145 pattern): the upsert itself is the " +
        "marker-transaction maintenance job -- a pruned point scan " +
        "finds the files containing the patched keys, only those " +
        "rewrite, the insert lands as one new file. The read after is " +
        "a plain pruned scan over the swapped-in generation."),
      "q152_variant_compare" -> ("The per-variant rollup (same " +
        "pre-agg-then-join shape as q149) produces |variants| rows; " +
        "the control's counts re-enter via an UNPARTITIONED window " +
        "over that tiny frame (single task on |variants| rows) -- NOT " +
        "a self-join, which would recompute the rollup and re-scan " +
        "the feedback log. The z-test is pure column arithmetic; the " +
        "whole significance computation adds zero extra passes."),
      "q130_artifact_corpus" -> ("Consumes the STORED labels artifact " +
        "(parquet scan of /tmp/graft_artifacts_q130/labels) -- the " +
        "LSH+CC work that produced it ran once in the artifact build " +
        "(see the stage-plan sections below); the corpus " +
        "materialization itself is one window + one left-anti join " +
        "over the labels table."),
      "q154_ann_refine" -> ("The bulk of the plan is q141's allowlisted " +
        "ADC kernels building the 30-row shortlist (broadcast centroid " +
        "argmax + broadcast codebook encode over probed-list members " +
        "only); the refine stage itself is ONE broadcast SEMI join of " +
        "the 30 shortlist ids onto the raw-vector scan (a " +
        "storage-pruned point read when id is the table's sort key) + " +
        "exact cosine + TakeOrderedAndProject. The corpus-wide work " +
        "stays on m-byte PQ codes; raw vectors are touched for exactly " +
        "R rows."),
      "q155_boilerplate" -> ("Tiling is scan-local (Generate); ONE " +
        "Exchange on the materialized md5 tile key feeds BOTH window " +
        "functions back-to-back (dense_rank by id, then its partition " +
        "max = distinct-doc frequency -- inlining md5(tile) in each " +
        "spec would extract two distinct projections and cost a second " +
        "full Exchange, caught in the r11 plan review); one per-doc " +
        "Exchange rebuilds; the splice joins back broadcast. Two " +
        "shuffles total -- the spanDedup floor."),
      "q156_dup_pagerank" -> ("Scan ExistingRDD is the " +
        "localCheckpointed degree-annotated edge list (the LSH " +
        "pipeline runs once, not once per round or per final-plan " +
        "reference); each round is one SortMergeJoin on src + one " +
        "HashAggregate on dst -- the CC per-round cost envelope. The " +
        "checkpoint erases outputPartitioning, so each round " +
        "re-exchanges the (small) edge list; the bucketed artifact " +
        "path (GraphRank.writeEdgeArtifact + pageRankFromEdgeArtifact, " +
        "spec-gated: bit-identical output, strictly fewer Exchanges) " +
        "deletes those edge-side exchanges at scale. The contribution " +
        "sum rides " +
        "DECIMAL(38,18) inside the HashAggregate -- " +
        "partition-order-invariant, so the result is bit-identical " +
        "under any layout (GraphRankSpec proves it)."),
      "q157_boilerplate_artifact" -> ("q155 through the STORED tile-key " +
        "artifact: the df windows are gone -- the keep rule is a " +
        "single LEFT ANTI join of the scan-local tiles against the " +
        "parquet-read key set (broadcast while the artifact is small; " +
        "AQE decides from its real size), then the same per-doc " +
        "rebuild Exchange + broadcast splice. One shuffle on the hot " +
        "path vs q155's two -- the artifact pre-paid the df Exchange, " +
        "which is the point of materialize-once at 100 TB."),
      "q158_ivfpq_refined_serving" -> ("The DEFAULT serving composition: " +
        "q143's stored-index ADC pass builds the R = 3x k shortlist " +
        "over parquet-read codes (raw embeddings never scanned " +
        "corpus-wide), then the q154 refine tail broadcast-SEMI-joins " +
        "the 30 ids onto the raw-vector table for exact cosine + " +
        "TakeOrderedAndProject. Search cost = probed code lists + R " +
        "point reads, independent of corpus size."),
      "q159_er_salted_skew" -> ("The ER skew recipe as an executed plan: " +
        "the a-side carries _salt_big = pmod(hash(a_id), 8), the " +
        "b-side a Generate explode of [0..7] as _salt_rep, and the " +
        "join keys on (block, salt) -- so the planted hot block " +
        "(~20% of rows in one 3-char prefix) spreads over 8 reducers " +
        "instead of one. Row-identical to the unsalted join (the " +
        "oracle replays the UNSALTED form); only reducer load moves. " +
        "PlanShapeSpec pins the salt columns and the Generate."),
      "q160_kmv_sketch" -> ("The sketch build is ONE HashAggregate pair " +
        "(partial + final) around one Exchange keyed on source: " +
        "bottom_k_distinct's buffer is AT MOST k longs, so the map " +
        "side combines each scan partition down to a <=k-element " +
        "array and the shuffle moves O(sources x k) longs -- the " +
        "distinct trigram domain itself never moves. The oracle " +
        "replays the composed form this aggregate replaces (distinct " +
        "+ ranked window = the domain shuffled twice). Everything " +
        "after the agg (posexplode to rows) is k-scale."),
      "q162_kmv_overlap" -> ("Every frame in this plan is k-scale: the " +
        "per-source sketches (sources x k rows) self-equi-join on hv " +
        "for common hashes, and the all-pairs scaffold is the " +
        "allowlisted BNLJ over the |sources|-row theta frame. The " +
        "full trigram domain is touched only inside the sketch " +
        "build's bounded agg -- 190 pairwise shard overlaps for one " +
        "corpus scan + k-row joins, vs 190 joins over the raw gram " +
        "domain."),
      "q163_hist_quantile" -> ("Two HashAggregates -- per-(type, day) " +
        "bin partials, then the additive merge to per-type -- both " +
        "with map-side combine; the quantile read-out (cumulative " +
        "window + the allowlisted broadcast probs crossJoin + " +
        "first-hit row_number) runs over <=bins rows per group. The " +
        "raw stream is scanned once; every later percentile question " +
        "re-reads only the B-row histogram artifact."),
      "q165_sketch_screened_decon" -> ("Read this plan as two stages " +
        "glued by ONE broadcast: the screen (q162's k-scale theta " +
        "intersection, incl. its allowlisted |sources|-row BNLJ " +
        "scaffold) reduces to a <=|sources|-row flagged frame, which " +
        "broadcasts onto the documents scan so only flagged sources' " +
        "docs are shingled for the exact 5-gram join. The full-corpus " +
        "gram explode of q93 appears NOWHERE: the explode sits " +
        "behind the broadcast semi-ish join, so its input is the " +
        "flagged subset. That containment is the whole point -- at " +
        "100 TB the screen touches k-row sketches + one corpus scan " +
        "for sketch BUILD, and doc-level shingling is paid only where " +
        "the triage says contamination plausibly lives."),
      "q166_bpe_encode" -> ("The merge-table TRAINING already ran by " +
        "the time this plan exists (16 vocab-frame aggregate rounds + " +
        "one-row argmax collects -- driver-bounded by construction, " +
        "never visible in the apply plan). What remains is the whole " +
        "point: bpe_encode is a codegen projection carrying the ranks " +
        "as a reference object, so tokenizing the corpus is ONE scan " +
        "-> Generate(explode) -> hash agg with map-side combine. At " +
        "100 TB the trained table broadcasts by construction (it IS " +
        "the expression), and the only Exchange carries token counts."),
      "q170_sliding_span_dedup" -> ("Stride-1 window hashing is " +
        "scan-local (one md5 row per token position); the single " +
        "corpus-wide Exchange is the window over the hash that picks " +
        "global first occurrences. Duplicate coverage explodes ONLY " +
        "duplicate windows (bounded by dup mass x W), collapses to a " +
        "per-doc position set, and broadcasts back onto the base scan " +
        "-- the rebuild is an indexed array filter in the projection, " +
        "so the clean corpus never re-shuffles its tokens."),
      "q171_bootstrap_ci" -> ("The repartition before the xB explode " +
        "is deliberate: a one-split input would run the whole " +
        "20M-row replica pipeline on one core (measured 19s -> 3.4s). " +
        "Each md5 digest feeds FOUR replica lanes (Md5Lanes4, no hex " +
        "string), the Poisson inverse-CDF is a when-chain on the " +
        "materialized uniform, and the B replica sums come out of one " +
        "partial-agg Exchange carrying B rows per group -- never BxN. " +
        "The interval is rank-selected over <=B rows per group."),
      "q176_lm_shard_merge" -> ("The plan reads the STORED per-source " +
        "count artifacts (parquet scan of /tmp/graft_artifacts_q176) and " +
        "merges by ONE hash aggregate (union + sum with map-side " +
        "combine) — the corpus text appears only in the artifact-build " +
        "stage that already ran. At 100 TB each crawl shard ships its " +
        "own count frame and the serving model is this rollup, never a " +
        "re-scan; the oracle's single-pass global counts hashing equal " +
        "to this merged read-out IS the mergeability proof."),
      "q180_cms_shard_merge" -> ("The frequency-sketch complement of " +
        "q176/q161: stored per-source CMS cell frames (≤ d·w rows each) " +
        "sum to the global sketch in one hash aggregate, and the 20-row " +
        "probe frame broadcasts onto it for the min-over-rows read-out — " +
        "every frame after the artifact build is d·w- or probe-scale, " +
        "never corpus-scale. Oracle computes the SINGLE-PASS sketch; " +
        "hash equality proves additive-cell merge correctness."),
      "q175_filter_reasons" -> ("Every rule signal is scan-local column " +
        "arithmetic stacked on q169's scoring joins — adding a rule adds " +
        "a when() column, never a pass; the reasons array is built, " +
        "sorted, and joined in the projection. The drop-composition " +
        "audit a pipeline runs daily reads this ONE frame."),
      "q181_keyword_tags" -> ("Gram generation is ONE scan-local " +
        "Generate; the dictionary is the broadcast build side of a hash " +
        "join, so the only Exchange (the per-doc agg) carries MATCHED " +
        "rows — shuffle is proportional to hits, never to tokens. The " +
        "left join back onto the doc spine broadcasts the tag frame."),
      "q184_join_size_estimate" -> ("Both CMS builds are one " +
        "map-side-combined hash aggregate each (<= d*w cells move); the " +
        "inner product joins two <= 2048-row frames and the exact side " +
        "is the agg-then-join form — the join being priced is NEVER " +
        "materialized. The final BNLJ is the allowlisted 1-row x 1-row " +
        "comparison scaffold."),
      "q185_lsh_operating_curve" -> ("ONE signature pass " +
        "(localCheckpointed doc state) feeds the ground-truth all-pairs " +
        "theta join (sample-scale BY CONTRACT: the query's own " +
        "doc_id%10 filter) and both band self-joins — re-banding reads " +
        "the checkpointed state, never re-hashing text. Each config's " +
        "candidates equi-join truth on (a_id, b_id)."),
      "q187_containment_pairs" -> ("The same capped-band candidate " +
        "envelope as q43 (bucket cap bounds pair fan-out), but verify " +
        "joins the hash sets DIRECTLY — no signature-agreement gate, " +
        "which estimates JACCARD and is unsound for containment. Cost " +
        "of soundness: every banded candidate pays one merge walk."),
      "q169_lm_doc_nll" -> ("Scoring joins the exploded adjacent-pair " +
        "stream LEFT against the bigram and unigram artifacts -- both " +
        "broadcast here (corpus-tiny vocab); at web-corpus vocab AQE " +
        "falls back to shuffle-hash on the pair/token key. The decimal " +
        "cast before the doc-key sum is the order-invariance " +
        "discipline, and the first-token branch unions one row per " +
        "doc, not a third corpus-wide join."))
    if (named.nonEmpty) {
      named.foreach(name => dump(name, SparkEntry.queries(name)(spark, sfDir),
        notes.getOrElse(name, "")))
      spark.stop()
      return
    }
    println("# PLANS -- formatted physical plans of representative queries\n")
    println(s"Generated against `$sfDir` (plan shapes are SF-invariant).\n")
    picks.foreach { name =>
      dump(name, SparkEntry.queries(name)(spark, sfDir),
        notes.getOrElse(name, ""))
    }

    // ---- stage plans the checkpoints hide ----
    // q43/q75/q107/q115 materialize the LSH pipeline with localCheckpoint
    // (its result is corpus-tiny and feeds multi-consumer downstreams),
    // so their own entries above show an RDD scan where the real work
    // happens. These sections explain the un-materialized stages.
    val docs = graft.sources.Tables.load(spark, sfDir, "documents")
    val (lshResult, lshState) = graft.operators.Dedup.minhashNearDupsStages(
      docs, col("doc_id"), col("text"), shingleSize = 5, numHashes = 16,
      bands = 8, threshold = 0.25, maxBucketSize = 100)
    dump("LSH near-dup pipeline (stage plan behind q43/q75/q107/q115)",
      lshResult,
      "The pipeline `minhashNearDups` checkpoints: scan-local doc state " +
        "(one custom codegen expression: every shingle hashed once, " +
        "signature minima + sorted hash set in the same pass, cached " +
        "InMemoryTableScan) -> band explode -> bucket-size cap window -> " +
        "band self-join -> distinct pairs -> two-phase verify " +
        "(signature-agreement gate, then exact Jaccard merge walk).")
    lshState.unpersist()
    import spark.implicits._
    val e0 = Seq((1L, 2L), (2L, 3L), (4L, 5L)).toDF("a_id", "b_id")
    val sym = graft.operators.Dedup.ccSym(e0)
    val seed = graft.operators.Dedup.ccSeed(sym)
    dump("CC phase 1: seeded labels (stage plan inside q75/q107)",
      seed,
      "Connected components two-phase shape over a stand-in edge frame " +
        "(in production the input is the checkpointed LSH result above): " +
        "symmetrize, then component_0 = min(self, neighbors) in ONE " +
        "groupBy.")
    dump("CC phase 1: residual component graph",
      graft.operators.Dedup.ccResidual(sym, seed),
      "Edges whose endpoints seeded differently, contracted to label " +
        "pairs. On clique-heavy near-dup graphs this is orders of " +
        "magnitude smaller than the input; if it fits the driver cap a " +
        "union-find finishes centrally, else the pointer-jumping loop " +
        "runs (O(log diameter) rounds).")
    val (incResult, incState) =
      graft.operators.Dedup.incrementalNearDupsStages(
        graft.operators.Dedup.minhashStateTable(
          docs.filter(col("doc_id") % 2 === 0), col("doc_id"), col("text")),
        docs.filter(col("doc_id") % 2 === 1), col("doc_id"), col("text"),
        shingleSize = 5, numHashes = 16, bands = 4, threshold = 0.5,
        maxBucketSize = 100)
    dump("Incremental dedup pipeline (stage plan behind q115)",
      incResult,
      "Delta-vs-corpus shape: the corpus side is a STORED signature " +
        "table (no re-shingling -- here built inline from a filter for " +
        "the dump), the batch side hashes scan-locally; the band join " +
        "keys one side to batch-only rows, so bucket work is " +
        "proportional to the delta, never corpus-x-corpus.")

    val events = graft.sources.Tables.load(spark, sfDir, "events")
    dump("RobustStats rank frame (stage plan behind q123/q99)",
      graft.operators.RobustStats.rankedByGroup(events,
        col("event_type"), col("value"), col("event_id")),
      "The frame madAnomalies/winsorizedRollup localCheckpoint and fan " +
        "out to every consumer: ONE events scan (value/event_type/" +
        "event_id pruned), one hash Exchange on the group key, rank + " +
        "group-size windows. With `giantGroups = true` the same frame " +
        "comes from a range-partitioned sort + zipWithIndex + " +
        "group-start offsets instead (row-identical, " +
        "RobustStatsGiantSpec) so a single group can span many " +
        "partitions -- the 100 TB path when groups are few and huge " +
        "(q123: 5 event types).")

    val bpeCounts = graft.operators.Bpe.wordCounts(docs, col("text"))
    val (bpeCands, bpeApply) = graft.operators.Bpe.batchedRoundPlans(
      bpeCounts, batchSize = 12, minPairCount = 2L,
      merges = Seq(("t", "h"), ("e", "r")))
    dump("Batched BPE round: candidate aggregate (stage plan behind q192)",
      bpeCands,
      "One round of the batched trainer = this aggregate over the " +
        "checkpointed vocab frame (adjacent-pair explode -> hash agg -> " +
        "threshold -> total-order TakeOrdered of the top batchSize " +
        "candidates, a BOUNDED collect) + the apply projection below. " +
        "R merges cost ~R/batch of these round-trips instead of R " +
        "1-row argmax jobs -- the q167 loop at real tokenizer merge " +
        "counts.")
    dump("Batched BPE round: apply projection (chained replace)",
      bpeApply,
      "The round's selected (pairwise symbol-disjoint) merges applied " +
        "as nested scan-local string `replace`s on the delimited vocab " +
        "-- whole-stage codegen, no shuffle; the same leftmost " +
        "non-overlapping algorithm the local twin and the DuckDB " +
        "oracle replay run, so all three agree bit-for-bit.")

    dump("entry (flagship)", SparkEntry.entry(spark))

    // ---- AutoBinRangeJoin optimizer rule: naive SQL, scale-safe plan ----
    import spark.implicits._
    val ev = Seq((1L, java.sql.Timestamp.valueOf("2024-01-01 00:30:00")))
      .toDF("id", "ts")
    val wins = Seq(("w1", java.sql.Timestamp.valueOf("2024-01-01 00:00:00"),
      java.sql.Timestamp.valueOf("2024-01-01 02:00:00")))
      .toDF("wid", "w_from", "w_to")
    ev.createOrReplaceTempView("plans_events")
    wins.createOrReplaceTempView("plans_windows")
    val naiveSql = """SELECT id, wid FROM plans_events e JOIN plans_windows w
                     |ON e.ts >= w.w_from AND e.ts < w.w_to""".stripMargin
    val prevOpt = spark.experimental.extraOptimizations
    dump("Naive SQL range join WITHOUT the rule (what Spark plans)",
      spark.sql(naiveSql),
      "`" + naiveSql.replace("\n", " ") + "` — no equi-key, so the " +
        "planner falls back to BroadcastNestedLoopJoin (cartesian when " +
        "neither side broadcasts): O(|L|*|R|) comparisons.")
    spark.experimental.extraOptimizations =
      prevOpt :+ graft.plans.AutoBinRangeJoin
    try dump("Same SQL WITH plans.AutoBinRangeJoin (GraftExtensions)",
      spark.sql(naiveSql),
      "The rule (injected by `GraftExtensions`; here via " +
        "`experimental.extraOptimizations`) rewrites the predicate into " +
        "the binned equi-join: point side projects `_graft_bin`, " +
        "interval side explodes its covered bins, and the bin-equality " +
        "conjunct lets ExtractEquiJoinKeys plan a HASH join AQE can " +
        "skew-split. Row-identical (AutoBinRangeJoinSpec); same rewrite " +
        "for the interval-overlap predicate.")
    finally spark.experimental.extraOptimizations = prevOpt

    // ---- DSv2 bulk-CSV connector (S1/S2 pushdown gate) ----
    val dir = java.nio.file.Files.createTempDirectory("bulkcsv")
    val f = new java.io.PrintWriter(new java.io.File(dir.toFile, "batch_0.csv"))
    try f.print("id,name,amount,segment\n1,alpha,10.5,A\n2,beta,,B\n" +
      "3,gamma,30.0,A\n4,delta,40.25,C\n5,epsilon,55.0,A\n")
    finally f.close()
    val csvSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("name",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("amount",
        org.apache.spark.sql.types.DoubleType),
      org.apache.spark.sql.types.StructField("segment",
        org.apache.spark.sql.types.StringType)))
    val csvDf = spark.read.format(graft.sources.BulkCsvSource.format)
      .schema(csvSchema).load(dir.toString)
      .select("id", "segment")
      .filter(col("segment") === "A" && col("id") > 2)
    println("## DSv2 bulk-CSV connector (S1/S2 pushdown gate)\n")
    println("`spark.read.format(BulkCsvSource.format).schema(...).load(dir)")
    println("  .select(\"id\",\"segment\").filter($\"segment\" === \"A\" && $\"id\" > 2)`\n")
    println("```")
    println(csvDf.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode))
    println("```\n")
    println("""Both pushdowns land in the scan: `ReadSchema` is the 2-column pruned
struct (the other 2 columns are never parsed) and all predicates are
`PushedFilters`, evaluated inside the partition reader. Because the
source accepted them as exact (returned no residuals from
`pushFilters`), Spark removes the post-scan `Filter` entirely -- the
connector contract `BulkCsvSourceSpec` gates, including the converse:
an `endswith` predicate is NOT accepted, stays a residual, and Spark
keeps its own Filter above the scan.""")
    spark.stop()
  }
}
