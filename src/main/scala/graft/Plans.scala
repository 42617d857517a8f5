package graft

import java.nio.file.{Files, Paths}
import graft.core.GraftSession

/** Writes PLANS.md: `explain formatted` for the headline queries — the
  * reviewable record of what the optimizer actually does (pushed filters,
  * pruned schemas, join strategies, codegen spans). PlanSpec asserts the
  * load-bearing properties; this artifact is for human eyes. */
object Plans {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = GraftSession.getOrCreate("graft-plans")
    val picks = Seq(
      "q01_filter_project", "q02_agg", "q03_join_agg", "q04_topk",
      "q06_semi_join", "q19_tumbling_window", "q20_sensor_pipeline",
      "q21_asof_join", "q22_asof_forward",
      "x02_minhash_pairs", "x05_cosine_knn", "x06_ann_lsh",
      "x13_dup_spans", "x15_hll_rollup", "x17_quant_knn", "x18_doc_prep",
      "x19_split", "x21_pack", "x22_mix_weighted", "x23_bm25",
      "x24_sessions", "x25_fuzzy_join", "x26_stratified",
      "x27_scd2", "x28_percentiles", "x29_pivot",
      "x30_unpivot", "x31_canonical", "x32_moving_avg", "x33_anomaly",
      "x34_funnel", "x35_retention", "x36_dense_ids", "x37_stratified_heap",
      "x38_salted_join", "x40_weighted_sample", "x41_chunks",
      "x42_weighted_group", "x43_top_terms", "x44_dedup_hash",
      "x45_embed_neardup", "x46_jaccard_pairs", "x47_heavy_hitters",
      "x48_tfidf", "x49_kll_quantiles", "x50_upsample",
      "x52_contamination", "x53_quality_deciles", "x54_freq_topk",
      "x55_bloom_decontaminate", "x56_token_budget", "x57_ngram_lm",
      "x58_winsorize", "x59_interval_join", "x60_mad_outliers",
      "x61_interval_topk", "x62_normalize", "x63_oov", "x64_snm_pairs",
      "x65_data_card", "x66_length_hist", "x67_lm_score", "x68_temp_mix",
      "x69_split_leakage", "x70_pmi", "x71_pit_enrich", "x72_cdc_chunks",
      "x73_centroid_outliers", "x74_cube", "x75_transitions", "x76_ppjoin",
      "x77_zonemap", "x78_kmeans", "x79_funnel", "x80_trend",
      "x81_token_entropy", "x82_kl_drift", "x83_ann_exact",
      "x84_distinct_exact", "x85_quantiles_exact", "x86_freq_exact",
      "x87_containment", "x88_snapshot_diff", "x89_boilerplate",
      "x90_novelty", "x91_novelty_incr", "x92_semdedup", "x93_kanon",
      "x94_margin", "x95_source_overlap", "x96_growth", "x97_pii_audit",
      "x98_source_cap", "x99_annotator", "x100_edit_pairs",
      "x101_dawid_skene", "x102_url_canon", "x103_markup_strip",
      "x104_url_dedup", "x105_kripp_alpha", "x106_dedup_incr",
      "x107_waterfall", "x108_script_mix", "x109_bpe_pairs",
      "x110_pack_audit", "x111_decay_pop", "x112_zipf_slope",
      "x113_truncation", "x114_link_graph", "x115_split_balance",
      "x116_anchor_text", "x117_conversion_lag", "x118_vocab90",
      "x119_host_reputation", "x120_hard_negatives", "x121_fertility",
      "x122_cooccur_lift", "x123_link_degrees", "x124_robots_gate",
      "x125_dialog_audit", "x126_rate_bursts", "x127_ks_audit",
      "x128_psi_drift", "x130_snapshot_psi", "x131_skew_profile",
      "x132_exact_split", "x133_dup_histogram", "x134_spearman",
      "x135_split_diversity", "x136_effective_tokens", "x137_hybrid_rrf",
      "x138_label_prop", "x139_line_dedup", "x140_jl_knn",
      "x141_epoch_order", "x142_mlm_mask", "x143_pack_manifest",
      "x144_threshold_sweep", "x145_triangles", "x146_sft_pairs",
      "x147_gopher_rules", "x148_readability", "x149_gram_leakage",
      "x150_curriculum", "x151_contam_excise", "x152_leak_probe",
      "x153_dsir_weights", "x154_line_rep", "x155_nb_quality",
      "x156_doremi", "x157_self_excise", "x158_pca_proj",
      "x159_ccnet_buckets", "x160_data_budget", "x161_bpe_merges",
      "x162_pca_two", "x163_quality_panel", "x168_source_scorecard",
      "x169_cross_probe", "x170_sem_probe", "x171_cross_probe_incr",
      "x172_bt_upsets", "x173_pack_winner", "x174_acceptance",
      "x176_acceptance_gate", "x177_calibration", "x178_sem_drift",
      "x179_acceptance_ledger", "x180_sem_probe_budget", "x181_tier_breakdown",
      "x182_tier_shift")
    val sb = new StringBuilder
    sb.append("# PLANS — `explain formatted` for headline queries\n\n")
    sb.append(s"Generated by `graft.Plans` on `$sfDir`. Regenerate: " +
      "`sbt \"runMain graft.Plans\"`.\n")
    picks.foreach { name =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      sb.append(s"\n## $name\n\n```\n$plan```\n")
    }
    sb.append(notes)
    Files.writeString(Paths.get("PLANS.md"), sb.toString)
    println(s"wrote PLANS.md (${picks.size} plans)")
    spark.stop()
  }

  /** Hand-written analysis sections that must survive regeneration. */
  private val notes: String = """
## x137 fused form (r14): IVF vector leg

`TextSearch.hybridTopKIvf` cashes the docstring's composition claim:
the vector leg's (query_id, doc_id, r) ranks now come from
`Similarity.ivfTopKIndexed` — the persisted, partition-pruned IVF
index that is x06's corpus-scale path — and flow into the SAME
`rrfFuse` the exact face uses (one shared code path for fusion and for
the lexical leg, so the two forms cannot drift). RRF consumes only
ranks, so fusion is leg-implementation-oblivious:

- at full probe (nProbe = nCentroids) the probed leg's candidate set
  is the whole corpus and the fused output equals `hybridTopK`
  row-for-row, up to sub-1e-6 cosine ties (spec: "x137 fused form" in
  ExtrasSpec, asserted on sf0.001);
- at partial probe the leg reads ONLY the probed lists' parquet
  partitions (numFiles pruning spec-gated on the x06 side), trading
  recall for IO — the corpus-scale default, with the recall tracked
  per bench run in the ann_recall lines.

At 100 TB the exact leg's broadcast of the query set stays (queries
are the small side by construction); the CORPUS side never shuffles in
either leg — postings prune to query grams (lexical) and list
partitions prune to probed centroids (vector).

## x63_oov driver-read adjudication (r13 -> r14)

`BENCH_r13.json` read x63_oov at 2.11 s vs 0.59 s in r12. x63's code
did not change in r13 (the only TextAnalysis diff was
`qualityDecilesDistributed`), the attested and local runs showed no
regression (local 0.6 s-band both rounds), and the r13 verdict
adjudicated the driver reading as machine contention. Nothing to fix
in code; if the r14 driver bench still reads >1 s attested, profile
the OOV vocab broadcast next.

## q02_agg / q04_topk driver-read adjudication (r14 -> r15)

`BENCH_r14.json` read q02 and q04 at 1.76 s each vs 1.45/1.58 local
and 1.91/2.14 baseline. Neither query's code changed in rounds 13-15;
the r15 local run (BENCH_local_r15.json, contended: [],
baseline_suspect: false) reads q02 = 1.08 s and q04 = 1.35 s — both
under the r14 verdict's ~1.5 s bar — confirming the driver readings
as machine contention (the x63 pattern). Nothing to fix in code.

## Scale-aware ANN defaults (r15)

The r14 verdict's top ask. `Similarity.lshTablesFor(n)` and
`jlCandidatesFor(n)` now scale the x06-LSH table count and the x140
coarse-candidate count with corpus size (laws + tuned grids in their
Scaladoc); the query faces read n from the parquet count (metadata-
only). sf0.1 recall@5 vs exact x05: lsh 0.53 -> 0.72,
jl 0.47 -> 0.78; ivf 0.62 and quant 1.00 unchanged — all four faces
now >= 0.6 at the bench SF (BENCH_local_r15.json ann_recall lines).

## x145 degree orientation (r14)

`triangleProfile` now orients every undirected edge from its lower-
(degree, host) endpoint before the wedge join (compact-forward). The
wedge join keys on the SOURCE of two oriented out-edges, so per-key
fan-out is outdeg² with outdeg = O(sqrt(|E|)) — on a skewed host graph
the hub's edges all point AT it and it contributes ZERO wedges
(spec-asserted on a planted 200-leaf hub: total wedge candidates = 1,
exactly the one that closes the planted triangle). Output rows are
unchanged — orientation is triangle-invariant — so the oracle did not
move.

## x155-x159 plan audit (r15 second wave)

x155 (NB classifier): the per-(doc, y, bucket) aggregate is referenced
by both the class-conditional marginal and the scoring join — both
subtrees root in the same exchange (runtime exchange reuse, the x153
discipline); the B-row weight table and 1-row prior broadcast
(PlanSpec-gated: BroadcastHashJoin present, no CartesianProduct, no
Window). The corpus never shuffles wider than (doc, y, bucket, count).

x156 (DoReMi): everything after the one (source, bucket) hash
aggregate is K- or B-row; the corpus marginal derives FROM the
per-source aggregate so both subtrees share the exchange. One corpus
scan.

x157 (self-excision): the occurrence stream joins back only the
DUPLICATED grams (the repeated tail of the gram distribution — AQE
broadcasts it when small, handles hot-gram skew when not); the rewrite
is the x151 sorted-set in-row filter after ONE doc-grain join
(PlanSpec-gated: no LeftAnti, no CartesianProduct, no Window). The
keeper rule (min doc_id·2^20 + position) declares a 1M-token per-doc
bound — past it the keeper CHOICE could shift, never the cut
semantics.

x158 (PCA): the Gram build is the only corpus-sized work — two chained
in-row posexplodes into a d²-key aggregate where partial aggregation
collapses everything map-side: exactly d² rows cross the wire at any
corpus size. The power iteration runs on the COLLECTED d×d matrix
(bounded driver collect, the codebook discipline) and the axis returns
as a 64-literal array, so the emitted projection plan is scan-and-map
(PlanSpec-gated: one presentation-sort exchange, no Join, no
HashAggregate). The DuckDB oracle runs the same iteration UNROLLED
— the cross-strategy identity is the strongest determinism gate on
the board.

x159 (CCNet buckets): the x67 LM report is read ONCE, by the prefix
scan (unscored docs ride it in their own group); the global (avg_logp,
doc_id) rank rides the x150 distributed prefix scan (PlanSpec-gated:
no Window carries the rank; the LM body's vocabulary-grain context
window is the one legitimate Window in the plan).

x160 (data budget): everything after the shared x156 corpus scan is
K-row arithmetic; the DuckDB oracle reuses its x156 core text verbatim
so the weight doubles cannot drift between the two faces.

## x158 Gram in fixed-point longs (r15)

The first x158 cut summed DECIMAL(18,4) products pair-by-pair — 4096
Decimal multiplies per vector put the sf0.1 Gram at 13.8 s, the
board's top cost. The components now scale to exact integers in-row
(×10^4 after the same DECIMAL(18,4) rounding — d decimal ops per
vector instead of d²), the hot loop is long·long with a long sum over
the j ≥ i upper triangle only, and the driver rebuilds
gv = Σ(li·lj)/10^8 exactly (BigDecimal.valueOf(sum, 8)) before
mirroring. Value-identical by construction — the DuckDB oracle re-proves
it by running the full unrolled iteration against the unchanged decimal
arithmetic. Declared bound: n·(10^4·|v|max)² < 2^63 (a billion
unit-normalized vectors clears it; the bound is in the Scaladoc).

## x161 iterated BPE (r15)

Each merge round is one explode→count aggregate (pair keys collapse
map-side — the key space is alphabet²-ish, independent of corpus
size), a ONE-ROW TakeOrdered collect (the codebook discipline), and a
narrow in-row fold rewrite; the rewritten corpus is lineage-cut per
round so round k never replays rounds 1..k−1. The
DuckDB oracle runs the SAME leftmost-greedy non-overlapping rewrite as
run-parity window SQL — equivalence holds because a merged symbol
a||b can never equal a (b nonempty), so the fold's greedy consume
matches the islands-of-matches even-offset rule exactly; the planted
fixture pins the "aaa" overlap case and the chr(1) tie-break order.

## x162 deflation (r15)

PC2 costs the corpus NOTHING beyond x158: the deflation
G₂ = G − λ₁·v₁v₁ᵀ is d×d driver-side arithmetic on the already-
collected matrix, and the second projection rides the same
scan-and-map plan with a second literal axis. The one cross-engine
trap was precision: λ₁ and every deflated cell re-round through their
DOUBLE images (scale 6 / scale 8) before re-entering decimal, keeping
each engine's decimals inside DECIMAL(38) — a direct
decimal-times-decimal deflation would overflow DuckDB's multiply
width. The engine face and the DuckDB oracle are the cross-check.
"""
}
