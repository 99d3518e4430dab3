"""Regenerate PLANS.md — trimmed .explain("formatted") audits of key
queries, proving the scan/shuffle/join contract (pushdown, pruning,
broadcast, TakeOrderedAndProject, codegen'd hash aggregation)."""

from __future__ import annotations

import contextlib
import io
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from monzo_data_pipeline_spark.registry import queries  # noqa: E402
from monzo_data_pipeline_spark.session import get_spark  # noqa: E402

SHOW = {
    "date_range_filter": "A9 — predicate pushdown + column pruning at the scan",
    "pricing_summary": "A9+B1 — pushdown, pruned ReadSchema, partial+final hash agg",
    "revenue_per_customer": "fact-fact join + broadcast dim",
    "fk_star_join": "star joins: all dims broadcast, fact never shuffles",
    "top_k_orders": "deterministic LIMIT → TakeOrderedAndProject (no global sort)",
    "monthly_spend": "flagship agg: partial/final HashAggregate in codegen",
    "volume_shipping_q7": "Q7 shape: dims broadcast; fact shuffles only on orderkey + final agg",
    "rolling_7day_spend": "time-RANGE window: one shuffle on the partition key, RunningWindowFunction",
    "exists_agg_priority": "correlated EXISTS folded to a broadcast LeftSemi join",
    "forecast_revenue_q6": "Q6 — every predicate in PushedFilters; 2-column ReadSchema",
    "disjunctive_revenue_q19": "Q19 — equi-key join + OR-of-ANDs as post-join filter",
    "important_parts_q11": "Q11 — fraction-of-total scalar as 1-row broadcast, no collect",
    "min_cost_supplier_q2": "Q2 — argmin-per-key via hash agg (no window sort); dims broadcast",
    "customer_distribution_q13": "Q13 — outer join + double agg; one shuffle per grain change",
    "tfidf_top_terms": "TF-IDF — df and N broadcast back; one big (doc,word) shuffle",
    "interval_band_revenue": "general range join — interval×point as broadcast hash join on grid cell + residual filter (no nested loop)",
    "grid_radius_join": "spatial radius join — 3×3 neighbor-cell broadcast equi-join + exact residual distance",
    "zscore_outliers": "anomaly scoring — stats agg broadcast back; fact scanned twice, shuffled never",
    "resample_gap_fill": "resample — cluster-side spine explode, one window shuffle per key for both fills",
    "upsert_last_wins": "MERGE upsert — last-wins collapse (window) + anti-join + union; update batch broadcast when small",
    "benchmark_contamination": "decontamination — eval-set shingles broadcast; corpus side streams map-side (no corpus shuffle before the agg)",
    "pack_sequences": "sequence packing — sharded prefix-sum window (32-way parallel), never a global sort",
    "bm25_keyword_search": "BM25 — df/corpus stats broadcast back onto the tf rows; one (doc,word) shuffle total",
    "adaptive_stopword_filter": "stopword removal — stop set as ONE broadcast array row; per-doc rewrite map-side",
    "event_transition_matrix": "Markov transitions — one window shuffle on user, totals broadcast back",
    "scd2_temporal_lookup": "SCD2 lookup — equi-join on key with interval containment as residual (hash join, no nested loop)",
    "equi_depth_histogram": "equi-depth histogram — cutpoints broadcast; bucket fold map-side (no ntile global sort)",
    "mad_robust_outliers": "MAD outliers — two percentile passes broadcast back; fact never shuffles",
    "top_n_per_group_salted": "skew-proof top-n — two Window nodes: per-(group,salt) local, then global over S·n survivors",
    "fuzzy_name_pairs": "Ed-Join edit-distance pairs — q-gram prefix blocks as equi-joins (no BroadcastNestedLoopJoin/CartesianProduct anywhere); levenshtein only as residual on candidates",
    "sharded_inverted_index": "sharded postings — map-side (word, doc-range) shard key, ONE exchange on the composite key; no per-word window over skewed partitions",
    "equi_depth_histogram_approx": "approx histogram — same broadcast-cutpoints/map-side-fold plan as the exact twin; ObjectHashAggregate holds the O(accuracy) GK sketch",
    "subscription_streaks": "gaps-and-islands — two keyed exchanges over the tiny distinct (cust, month) set; fact scanned once, 2-column ReadSchema",
    "time_weighted_balance": "time-weighted average — ONE shuffle on user_id feeds both the lead window and the final agg",
    "winnowing_fingerprints": "winnowing — zero exchanges: token→gram→window-min entirely per-row HOFs in codegen",
    "pmi_collocations": "collocations — unigram counts broadcast back onto bigram counts; 1-row N broadcast, no fact reshuffle",
    "image_decode_stats": "real image decode — MapInPandas is the ONLY Python stage, fed by a map-side payload synthesis; no shuffle",
    "random_projection_embed": "JL projection — one MapInPandas (Arrow int64 matmul) straight off the scan; no shuffle, no collect",
    "spend_trend_slopes": "OLS trend — two partial-agg'd keyed exchanges (month grain → customer grain), moments only, no window sort",
    "table_profile": "profiling — ONE scan feeding a single wide agg; unpivot is a cluster-side explode of the 1-row result",
    "reconciliation_checksums": "reconciliation — map-side row hash, one exchange on the bucket key, partial-agg'd sums",
    "pseudonymized_activity": "pseudonymization — token fold entirely map-side; the only exchange is the downstream count",
    "frequently_bought_together": "basket pairs — one exchange on orderkey, pair explode map-side after the collect; no fact-fact self-join",
    "ewma_user_values": "integer EWMA — one exchange on user_id; the chronological fold is a per-row array lambda",
    "video_frame_stats": "real video decode — payload synthesis map-side, MapInPandas frame walk; one row in → one row per frame, no shuffle",
    "oov_rates": "OOV filter — top-K vocab via TakeOrdered, broadcast back; fact side never reshuffles",
    "bigram_rarity_scores": "LM-lite rarity — corpus bigram counts broadcast back onto doc bigrams; one (doc) agg",
    # round 3
    "ntile_quartiles": "exact ntile WITHOUT a global window — broadcast-literal cut pairs, map-side bucket assignment, 4-row final agg (r3: the repo's last unpartitioned Window removed)",
    "media_resize": "real resize slot — MapInPandas decode→resample→re-encode; JVM-side payload checksum; no shuffle",
    "media_feature_extract": "real feature extraction — single MapInPandas off the synthesized payload scan; integer-exact stats vector",
    "jpeg_decode_stats": "baseline JPEG under the gate — synth MapInPandas + decode MapInPandas, zero exchanges",
    "k_anonymity_audit": "k-anonymity — one map-side-combined HashAggregate pair on the quasi key; output bounded by risky classes",
    "l_diversity_audit": "l-diversity — two grain changes ((quasi,sensitive) → quasi), both partial-agg'd",
    # round 5
    "pagerank_trade_graph": "PageRank — fact-scale 4-way join builds the edge list ONCE (persisted); per round one join + one partial-agg'd groupBy on edges, lineage cut by localCheckpoint",
    "skyline_parts": "2-D skyline — distinct-pair collapse, per-cost argmax, PARTITIONED per-bucket running max + broadcast prefix maxima; no global sort/window",
    "acf_event_values": "ACF — per-(type, day) chunked windows with head-carry (parallelism = keys × periods, not keys); exact DECIMAL moment sums",
    "referential_integrity_screen": "FK screen — 4 left-anti joins (AQE broadcasts dims) + one wide conditional agg per table",
    "chi_square_lang_source": "chi-square — three partial-agg passes share the scan; L×S cross is broadcast×broadcast",
    "pii_pattern_screen": "PII scan — map-side regexp_count into a 1-row wide agg per surface; explode unpivot cluster-side",
    "hits_customer_supplier": "HITS — per half-round: broadcast scores ⋈ cached edges map-side, one node-count groupBy; 1-row max broadcast normalizer",
    # round 5, second batch
    "spearman_balance_spend": "Spearman — two value-grain rank maps (exponent-bucket offsets, PARTITIONED windows), two equi-joins back, one wide DECIMAL agg; no global sort",
    "mannwhitney_urgent_orders": "Mann-Whitney — one value-grain conditional agg + the shared count-below attach; all-integer to the output",
    "kendall_tau_balance_spend": "Kendall tau-b — ONE fused two-margin ntile pass (binned_cells, r6), ≤100-row cell grid, broadcast cell self-join; pair math never touches rows",
    "approx_aggregates": "r6 deterministic sketches — HLL register agg + quantile-grid cells (bounded mergeable state), O(k) scalar collects, 1-row broadcast pivot",
    "equi_depth_histogram_approx": "r6 grid cutpoints — ≤3810-cell state, cut array as a 1-row broadcast, map-side HOF bucketing",
    "near_dup_clusters_star": "large-star/small-star CC — per round one groupBy + one join on the shrinking edge set, lineage cut per round, O(1) convergence scalar",
    "jpeg_subsampled_decode_stats": "4:2:0 color codec — Arrow-batched mapInPandas, no shuffle in decode, deterministic 10% sample pushed to the scan",
    "jpeg12_decode_stats": "12-bit SOF1 codec — same Arrow-batched shape, residue-5 10% sample pushed to the scan",
    "k_core_copurchase": "k-core peel — per round a degree agg + two keyed semi-joins on the shrinking edge set, lazy checkpoint materialized by the O(1) convergence scalar",
    "churn_survival_km": "KM survival — user-grain agg, duration-grain agg (calendar-bounded), ONE single-row fold; no Spark-side window",
    "benford_first_digit": "Benford — map-side digit projection, 9-key agg, spine+total broadcast; fact scanned once",
    "tvd_source_drift": "TVD drift — one (word) partial-agg'd shuffle, 1-row totals broadcast, one wide DECIMAL agg",
    "hll_distinct_orders": "deterministic HLL — map-side hash/shift projection, m-key partial-agg'd groupBy, m-row final agg; estimate all-integer",
    "welch_urgent_orders": "Welch t — ONE conditional-agg scan; the t expression is driver-free scalar algebra on the agg row",
    "weighted_price_percentiles": "weighted percentiles — value-grain agg + count-below attach; answers are MINs over the distinct table, no global sort",
    "doc_fingerprints": "portable fingerprint — pure map-side two-base char fold; zero exchanges before the driver fetch",
    "theilsen_balance_spend": "Theil-Sen — binned cell grid, broadcast pair join, weighted median over ≤ a few hundred integer slope keys; CASE-guarded division",
    "jpeg_progressive_decode_stats": "progressive JPEG — synth + decode both MapInPandas, coefficient state per image, zero exchanges",
    # round 7
    "sssp_copurchase": "weighted SSSP — final round's plan: delta frontier ⋈ persisted edges, full-outer min merge against the checkpointed distance leaf; per-round work ∝ the improving frontier",
    "communities_copurchase": "LPA communities — per round edge ⋈ labels, (node,label) count agg, struct-max argmax (no windows); checkpointed edge build under the loop",
    "modularity_copurchase": "modularity — degree agg + two label joins + edge count off ONE checkpointed edge leaf; DECIMAL ratio scalar, driver-free",
    "zorder_layout_orders": "Z-order audit — map-side bit-interleave projection in codegen, ONE ≤1024-group exchange, ordered output",
    # round 8
    "scc_part_precedence": "directed SCC — r9: memoized precedence edge set; trim peels the DAG bulk check-free, jump-accelerated min-label rounds in 4-round blocks with ONE stability job each, all in a child session with edge-scaled shuffle parallelism",
    "zorder_erasure_layout": "erasure×layout audit — r9: the memo holds the POST-ERASURE WAREHOUSE artifact (Z-order write staged into an AtomicWarehouse, then one erase_keys(preserve_layout=True) commit, once per session); every call runs the real Morton audit over the surviving clustered table: map-side bit-interleave, ONE ≤1024-group exchange",
    "kmv_distinct_parts": "KMV sketch — pushed NOT-NULL, map-side partial DISTINCT before the exchange, TakeOrderedAndProject(k); never a global sort, state 256 rows",
    "theta_intersect_customers": "theta intersection — two KMV state builds (each partial-distinct + TakeOrdered), then broadcast-sized joins of the 256-row states; the big scans never join each other",
    "ivm_join_delta": "IVM delta rule — two joins with the delta side broadcast; the stored relations are scanned but never shuffled",
    "ivm_revenue_view": "IVM agg view — per batch: eager per-order agg, join to orders (AQE picks broadcast for batch-sized deltas), per-customer partial state; fold = UNION + re-SUM on the bounded key domain",
    "seasonal_decompose_revenue": "seasonal decomposition — fact scanned once into the monthly agg; trend/seasonal/residual are broadcast joins on the ≤80-row series (offset self-join, NO unpartitioned window)",
    "asof_nearest_join": "nearest as-of — BOTH directional fills over ONE hash exchange on user_id (two in-partition Sort + Window pairs, no second shuffle); distance choice is row-local",
    "ivf_index_search": "persisted IVF index probe — r9: the memo holds the INDEX artifact only; every call runs the real search: dynamicpruning expression on the cell-partitioned scan, the probe reads ONE cell directory, search flat at 100x data (SCALING.md)",
    # round 9
    "ivm_join_retraction": "delete-side join-view delta rule — d-A⋈B_old UNION A_new⋈d-B with both delete batches broadcast; retraction partials negate into the DECIMAL view state, stored relations never shuffle",
    "cms_heavy_parts": "deterministic count-min — ONE map-side-combinable d*w-group aggregate builds the state; probes broadcast-join the bounded state, MIN over d cells",
    "bloom_join_prune": "Bloom join prune — bounded 1024-word BIT_OR state broadcast onto the fact probe; all-k-bits semi filter, no fact shuffle",
    "t_closeness_audit": "t-closeness — one fact-scale (quasi, sensitive) agg, then bounded C*m grid EMD via triangular self-joins; no unpartitioned window",
    "holt_forecast_revenue": "Holt forecast — fact touched once by the monthly agg; the recurrence is one F.aggregate struct fold over the bounded month array",
    "ppr_trade_graph": "personalized PageRank — fact-scale 4-way join builds edges once; per round one join + one partial-agg'd groupBy, teleport to the broadcast seed set",
    "bucketed_colocated_join": "bucketed co-located join — both sides bucketBy(16, orderkey) catalog tables; SortMergeJoin with ZERO shuffle exchanges (pay the distribution once at write time)",
    "score_calibration_bins": "calibration table — per-doc score map-side, 1-row min/max broadcast, ONE 10-group aggregate",
    "cohens_kappa_labels": "Cohen's kappa — one contingency aggregate; the kappa expression is driver-free scalar algebra on the agg row",
    "shard_rebalance_audit": "resharding audit — distinct keys x bounded shard explode, one max_by aggregate per key; movement counts in one final agg",
    "ivfpq_index_search": "IVF-PQ composite probe — r10: dynamicpruning on the cell-partitioned scan (reads the 3 probed cell dirs only; flat at 100x data, SCALING.md); ADC over codes via the driver-built integer lookup literal, exact rerank on the broadcast k*oversample shortlist",
    "lm_perplexity_scores": "bigram-LM perplexity — ONE fact-scale bigram explode + (a,b) count; the 16-round Q16 log recurrence runs on the vocabulary-sized model table, broadcast back onto the doc bigrams",
    "lm_kl_drift": "corpus KL drift — union-bigram model table computed once, BOTH models' Q16 costs side by side; fact touched once, one final DECIMAL agg",
    "weighted_sample_ares": "A-ES weighted reservoir — one distinct exchange, per-key bounded Q16 priority arithmetic, TakeOrderedAndProject(n); never a global sort",
    "ann_recall_at_k": "ANN recall eval — broadcast query set; exact side = one corpus scan + per-query window, approx side = probed-cell members only; recall = one bounded agg",
    "mixture_temperature_plan": "α-temperature mixture — one fact-scale source agg; Q16 log + Q30 exp2 chains run on the bounded source table; argmax via min_by struct key",
    "lm_heldout_scores": "held-out LM scoring — train-slice counts + held-out DISTINCT bigram costs (zero-filled left joins), recurrence on the bigram vocab, broadcast back onto held-out rows",
}

MARKERS = (
    "PushedFilters",
    "ReadSchema",
    "BroadcastHashJoin",
    "SortMergeJoin",
    "TakeOrderedAndProject",
    "HashAggregate",
    "WholeStageCodegen",
    "Exchange",
    "AdaptiveSparkPlan",
)


def main() -> None:
    spark = get_spark("plans-doc")
    qs = queries()
    sf = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    out = [
        "# PLANS — physical-plan audit (generated from .explain at sf0.1)",
        "",
        "Key queries' executed plans, trimmed to the lines that prove the",
        "scan/shuffle/join contract. Regenerate: `python tools/plans_doc.py`.",
        "",
    ]
    for name, why in SHOW.items():
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            qs[name](spark, sf).explain("formatted")
        keep = [
            line.strip()[:200]
            for line in buf.getvalue().splitlines()
            if any(k in line for k in MARKERS)
        ]
        out.append(f"## {name}\n\n{why}\n\n```")
        out.extend(keep[:14])
        out.append("```\n")
    with open(os.path.join(REPO, "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print("wrote PLANS.md")


if __name__ == "__main__":
    main()
