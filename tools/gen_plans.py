"""Regenerate PLANS.md: formatted physical plans of representative queries.

    python tools/gen_plans.py [sf_dir]

Run after plan-affecting changes so the committed artifact matches reality.
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from analyzing_big_data_in_scala_spark.plans.registry import QUERIES  # noqa: E402
from analyzing_big_data_in_scala_spark.session import get_spark  # noqa: E402
import analyzing_big_data_in_scala_spark.plans  # noqa: F401,E402

PICKS = {
    "pricing_summary": "Filter pushed to the parquet scan; two-phase hash aggregate; only 7 of 11 lineitem columns read.",
    "top_parts_by_revenue": "Fact pre-aggregated BEFORE the dimension join; dimension broadcast; top-k as TakeOrderedAndProject (no global sort).",
    "revenue_by_nation": "Aggregation pushed below the orderkey join (per-order partials, map-side combine); one shuffle-free broadcast join per dimension; ReadSchema pruned to join/agg columns only.",
    "search_multi_word_cosine": "Whole search = one plan: tf/idf subplans dedup'd by ReuseExchange; query vector + norms broadcast.",
    "dedup_minhash_candidates": "One shuffle total (signature aggregate); band keys derived in-projection; candidate pairs via bucket equi-join.",
    "graph_triangle_counts": "Degree-ordered orientation (wedge fan-out bounded by smaller-degree endpoint); oriented edges cached once; wedge + closing joins shuffle on vertex keys (AQE skew-aware).",
    "doc_winnow_fingerprints": "Shingle hashes in one narrow projection; single shuffle on doc_id for the window-min; distinct rides the same partitioning.",
    "events_tumbling_10min": "Single hash aggregate on derived bucket column; epoch bucketing is timezone-independent.",
    "top_customers_per_segment": "Window top-N per group after a broadcast join + partial aggregate.",
    "events_range_join_daily_windows": "Range join as EQUI join on (key, value-bucket): intervals explode into covered buckets, exact predicate post-filters — a hash equi join (broadcast at this SF; shuffled hash/SMJ on composite keys at scale), never a nested-loop; both sides one narrow projection of the same scan.",
    "dedup_embedding_cosine": "Exact all-pairs cosine with NO driver collect: corpus hashed into blocks, block-pair table broadcast, one FlatMapGroupsInPandas per block pair runs the (|A|x|B|) BLAS matmul — quadratic FLOPs spread over O(P^2) tasks, executor memory bounded by two blocks.",
    "corpus_curation_pipeline": "Four curation stages (language gate, quality gate, exact dedup, MinHash near-dedup) fused into ONE Catalyst plan: the documents scan is shared, the token-stats aggregate feeds both gates, and the near-dedup band self-join reuses the survivors' exchange — no intermediate materialization between stages.",
    "dedup_incremental_batch": "Batch-vs-corpus dedup with ONE tokenize/shingle/minhash pass: the band table is computed over all docs and split by the same hash predicate that split the corpus; every probe is an equi-join (hash, or (band, band_key)) against the small batch side.",
    "doc_decontamination": "Benchmark n-gram set reduced to distinct 8-byte hashes and BROADCAST; the corpus probe is a map-side semi join (BroadcastHashJoin LeftSemi) + one hash aggregate by doc — corpus text never shuffles.",
    "dedup_semantic": "Quantize + hyperplane-bucket in ONE projection over the scan; candidate generation is a self equi-join on the cell key (shuffle on bucket only); the min-id drop set is a broadcast anti-ish left join back.",
    "doc_repetition_filters": "All n-gram sizes from one tokenize + one explode (flattened struct array); two hash aggregates with map-side partials; pivot is a final single-shuffle aggregate.",
    "similarity_quantized_topk": "int8 quantization fused into the scan projection; scoring identical to brute-force cosine but over 4x-smaller vectors; TakeOrderedAndProject top-k.",
    "orders_salted_segment_revenue": "Salted equi-join: fact side salted by whole-row xxhash64 in the scan projection, dimension exploded x8 replicas, join key (custkey, salt) — a hot key spreads over 8 reducers; the post-join aggregate is an ordinary two-phase hash agg.",
    "lineitem_zorder_keys": "Z-value = min/max-scale (exact BIGINT div) + bit-interleave, all in one codegen projection over the scan; stats come from a 1-row broadcast cross join (no driver collect); top-k as TakeOrderedAndProject.",
    "similarity_cluster_assign": "Centroids quantized + broadcast (k rows); all k cosines per vector in one projection after the cross join; argmax via max(struct) hash aggregate with map-side partials — no window, no extra shuffle.",
    "orders_merge_upsert": "MERGE as ONE full-outer sort-merge join on the key (AQE broadcasts a small change batch at scale); delete filter + per-column CASE projection — no second pass over the base snapshot.",
    "orders_incremental_agg_refresh": "View refresh joins the standing aggregate with the delta aggregate on GROUP keys (5 rows each side here) — the base fact scan feeds only the delta derivation; at steady state the refresh cost is the change batch, never the corpus.",
    "corpus_training_shards": "Curation plan (shared scan, fused gates) feeding the two-phase distributed prefix sum: per-partition subtotals broadcast back as running offsets — a global running total with NO single-partition window over the data.",
    "events_value_acf": "ONE window Exchange on (event_type, user_id) computes all three lag columns; lags stack into rows in the same projection (no extra shuffle) and a single two-phase hash aggregate pools the exact-integer sufficient statistics.",
    "events_interval_overlap": "Interval-interval overlap as a HASH EQUI join on (key, bucket) — never a nested loop: both interval sets explode into covered buckets, the exact predicate post-filters, and the greatest-start-bucket equality emits each pair exactly once (no dedup exchange).",
    "events_time_weighted_avg": "ONE window Exchange on (event_type, user_id) for the LEAD gap; the TWA aggregate is a single two-phase hash aggregate over exact BIGINT (value x gap) partials.",
    "revenue_cube": "All four grouping sets from ONE pass: broadcast dimension joins, Expand (4 projections per row), then a single two-phase hash aggregate — no per-grouping-set re-scan.",
    "events_interval_coverage": "Gaps-and-islands union: ONE hash Exchange on user_id shared by both Window passes (strictly-preceding running max -> island flags -> running sum) AND the closing (user, island) aggregate — the partial aggregate sits directly on the window output with no new exchange.",
    "events_asof_nearest_purchase_3h": "Nearest as-of: ONE hash Exchange on the key, then two Sorts (ascending backward carry, descending forward carry) over the SAME partitioning — the closer side is picked per row in the final projection; never a per-key |L|x|R| distance argmin.",
    "events_value_trend": "Per-group OLS trend with NO Window: the per-group MIN is a tiny broadcast-back aggregate, the five sufficient statistics come from ONE two-phase hash aggregate over the corpus — no per-group timeline sort anywhere.",
    "embeddings_principal_direction": "The corpus stage is the scatter matrix alone: two chained Generate (posexplode) operators map-side, then ONE hash aggregate whose shuffle volume is the fixed 64x64 grid regardless of corpus size; the 8-round power iteration runs on the bounded 4096-row collect.",
    "doc_chunk_dedup": "Chunk hashes from one tokenize + in-array slice + explode; per-hash document frequency joins back ON THE 8-BYTE HASH (reuses the aggregate's exchange); dup fraction emitted as integer ppm (pure BIGINT div — no float in the output).",
    "search_bm25_topk": "BM25: corpus stats (N, avgdl) and per-term df broadcast as 1-row / vocab-sized sides; per-(doc,term) contribution quantized to integer ppm in-projection; global top-20 compiles to TakeOrderedAndProject, never a full sort.",
    "terms_cms_heavy_hitters": "Count-min: the 4x256 grid materializes via one explode + map-side-combined aggregate (shuffle volume = cells, not tokens); the probe joins the BROADCAST sketch; exact top-20 is TakeOrderedAndProject.",
    "embeddings_random_projection": "JL projection is a pure map: quantize + 16 integer dot products + posexplode in ONE codegen stage over the scan — zero exchanges in the whole plan.",
    "embeddings_kmeans_lloyd": "One Lloyd round: each assignment is a k-row BROADCAST cross join + map-side-combined argmax (one corpus shuffle); the centroid update aggregates k×dim rows and re-enters as the next broadcast — the corpus is never shuffled on cluster id.",
    "events_rolling_zscore_anomalies": "One window pass: bounded ROWS frame per data-proportional series key (never a global single-partition window); integerized values keep the frame sums exact; z + both filters evaluate in the same stage.",
    "events_type_association_rules": "Pair generation self-joins on the BASKET key (fan-out bounded by the item catalog), two hash aggregates; item-count sides broadcast into the final projection — one corpus-sized shuffle total.",
    "events_scd2_user_state": "SCD2 build in ONE shuffle: a single Exchange+Sort on the key serves both windows (lag-filter collapse, then renumber/lead over the survivors) — per-key state is the key's row run, never corpus-wide.",
    "events_scd2_incremental": "Incremental SCD2 fold: batch-side windows + key equi-joins against the history's CURRENT rows only; the closed history enters nowhere but the final union — per-batch cost tracks the batch + live keys, and the result is oracle-proven equal to a full rebuild.",
    "events_approx_group_profile": "Grouped sketch profiling in ONE aggregate: HLL distinct-users and GK median sketches merge map-side alongside the exact anchor counts; the accuracy assertions evaluate in the final projection — no second pass, no per-key exact-distinct shuffle in the production (sketch-only) variant.",
    "events_seasonal_naive_eval": "Forecast-baseline eval: one bucket aggregate (map-side combined), a self equi-join on (bucket-144, type) — the lag is pushed into the join key, so no window over the raw stream — and a per-type error aggregate; all integer arithmetic.",
    "corpus_curation_funnel": "Six gates from ONE corpus scan — now physically true: the (id, kind, h) key table and the per-doc flags are materialized via lazy localCheckpoint (without that, Catalyst re-planned the scan+explode chain per gate family: 18 scans), and the six stage counts collapse into one aggregate unpivoted via stack.",
    "events_multires_rollup": "Continuous aggregate: raw events aggregate ONCE into 10min partials, materialized via lazy localCheckpoint (without it Catalyst planned a scan->aggregate chain PER union branch: 3 corpus scans, 0 ReusedExchange); 1h/1d levels re-aggregate the checkpointed partial rows (bounded by buckets x types).",
    "similarity_lsh_topk": "Multi-probe LSH (r6 Arrow-matmul rewrite): corpus signatures come from ONE MapInPandas stage (all 12 tables per batch in a single BLAS call — the r5 flat-SQL signature blew janino's 64 KB limit and fell back to interpreted, 31x slower); probe buckets XOR-expand from the broadcast query signatures; candidates via (tbl, bucket) equi-join, exact-cosine re-rank, window top-k.",
    "doc_exact_substring_removal": "Exact-substring removal: stride-1 window hashes in one explode+projection (codegen — the transform-inline HOF form measured 2x slower interpreted); the window table and token table are lazily checkpointed (each has two consumers ReuseExchange can't serve: 3 scans/3.1s -> 0.6s); dup starts merge per doc via one window pass; kept text rebuilt in-array.",
    "graph_label_propagation": "Sync LPA round: undirected-edges x labels equi-join + one per-id mode(label, deterministic) aggregate with map-side partials — no window, no (id,label) count exchange; labels lineage-cut every second round.",
    "doc_semantic_decontamination": "Cogrouped FlatMapCoGroupsInPandas on the hyperplane cell key: ONE shuffle per side, per-cell train x bench BLAS matmul; quantized integer cosine makes the threshold decision bit-exact cross-engine.",
    "search_hybrid_rrf": "Hybrid retrieval: BM25 and dense-cosine subplans each keep their own scale shape (broadcast stats / broadcast probe); fusion is a full-outer join of two <=50-row frames (broadcast) + a 20-row TakeOrderedAndProject — integer RRF weights, no float summation.",
    "graph_hits_authorities": "HITS half-step: edges x scores equi-join + hash aggregate + 1-row norm broadcast; support-only iterates (zero scores filled once at the end); every twice-consumed frame lineage-cut so no upstream re-runs.",
    "events_markov_transitions": "ONE window shuffle on the sequence key (LEAD over ts,event_id) then two hash aggregates over the |types|^2 transition space; probabilities in pure-BIGINT ppm inside the final projection.",
    "events_hll_daily_rollup": "Mergeable-sketch rollup: per-(type, day) HLL partials combine map-side, the per-type union aggregates kilobyte sketch rows (types x days), and the exact judge columns ride the same scan.",
    "events_value_mad_outliers": "Two exact-percentile hash aggregates over per-row integerized values with types-sized broadcast joins between them — group-local sorts, never a global sort; the threshold comparison evaluates in the final aggregate's projection.",
    "dedup_containment_pairs": "Same inverted-index shape as the Jaccard path (8-byte shingle-hash self-join, intersection aggregate); the checkpointed pair+sizes frame feeds BOTH direction filters without re-running the join.",
    "lineitem_bloom_pruned_join": "Bloom semi-join pruning: the 1-row word-array frame BROADCASTs; the fact scan's very next stage is the k-bit-test Filter (rows cut map-side BEFORE the join exchange); the exact join then sees only matches + false positives.",
    "events_type_run_lengths": "Run-length encoding in ONE Exchange: lag flag and running-sum ordinal share the (key) hash partitioning and (ts,id) sort; the closing (key,run) hash aggregate's clustered distribution is satisfied by the window's partitioning — no second shuffle.",
    "events_kll_value_rollup": "Mergeable quantile rollup: per-(type, day) KLL partials combine map-side (ObjectHashAggregate), the per-type merge aggregates KB sketch rows, and the exact judge aggregate (percentile_disc bounds) is the only other corpus pass — joined types-sized.",
    "events_value_deciles": "Equi-depth deciles via the frequency-table decomposition (r12): the only corpus-sized operator is the map-side-combined (type, value) count aggregate; NTILE's exact rank spans resolve as rank lookups over the tiny count table (cum window + broadcast 10-bucket spine) — the old corpus NTILE window was a per-type single-task sort.",
    "orders_lineitem_join_cardinality": "Pre-join profiling: each fact side collapses to ONE sketch row via map-side-combined theta aggregates; the only joins are 1-row cross joins plus the distinct-key equi-join that exists solely to grade the estimate.",
    "events_asof_next_purchase_2h": "Forward as-of with horizon: views and deduped purchases UNION (no join node at all); two exchanges total — the purchase (user,ts) dedup aggregate and the key-partitioned descending-time window that carries the nearest future purchase as a single struct; the 2h horizon evaluates in the final projection — linear in |L|+|R|, never a range-join fan-out.",
    "multimodal_audio_wav_features": "Real WAV decode path: scan -> synth MapInPandas -> decode MapInPandas, ZERO exchanges end-to-end — per-partition Arrow batches through Python twice, the shape a production decode (payloads already on disk) keeps with one stage.",
    "events_asof_bucketed_latest_order": "Skew-resistant as-of: the window Exchange is (key, time-bucket) — a hot key's history splits across ~span/bucket tasks instead of one; the per-bucket carry-in side re-derives from a column-PRUNED second scan (cheaper at scale than materializing the full union) and collapses map-side to one row per bucket before its exchange; the stitch join back rides the window's own partitioning (broadcast at this SF).",
    "parts_pareto_frontier": "Skyline sweep: pushed IsNotNull filters, two-phase distinct-point aggregate, then ONE brand-partitioned window (running max over strictly preceding rows) + in-stage filter — the quadratic dominance join never appears.",
    "revenue_gini_by_nation": "Rank-weighted sufficient statistics: per-customer pre-aggregate (two-phase), ONE nation-partitioned window for row_number, and the closing aggregate runs SINGLE-STAGE on the window's own partitioning (no third exchange); nation dim broadcast; the Gini ppm is one shared double tree in the final projection.",
    "orders_grouping_sets": "Mixed-hierarchy lattice in ONE pass: Expand (4 projections per row) + a single two-phase hash aggregate — no per-grouping-set re-scan, same shape as the CUBE plan with half the lattice waste.",
    "events_resample_10min_interp": "Interpolation spine: per-type bounds aggregate feeds sequence+explode generation; ONE type-partitioned sort serves BOTH window carries (ascending prev anchors, following-frame next anchors); the exact BIGINT interpolation evaluates in the final projection.",
    "events_type_comovement": "Dense co-movement: the densified counts frame is lineage-cut once (two consumers), the pair join is bucket-keyed (broadcast at this SF, SMJ at scale — fan-out |types|² per bucket, never row-quadratic), and the five sufficient-statistic sums collapse in one two-phase aggregate.",
    "graph_adamic_adar_topk": "Link prediction: wedges from ONE adjacency self-equi-join on the center vertex; the (u, v) scoring aggregate runs FIRST (map-side partials) so the LEFT ANTI hash join against the edge set sees candidate-PAIR volume, not wedge volume (r11 reorder — the anti join commutes with the groupBy); top-20 compiles to TakeOrderedAndProject.",
    "events_user_entropy": "Two hash aggregates ((user, type) counts, then per-user sufficient sums) — the ln sites quantize to ppm in-projection between them; top-50 compiles to TakeOrderedAndProject, never a global sort.",
    "events_peak_concurrency": "±1 sweep, never a self-join: boundary points from one scan union'd map-side; ONE Exchange on (type, day) serves the local prefix-sum window; the cross-day stitch windows run over the tiny day-summary aggregate; peak lookup is a broadcast join back.",
    "events_value_cusum_alarm": "Both running aggregates (prefix sum AND prefix min) in ONE (type, day)-partitioned window pass (two WindowExecs, same Exchange); day summaries stitch through tiny per-type windows; the mean is a broadcast 1-row-per-type side — no single-partition window anywhere.",
    "corpus_ngram_novelty": "No pair enumeration: distinct per-doc shingle hashes once (lazily checkpointed for its two consumers), one corpus df aggregate joined back on the 8-byte hash, per-source exact-BIGINT sums — the novelty audit runs where f² pair queries need caps.",
    "orders_priority_mix_drift": "One orders scan into a (month x priority) hash aggregate (lazily checkpointed for its three consumers); month/priority/global marginals all re-enter as BROADCAST sides; cross-multiplied BIGINT deviations finalize in one tiny aggregate.",
    "lineitem_ship_lag_profile": "The fixture's biggest fact-fact join (lineitem and orders shuffle on the order key — no broadcast at scale, AQE broadcasts at this SF), then the frequency-table rank decomposition: one map-side-combined (flag, lag) hash aggregate and windows over the TINY count table — never a corpus-sized per-flag rank sort.",
    "orders_customer_order_gaps": "Per-customer LAG window partitions on millions of customers (natural parallelism, no hot key); the customer dimension broadcasts; the per-segment profile is the frequency-table rank decomposition over the tiny (segment, gap) count table.",
    "customer_cohort_ltv": "Cohort LTV: per-customer first-month aggregate joined back on the customer key (two-phase partials both sides), exact integer month/cents arithmetic, ONE cohort-partitioned running sum over the tiny cohort x age grid — the corpus never enters a window.",
    "events_value_winsorized_stats": "Winsorize via the frequency-table decomposition (r12): ONE map-side-combined (type, cents) count aggregate is the only corpus-sized operator; the P1/P99 bounds are rank lookups over the tiny count table and the clipped sums are count-weighted aggregates over the SAME table — the old form ran a corpus rank window AND a second corpus scan.",
    "events_value_quartiles_by_type": "Interpolated quartiles via the frequency-table decomposition (r12): (type, value) count aggregate, boundary-rank lookups over the tiny cum table, percentile_cont's interpolation on exact-double positions — engine-native percentile() buffers each group's value map in one task; this never does.",
    "documents_volume_median": "Volume-weighted median via the frequency-table decomposition (r12): per-(source, n_chars) weight totals (map-side combine), the half-volume cut is a rank lookup over the tiny table with character VOLUME as the count column — the old per-source running-weight window sorted each source in one task.",
    "events_conversion_time_profile": "Forward as-of (union + window linear scan) for the gaps, then rank-exact median/p90 via the frequency-table decomposition (r12): the post-join corpus-sized operator is one (hour, gap) count aggregate — the old 24-partition rank window was a single-task-per-hour sort.",
    "events_interarrival_profile": "DAY-BUCKETED LAG (r12): gaps within (type, day) partitions, the one per-day-boundary gap stitched via LAG over tiny day summaries — a hot type splits across its days; gap stats ride the frequency-table decomposition.",
    "graph_jaccard_link_topk": "Jaccard link prediction (r12): wedges from one adjacency self-equi-join, candidate aggregate FIRST then LEFT ANTI against existing edges (pair volume, not wedge volume), two degree hash joins on the candidate table, pure-BIGINT ppm, TakeOrderedAndProject top-k.",
    "dedup_minhash_precision": "LSH precision audit (r12): candidates from the band-key equi-join; exact Jaccard ONLY for candidate pairs (candidates join their A-side shingles, then a hash join on (id_b, h)) — candidate-bounded, never the f2 shared-shingle pair table.",
    "embeddings_norm_profile": "Norm histogram (r12): e4 integerization + exact BIGINT squared norms in one codegen projection over the scan; one tiny bucket aggregate + broadcast total — linear, no pairs, no window.",
    "graph_preferential_attachment_topk": "PA link prediction (r12, the AA/Jaccard trio completed): 2-hop candidate restriction (wedge-bounded), aggregate-first LEFT ANTI, two degree joins, deg(u)*deg(v) pure BIGINT — no division, no float; TakeOrderedAndProject top-k.",
    "doc_language_id": "r13 multilingual classifier: MAP-ONLY — script-block char counts, the unicode tokenize, profile hit counts (size(filter(...))), and the whole decision tree are stacked codegen projections over ONE scan; ZERO exchanges in the plan (unit-pinned), so the gate is embarrassingly parallel at any corpus size.",
    "doc_script_mix_by_source": "Per-source script mix (r13): script counts in one scan projection, LINEAGE-CUT before its two consumers (share + dominance aggregates — uncut, each re-ran the 9-regex scan: measured 5.1s -> 1.2s at sf0.1), stack() unpivot into narrow 3-column rows, two map-side-combined hash aggregates joined back at source granularity; per-source totals broadcast.",
    "corpus_temperature_mixture": "Temperature mixer (r13): one map-side-combined count aggregate is the only corpus-sized op; the pow() weights and ppm shares evaluate over the source-count table with a 1-row broadcast total — tiny at any corpus size.",
    "dedup_minhash_recall_sampled": "Sampled recall audit (r13): the md5 id-space predicate evaluates in the scan projection BEFORE the shingle explode on BOTH the ground-truth and candidate sides, so the f^2 inverted-index join and the banding see only the sample.",
    "events_markov_transitions_bucketed": "Skew-resistant Markov twin (r13): LEAD locally within (user, day) — the hot user's sort splits across its day buckets; boundary transitions from a LAG over tiny per-(user, day) first/last-type summaries (#buckets rows per key); union feeds the shared |types|^2 finalize. Value-identical to the plain form (the oracle IS the plain window).",
    "events_dau_wau_stickiness": "DAU/WAU stickiness (r12): distinct (user, day) pairs, bounded 7x interval fan-out + second distinct for exact WAU (weekly distincts are not re-aggregable from daily ones), tiny day-keyed join, round-half-up ppm.",
}


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    spark = get_spark("gen-plans")
    spark.sparkContext.setLogLevel("ERROR")
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")

    out = [
        "# PLANS — physical plans of representative queries (sf0.1, AQE on)",
        "",
        "Generated by `python tools/gen_plans.py`; refresh after plan-affecting changes.",
        "Each plan shows what to check: `PushedFilters`, pruned `ReadSchema`,",
        "`BroadcastHashJoin` on bounded sides, `TakeOrderedAndProject` for top-k,",
        "and exchanges only where a shuffle is semantically required.",
        "",
    ]
    for name, note in PICKS.items():
        df = QUERIES[name].fn(spark, sf_dir)
        plan = df._jdf.queryExecution().explainString(mode)
        tree_end = plan.find("\n\n(1)")
        tree = plan[:tree_end] if tree_end > 0 else plan[:2500]
        scans = "\n".join(
            l.strip() for l in plan.splitlines() if re.search(r"PushedFilters|ReadSchema", l)
        )
        out += [f"## {name}", "", note, "", "```", tree.strip(), "", scans, "```", ""]

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(repo, "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print("PLANS.md regenerated")


if __name__ == "__main__":
    main()
