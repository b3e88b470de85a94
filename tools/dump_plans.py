"""Dump formatted physical plans of registered queries.

Two modes:

- no arguments: regenerate PLANS.md at the repo root — the plan tree and
  scan details of each headline query below;
- ``--queries``: write the full ``explain('formatted')`` of each named query
  to ``<out>/<query>_<suffix>.txt``, for before/after plan diffs of a change
  (run once with ``--suffix before`` on the parent commit's checkout, once
  with ``--suffix after`` on the change).

Usage:
    python tools/dump_plans.py
    python tools/dump_plans.py --queries name1,name2 [--out plans/rN] [--suffix after]
"""

from __future__ import annotations

import argparse
import contextlib
import io
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from stream_processing_pipeline_spark.plans import REGISTRY  # noqa: E402
from stream_processing_pipeline_spark.session import build_session  # noqa: E402

SF = "/root/testdata/sf0.01"

HEADLINERS = {
    "q6_counts_by_segment": "reference Q6: broadcast dim join + two-key window agg — fact side unshuffled",
    "tpch_q1_pricing_summary": "filtered scan + partial/final hash agg — predicates pushed to parquet",
    "tpch_q3_shipping_priority": "selective broadcast joins + TakeOrderedAndProject top-k",
    "dedup_minhash_lsh": "explode/agg MinHash + band self-join on compact keys",
    "sim_topk_bruteforce": "broadcast query set x partitioned corpus + ranked window",
    "customers_without_orders": "broadcast LeftAnti with pushed date predicate",
    "tpch_q5_local_supplier_volume": "6-table join; nation/region broadcast, sf-proportional sides key-shuffled (AQE broadcasts them only under threshold) — r4 de-hinted",
    "user_value_minmax_scaled": "per-user min-max scaling as a JVM window expression (no Python workers)",
    "user_value_trailing_hour": "RANGE-frame trailing-hour window over epoch seconds",
    "tpch_q8_market_share": "two nation roles + conditional/total ratio on exact cents",
    "tpch_q18_large_volume_customers": "HAVING-subquery computed once (agg reused as filter and output) + custkey shuffle join (r4 de-hinted) + top-k",
    "tpch_q21_suppliers_kept_waiting": "EXISTS/NOT-EXISTS double correlation as left-semi + left-anti on compact (orderkey, suppkey) pairs",
    "contamination_bench_overlap": "single-pass gram-hash postings (one corpus scan) + two-level aggregation (no multi-distinct Expand)",
    "sim_topk_int8": "int8 codes: one max-reduce for scales, broadcast query codes, exact integer dot ranking",
    "dedup_span_chunks": "per-row 16-token chunking (split evaluated once) — only (id, chunk_no, h60) tuples shuffle",
    "corpus_pack_sequences": "context-window packing via per-shard running token sums — no global sort",
    "user_funnel": "three stacked conditional-min windows over ONE user_id exchange — no per-stage self-joins",
    "rollup_incremental_merge": "snapshot+increment partial-aggregate merge — re-agg at aggregate cardinality",
    "scd2_user_value_bands": "SCD2 spans: lag + lead windows share one user_id exchange (1 Exchange, 1 Sort)",
    "hourly_purchases_gapfill": "gap-fill: spine generated distributed via sequence/explode; hourly agg before the join",
    "mixture_token_budget": "token-budget mixture: one scan, one source-partition running-sum window",
    "hist_value_rollup": "mergeable cent histogram: one map-side-combinable agg, groups x bins rows shuffle",
    "bloom_semijoin_nation_suppliers": "8 KiB bitmap filter BEFORE the join shuffle (96% of rows dropped pre-shuffle), exact semi-join after",
    "salted_join_type_stats": "hot-key salting: SortMergeJoin on (event_type, _salt) — 5-value key spread over 8 reducers",
    "sim_ivf_assignments": "trained-IVF assignment: centroid matrix as plan literal, no shuffle of vectors (training replayed in the SQL oracle)",
    "heavy_hitters_tokens": "Misra-Gries two-phase: one MapInPandas sketch pass (<=64 rows/partition) + broadcast-pruned exact recount",
    "layout_zorder_stats": "Morton z-code as pure shift/mask codegen; grouped min/max = the footer stats a reader prunes on",
    "weighted_priority_sample": "weighted top-k as TakeOrderedAndProject — k rows per partition to the merge, no global sort",
    "sql_recursive_click_streak": "Spark 4 recursive CTE: UnionLoop over a geometrically-shrinking frontier joined to a persisted clicks slice",
    "lineitem_measures_unpivot": "wide-to-long Expand (4 measures) + one grouped profile — N-column profiling in one scan",
    "sim_topk_ivfpq_rerank": "two-stage IVFADC+refine: broadcast-LUT ADC shortlist, then an R*Q-bounded exact-L2 semi-join rerank (r9)",
    "lm_bigram_perplexity_filter": "bigram LM train+score as bigram-key shuffle joins — sf-proportional LM never broadcast; vocab/ref-mean ride 1-row frames (r9)",
    "corpus_remove_dup_spans": "span keep/cut decided on 24 B hash tuples; kept text moves exactly once to its doc's reassembly group (r9)",
    "revenue_attribution_ushaped": "bucketized range join for touch windows + one purchase-grain window; integer credit split, 3-row channel rollup (r9)",
    "mm_warc_wet_ingest_stats": "zero-shuffle scan stage: in-plan gzip+WARC assembly (JVM crc32), parse_gzip->parse_warc decode in one mapInArrow hop (r9)",
    "session_paths_topk": "one per-user sort serving gap flags, running session ids, and per-session ranks; path-grain rollup bounded by types^depth (r9)",
    "minhash_jaccard_calibration": "one persisted signature table feeds both the LSH candidate join and the estimate columns; exact counts candidate-bounded",
    "bucketed_join_revenue": "fact join over bucketed table copies — at this tiny SF the small side broadcasts (also shuffle-free); with broadcast off the bucket scans feed a zero-Exchange SortMergeJoin (plan-pinned in test_bucketed_join_has_no_exchange)",
    "sim_topk_ivfpq": "IVFADC: coarse probe prunes to 2/8 cells via the cell-key LUT join; 8 LUT reads per candidate over 32x-compressed residual codes",
    "user_value_ewma": "order-dependent EWMA as one JVM aggregate() fold over sort_array'd per-user structs — no UDF, no window",
    "bm25_topk_docs": "integer BM25: literal query-term isin pushed INTO the bigram-explode scan (posting shuffle carries only query-term postings; dl rides the postings — no corpus-grain tf/df exchanges, r12), broadcast query set, Robertson term = one integer multiply-divide per candidate",
    "train_eval_leakage_pairs": "cross-split leakage: hash-exchange exact arm + banded near arm with agreement verify at candidate grain (r10)",
    "mm_zlib_decode_stats": "zero-shuffle RFC 1950 decode; the Adler-32 trailer is an in-plan integer fold (zip_with position weights) (r10)",
    "kanon_user_signatures": "k-anonymity: per-(user, type) partials -> one user-grain signature assembly -> bounded-domain rollup (r10)",
    "dedup_exact_substring_pairs": "all-offset 16-token windows as polynomial folds of per-token h60s; ONE (key, doc) exchange into df-capped posting arrays, pairs by array comprehension (r11)",
    "dedup_winnow_pairs": "MOSS winnowing: per-window min over poly k-gram keys selected in-scan; df-capped fingerprint posting join at ~2/(w+1) the all-offset volume (r11)",
    "approx_distinct_users": "explicit h60 HLL registers: map-side max per (day, bucket), <=64 register rows/day shuffle; LC-LUT/raw estimate branches as integer CASE (r11)",
    "hash_xxh64_twin_audit": "25-row exchange-free projection: builtin xxhash64 chains value-hashed against the generated DuckDB UHUGEINT twin (r11)",
    "emb_label_centroid_drift": "centroid drift: one posexplode to (label, dim) integer partials; 64-row broadcast global centroid (r10)",
    "dedup_edit_distance": "levenshtein refine behind a 16-char-prefix blocker self-join — 1000x candidate pruning vs length buckets",
    "value_mad_outliers": "exact median/MAD as distributed order statistics: sort-window central-rank picks, no per-group arrays",
    "cdc_apply_snapshot": "CDC last-writer-wins as ONE max_by aggregation (partial SortAggregate under the exchange) — no window, no full-log sort",
    "cdc_snapshot_diff": "two as-of snapshots from one groupBy (second max_by's order key NULLed past T1) — single scan, single shuffle",
    "join_key_skew_audit": "exact skew percentiles over the cumulative count-of-counts — the window never sees per-key rows",
    "cms_token_freq": "Count-Min build as one map-side-combined agg (<= depth*width cells/task); broadcast probe join for the estimates",
    "zorder_layout_audit": "comparative 2-D layout audit: Morton interleave as shift/mask codegen, ONE aggregation to the bounded (z-file, linear-file) pair grain — no global sort",
    "orders_reorder_interval": "exact interval quantiles via a (gap, count) histogram walk — small-integer domain, no corpus sort",
    "source_token_divergence": "TV distance on common-denominator integers; absent terms contribute in closed form — no source x vocab blowup",
    "value_winsorized_stats": "both rank picks and the clamp pass ride ONE per-type sort window (1 exchange)",
    "strict_funnel_conversion": "three shrinking user-grain stages chained on one reused user-key partitioning",
    "emb_matryoshka_fidelity": "pure embedding-column scan, zero shuffle — per-row energy-ratio fold",
    "trade_graph_butterflies": "celebrity degree cap BEFORE the wedge join; deg-count, semi-join and wedge share one customer-keyed exchange (r4)",
    "bpe_train_merges": "six-round BPE training as one DAG: vocab-bounded word table, TakeOrdered(1) argmax, broadcast-winner replace, localCheckpoint lineage cuts",
    "text_bigram_coverage": "one corpus scan -> gram-hash posting agg (collect_set dedups in-aggregate) -> per-doc coverage roll-up",
    "user_rfm_segments": "RFM grid from three fixed-width histograms + broadcast 1-row threshold frame — quintiles without a user-grain sort (the missing r5 snapshot)",
    "part_affinity_triangles": "r12 posting-array edge gen (collect_set baskets + in-array pairs, 2 exchanges) -> degree-ordered orientation -> wedge + closing joins on 16 B edges; 1-row broadcast assembly",
    "dedup_minhash_lsh_capped": "band self-join behind a posting-list row_number cap — deterministic hot-band guard, oracle-replayable (r6)",
    "llm_corpus_stage_report": "five-stage funnel over one persisted meta/signature base; near-dup stage now the CAPPED band join (r6)",
    "mm_ppm_decode_stats": "JVM-generated binary PPM -> zero-copy mapInArrow decode -> per-channel integer sums; no exchange in the plan (r6)",
    "sim_ivf_cell_balance": "assignment pass -> k-row occupancy agg -> 1-row balance rollup (r6)",
    "sql_groupby_all_daily_mix": "GROUP BY ALL raw-SQL surface compiling to the same partial/final hash agg as the explicit form (r6)",
    "text_unigram_surprisal": "integer floor-log2 surprisal: tf grain -> unigram LM join -> doc rollup; corpus totals broadcast (r6)",
    "supplier_part_transit_overlaps": "interval-overlap via asymmetric bucket band join (cover explodes, probe start-bucket only) + exact predicate + distinct (r6)",
    "stream_rate_limited_users": "fixed-window rate limiter: FlatMapGroupsInPandasWithState over the event stream, batch-oracle-verified (r6)",
    "mm_wav_pcm_stats": "JVM-generated RIFF/WAV -> id-only repartition -> zero-copy mapInArrow PCM decode; payload bytes never shuffle (r6)",
    "mm_png_decode_stats": "JVM-built REAL PNG (stored-deflate zlib, crc32 chunk framing, 5-filter rotation) staged through reused intermediate columns -> zero-copy mapInArrow inflate+unfilter (r7)",
    "retrieval_rrf_fusion": "two broadcast-query ANN channels fused on integer reciprocal ranks — the fusion itself joins two (n_queries x k) frames (r7)",
    "customer_inflight_order_overlaps": "library range_join reuse: asymmetric bucketed interval candidates -> exact predicate -> bounded customer-grain concurrency report (r7)",
    "mm_jpeg_decode_stats": "REAL baseline-JPEG decode (full Huffman/IDCT path) over in-plan files; entropy streams from a 256-entry precomputed table (r7)",
    "mm_jpeg_ac_decode_stats": "JPEG AC run-length path end-to-end: ZRL+ZRL+run-6 to the rational (4,4) coefficient, mid-block EOB, DC-pred second block; closed-form pixel oracle (r8)",
    "error_click_reaction_windows": "library range_join on the TIMESTAMP axis: error impact windows vs click instants, exact integer-microsecond reactions (r8)",
    "stream_corpus_ingest": "streaming LLM-ingest composition: quality gate -> exact dedup -> seen-hash carryover -> band-index append, oracle = the batch composition (r8)",
    "window_funnel_strict_depths": "strict_order funnel: per-stage (candidate, breaker) conditional-min pair + validity filter over the same reused user exchange (r8)",
    "asof_next_purchase_after_error": "library asof_join in forward mode: union-tag + one analytic window, single user shuffle (r8)",
    "seq_match_view_click_purchase": "any-anchor sequenceMatch with 24h adjacency guards: per-stage numeric-axis bucketed range semi-joins, exact forward closure (r8)",
    "window_funnel_dedup_depths": "strict_dedup funnel: repeat-of-previous breaker only; third externally-pinned cell of the mode matrix (r8)",
    "seq_match_signup_then_quick_buy": "mixed-separator sequenceMatch: min-predecessor unbounded hop + 6h bucketized hop (r8)",
    "mm_gif_decode_stats": "REAL GIF87a decode (variable-width LZW machine) over in-plan byte-aligned literal streams; Clear-count pinned by the oracle (r8)",
    "mm_gif_corrupt_quarantine": "GIF error path under the value hash: in-plan Clear-byte and length-byte poison, per-class quarantine, untouched docs exact (r8)",
    "kcore_part_affinity": "r12 posting-array edge gen + lazily persisted survivors; iterative peeling: per-round degree agg + two semi-joins on shrinking checkpointed edges",
    "hilbert_layout_audit": "one DISTINCT to the bounded 8-bit cell grid, then 8 chained CASE projections and three rollups on cells (r6)",
    "emb_jl_distance_fidelity": "16 fused dot-folds per row (the projection map), bounded vec_id<64 pair audit via broadcast BNLJ (r6)",
    "bitmap_user_type_index": "bit_or word build at (type, word) grain, word-aligned AND+popcount joins — set ops at |users|/32 cost (r6)",
    "range_partition_plan": "cents-grain histogram walk -> 1-row broadcast of 15 split points -> 15-compare map + 16-group agg (r6)",
    "ivm_retractable_rollup": "per-key window derives prev state; retraction+addition delta explode aggregates at band grain (r6)",
    "table_stats_profile": "UNION of six column-pruned single-column scans, each with its own two-stage distinct agg — 19x over the one-scan Expand form (r6)",
    "order_gap_survival": "gap window pass -> week-grain collapse -> descending cum at-risk -> integer KM product fold on the sorted week array (r6)",
    "pareto_frontier_parts": "bucketed local skyline scans, then the same scan once over the bounded survivor union (r6)",
    "window_funnel_depth": "three conditional-min aggregates chained over one reused user_id exchange (r6)",
    "stream_scd2_temporal_join": "stream-static temporal join: span table rebuilt per batch, complete-mode band agg via memory sink (r6)",
    "revenue_theil_sen": "(type, day) collapse -> C(days,2) pairwise slope join -> exact median window on slope grain (r6)",
    "token_zipf_curve": "token-grain collapse, vocabulary-only rank window, octave-band rollup with broadcast total (r6)",
    "user_event_trigrams": "one window pass (two leads share a sort), trigram-grain count, TakeOrdered head (r6)",
    "dq_benford_first_digit": "digit-grain count + 9-row literal expectation frame; floor-then-cast digit extraction (r6)",
    "markov_removal_attribution": "one window pass + (from,to) count -> collected 7x7 matrix; five absorption solves as nested integer folds (r6)",
    "stream_ivm_retract_deltas": "retract-channel stateful operator: per-key value state, emitted delta rows aggregate to the maintained view (r6)",
    "chisq_type_hour_independence": "(type, hour) bounded contingency grain; staged-division exact cell terms (r6)",
    "ks_doclen_source_drift": "value-grain CDF gap, cross-multiplied integer max; bounded length domain (r6)",
    "ts_sax_similar_users": "PAA collapse -> rank breakpoints off a bounded value walk -> SAX-word-blocked pair join, capped buckets (r6)",
    "mm_tar_member_index": "JVM-built ustar archives (checksums in-plan) -> zero-copy mapInArrow walker; one content repartition (r6)",
}


def _explain(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def dump_queries(spark, names: list[str], outdir: str, suffix: str, sf_dir: str = SF) -> list[str]:
    """Per-query mode: one ``<outdir>/<query>_<suffix>.txt`` per name in this
    tree's registry (others are skipped with a note); returns the paths."""
    os.makedirs(outdir, exist_ok=True)
    partitions = spark.conf.get("spark.sql.shuffle.partitions")
    paths = []
    for name in names:
        if name not in REGISTRY:
            print(f"SKIP {name}: not in this tree's registry", file=sys.stderr)
            continue
        path = os.path.join(outdir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(
                f"-- {name} ({suffix}) -- explain('formatted') at {os.path.basename(sf_dir)},"
                f" engine session, {partitions} shuffle partitions (AQE on; initial plan,"
                " isFinalPlan=false)\n\n"
            )
            f.write(_explain(REGISTRY[name].fn(spark, sf_dir)))
        paths.append(path)
    return paths


def write_plans_md(spark) -> None:
    out = [
        "# PLANS — physical plans of headline queries (auto-generated)",
        "",
        "`df.explain('formatted')` at sf0.01, engine defaults (AQE on). What to",
        "look for: `BroadcastHashJoin` (no fact shuffle), `PushedFilters` reaching",
        "the `Scan parquet` nodes, narrow `ReadSchema`, `TakeOrderedAndProject`",
        "for top-k, and the absence of `BatchEvalPython` outside the multimodal",
        "pipeline. Regenerate with `python tools/dump_plans.py`.",
        "",
    ]
    for name, why in HEADLINERS.items():
        lines = _explain(REGISTRY[name].fn(spark, SF)).splitlines()
        tree_end = next(
            (i for i, l in enumerate(lines) if l.strip() == "" and i > 3), len(lines)
        )
        tree = "\n".join(lines[:tree_end])
        scans = "\n".join(
            l for l in lines if "PushedFilters" in l or "ReadSchema" in l
        )
        out += [f"## {name}", "", why, "", "```", tree, "", "-- scan details --",
                scans, "```", ""]
    with open(os.path.join(ROOT, "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print("PLANS.md regenerated")


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--queries", help="comma-separated query names: per-query mode")
    ap.add_argument("--out", default=os.path.join(ROOT, "plans"),
                    help="per-query output folder (default: plans/)")
    ap.add_argument("--suffix", default="after", help="file-name suffix, e.g. before/after")
    args = ap.parse_args()
    spark = build_session(app_name="dump_plans", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("FATAL")
    try:
        if args.queries:
            for path in dump_queries(spark, args.queries.split(","), args.out, args.suffix):
                print(f"wrote {path}")
        else:
            write_plans_md(spark)
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
