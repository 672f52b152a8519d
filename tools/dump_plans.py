"""Regenerate PLANS.md: the executed (AQE-final) physical plans of the
flagship queries, as evidence for the plan-shape claims in SCALE.md."""

from __future__ import annotations

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
# Python UDF workers import the package too; they inherit PYTHONPATH
# from the JVM, which takes this process's environment when it starts
os.environ["PYTHONPATH"] = os.pathsep.join(
    p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
)

from mergermetrics_lakehouse_pipeline_spark import registry  # noqa: E402
from mergermetrics_lakehouse_pipeline_spark.session import get_spark  # noqa: E402

SHOWCASE = {
    "star_join_denorm": "4 broadcast joins, one exchange, one codegen span",
    "scan_project_filter": "predicates + projection pushed to the parquet scan",
    "fact_monthly_rollup": "map-side partial aggregation before the single exchange",
    "docs_minhash_lsh_pairs": "join-free LSH: explode -> codegen md5 -> groupBy mins -> bucket pairs",
    "docs_simhash_neardup": "pigeonhole-banded SimHash pairs: join-free bucket expansion + exact confirm",
    "docs_benchmark_contamination": "broadcast benchmark shingle set; corpus side never self-joins",
    "incremental_month_recompute": "broadcast left-semi month restriction",
    "docs_length_quantiles": "count-collapse before the window: cumulative sum over distinct values, not rows",
    "docs_stratified_sample": "partial WindowGroupLimit below the exchange: map tasks ship <= k rows per stratum",
    "docs_pretrain_pipeline": "gate -> dedup -> rebalance -> chunk fused into ONE plan, single shuffle on the dedup key",
    "events_incident_range_join": "binned range join: equi hash join on quantized time, no nested loop",
    "events_cascading_rollup": "minute/hour/day from ONE shuffle: ReusedExchange across the union branches",
    "docs_lexical_pairs": "inverted index from one aggregation; pair expansion array-side, no self-join",
    "min_cost_supplier_per_part": "Q2 correlated-MIN as a window over the pair aggregate: one lineitem scan, dims broadcast",
    "lone_returner_suppliers": "Q21 EXISTS/NOT-EXISTS as window counts: one lineitem scan, zero self-joins",
    "large_volume_orders": "Q18 HAVING output joined back declaratively; AQE chooses broadcast at this SF",
    "events_hourly_ohlc": "OHLC in one associative aggregation pass: struct MIN/MAX argmin/argmax, no window sort",
    "events_user_streaks": "gaps-and-islands: distinct, window, and both aggs share one user partitioning",
    "events_daily_gap_fill": "calendar-spine broadcast + single as-of window shuffle",
    "parts_triangle_count": "degree-oriented edge-iterator: adjacency arrays intersected in-row, wedge relation never shuffled",
    "lineitem_bloom_semi_revenue": "bloom runtime filter: chained broadcast bit-tests prune the probe before the semi-join",
    "docs_source_tv_drift": "drift stats: two hash aggregations + term equi-join; totals broadcast",
    "docs_chunk_dedup": "bounded explode -> hash-keyed keep-first window -> doc aggregation",
    "tpch_q6_forecast_revenue": "pure scan-agg: all predicates pushed to the parquet reader, no join",
    "tpch_q19_disjunctive_revenue": "OR-of-ANDs as the residual of ONE broadcast hash join",
    "tpch_q5_local_supplier_volume": "cyclic join graph: nation equality rides the supplier equi key",
    "tpch_q20_part_share_suppliers": "correlated share as a window over the pair aggregate, one lineitem scan",
    "docs_boilerplate_phrases": "codegen regex shingles; df threshold as 1-row broadcast; boilerplate set broadcast back",
    "docs_weighted_sample": "min-of-w salted hashes; bottom-k as TakeOrderedAndProject",
    "docs_bm25_topk": "per-doc tf as JVM array filters (no explode); corpus stats one broadcast scalar row; TakeOrderedAndProject top-k",
    "docs_incremental_dedup": "O(batch) probe: index side scans the versioned band table; documents only under the batch filter / candidate semi join",
    "emb_cluster_assignments": "8-row centroid broadcast; k cosines per vector; map-side top-1 window",
    "orders_priority_pivot": "pivot with explicit values == one conditional aggregation, no domain-discovery job",
    "lineitem_rollup_totals": "ROLLUP grouping sets expanded map-side, one exchange",
    # round 5
    "emb_semantic_dedup": "SemDeDup: centroid broadcast assign; pair join carries the cluster key — no global self-join",
    "docs_multi_suite_decontamination": "N suites, TWO document scans: broadcast suite shingles + conditional distinct counts",
    "docs_bigram_familiarity": "bigram/context models as aggregations of the (doc,bigram,tf) table; vocab 1-row broadcast",
    "orders_daily_anomalies": "moments in one month-grain aggregation; z-scores via broadcast stats join — window-free",
    "events_linear_interpolation": "per-user span grid + four ignore-nulls frame windows on ONE user shuffle",
    "parts_label_propagation": "LPA round = edge-label join + count + max_by argmax; no windows over data",
    "events_variant_extract": "parse_json once per row; typed variant path probes; one partial-agg shuffle",
    "customer_table_profile": "ANALYZE in two passes: 1-row scalar agg + map-side unpivot -> one count shuffle",
    "ivm_join_view_maintenance": "delta-join maintenance: three delta-bounded joins, no full recompute",
    "delta_log_read_roundtrip": "Delta snapshot scan: live-file parquet read with hive partition recovery",
    # round 12
    "events_dwell_deciles_distributed": "NTILE reconstructed from the count-collapsed distinct values: single-partition window only AFTER the groupBy collapse; 10-row spine + 1-row total broadcast",
    "docs_lsh_capped_pairs": "occupancy-guarded LSH: census + star joins pinned shuffle_hash on the co-partitioned band key; no collect_set on oversized buckets",
    "events_value_quantiles_by_type_distributed": "per-type quantiles by count-collapse rank selection: cumulative window over distinct quantized values, no per-type row sort",
    # round 13
    "emb_neardup_capped_pairs": "sign-LSH near-dup: plane-literal sign bits JVM-side, occupancy census + hub-star via pinned shuffle_hash, exact cosine confirm on surviving edges only",
    "orders_value_gini_by_priority_distributed": "Gini from collapsed tie blocks: two-level banded prefix sum — coarse window over the value-domain-bounded band census (broadcast), fine window partitioned by (priority, band); zero SinglePartition exchanges",
    "customer_percentile_bridge_distributed": "the rank window ELIMINATED: per-segment counts x 4-row tile spine, every output interval arithmetic",
    "lineitem_qty_quartiles_by_flag_distributed": "exact quartiles by count-collapse rank selection over the ~50-value quantity domain; windows never grow with row count",
    # round 13 continuation (sketch toolbox)
    "lineitem_hll_distinct_sketch": "HLL: codegen register math, <=256-key groupBy with map-side partial MAX (MAX is the sketch merge), constant-size after the collapse",
    "orders_bloom_probe_census": "Bloom probe as array-literal codegen projection — zero join, zero shuffle on the probe path; the filter built by one bit_or groupBy (bit_or is the Bloom merge)",
    "lineitem_hilbert_cluster_key": "Hilbert orientation-FSM key inside one WholeStageCodegen span; only non-scan work is TakeOrderedAndProject 100",
    "orders_theta_sketch_overlap": "KMV set algebra: two distinct-collapses + TakeOrderedAndProject feed 64-row sketch arithmetic; exact truth rides one groupBy",
    "orders_partition_key_uniformity": "three candidate keys graded in ONE exploded scan; census collapses to keys x 64 buckets with map-side partials",
    "docs_vocab_overlap_matrix": "per-source bottom-k via WindowGroupLimit below the exchange; pair unions re-ranked over 2k-row partitions; estimates 64-number arithmetic",
    "events_sliding_hll_distinct_users": "sliding distinct by register merge: days x 256 registers shuffle, never 7x raw user ids",
    "lineitem_range_partition_plan": "exact RangePartitioner: single-partition window only AFTER the count collapse; boundaries a 7-row spine; assignment a broadcast array filter",
    "lineitem_ams_f2_sketch": "F2/self-join size: nine sign-hash counters from ONE conditional-sum groupBy; median = rank pick over 9 rows",
    "orders_lineitem_join_size_sketch": "join size from two independent count-min sketches: sides meet only as 3x64 counter tables",
    "lineitem_hash_sample_calibration": "sample predicate as codegen hash test; sampled+exact sides in ONE conditional aggregation pass",
    "delta_hll_sketch_state_roundtrip": "sketch state in Delta: per-batch MERGE touches a <=256-row table; raw data scanned once per batch, history time-travelable",
}


def main() -> None:
    spark = get_spark("plans")
    registry._load_extensions()
    sf_dir = "/root/testdata/sf0.001"
    out = [
        "# PLANS — executed physical plans (flagship queries)\n",
        "Generated by `python tools/dump_plans.py` at sf0.001 (plan shape is",
        "scale-invariant; AQE-final plans, initial-plan section stripped).",
        "Shape assertions live in `tests/test_plan_invariants.py`.\n",
    ]
    for name, note in SHOWCASE.items():
        q = next(x for x in registry.QUERIES if x.name == name)
        df = q.fn(spark, sf_dir)
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
        plan = plan.split("== Initial Plan ==")[0].rstrip().rstrip("+-").rstrip()
        out.append(f"## {name}\n\n*{note}*\n\n```\n{plan}\n```\n")
    with open(os.path.join(ROOT, "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print("PLANS.md written")


if __name__ == "__main__":
    main()
