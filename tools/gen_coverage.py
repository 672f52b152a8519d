"""Regenerate COVERAGE.md: SURVEY §2 row -> registry query (by tag) and/or
module + test. Run after adding registry entries."""

from __future__ import annotations

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from mergermetrics_lakehouse_pipeline_spark import registry  # noqa: E402

MANUAL = {
    "S1": "sources/csv.py read_csv_with_lineage; tests/test_pipeline_end_to_end.py",
    "S2": "sources/csv.py read_csv_with_lineage (lineage cols); tests/test_pipeline_end_to_end.py",
    "S3": "sources/catalog.py write_table(mode=overwrite); tests/test_catalog_ddl.py",
    "S4": "sources/catalog.py write_table(mode=append); tests/test_catalog_ddl.py",
    "S5": "sources/catalog.py write_table(merge_schema=True); tests/test_catalog_ddl.py",
    "S6": "sources/delta_log.py write_delta(configuration={delta.enableChangeDataFeed: true}); tests/test_delta_features.py",
    "S7": "registry.T / spark.table throughout; tests/test_partitioned_incremental.py",
    "S8": "session.py ensure_medallion_schemas; tests/test_catalog_ddl.py",
    "S9": "sources/catalog.py create_view + plans/star.py; tests/test_catalog_ddl.py",
    "S10": "sources/catalog.py drop_table; tests/test_catalog_ddl.py",
    "S12": "sources/catalog.py copy_into; tests/test_catalog_ddl.py",
    "S13": "pipeline/customers.py fix-table literal DF; tests/test_pipeline_end_to_end.py",
    "S14": "sources/csv.py archive_landing_files; tests/test_pipeline_end_to_end.py",
    "S15": "sources/catalog.py table_exists; tests/test_catalog_ddl.py",
}

EXTRAS = [
    ("§2.7 set ops", "`union_by_name`, `set_intersect_except`"),
    ("§2.4 extras (cube/rollup/pivot/grouping sets)",
     "`cube_segment_priority`, `rollup_hierarchy`, `pivot_status_matrix`, `grouping_sets_mix`"),
    ("§2.8 string fns", "`string_funcs`, `sha2_surrogate_key`, `map_lookup_standardize`"),
    ("§2.8 date fns", "`multiformat_dates`, `month_spine_dim_date`"),
    ("§2.9 incremental",
     "`incremental_month_recompute`; pipeline/fact.py incremental_fact_cycle_partitioned "
     "(tests/test_partitioned_incremental.py: partition-scoped writes, pruning, idempotency)"),
    ("§2.10 UDF surface",
     "core is UDF-free; Arrow pandas-UDFs only in similarity/multimodal/stateful-streaming"),
    ("Window frames / lag", "`window_running_frame`, `window_lag_trend`, "
     "`events_sliding_user_rate` (time-RANGE frame: trailing-1h per-user rate)"),
    ("Decorrelated scalar subquery (extension)",
     "`corr_subquery_small_qty` (TPC-H Q17 shape: per-part aggregate + self-join, "
     "exact SUM/COUNT threshold for cross-engine boundary determinism)"),
    ("Streaming (engine extension)",
     "`events_tumbling_window`, `events_hopping_window`, `events_sessionization`, "
     "`events_json_props`; streaming/jobs.py + streaming/stateful.py "
     "(tests/test_streaming.py: parity, idempotent foreachBatch MERGE, "
     "applyInPandasWithState, dropDuplicatesWithinWatermark ingest dedup, "
     "stream-stream watermarked attribution join with bounded state)"),
    ("Native session windows (extension)",
     "`events_session_window_native` (Spark session_window aggregation — "
     "streaming-ready merging gap windows; boundary semantics pinned by oracle)"),
    ("Cohort retention (extension)",
     "`events_cohort_retention` (signup-week cohorts x active weeks; distinct "
     "collapse before the user-keyed join)"),
    ("Funnel analysis (extension)",
     "`events_funnel_stages` (staged min-timestamp aggregations, user-keyed joins "
     "— no per-user event-list collection)"),
    ("Attribution range join (extension)",
     "`events_attribution_join` (operators/events.py attribution_join — equi user key "
     "+ event-time horizon; streaming twin streaming_attribution_join, parity-tested)"),
    ("ORC format round-trip (extension)",
     "`orc_roundtrip` (write->read->aggregate cycle, oracle vs pristine parquet)"),
    ("Data-quality expectations (extension)",
     "`dq_expectations` (operators/quality.py — row rules + uniqueness in ONE "
     "aggregation pass, FK as LEFT ANTI count; tests/test_quality_cdc.py)"),
    ("Partition checksums / anti-entropy (extension)",
     "`orders_partition_checksums` (operators/quality.py partition_checksums — "
     "XOR-of-md5 per-partition content signatures for replica diff in O(partitions))"),
    ("Unpivot / melt (extension)",
     "`unpivot_lineitem_measures` (stack reshape, inverse of pivot_status_matrix)"),
    ("Incremental view maintenance (extension)",
     "`ivm_monthly_totals` (operators/ivm.py — fold an append-only delta's partial "
     "aggregate into a stored rollup; oracle recomputes from scratch, so "
     "incremental == full bit-for-bit)"),
    ("Versioned tables / time travel (extension)",
     "`time_travel_diff_roundtrip` (sources/catalog.py write_version/read_version — "
     "immutable snapshot dirs + atomic latest pointer, composed with snapshot_diff; "
     "tests/test_catalog_ddl.py)"),
    ("CDC snapshot diff (extension)",
     "`cdc_snapshot_diff` (operators/cdc.py — portable Change Data Feed from two "
     "snapshots: one full-outer join, null-safe struct compare; S6 analogue)"),
    ("As-of join (extension)", "`asof_join_latest_order` (operators/asof.py)"),
    ("Range/interval join (extension)",
     "`events_incident_range_join` (operators/rangejoin.py binned equi join, "
     "no nested loop — plan-asserted; tests/test_rangejoin.py parity vs non-equi join)"),
    ("Multi-resolution rollup (extension)",
     "`events_cascading_rollup` (operators/events.py cascading_rollup — minute->hour->day "
     "from ONE shuffle via ReuseExchange, plan-asserted)"),
    ("Skew salting (extension)", "`skew_salted_join` (operators/skew.py)"),
    ("Bucketed co-located joins", "tests/test_plan_invariants.py::test_bucketed_join_no_shuffle"),
    ("Plan invariants (pushdown/broadcast/shuffle-count/codegen)", "tests/test_plan_invariants.py"),
    ("LLM dedup",
     "`docs_exact_dedup`, `docs_minhash_lsh_pairs`, `docs_ngram_jaccard`, `docs_simhash_neardup`, "
     "`docs_winnow_fingerprints`, `emb_neardup_pairs`, `emb_dedup_clusters` "
     "(cosine pairs -> connected components, recursive-CTE oracle)"),
    ("LLM similarity",
     "`emb_cosine_topk` (exact baseline), `emb_ann_topk` (multi-probe hyperplane "
     "LSH, measured recall@5 = 1.00 at sf0.01 params; 0.70 single-probe), `emb_ivf_topk` "
     "(IVF, measured recall@5 = 0.92 at nprobe/n_cells = 4/16), "
     "`emb_ivf_exact_topk` (nprobe=n_cells: the IVF machinery reproducing "
     "brute force EXACTLY, hash-checked against the cosine_topk oracle), "
     "`emb_pca_projection` (distributed PCA: Arrow Gram "
     "partials -> dim^2 shuffle -> driver eigh -> JVM projection; rows-only, "
     "invariant-tested), `docs_lexical_pairs` (sparse inverted-index "
     "idf overlap, one-aggregation posting build, no self-join — plan-asserted)"),
    ("LLM text analysis",
     "`docs_text_stats`, `docs_lang_id`, `docs_fingerprint`, `docs_clean_corpus` (composed pipeline)"),
    ("LLM corpus hygiene (extension set)",
     "`docs_pii_scrub` (regex redaction + scrub hash), `docs_repetition_stats` "
     "(Gopher-style distinct/top-token ratios), `docs_train_test_split` "
     "(deterministic hash split), `docs_benchmark_contamination` (shingle "
     "overlap vs held-out set), `docs_dedup_clusters` (LSH candidates -> "
     "Jaccard confirm -> connected components, recursive-CTE oracle)"),
    ("LLM corpus preparation (extension set)",
     "`docs_chunk_windows` (overlapping token windows, zero-shuffle), "
     "`docs_top_terms` (tf·N/df keyword terms, exact cross-engine arithmetic), "
     "`docs_unigram_familiarity` (corpus-unigram-LM quality score, exact "
     "BIGINT sums), `docs_rebalance_sample` (per-language deterministic "
     "hash downsample, zero-shuffle), `docs_bigram_counts` (corpus n-gram "
     "count table, map-side partial agg), `docs_stratified_sample` (exact "
     "k per stratum by hash order; partial WindowGroupLimit below the "
     "exchange, plan-asserted)"),
    ("Distributed closed-form OLS (extension)",
     "`docs_ols_trend` (per-group normal-equation sums as exact BIGINT aggregates, "
     "two fixed-order divisions — regression without MLlib or iteration)"),
    ("LLM corpus analytics (extension set)",
     "`docs_length_quantiles` (EXACT per-group p25/50/75/95 via "
     "count-collapse + cumulative window over distinct values — scales "
     "with value cardinality, not row count; oracle uses the independent "
     "rank-window formulation), `docs_length_histogram` (integer-bucket "
     "histogram), `docs_quality_funnel` (per-gate survival counts)"),
    ("LLM multimodal", "`media_resize_plan`, `media_frame_offsets`, `media_extract_features`"),
    ("Sketch KPIs", "`kpi_approx_sketches`"),
    ("Table maintenance (lakehouse ops)",
     "sources/catalog.py compact_table (small-file compaction, the parquet "
     "OPTIMIZE analogue; partitioned variant keeps pruning) + "
     "table_file_stats (file census); tests/test_catalog_ddl.py; "
     "operators/layout.py zorder_write (Morton-interleaved 2-dim clustering, "
     "measured per-file min/max narrowing in BOTH dims — tests/test_layout.py; "
     "`zorder_key_lineitem` oracle-checks the Morton bit math cross-engine); "
     "sources/catalog.py vacuum_versions (VACUUM analogue for write_version "
     "tables: version-count retention, crashed-writer cleanup, latest never "
     "eligible — tests/test_catalog_ddl.py)"),
    ("Row-level DML (DELETE/UPDATE, lakehouse completeness)",
     "`dml_roundtrip` (operators/dml.py delete_where/update_where pure "
     "transforms + staged-rewrite table appliers; SQL NULL "
     "semantics pinned in tests/test_dml.py; oracle applies the same DML "
     "declaratively to the pristine table)"),
    ("Sink/DDL round-trips (driver-checkable side effects)",
     "`sink_modes_roundtrip` (overwrite+append+mergeSchema+view+tableExists), "
     "`copy_into_roundtrip` (CSV landing -> COPY INTO -> archive -> read-back), "
     "`ddl_lineage_roundtrip` (_metadata lineage readback + medallion DDL + "
     "drop-table probe + literal rule-table source, oracle vs VALUES)"),
    ("JSONL document source (LLM ingest)",
     "sources/jsonl.py read_jsonl (PERMISSIVE + corrupt-line quarantine + "
     "lineage, explicit schema so inference never double-reads a landing "
     "zone) + split_corrupt; tests/test_jsonl_source.py"),
    ("Record linkage / fuzzy entity resolution (extension)",
     "`fuzzy_match_parts` (operators/linkage.py blocked_fuzzy_match — prefix-blocked "
     "equi-join + JVM levenshtein <= d + deterministic best-match window; the fuzzy "
     "twin of the reference's exact-key MERGE matching; tests/test_mining.py)"),
    ("Iterative graph analytics (extension)",
     "`parts_copurchase_pagerank` (operators/graph.py — scaled-BIGINT PageRank over "
     "the co-purchase graph, cached edges/degrees, two shuffles per iteration; exact "
     "integer arithmetic makes the iterations hash-identical to the oracle's "
     "unrolled CTEs; tests/test_mining.py)"),
    ("Sequence mining / Markov transitions (extension)",
     "`events_markov_transitions` (operators/events.py transition_matrix — lead() "
     "over deterministic (ts, event_id) order, one shuffle on user_id, exact "
     "BIGINT counts + single IEEE divide for probabilities; tests/test_mining.py)"),
    ("Decorrelated-subquery analytics / TPC-H-hard shapes (extension set)",
     "`min_cost_supplier_per_part` (Q2: correlated MIN as window over the pair "
     "aggregate), `top_revenue_suppliers` (Q15: argmax via 1-row broadcast), "
     "`nation_pair_volume` (Q7: region-to-region volume, one fact-fact shuffle), "
     "`nation_market_share` (Q8: numerator+denominator in ONE conditional-agg "
     "pass), `important_parts_value` (Q11: scale-invariant HAVING vs 1.5x mean), "
     "`large_volume_orders` (Q18: AQE-decided join-back of the HAVING output), "
     "`lone_returner_suppliers` (Q21: EXISTS/NOT-EXISTS collapsed to window "
     "counts, zero self-joins), `idle_rich_customers` (Q22: scalar-AVG cutoff + "
     "anti join on projected recent buyers)"),
    ("Classic TPC-H remainder (full shape coverage, registry_tpch2.py)",
     "`tpch_q1_pricing_summary` (one-pass 8-aggregate report), "
     "`tpch_q3_shipping_priority` / `tpch_q10_returned_items` (selective "
     "broadcast + distributed top-k), `tpch_q4_late_order_priority` (EXISTS "
     "as semi join with non-equi residual), `tpch_q5_local_supplier_volume` "
     "(cyclic join graph closed as a compound equi key), "
     "`tpch_q6_forecast_revenue` (pure scan-agg, all predicates pushed), "
     "`tpch_q9_product_type_profit` / `tpch_q12_late_priority_lines` / "
     "`tpch_q14_promo_effect` (arithmetic/CASE conditional aggregation), "
     "`tpch_q16_supplier_cnt` (anti-join blacklist + COUNT DISTINCT), "
     "`tpch_q19_disjunctive_revenue` (OR-of-ANDs partial pushdown), "
     "`tpch_q20_part_share_suppliers` (correlated share decorrelated into "
     "a window over the pair aggregate) — with registry_tpch.py this is "
     "every classic TPC-H planner shape, oracle-checked"),
    ("Boilerplate phrase removal (LLM extension)",
     "`docs_boilerplate_phrases` (C4-style: 3-gram shingles in >= 10% of "
     "docs flagged via corpus-relative threshold; broadcast boilerplate "
     "set back onto the corpus — no self-joins)"),
    ("Incremental ingestion dedup (LLM extension)",
     "`docs_incremental_dedup` (batch-vs-index classification: content-key "
     "semi join for exact dups + cross-boundary MinHash band candidates + "
     "Jaccard confirm — the O(batch) per-ingest shape, never corpus re-dedup)"),
    ("Training-shard export (LLM extension)",
     "`docs_training_shards` (deterministic md5 sharding -> partitionBy "
     "parquet write -> read-back stats, oracle vs the pristine table — "
     "driver-checks the physical export path)"),
    ("Weighted sampling (LLM extension)",
     "`docs_weighted_sample` (deterministic weighted sample without "
     "replacement: min-of-w salted md5 hashes, pairwise win odds exactly "
     "w_a/(w_a+w_b); integer-exact so the oracle matches bit-for-bit)"),
    ("Source-level quality gating (LLM extension)",
     "`docs_source_quality_gate` (C4-style domain filter: per-source mean quality "
     "via exact decimal sums, broadcast back onto every document)"),
    ("Gaps-and-islands streaks (extension)",
     "`events_user_streaks` (date-minus-row_number run anchoring; one user-keyed "
     "shuffle shared by distinct, window, and both aggregations)"),
    ("Robust outlier stats (extension)",
     "`events_value_outlier_fences` (exact per-type quartiles, 1.5-IQR Tukey "
     "fences broadcast back for the counting pass)"),
    ("As-of directions (extension)",
     "`asof_forward_next_purchase` (direction='forward'; nearest with backward "
     "tie-resolution + symmetric tolerance unit-tested in tests/test_asof_skew.py)"),
    ("Triangle counting (extension)",
     "`parts_triangle_count` (operators/graph.py count_triangles — (degree, id) "
     "edge orientation bounds the wedge join at O(m^1.5) under any skew)"),
    ("Hourly OHLC bars (extension)",
     "`events_hourly_ohlc` (argmin/argmax open/close as struct MIN/MAX — one "
     "associative aggregation pass, no window or join-back)"),
    ("Tokenize-to-ids (LLM extension)",
     "`docs_token_ids` (frequency-ranked vocab induction, broadcast id mapping, "
     "OOV->0; token positions never shuffle)"),
    ("Custom Python DataSource connector (extension)",
     "`synth_source_rollup` (sources/pydatasource.py — Spark 4 DataSource API: "
     "partition planning, pushFilters, SimpleDataSourceStreamReader offset "
     "replay; row content hash-verified against a DuckDB md5 replay; "
     "tests/test_pydatasource.py)"),
    ("VARIANT semi-structured type (extension)",
     "`events_variant_props` (parse_json once -> typed variant_get paths)"),
    ("Closed-form correlation (extension)",
     "`returnflag_price_qty_corr` (Pearson r from exact decimal co-moment sums "
     "+ fixed IEEE sequence — bit-reproducible, unlike builtin corr())"),
    ("Recursive CTE graph traversal (extension)",
     "`copurchase_reachability_rec` (Spark 4 WITH RECURSIVE BFS, identical "
     "recursive SQL replayed in DuckDB)"),
    ("Mergeable sketch tables (extension)",
     "`events_sketch_rollup` (daily HLL sketches unioned to any grain without "
     "rescanning raw events; 5% bound pytest-asserted)"),
    ("Perceptual image dedup (LLM multimodal extension)",
     "`media_phash_pairs` (real gray8 PNG payload synthesis + 64-bit dHash in "
     "the decode kernel + shared pigeonhole Hamming banding — catches "
     "re-encoded/brightness-shifted dups byte-md5 cannot; "
     "tests/test_multimodal_decode.py)"),
    ("SCD Type 2 dimension history (extension)",
     "`scd2_customer_segments` (operators/cdc.py scd2_apply — close+reopen on "
     "change, history untouched, idempotent; full fold replayed in SQL)"),
    ("Exact-mergeable bitmap tables (extension)",
     "`events_bitmap_rollup` (per-day user bitmaps OR-merged to any grain; "
     "exact, hard COUNT DISTINCT oracle — the zero-error twin of the HLL "
     "sketch table)"),
    ("Cumulative distinct rewrite (extension)",
     "`events_cumulative_unique_users` (first-occurrence flags + running SUM)"),
    ("Interval-overlap join (extension)",
     "`events_window_overlap_join` (operators/rangejoin.py "
     "bin_interval_overlap_join — first-overlap-bin exactly-once, "
     "parity-tested vs the naive non-equi join)"),
    ("Pandas merge_asof differential battery (extension)",
     "tests/test_asof_vs_pandas.py (40 random cases x 3 directions x "
     "tolerance, one composite-keyed Spark job per direction)"),
    ("Time-series gap fill (extension)",
     "`events_daily_gap_fill` (calendar-spine ⨯ users + as-of forward fill, "
     "end-of-day-inclusive probes)"),
    ("Equi-depth histogram / ratio-to-report (extension)",
     "`lineitem_price_deciles` (NTILE over a deterministic composite order), "
     "`supplier_nation_revenue_share` (window SUM over the per-supplier "
     "aggregate, never raw lineitem)"),
    ("Calendar feature extraction (extension)",
     "`orders_calendar_features` (quarter/ISO-week/dow/month-end/"
     "days-in-month over the distinct date domain)"),
    ("Stats-driven CBO (engine capability)",
     "tests/test_plan_invariants.py::test_cbo_stats_flip_broadcast_decision "
     "(ANALYZE column stats + CBO flip a selective filter's join to broadcast "
     "statically — asserted differentially)"),
    ("Streaming heavy hitters (extension)",
     "streaming/stateful.py streaming_heavy_hitters (space-saving k counters "
     "per type in applyInPandasWithState state; est/overestimate/n-over-k "
     "guarantees asserted vs exact batch counts)"),
    ("Streaming OHLC twin (extension)",
     "streaming/jobs.py streaming_hourly_ohlc (watermarked window grouping, "
     "associative struct-MIN/MAX state; parity in tests/test_streaming.py)"),
    ("Property tests (tolerance/invariants)", "tests/test_property_cleaning.py (hypothesis)"),
]


def main() -> None:
    registry._load_extensions()
    tag_map: dict[str, list[str]] = {}
    for q in registry.QUERIES:
        for t in q.tags:
            tag_map.setdefault(t, []).append(q.name)

    ids = (
        [f"S{i}" for i in range(1, 16)]
        + [f"P{i}" for i in range(1, 15)]
        + [f"J{i}" for i in range(1, 8)]
        + [f"A{i}" for i in range(1, 8)]
        + ["W1", "W2", "O1", "O2", "O3", "O4"]
    )
    rows = []
    for sid in ids:
        qn = ", ".join(f"`{n}`" for n in tag_map.get(sid, []))
        cov = "; ".join(x for x in (qn, MANUAL.get(sid, "")) if x)
        rows.append(f"| {sid} | {cov} |")

    n_total = len(registry.QUERIES)
    n_oracle = sum(1 for q in registry.QUERIES if q.oracle is not None)
    with open(os.path.join(ROOT, "COVERAGE.md"), "w") as f:
        f.write(
            f"""# COVERAGE — SURVEY §2 operator inventory → engine artifacts

Every row of `SURVEY.md §2`, mapped to its oracle-checked registry query
(`__spark_entry__.py: queries()` name) and/or implementing module + test.
{n_total} registered queries, {n_oracle} with DuckDB oracles. Verify with
`python tools/check_correctness.py /root/testdata/sf0.01`. Regenerate this
file with `python tools/gen_coverage.py`.

| §2 row | covered by |
|---|---|
"""
        )
        f.write("\n".join(rows))
        f.write("\n\n## Beyond the reference (engine extensions)\n\n| area | covered by |\n|---|---|\n")
        f.write("\n".join(f"| {a} | {b} |" for a, b in EXTRAS))
        f.write(ledger())
    print(f"COVERAGE.md: {n_total} queries, {n_oracle} oracles")


def ledger() -> str:
    """Per-query driver-verification ledger: the round whose
    CORRECTNESS_r*.json holds this query's first err-null row (rows are
    durable evidence across rounds), or the pending status."""
    import glob
    import json

    verified: dict[str, tuple[str, str]] = {}
    for path in sorted(glob.glob(os.path.join(ROOT, "CORRECTNESS_r*.json"))):
        rnd = path.split("CORRECTNESS_")[1].split(".json")[0]
        for name, row in json.load(open(path)).items():
            if name in verified:
                continue
            # err None alone is NOT verification: an oracle comparison
            # that RAN but mismatched records err=None with
            # hash_match=False — that is a failure, not a pass. Only
            # hash_match=True (full check) or a rows-only row that ran
            # err-clean (driver records err='no_oracle' + spark_rows for
            # those — the max evidence it can produce) count as verified.
            if row.get("err") is None and row.get("hash_match"):
                verified[name] = (rnd, "hash")
            elif row.get("err") == "no_oracle" and row.get("spark_rows") is not None:
                verified[name] = (rnd, "rows-only")

    names = list(registry.queries())
    oracles = set(registry.oracle_sql())
    in_window = set(names[:50])
    lines = [
        "\n\n## Driver verification ledger\n",
        "One row per registered query. `driver` = first round whose",
        "CORRECTNESS_r*.json holds an err-null row (`hash` = value-hash",
        "match vs the DuckDB oracle; `rows-only` = ran + row count, used",
        "for approximate/non-SQL ops). Pending queries sit in the current",
        "50-slot window. Regenerate: `python tools/gen_coverage.py`.\n",
        "| query | oracle | driver |",
        "|---|---|---|",
    ]
    for n in names:
        o = "yes" if n in oracles else "rows-only"
        if n in verified:
            rnd, kind = verified[n]
            d = f"{rnd} ({kind})"
        else:
            d = "pending — in window" if n in in_window else "PENDING, NOT IN WINDOW"
        lines.append(f"| `{n}` | {o} | {d} |")
    pend = [n for n in names if n not in verified]
    n_out = sum(1 for n in pend if n not in in_window)
    tail = (
        "all inside the current window"
        if n_out == 0
        else f"{len(pend) - n_out} in the current window, {n_out} awaiting the next rotation"
    )
    lines.append(
        f"\n{len(names) - len(pend)}/{len(names)} verified; {len(pend)} pending ({tail})."
    )
    return "\n".join(lines) + "\n"


if __name__ == "__main__":
    main()
