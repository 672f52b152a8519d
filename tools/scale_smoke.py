"""Scaling smoke for the round-2 heavy operators: run each at 1x and 8x
replicated input and report the time ratio. Sublinear-to-linear ratios
(wall clock dominated by fixed local costs at 1x) back the SCALE.md
claims; a superlinear ratio flags a quadratic intermediate.

Replication is semantics-preserving per operator:

- events replicate with offset event_ids and per-replica value jitter
  (keeps top-k spike selection deterministic and non-degenerate);
- documents replicate with per-replica word suffixes, so each replica's
  shingle space is disjoint — 8x independent corpora, a fair linear
  test (verbatim copies would instead create an 8x-deeper near-dup
  structure and a quadratic pair count by construction).

Usage: python tools/scale_smoke.py [sf_dir] [factor]
"""

from __future__ import annotations

import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
# Python UDF workers import the package too; they inherit PYTHONPATH
# from the JVM, which takes this process's environment when it starts
os.environ["PYTHONPATH"] = os.pathsep.join(
    p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
)

from pyspark.sql import DataFrame, functions as F  # noqa: E402

from mergermetrics_lakehouse_pipeline_spark import registry  # noqa: E402
from mergermetrics_lakehouse_pipeline_spark.operators import corpus as cp  # noqa: E402
from mergermetrics_lakehouse_pipeline_spark.operators import events as ev  # noqa: E402
from mergermetrics_lakehouse_pipeline_spark.operators.rangejoin import (  # noqa: E402
    bin_interval_join,
)
from mergermetrics_lakehouse_pipeline_spark.session import get_spark  # noqa: E402
from tools.replicate import jitter_value, replicate, suffix_words  # noqa: E402

N = 10_000_000  # per-copy key offset


def range_join_count(e: DataFrame) -> int:
    spikes = (
        e.orderBy(F.col("value").desc(), "event_id")
        .limit(20)
        .select(F.col("event_id").alias("iid"), F.col("ts").alias("sts"))
    )
    win = spikes.select(
        "iid",
        (F.col("sts") - F.expr("INTERVAL 2 MINUTES")).alias("ws"),
        (F.col("sts") + F.expr("INTERVAL 2 MINUTES")).alias("we"),
    )
    j = bin_interval_join(
        e.select("ts", "value"), win, point_ts="ts", start_ts="ws", end_ts="we",
        bin_seconds=240,
    )
    return j.count()


def timed(fn) -> float:
    t0 = time.time()
    fn()
    return time.time() - t0


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    k = int(sys.argv[2]) if len(sys.argv) > 2 else 8
    spark = get_spark("scale-smoke")
    e1 = registry.events_table(spark, sf_dir).cache()
    d1 = registry.T(spark, sf_dir, "documents").cache()
    # disjoint user populations per copy: k independent workloads, so
    # per-user join matches scale by k, not k^2
    ek = replicate(e1, k, ["event_id", "user_id"], extra=jitter_value, offset=N).cache()
    dk = replicate(d1, k, ["doc_id"], extra=suffix_words, offset=N).cache()
    e1.count(), d1.count(), ek.count(), dk.count()  # materialize caches

    cases = {
        "range_join": lambda df: range_join_count(df),
        "cascading_rollup": lambda df: ev.cascading_rollup(df).count(),
        "attribution_join": lambda df: ev.attribution_join(df).count(),
        "hourly_ohlc": lambda df: ev.hourly_ohlc(df).count(),
    }
    for name, fn in cases.items():
        fn(e1)  # warm-up: codegen compile + broadcast paths off the clock
        t1, tk = timed(lambda: fn(e1)), timed(lambda: fn(ek))
        print(f"{name:20s} 1x={t1:5.2f}s {k}x={tk:5.2f}s ratio={tk / t1:4.2f}")
    from mergermetrics_lakehouse_pipeline_spark.functions import text as tx

    def boilerplate_count(df: DataFrame) -> int:
        # same operator the registry query runs (no drift between the
        # measured pipeline and the registered one)
        return cp.boilerplate_stats(df, "text", "doc_id").count()

    for name, fn in {
        "lexical_pairs": lambda df: cp.lexical_overlap_pairs(
            df, "text", "doc_id", df_max=20, top_k=50
        ).count(),
        "boilerplate": boilerplate_count,
    }.items():
        fn(d1)  # warm-up
        t1, tk = timed(lambda: fn(d1)), timed(lambda: fn(dk))
        print(f"{name:20s} 1x={t1:5.2f}s {k}x={tk:5.2f}s ratio={tk / t1:4.2f}")

    from mergermetrics_lakehouse_pipeline_spark.operators import graph as gr

    li1 = registry.T(spark, sf_dir, "lineitem").cache()
    # disjoint copies (offset order AND part keys): k independent
    # co-purchase graphs, so triangle structure scales by k — offsetting
    # only orders would multiply per-part degrees and densify the graph
    # superlinearly by construction
    lik = replicate(li1, k, ["l_orderkey", "l_partkey"], offset=N).cache()
    li1.count(), lik.count()

    def triangles(df):
        # eager mode: materialize + release cached relations per run, so
        # the 1x and 8x measurements don't share accumulated cache
        return gr.count_triangles(gr.copurchase_edges(df), eager=True).collect()

    triangles(li1)  # warm-up
    t1, tk = timed(lambda: triangles(li1)), timed(lambda: triangles(lik))
    print(f"{'triangles':20s} 1x={t1:5.2f}s {k}x={tk:5.2f}s ratio={tk / t1:4.2f}")

    # ---- round-3b additions: bloom join / tv drift / chunk dedup ----
    from mergermetrics_lakehouse_pipeline_spark.operators.bloomjoin import (
        bloom_semi_join,
    )
    from mergermetrics_lakehouse_pipeline_spark.functions import text as tx2

    supp = (
        registry.T(spark, sf_dir, "supplier")
        .filter(F.col("s_nationkey").isin(0, 1, 2))
        .select(F.col("s_suppkey").alias("l_suppkey"))
        .cache()
    )
    supp.count()

    def bloom(df):
        return bloom_semi_join(df, supp, "l_suppkey", n_bits=1 << 16).count()

    def tv_drift(df):
        tok = df.select("source", F.explode(tx2.tokens("text")).alias("term"))
        tf_s = tok.groupBy("source", "term").agg(F.count("*").alias("c_st"))
        tf_all = tf_s.groupBy("term").agg(F.sum("c_st").alias("c_t"))
        return tf_s.join(tf_all, "term").groupBy("source").count().count()

    def chunk_dedup(df):
        from mergermetrics_lakehouse_pipeline_spark.operators.dedup import chunk_dedup_stats

        # same operator the registry query runs
        return chunk_dedup_stats(df, "text", "doc_id", chunk_tokens=64).count()

    bloom(li1)  # warm-up
    t1, tk = timed(lambda: bloom(li1)), timed(lambda: bloom(lik))
    print(f"{'bloom_semi_join':20s} 1x={t1:5.2f}s {k}x={tk:5.2f}s ratio={tk / t1:4.2f}")
    for name, fn in {"tv_drift": tv_drift, "chunk_dedup": chunk_dedup}.items():
        fn(d1)  # warm-up
        t1, tk = timed(lambda: fn(d1)), timed(lambda: fn(dk))
        print(f"{name:20s} 1x={t1:5.2f}s {k}x={tk:5.2f}s ratio={tk / t1:4.2f}")

    # ---- round-4 additions: O(batch) incremental-dedup probe / bm25 ----
    # The probe claim is different from every case above: the BATCH stays
    # FIXED while the INDEX scales k-fold. With the band index
    # precomputed (amortized, off the clock), per-ingest work should
    # grow only with collisions — far below k even though the stored
    # corpus is k times larger.
    import tempfile

    from mergermetrics_lakehouse_pipeline_spark.operators import dedup as dd
    from mergermetrics_lakehouse_pipeline_spark.sources.catalog import (
        read_version,
        write_version,
    )

    # fixed batch = replica 0's every-10th doc (dk contains replica 0
    # verbatim-with-x0-suffix, so the batch's true collision partners —
    # its replica-0 index mates — exist identically in both index sizes)
    c1 = replicate(d1, 1, ["doc_id"], extra=suffix_words, offset=N).cache()
    is_batch = (F.col("doc_id") % 10 == 0) & (F.col("doc_id") < N)
    batch = c1.filter(is_batch).cache()
    batch.count(), c1.count()

    def build_index(index_docs: DataFrame) -> tuple[DataFrame, DataFrame]:
        root = tempfile.mkdtemp(prefix="mm_smoke_idx_")
        write_version(
            dd.minhash_band_keys(index_docs, "text", "doc_id"), f"{root}/bands"
        )
        write_version(
            index_docs.select(dd.content_key("text").alias("k")).distinct(),
            f"{root}/keys",
        )
        return read_version(spark, f"{root}/bands"), read_version(spark, f"{root}/keys")

    def probe(docs_all: DataFrame, bands: DataFrame, keys: DataFrame) -> int:
        return dd.incremental_classify(docs_all, batch, bands, keys).count()

    idx1 = build_index(c1.filter(~is_batch))
    idxk = build_index(dk.filter(~is_batch))
    probe(c1, *idx1)  # warm-up
    t1 = timed(lambda: probe(c1, *idx1))
    tk = timed(lambda: probe(dk, *idxk))
    print(f"{'incr_dedup_probe':20s} 1x={t1:5.2f}s {k}x-index={tk:5.2f}s ratio={tk / t1:4.2f}")

    def bm25(df: DataFrame) -> int:
        return cp.bm25_topk(df, "text", "doc_id", ["spark", "query", "join", "window"]).count()

    bm25(d1)  # warm-up
    t1, tk = timed(lambda: bm25(d1)), timed(lambda: bm25(dk))
    print(f"{'bm25_topk':20s} 1x={t1:5.2f}s {k}x={tk:5.2f}s ratio={tk / t1:4.2f}")

    # ---- round-4b: association rules (baskets) / distributed prefix sum ----
    def assoc(df: DataFrame) -> int:
        baskets = df.groupBy(F.col("l_orderkey").alias("ok")).agg(
            F.sort_array(F.collect_set("l_partkey")).alias("items")
        )
        pair_arr = F.flatten(
            F.transform(
                F.col("items"),
                lambda x, i: F.transform(
                    F.slice(
                        F.col("items"), i + F.lit(2), F.size(F.col("items")) - i - 1
                    ),
                    lambda y: F.struct(x.alias("a"), y.alias("b")),
                ),
            )
        )
        return (
            baskets.select(F.explode(pair_arr).alias("p"))
            .groupBy("p.a", "p.b")
            .count()
            .filter(F.col("count") >= 3)
            .count()
        )

    assoc(li1)  # warm-up
    t1, tk = timed(lambda: assoc(li1)), timed(lambda: assoc(lik))
    print(f"{'association_pairs':20s} 1x={t1:5.2f}s {k}x={tk:5.2f}s ratio={tk / t1:4.2f}")

    def prefix(df: DataFrame) -> int:
        return cp.distributed_prefix_sum(
            df.select(F.col("l_orderkey").alias("o"), F.col("l_quantity").alias("v")),
            "o",
            ["v"],
            bucket_size=4096,
        ).count()

    prefix(li1)  # warm-up
    t1, tk = timed(lambda: prefix(li1)), timed(lambda: prefix(lik))
    print(f"{'prefix_sum':20s} 1x={t1:5.2f}s {k}x={tk:5.2f}s ratio={tk / t1:4.2f}")

    # ---- round-5: decontamination / bigram gate / semantic dedup ----
    from mergermetrics_lakehouse_pipeline_spark.functions import text as tx
    from mergermetrics_lakehouse_pipeline_spark.operators import (  # noqa: E402
        similarity as sim,
    )

    def decontam(df: DataFrame) -> int:
        sh = df.select("doc_id", tx.word_shingles_fast("text", 3).alias("s"))
        suite = (
            sh.filter(F.col("doc_id") % 97 == 0)
            .select(F.explode("s").alias("g"))
            .distinct()
        )
        cg = sh.filter(F.col("doc_id") % 97 != 0).select(
            "doc_id", F.explode("s").alias("g")
        )
        return (
            cg.join(F.broadcast(suite).withColumn("__h", F.lit(1)), "g", "left")
            .groupBy("doc_id")
            .agg(F.count_distinct(F.when(F.col("__h") == 1, F.col("g"))).alias("h"))
            .count()
        )

    decontam(d1)  # warm-up
    t1, tk = timed(lambda: decontam(d1)), timed(lambda: decontam(dk))
    print(f"{'decontamination':20s} 1x={t1:5.2f}s {k}x={tk:5.2f}s ratio={tk / t1:4.2f}")

    def bigram_gate(df: DataFrame) -> int:
        return cp.bigram_familiarity(df, "text", "doc_id").count()

    bigram_gate(d1)  # warm-up
    t1, tk = timed(lambda: bigram_gate(d1)), timed(lambda: bigram_gate(dk))
    print(f"{'bigram_familiarity':20s} 1x={t1:5.2f}s {k}x={tk:5.2f}s ratio={tk / t1:4.2f}")

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")

    # ids offset only: each copy's vectors coincide with the original's
    e1, ek = emb, replicate(emb, k, ["vec_id"], offset=N)

    def semdedup(df: DataFrame) -> int:
        cents = df.filter(F.col("vec_id") < 8).select(
            F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("c_vec")
        )
        return sim.semantic_dedup(df, cents, threshold=0.30).count()

    semdedup(e1)  # warm-up
    t1, tk = timed(lambda: semdedup(e1)), timed(lambda: semdedup(ek))
    print(f"{'semantic_dedup':20s} 1x={t1:5.2f}s {k}x={tk:5.2f}s ratio={tk / t1:4.2f}")


if __name__ == "__main__":
    main()
