"""Registry entries for relationship-mining extensions: record linkage
(blocked fuzzy match), iterative graph analytics (integer PageRank), and
sequence mining (Markov transition model).

The reference integrates a child company's entities into the parent's
catalog by EXACT key equality only (MERGE ON customer_id,
``1_customer_data_processing.py:311-318``; product upserts in
``2_products_data_processing.py:245-263``). These queries provide the
relationship layer a real merger-integration engine needs on top:
fuzzy entity resolution for names that don't line up exactly, item
affinity over co-purchase structure, and behavioural transition models —
each expressed with engine-independent arithmetic so the DuckDB oracle
can replay it bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .operators import events as ev
from .operators import graph as gr
from .operators import linkage as lk
from .registry import T, events_table, register


@register(
    "fuzzy_match_parts",
    """
    WITH catalog AS (SELECT DISTINCT p_name AS cand FROM part),
    dirty AS (
      SELECT p_partkey, substr(p_name, 1, length(p_name) - 1) AS dirty_name
      FROM part WHERE p_partkey % 3 = 0
    ),
    pairs AS (
      SELECT d.p_partkey, d.dirty_name, c.cand,
             levenshtein(d.dirty_name, c.cand) AS distance
      FROM dirty d
      JOIN catalog c
        ON substr(lower(d.dirty_name), 1, 3) = substr(lower(c.cand), 1, 3)
      WHERE levenshtein(d.dirty_name, c.cand) <= 2
    ),
    best AS (
      SELECT p_partkey, dirty_name, cand, distance,
             row_number() OVER (PARTITION BY p_partkey
                                ORDER BY distance, cand) AS rn
      FROM pairs
    )
    SELECT p_partkey, dirty_name, cand AS matched_name,
           CAST(distance AS INT) AS distance
    FROM best WHERE rn = 1
    """,
    tags=["linkage", "fuzzy-join", "extension"],
)
def q_fuzzy_match_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution of deterministically-perturbed part names (last
    char dropped for every third part — a stand-in for the child
    company's free-typed catalog) against the clean parent catalog:
    prefix-blocked equi-join + levenshtein <= 2 + best-match window.
    Parity target: the exact-key MERGE matching in
    ``1_customer_data_processing.py:311-318``, extended to fuzzy keys."""
    part = T(spark, sf_dir, "part")
    dirty = part.filter(F.col("p_partkey") % 3 == 0).select(
        "p_partkey",
        F.expr("substring(p_name, 1, length(p_name) - 1)").alias("dirty_name"),
    )
    return lk.blocked_fuzzy_match(
        dirty,
        part,
        dirty_id="p_partkey",
        dirty_name="dirty_name",
        catalog_name="p_name",
        max_distance=2,
        block_prefix=3,
    )


@register(
    "parts_copurchase_pagerank",
    """
    WITH edges AS (
      SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
      FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
      WHERE a.l_partkey <> b.l_partkey
    ),
    deg AS (SELECT src, COUNT(*) AS deg FROM edges GROUP BY 1),
    r0 AS (SELECT src AS node, CAST(1000000 AS BIGINT) AS pr FROM deg),
    r1 AS (
      SELECT e.dst AS node,
             CAST(150000 + (85 * SUM(r.pr // d.deg)) // 100 AS BIGINT) AS pr
      FROM edges e JOIN r0 r ON e.src = r.node JOIN deg d ON e.src = d.src
      GROUP BY 1
    ),
    r2 AS (
      SELECT e.dst AS node,
             CAST(150000 + (85 * SUM(r.pr // d.deg)) // 100 AS BIGINT) AS pr
      FROM edges e JOIN r1 r ON e.src = r.node JOIN deg d ON e.src = d.src
      GROUP BY 1
    ),
    r3 AS (
      SELECT e.dst AS node,
             CAST(150000 + (85 * SUM(r.pr // d.deg)) // 100 AS BIGINT) AS pr
      FROM edges e JOIN r2 r ON e.src = r.node JOIN deg d ON e.src = d.src
      GROUP BY 1
    )
    SELECT node AS p_partkey, pr AS pagerank_micro FROM r3
    """,
    tags=["graph", "iterative", "extension"],
)
def q_parts_copurchase_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-iteration scaled-integer PageRank over the part co-purchase
    graph (edges = parts sharing an order). Exact BIGINT arithmetic makes
    the iterative result hash-identical to the oracle's unrolled CTEs —
    see operators/graph.py for the 100 TB iteration design (cached edge
    set, two shuffles per pass, checkpoint cadence)."""
    edges = gr.copurchase_edges(T(spark, sf_dir, "lineitem"))
    return gr.pagerank_int(edges, iterations=3).select(
        F.col("node").alias("p_partkey"),
        F.col("rank").alias("pagerank_micro"),
    )


@register(
    "events_markov_transitions",
    """
    WITH hops AS (
      SELECT event_type AS from_type,
             lead(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS to_type
      FROM events
    ),
    counts AS (
      SELECT from_type, to_type, COUNT(*) AS n_transitions
      FROM hops WHERE to_type IS NOT NULL GROUP BY 1, 2
    )
    SELECT from_type, to_type, n_transitions,
           CAST(SUM(n_transitions) OVER (PARTITION BY from_type) AS BIGINT)
             AS total_from,
           CAST(n_transitions AS DOUBLE)
             / CAST(SUM(n_transitions) OVER (PARTITION BY from_type) AS DOUBLE)
             AS p_transition
    FROM counts
    """,
    tags=["events", "sequence-mining", "extension"],
)
def q_events_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    sequences (deterministic (ts, event_id) ordering). The probability is
    one BIGINT/BIGINT divide in DOUBLE — exactly rounded IEEE, so
    cross-engine hash-stable."""
    return ev.transition_matrix(events_table(spark, sf_dir))


@register(
    "parts_triangle_count",
    """
    WITH sym AS (
      SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
      FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
      WHERE a.l_partkey <> b.l_partkey
    ), deg AS (
      SELECT src, COUNT(*) AS deg FROM sym GROUP BY 1
    ), oriented AS (
      SELECT e.src, e.dst
      FROM sym e
      JOIN deg ds ON e.src = ds.src
      JOIN deg dd ON e.dst = dd.src
      WHERE ds.deg < dd.deg OR (ds.deg = dd.deg AND e.src < e.dst)
    ), wedges AS (
      SELECT a.src AS x, a.dst AS y, b.dst AS z
      FROM oriented a JOIN oriented b ON a.dst = b.src
    ), closed AS (
      SELECT w.x, w.y, w.z FROM wedges w
      WHERE EXISTS (SELECT 1 FROM oriented o WHERE o.src = w.x AND o.dst = w.z)
    )
    SELECT (SELECT CAST(COUNT(DISTINCT src) AS BIGINT) FROM sym) AS n_nodes,
           (SELECT CAST(COUNT(*) / 2 AS BIGINT) FROM sym) AS n_edges,
           CAST(COUNT(*) AS BIGINT) AS n_triangles
    FROM closed
    """,
    tags=["graph", "triangles", "degree-orientation"],
)
def q_parts_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact triangle count of the part co-purchase graph via degree
    orientation (operators/graph.py:count_triangles) — the clustering
    primitive for relationship mining.

    Scale: orientation by (degree, id) caps every node's out-degree at
    O(sqrt(m)); counting is the edge-iterator form — per oriented edge,
    |N+(u) ∩ N+(v)| via array_intersect inside the row — so the
    O(m^1.5) wedge intermediate is never shuffled (measured 4.7x over
    the explicit wedge join at sf0.1). All joins are equi-joins; the
    only BroadcastNestedLoopJoin is the 1-row stats stitch."""
    edges = gr.copurchase_edges(T(spark, sf_dir, "lineitem"))
    return gr.count_triangles(edges)


_REACH_SQL = """
    WITH RECURSIVE walk(part, hop) AS (
      SELECT (SELECT MIN(l_partkey) FROM lineitem), 0
      UNION ALL
      SELECT e.dst, w.hop + 1
      FROM walk w JOIN {edges} e ON w.part = e.src
      WHERE w.hop < 2
    )
    SELECT part AS p_partkey,
           CAST(MIN(hop) AS INT) AS min_hops,
           CAST(COUNT(*) AS BIGINT) AS n_paths
    FROM walk GROUP BY 1
"""

_EDGES_SQL = """(
      SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
      FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
      WHERE a.l_partkey <> b.l_partkey
    )"""


@register(
    "copurchase_reachability_rec",
    _REACH_SQL.format(edges=_EDGES_SQL),
    tags=["graph", "recursive-cte"],
)
def q_copurchase_reachability_rec(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-hop reachability over the co-purchase graph via Spark 4's
    native ``WITH RECURSIVE`` — BFS from the lowest part key, minimum
    hop count and path multiplicity within 2 hops. The oracle runs the
    IDENTICAL recursive SQL in DuckDB (edges inlined), so the engines'
    fixpoint semantics are compared directly.

    Scale: each recursion level is one equi-join of the CURRENT frontier
    (not the accumulated result) against the edge list — frontier-sized
    probe, edge-sized build, and the 2-hop bound caps the level count;
    the engine's cteRecursionLevelLimit (default 100) is the runaway
    guard."""
    gr.copurchase_edges(T(spark, sf_dir, "lineitem")).createOrReplaceTempView(
        "copurchase_edges_rec"
    )
    T(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem_rec")
    return spark.sql(
        _REACH_SQL.format(edges="copurchase_edges_rec").replace(
            "FROM lineitem", "FROM lineitem_rec"
        )
    )


_SCD2_EFFECTIVE = "2024-06-01"


@register(
    "scd2_customer_segments",
    f"""
    WITH cur AS (
      SELECT c_custkey AS custkey, c_mktsegment AS segment, c_acctbal AS acctbal,
             TIMESTAMP '2020-01-01' AS vf
      FROM customer
    ), upd AS (
      SELECT c_custkey AS custkey,
             CASE WHEN c_acctbal > 0 THEN c_mktsegment || '_PLUS'
                  ELSE c_mktsegment END AS segment,
             c_acctbal AS acctbal
      FROM customer WHERE c_custkey % 7 = 0
      UNION ALL
      SELECT c_custkey + 1000000, 'ARCHIVE', 0.0
      FROM customer WHERE c_custkey % 101 = 0
    ), j AS (
      SELECT COALESCE(c.custkey, u.custkey) AS custkey,
             c.segment AS cs, c.acctbal AS ca, c.vf,
             u.segment AS us, u.acctbal AS ua,
             c.custkey IS NOT NULL AS has_cur,
             u.custkey IS NOT NULL AS has_upd,
             (c.custkey IS NOT NULL AND u.custkey IS NOT NULL
              AND (c.segment <> u.segment OR c.acctbal <> u.acctbal)) AS differs
      FROM cur c FULL OUTER JOIN upd u ON c.custkey = u.custkey
    )
    SELECT custkey, cs AS segment, CAST(ca AS DOUBLE) AS acctbal,
           strftime(vf, '%Y-%m-%d') AS valid_from,
           CAST(NULL AS VARCHAR) AS valid_to
    FROM j WHERE has_cur AND (NOT has_upd OR NOT differs)
    UNION ALL
    SELECT custkey, cs, CAST(ca AS DOUBLE), strftime(vf, '%Y-%m-%d'),
           '{_SCD2_EFFECTIVE}'
    FROM j WHERE differs
    UNION ALL
    SELECT custkey, us, CAST(ua AS DOUBLE), '{_SCD2_EFFECTIVE}',
           CAST(NULL AS VARCHAR)
    FROM j WHERE has_upd AND (NOT has_cur OR differs)
    """,
    tags=["scd2", "dimension-history"],
)
def q_scd2_customer_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type 2 fold (operators/cdc.py scd2_apply): a deterministic
    update batch (segment upgrade for custkey%7, brand-new ARCHIVE keys
    for custkey%101) applied to the customer dimension seeded as one
    open version per key — closed rows keep history, changed rows close
    + reopen at the effective instant, no-op updates pass through.

    Scale: one full-outer shuffle of OPEN rows vs updates; history rows
    bypass the join. The reference's MERGE is SCD1 (history lost) —
    this is the auditing-grade upgrade."""
    from pyspark.sql import functions as F

    from .operators.cdc import scd2_apply

    c = T(spark, sf_dir, "customer")
    current = c.select(
        F.col("c_custkey").alias("custkey"),
        F.col("c_mktsegment").alias("segment"),
        F.col("c_acctbal").alias("acctbal"),
        F.lit("2020-01-01").cast("timestamp").alias("valid_from"),
        F.lit(None).cast("timestamp").alias("valid_to"),
    )
    upd_seg = F.when(
        F.col("c_acctbal") > 0, F.concat("c_mktsegment", F.lit("_PLUS"))
    ).otherwise(F.col("c_mktsegment"))
    updates = (
        c.filter(F.col("c_custkey") % 7 == 0)
        .select(
            F.col("c_custkey").alias("custkey"),
            upd_seg.alias("segment"),
            F.col("c_acctbal").alias("acctbal"),
        )
        .unionByName(
            c.filter(F.col("c_custkey") % 101 == 0).select(
                (F.col("c_custkey") + 1000000).alias("custkey"),
                F.lit("ARCHIVE").alias("segment"),
                F.lit(0.0).alias("acctbal"),
            )
        )
    )
    out = scd2_apply(
        current,
        updates,
        keys=["custkey"],
        compare_cols=["segment", "acctbal"],
        effective=_SCD2_EFFECTIVE,
    )
    return out.select(
        "custkey",
        "segment",
        F.col("acctbal").cast("double").alias("acctbal"),
        F.date_format("valid_from", "yyyy-MM-dd").alias("valid_from"),
        F.date_format("valid_to", "yyyy-MM-dd").alias("valid_to"),
    )


@register(
    "parts_association_rules",
    """
    WITH items AS (
      SELECT DISTINCT l_orderkey AS ok, l_partkey AS item FROM lineitem
    ), n AS (
      SELECT COUNT(DISTINCT ok) AS n_orders FROM items
    ), cnt AS (
      SELECT item, COUNT(*) AS n_item FROM items GROUP BY 1
    ), pairs AS (
      SELECT a.item AS item_a, b.item AS item_b, COUNT(*) AS n_ab
      FROM items a JOIN items b ON a.ok = b.ok AND a.item < b.item
      GROUP BY 1, 2
    )
    SELECT p.item_a, p.item_b,
           CAST(p.n_ab AS BIGINT) AS n_ab,
           ROUND(p.n_ab * n.n_orders / (ca.n_item * cb.n_item), 6) AS lift,
           ROUND(p.n_ab / ca.n_item, 6) AS confidence_a_to_b
    FROM pairs p
    JOIN cnt ca ON ca.item = p.item_a
    JOIN cnt cb ON cb.item = p.item_b
    CROSS JOIN n
    WHERE p.n_ab >= 3
    ORDER BY lift DESC, item_a, item_b
    LIMIT 50
    """,
    tags=["mining", "association-rules"],
)
def q_parts_association_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association rules over order baskets: top-50 part
    pairs by LIFT with min support n_ab >= 3 — the classic co-purchase
    affinity miner next to pagerank/triangles (which score structure,
    not rule strength). lift = n_ab*N / (n_a*n_b): integer products +
    one division, bit-exact cross-engine.

    Scale: ONE shuffle on the orderkey collapses each order to its
    sorted distinct-part basket (collect_set dedups in-aggregate — no
    separate DISTINCT shuffle); the per-basket (i < j) pair expansion is
    ARRAY-SIDE in-row (the same idiom as the LSH bucket expansion —
    baskets are 4-7 parts, so the local quadratic is tiny and no
    self-join ever exists in the plan); pair and item counts are two
    more partial-aggregated shuffles; per-item counts broadcast back
    onto the min-support-bounded pair set; top-50 is
    TakeOrderedAndProject. Plan-checked: the basket exchange is built
    once and ReusedExchange'd into the item-count branch; the only other
    data-sized shuffles are the pair counts and a column-pruned
    order-count (8-byte keys), and pair generation contains NO join
    (was a 6-exchange self-join before this formulation)."""
    li = T(spark, sf_dir, "lineitem")
    baskets = li.groupBy(F.col("l_orderkey").alias("ok")).agg(
        F.sort_array(F.collect_set("l_partkey")).alias("items")
    )
    n_orders = baskets.agg(F.count("*").alias("n_orders"))
    cnt = (
        baskets.select(F.explode("items").alias("item"))
        .groupBy("item")
        .agg(F.count("*").alias("n_item"))
    )
    # all (i < j) combinations within a basket, generated array-side
    pair_arr = F.flatten(
        F.transform(
            F.col("items"),
            lambda x, i: F.transform(
                F.slice(F.col("items"), i + F.lit(2), F.size(F.col("items")) - i - 1),
                lambda y: F.struct(x.alias("item_a"), y.alias("item_b")),
            ),
        )
    )
    pairs = (
        baskets.select(F.explode(pair_arr).alias("p"))
        .select("p.item_a", "p.item_b")
        .groupBy("item_a", "item_b")
        .agg(F.count("*").alias("n_ab"))
        .filter(F.col("n_ab") >= 3)
    )
    ca = cnt.select(F.col("item").alias("item_a"), F.col("n_item").alias("n_a"))
    cb = cnt.select(F.col("item").alias("item_b"), F.col("n_item").alias("n_b"))
    out = (
        pairs.join(F.broadcast(ca), "item_a")
        .join(F.broadcast(cb), "item_b")
        .crossJoin(F.broadcast(n_orders))
        .select(
            "item_a",
            "item_b",
            F.col("n_ab").cast("bigint").alias("n_ab"),
            F.round(
                (F.col("n_ab") * F.col("n_orders")) / (F.col("n_a") * F.col("n_b")), 6
            ).alias("lift"),
            F.round(F.col("n_ab") / F.col("n_a"), 6).alias("confidence_a_to_b"),
        )
    )
    return out.orderBy(F.col("lift").desc(), "item_a", "item_b").limit(50)


@register(
    "customer_rfm_segments",
    """
    WITH base AS (
      SELECT o_custkey AS c_custkey,
             MAX(o_orderdate) AS last_order,
             COUNT(*) AS n_orders,
             SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS monetary
      FROM orders GROUP BY 1
    ), scored AS (
      SELECT c_custkey,
             NTILE(4) OVER (ORDER BY last_order DESC, c_custkey) AS r,
             NTILE(4) OVER (ORDER BY n_orders DESC, c_custkey) AS f,
             NTILE(4) OVER (ORDER BY monetary DESC, c_custkey) AS m,
             CAST(n_orders AS BIGINT) AS n_orders,
             CAST(monetary AS DOUBLE) AS monetary
      FROM base
    )
    SELECT c_custkey, CAST(r AS BIGINT) AS r, CAST(f AS BIGINT) AS f,
           CAST(m AS BIGINT) AS m,
           CAST(r AS VARCHAR) || CAST(f AS VARCHAR) || CAST(m AS VARCHAR)
             AS segment,
           n_orders, monetary
    FROM scored
    """,
    tags=["mining", "rfm", "segmentation"],
)
def q_customer_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation: per-customer recency/frequency/monetary
    quartiles (NTILE with full deterministic ordering — metric then
    custkey — so bucket boundaries are engine-independent), concatenated
    into the classic 'rfm' segment code the reference's BI layer would
    chart.

    Scale note: NTILE over a global ORDER BY is a single-reducer sort at
    the customer grain — fine for customer-sized tables (orders of
    magnitude below fact scale); for fact-grain percentiles use the
    count-collapse quantile shape (docs_length_quantiles)."""
    o = T(spark, sf_dir, "orders")
    base = o.groupBy(F.col("o_custkey").alias("c_custkey")).agg(
        F.max("o_orderdate").alias("last_order"),
        F.count("*").alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("monetary"),
    )
    from pyspark.sql import Window

    r = F.ntile(4).over(Window.orderBy(F.col("last_order").desc(), "c_custkey"))
    f = F.ntile(4).over(Window.orderBy(F.col("n_orders").desc(), "c_custkey"))
    m = F.ntile(4).over(Window.orderBy(F.col("monetary").desc(), "c_custkey"))
    return base.select(
        "c_custkey",
        r.cast("bigint").alias("r"),
        f.cast("bigint").alias("f"),
        m.cast("bigint").alias("m"),
        F.concat(r.cast("string"), f.cast("string"), m.cast("string")).alias(
            "segment"
        ),
        F.col("n_orders").cast("bigint").alias("n_orders"),
        F.col("monetary").cast("double").alias("monetary"),
    )


@register(
    "customer_golden_record",
    """
    WITH parent AS (
      SELECT c_custkey, c_mktsegment, c_acctbal, 1 AS priority FROM customer
    ), child AS (
      SELECT c_custkey,
             CASE WHEN c_custkey % 3 = 0 THEN NULL ELSE c_mktsegment END
               AS c_mktsegment,
             c_acctbal + 100.0 AS c_acctbal,
             2 AS priority
      FROM customer WHERE c_custkey % 2 = 0
    ), u AS (
      SELECT * FROM parent UNION ALL SELECT * FROM child
    )
    SELECT c_custkey,
           CAST(COUNT(*) AS BIGINT) AS n_sources,
           min_by(c_mktsegment,
                  CASE WHEN c_mktsegment IS NULL THEN 999999 ELSE priority END)
             AS golden_c_mktsegment,
           CAST(MAX(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
             AS golden_acctbal
    FROM u GROUP BY 1
    """,
    tags=["mining", "mdm", "survivorship"],
)
def q_customer_golden_record(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Golden-record survivorship (operators/linkage.py:golden_records)
    — the master-data merge the reference's merger-integration premise
    implies but never implements: parent records plus a simulated child
    feed (every even custkey, shifted balances, some segments missing)
    collapse per customer under per-field rules — segment from the
    highest-priority source that HAS one, balance as the max across
    systems. One associative aggregation; hash-checked rule-for-rule."""
    from .operators.linkage import golden_records

    c = T(spark, sf_dir, "customer")
    parent = c.select(
        "c_custkey", "c_mktsegment", "c_acctbal", F.lit(1).alias("priority")
    )
    child = c.filter(F.col("c_custkey") % 2 == 0).select(
        "c_custkey",
        F.when(F.col("c_custkey") % 3 == 0, F.lit(None)).otherwise(
            F.col("c_mktsegment")
        ).alias("c_mktsegment"),
        (F.col("c_acctbal") + F.lit(100.0)).alias("c_acctbal"),
        F.lit(2).alias("priority"),
    )
    merged = golden_records(
        parent.unionByName(child),
        "c_custkey",
        "priority",
        first_non_null=["c_mktsegment"],
        take_max=["c_acctbal"],
    )
    return merged.select(
        "c_custkey",
        "n_sources",
        "golden_c_mktsegment",
        F.col("golden_c_acctbal").cast("decimal(18,2)").cast("double").alias(
            "golden_acctbal"
        ),
    )


def _sql_lpa_rounds(n: int) -> str:
    rounds = []
    for k in range(n):
        rounds.append(
            f"""
    c{k + 1} AS (
      SELECT e.dst AS node, l.label, COUNT(*) AS cnt
      FROM edges e JOIN l{k} l ON l.node = e.src
      GROUP BY 1, 2
    ),
    l{k + 1} AS (
      SELECT node, label FROM (
        SELECT node, label,
               ROW_NUMBER() OVER (PARTITION BY node
                                  ORDER BY cnt DESC, label ASC) AS rn
        FROM c{k + 1}
      ) WHERE rn = 1
    )"""
        )
    return ",".join(rounds)


@register(
    "parts_label_propagation",
    f"""
    WITH edges AS (
      SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
      FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
      WHERE a.l_partkey <> b.l_partkey
    ),
    l0 AS (SELECT DISTINCT src AS node, src AS label FROM edges),
    {_sql_lpa_rounds(3)}
    SELECT l.node AS p_partkey, l.label AS community,
           CAST(COUNT(*) OVER (PARTITION BY l.label) AS BIGINT) AS community_size
    FROM l3 l
    """,
    tags=["graph", "iterative", "community", "extension"],
)
def q_parts_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-round synchronous label propagation over the part co-purchase
    graph — community detection with the deterministic min-label
    tie-break, so the iterative Spark result hash-matches the oracle's
    unrolled rounds exactly (operators/graph.py:label_propagation).
    Per round: one edge⋈label join + two aggregations, O(1) driver
    traffic; the community_size window runs at community grain."""
    from .operators import graph as gr
    from pyspark.sql import Window

    edges = gr.copurchase_edges(T(spark, sf_dir, "lineitem"))
    labels = gr.label_propagation(edges, iterations=3)
    w = Window.partitionBy("label")
    return labels.select(
        F.col("node").alias("p_partkey"),
        F.col("label").alias("community"),
        F.count("*").over(w).cast("bigint").alias("community_size"),
    )
