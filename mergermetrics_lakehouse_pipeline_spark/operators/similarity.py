"""Similarity search over embedding columns (array<float>).

Two paths:

- **Brute-force cosine top-k** (the correctness baseline): broadcast the
  query vectors, JVM-side dot product via ``zip_with`` + ``aggregate``,
  top-k per query via window rank. Exact; cost O(|queries| x |corpus|) —
  fine when |queries| is small, which is the typical "find neighbors of
  these N items" shape.
- **LSH-bucketed ANN** (the scale path): random-hyperplane signatures via
  a deterministic Arrow-batched pandas UDF (numpy, fixed seed), candidate
  generation by signature-prefix bucket join, exact re-rank inside
  buckets only. Sub-linear candidate sets at 100 TB; recall is tunable
  with (n_planes, n_tables).

Vectors are widened float->double before any arithmetic so results are
reproducible across engines (the oracle computes in double too).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def dot(a: Column, b: Column) -> Column:
    """JVM-side dot product of two numeric arrays (double math)."""
    return F.aggregate(
        F.zip_with(a.cast("array<double>"), b.cast("array<double>"), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def _dot_sql(a: str, b: str) -> str:
    """``dot`` as one SQL expression over two named array columns: the
    same plan, built in one py4j round trip instead of one per Column
    and lambda."""
    a, b = (f"CAST({c} AS array<double>)" for c in (a, b))
    return f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), 0.0D, (x, y) -> x + y)"


def _norm_sql(a: str) -> str:
    return f"sqrt({_dot_sql(a, a)})"


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
) -> DataFrame:
    """Exact top-k cosine neighbors for every query vector.

    Output: (query_id, neighbor_id, cosine_sim, rank) — excludes the
    self-pair; deterministic tie-break on neighbor id.
    """
    idc, vec = (f"`{c.replace('`', '``')}`" for c in (id_col, vec_col))
    q = queries.selectExpr(
        f"{idc} AS query_id", f"{vec} AS q_vec", f"{_norm_sql(vec)} AS q_n"
    )
    c = corpus.selectExpr(
        f"{idc} AS neighbor_id", f"{vec} AS c_vec", f"{_norm_sql(vec)} AS c_n"
    )
    # norms are computed once per row on each join side (the join is a
    # plan barrier, so Catalyst can't re-inline them per pair); per-pair
    # cost is a single dot product. dot/(q_n*c_n) is bit-identical to
    # cosine(q_vec, c_vec).
    scored = c.join(F.broadcast(q), F.expr("query_id != neighbor_id")).selectExpr(
        "query_id",
        "neighbor_id",
        f"{_dot_sql('q_vec', 'c_vec')} / (q_n * c_n) AS sim",
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            F.round(F.col("sim"), 6).alias("cosine_sim"),
            "rank",
        )
    )


def embedding_neardup_pairs(
    corpus: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
    bucket_col: str | None = None,
) -> DataFrame:
    """Near-duplicate pairs by cosine >= threshold (id_a < id_b).

    Without ``bucket_col`` this is an all-pairs comparison — use only on
    bounded corpora or pre-bucketed inputs (pass e.g. an LSH signature or
    a label/category column to restrict comparisons within buckets, which
    is the 100 TB-safe shape).
    """
    cols = [
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("vec"),
        norm(F.col(vec_col)).alias("n"),
    ]
    if bucket_col:
        cols.append(F.col(bucket_col).alias("bucket"))
    v = corpus.select(*cols)
    a, b = v.alias("a"), v.alias("b")
    cond = F.col("a.id") < F.col("b.id")
    if bucket_col:
        cond = cond & (F.col("a.bucket") == F.col("b.bucket"))
    # per-side norms + single per-pair dot (see cosine_topk note);
    # dot/(n_a*n_b) is bit-identical to cosine(a.vec, b.vec)
    return (
        a.join(b, cond)
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.round(
                dot(F.col("a.vec"), F.col("b.vec")) / (F.col("a.n") * F.col("b.n")), 6
            ).alias("cosine_sim"),
        )
        .filter(F.col("cosine_sim") >= threshold)
    )


def sign_lsh_band_keys(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    bands: int = 4,
    bits: int = 6,
    seed: int = 42,
) -> DataFrame:
    """Multi-band random-hyperplane band keys, fully JVM-side — the
    oracle-checkable twin of ``hyperplane_signatures``'s Arrow kernel.

    Band key b = the ``bits``-character sign string of the vector
    against planes [b*bits, (b+1)*bits); planes are
    ``default_rng(seed)`` literals baked into the plan, and each sign
    is the in-index-order ``dot`` fold (numpy BLAS matmuls reorder
    float accumulation; the fold here matches SQL engines
    bit-for-bit, so a DuckDB oracle can replay the exact bucketing —
    see ``cosine_cluster_assign`` for the same trade on the quantizer).

    Output: (vec_id, band, band_key) — ``bands`` rows per vector, the
    input shape of ``dedup.capped_bucket_pairs``. Scale: expected
    bucket occupancy is N / 2^bits per band, so ``bits`` is the knob
    that keeps buckets constant-sized as the corpus grows (buckets
    multiply exponentially with planes); the occupancy guard
    downstream bounds the degenerate tail either way.
    """
    import numpy as np

    planes = np.random.default_rng(seed).standard_normal((dim, bands * bits))
    v = F.col(vec_col).cast("array<double>")

    def bit(j: int) -> Column:
        plane = F.array(*[F.lit(float(x)) for x in planes[:, j]])
        return F.when(dot(v, plane) >= 0, F.lit("1")).otherwise(F.lit("0"))

    keys = F.array(
        *[
            F.concat(*[bit(b * bits + r) for r in range(bits)])
            for b in range(bands)
        ]
    )
    return df.select(
        F.col(id_col).alias("vec_id"), F.posexplode(keys).alias("band", "band_key")
    )


def embedding_capped_neardup_pairs(
    corpus: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    bands: int = 4,
    bits: int = 6,
    seed: int = 42,
    threshold: float = 0.30,
    max_bucket: int = 20,
) -> DataFrame:
    """Occupancy-guarded sign-LSH embedding near-dup pairs — the
    100 TB-safe twin of ``embedding_neardup_pairs`` (VERDICT r12
    next-step #1: the label-bucketed row's per-bucket population grows
    linearly with the corpus, so its all-pairs join is quadratic; this
    path is not).

    Pipeline: ``sign_lsh_band_keys`` (JVM sign bits, oracle-replayable)
    -> ``dedup.capped_bucket_pairs`` (complete in-bucket pairs for
    buckets <= ``max_bucket``, distributed hub-star edges for oversized
    ones — O(k) per degenerate bucket, no task ever buffers more than
    the cap) -> exact cosine confirm on the surviving candidate edges
    only. Candidate semantics, not threshold-complete: recall at the
    threshold is governed by (bands, bits) exactly as in multi-table
    hyperplane LSH (``ann_cosine_topk``); completeness of intra-bucket
    edges above the cap is traded for the hard per-task bound, the same
    contract as the text-LSH guard (``docs_lsh_capped_pairs``).

    Output: (id_a, id_b, cosine_sim) — id_a < id_b, cosine rounded to
    6dp, only pairs with cosine_sim >= ``threshold``.
    """
    from .dedup import capped_bucket_pairs

    banded = sign_lsh_band_keys(
        corpus, id_col=id_col, vec_col=vec_col, dim=dim,
        bands=bands, bits=bits, seed=seed,
    )
    pairs = capped_bucket_pairs(banded, "vec_id", max_bucket=max_bucket)
    v = corpus.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("vec"),
        norm(F.col(vec_col)).alias("n"),
    )
    a = v.select(
        F.col("id").alias("id_a"), F.col("vec").alias("vec_a"), F.col("n").alias("n_a")
    )
    b = v.select(
        F.col("id").alias("id_b"), F.col("vec").alias("vec_b"), F.col("n").alias("n_b")
    )
    return (
        pairs.join(a, "id_a")
        .join(b, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(
                dot(F.col("vec_a"), F.col("vec_b")) / (F.col("n_a") * F.col("n_b")), 6
            ).alias("cosine_sim"),
        )
        .filter(F.col("cosine_sim") >= threshold)
    )


def hyperplane_signatures(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_planes: int = 16,
    seed: int = 42,
) -> DataFrame:
    """Random-hyperplane LSH signatures via an Arrow-batched pandas UDF.

    Signature = bit string of sign(v . H_j) for ``n_planes`` fixed random
    hyperplanes (numpy default_rng(seed) — deterministic across runs and
    executors). This is the vectorized-Python path of the engine: one
    matmul per Arrow batch, not per row.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    planes = np.random.default_rng(seed).standard_normal((dim, n_planes))

    # no type hints: string-ified annotations (future import) break
    # pandas_udf's signature inspection; returnType is explicit instead
    @pandas_udf("string")
    def sig(vecs):
        m = np.vstack(vecs.to_numpy())  # (batch, dim)
        bits = (m @ planes) >= 0  # (batch, n_planes)
        return pd.Series(["".join("1" if b else "0" for b in row) for row in bits])

    return df.select(
        F.col(id_col).alias("vec_id_sig"), F.col(vec_col).alias("vec")
    ).withColumn("signature", sig(F.col("vec")))


def ivf_assign(
    df: DataFrame,
    centroids,  # numpy (k, dim), unit-normalized rows
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nprobe: int = 1,
) -> DataFrame:
    """IVF coarse quantization: assign each vector to its ``nprobe``
    nearest centroids (by cosine) via one Arrow-batched matmul per batch.

    Output: (vec_id, vec, centroid_id) — one row per (vector, probed
    cell). The centroid matrix is tiny (k x dim) and ships inside the UDF
    closure, i.e. a broadcast."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    C = centroids / np.linalg.norm(centroids, axis=1, keepdims=True)

    @pandas_udf("array<int>")
    def cells(vecs):
        m = np.vstack(vecs.to_numpy()).astype("float64")
        m = m / np.maximum(np.linalg.norm(m, axis=1, keepdims=True), 1e-12)
        sims = m @ C.T  # (batch, k)
        top = np.argsort(-sims, axis=1)[:, :nprobe]
        return pd.Series([row.astype("int32").tolist() for row in top])

    return (
        df.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("vec"))
        .withColumn("centroid_id", F.explode(cells(F.col("vec"))))
    )


def deterministic_centroids(
    corpus: DataFrame,
    *,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """Deterministic coarse centroids: the k lowest-id corpus vectors
    (stable across runs/partitionings — a seeded k-means refinement can
    replace this without changing the search path)."""
    import numpy as np

    rows = (
        corpus.select(F.col(id_col).alias("i"), F.col(vec_col).alias("v"))
        .orderBy("i")
        .limit(k)
        .collect()
    )
    return np.array([r.v for r in rows], dtype="float64")


def train_centroids_kmeans(
    corpus: DataFrame,
    *,
    k: int,
    n_iter: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """Spherical k-means (Lloyd) centroid training, fully distributed:

    - **assign**: Arrow-batched argmax against the broadcast k x dim
      centroid matrix (`ivf_assign`, nprobe=1) — the matrix rides to
      executors inside the UDF closure, never a data-sized broadcast;
    - **update**: `posexplode` each vector into (centroid, dim, value)
      and `groupBy(centroid, dim).sum` — map-side partial aggregation
      means the shuffle carries at most k x dim rows PER TASK, and the
      driver collects exactly k x dim aggregate rows (model-sized, like
      the centroid matrix itself — never data-sized).

    Initialization is `deterministic_centroids` and iteration count is
    fixed, so training is reproducible across runs and partitionings.
    Cells that lose all members keep their previous centroid.
    """
    import numpy as np

    cents = deterministic_centroids(corpus, k=k, id_col=id_col, vec_col=vec_col)
    cents = cents / np.maximum(np.linalg.norm(cents, axis=1, keepdims=True), 1e-12)
    for _ in range(n_iter):
        assign = ivf_assign(corpus, cents, id_col=id_col, vec_col=vec_col, nprobe=1)
        stats = (
            assign.select("centroid_id", F.posexplode("vec").alias("d", "x"))
            .groupBy("centroid_id", "d")
            .agg(F.sum("x").alias("s"), F.count("*").alias("c"))
            .collect()
        )
        new = cents.copy()
        counts = np.zeros(len(cents))
        for r in stats:
            new[r.centroid_id, r.d] = r.s / r.c
            counts[r.centroid_id] = r.c
        new[counts == 0] = cents[counts == 0]
        cents = new / np.maximum(np.linalg.norm(new, axis=1, keepdims=True), 1e-12)
    return cents


def ivf_cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    n_cells: int = 16,
    nprobe: int = 4,
    train_iters: int = 0,
) -> DataFrame:
    """IVF approximate top-k: corpus bucketed into ``n_cells`` inverted
    lists (each vector in exactly one cell); each query probes its
    ``nprobe`` nearest cells and exact-reranks only those candidates.

    Candidate volume per query ~= |corpus| * nprobe / n_cells. Recall is
    tuned by nprobe (= n_cells -> exact); measured against brute-force
    ``cosine_topk`` in tests. ``train_iters > 0`` refines the coarse
    centroids with that many distributed Lloyd iterations
    (``train_centroids_kmeans``) — better-balanced cells, same search
    path."""
    if train_iters > 0:
        cents = train_centroids_kmeans(
            corpus, k=n_cells, n_iter=train_iters, id_col=id_col, vec_col=vec_col
        )
    else:
        cents = deterministic_centroids(
            corpus, k=n_cells, id_col=id_col, vec_col=vec_col
        )
    c_assign = ivf_assign(
        corpus, cents, id_col=id_col, vec_col=vec_col, nprobe=1
    ).select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("vec").alias("c_vec"),
        "centroid_id",
    )
    q_assign = ivf_assign(
        queries, cents, id_col=id_col, vec_col=vec_col, nprobe=nprobe
    ).select(F.col("vec_id").alias("query_id"), F.col("vec").alias("q_vec"), "centroid_id")

    cand = (
        c_assign.join(F.broadcast(q_assign), "centroid_id")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    scored = cand.select(
        "query_id",
        "neighbor_id",
        (dot(F.col("q_vec"), F.col("c_vec")) / (norm(F.col("q_vec")) * norm(F.col("c_vec")))).alias("sim"),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            F.round(F.col("sim"), 6).alias("cosine_sim"),
            "rank",
        )
    )


def ann_cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    k: int = 10,
    n_planes: int = 12,
    prefix_bits: int = 4,
    n_tables: int = 4,
    multiprobe: bool = False,
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k: OR-amplified multi-table hyperplane LSH.

    A candidate is any corpus vector sharing the first ``prefix_bits`` of
    the signature with the query in ANY of ``n_tables`` independent plane
    sets (recall ~= 1-(1-p)^T); candidates are deduped then exactly
    re-ranked by cosine. Candidate volume per query ~= n_tables *
    |corpus| / 2^prefix_bits — tune both for the recall/cost point.

    ``multiprobe=True`` additionally probes, per table, every bucket at
    Hamming distance 1 from the query's prefix (the published multi-probe
    LSH technique): near-boundary neighbors whose signature differs by a
    single plane — the dominant miss mode — become candidates, for
    (1 + prefix_bits)x candidate volume with NO extra tables (index size
    unchanged; only the query side fans out). Recall < 1 by design;
    brute-force ``cosine_topk`` is the baseline for measuring it."""

    def bucketed(df: DataFrame, out_id: str, out_vec: str, table: int) -> DataFrame:
        sig = hyperplane_signatures(
            df,
            id_col=id_col,
            vec_col=vec_col,
            dim=dim,
            n_planes=n_planes,
            seed=seed + table,
        )
        prefix = F.substring("signature", 1, prefix_bits)
        return sig.select(
            F.col("vec_id_sig").alias(out_id),
            F.col("vec").alias(out_vec),
            F.concat(F.lit(f"{table}|"), prefix).alias("bucket"),
            prefix.alias("_prefix"),
        )

    def probed(sig_q: DataFrame, table: int) -> DataFrame:
        """Query side fans out to the exact bucket + each 1-bit flip."""
        p = F.col("_prefix")
        variants = [p] + [
            F.concat(
                F.substring(p, 1, i - 1),
                F.when(F.substring(p, i, 1) == "0", F.lit("1")).otherwise(F.lit("0")),
                F.substring(p, i + 1, prefix_bits - i),
            )
            for i in range(1, prefix_bits + 1)
        ]
        return sig_q.select(
            "query_id",
            F.explode(
                F.array(*[F.concat(F.lit(f"{table}|"), v) for v in variants])
            ).alias("bucket"),
        )

    candidates = None
    for t in range(n_tables):
        sig_c = bucketed(corpus, "neighbor_id", "c_vec", t).drop("_prefix")
        sig_q = bucketed(queries, "query_id", "q_vec", t)
        q_side = (
            probed(sig_q, t) if multiprobe else sig_q.select("query_id", "bucket")
        )
        cand = (
            sig_c.join(F.broadcast(q_side), "bucket")
            .filter(F.col("query_id") != F.col("neighbor_id"))
            .select("query_id", "neighbor_id", "c_vec")
        )
        candidates = cand if candidates is None else candidates.unionByName(cand)

    uniq = candidates.dropDuplicates(["query_id", "neighbor_id"])
    q_vecs = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("q_vec"),
        norm(F.col(vec_col)).alias("q_n"),
    )
    scored = uniq.join(F.broadcast(q_vecs), "query_id").select(
        "query_id",
        "neighbor_id",
        (dot(F.col("q_vec"), F.col("c_vec")) / (F.col("q_n") * norm(F.col("c_vec")))).alias("sim"),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            F.round(F.col("sim"), 6).alias("cosine_sim"),
            "rank",
        )
    )


def train_pq_codebooks(
    corpus: DataFrame,
    *,
    n_sub: int = 8,
    k_sub: int = 16,
    n_iter: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """Product-quantization codebooks: the vector is split into ``n_sub``
    contiguous subvectors and each subspace gets its own ``k_sub``-entry
    codebook, trained by per-subspace Lloyd iterations over the (L2-
    normalized) corpus.

    Same distributed split as ``train_centroids_kmeans``: assignment is
    an Arrow-batched argmax with the (n_sub, k_sub, sub_dim) codebook
    tensor in the UDF closure; the update collects exactly
    n_sub*k_sub*sub_dim aggregate rows (model-sized — 1,024 doubles at
    the 64-dim/8x16 default — never data-sized). Init is deterministic
    (subvectors of the k_sub lowest-id corpus vectors); the Lloyd update
    sums doubles via ``F.sum``, whose accumulation order varies with
    partitioning, so codebooks are reproducible only up to
    floating-point summation order (hash-exact reproducibility would
    need sort-before-sum or integer scaling). Empty cells keep their
    previous centroid.

    Returns numpy (n_sub, k_sub, sub_dim).
    """
    import numpy as np

    rows = (
        corpus.select(F.col(id_col).alias("i"), F.col(vec_col).alias("v"))
        .orderBy("i")
        .limit(k_sub)
        .collect()
    )
    V = np.array([r.v for r in rows], dtype="float64")
    if len(V) < k_sub:
        raise ValueError(
            f"corpus has {len(V)} vectors, fewer than k_sub={k_sub} needed "
            "for codebook init — lower k_sub or grow the corpus"
        )
    V = V / np.maximum(np.linalg.norm(V, axis=1, keepdims=True), 1e-12)
    dim = V.shape[1]
    if dim % n_sub != 0:
        raise ValueError(f"dim {dim} not divisible by n_sub {n_sub}")
    sub_dim = dim // n_sub
    books = V.reshape(k_sub, n_sub, sub_dim).transpose(1, 0, 2).copy()

    for _ in range(n_iter):
        codes = pq_encode(corpus, books, id_col=id_col, vec_col=vec_col)
        stats = (
            codes.select("codes", F.posexplode("nvec").alias("d", "x"))
            .select(
                (F.col("d") / sub_dim).cast("int").alias("sub"),
                (F.col("d") % sub_dim).alias("within"),
                F.get(F.col("codes"), (F.col("d") / sub_dim).cast("int")).alias("code"),
                "x",
            )
            .groupBy("sub", "code", "within")
            .agg(F.sum("x").alias("s"), F.count("*").alias("c"))
            .collect()
        )
        new = books.copy()
        for r in stats:
            new[r.sub, r.code, r.within] = r.s / r.c
        books = new
    return books


def pq_encode(
    corpus: DataFrame,
    codebooks,  # numpy (n_sub, k_sub, sub_dim)
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Encode each vector as ``n_sub`` codebook indices (nearest centroid
    per subspace, L2 on the normalized vector) — one Arrow-batched numpy
    pass; the codebook tensor ships in the closure (model-sized).

    Output: (vec_id, vec — the RAW input vector, kept so the exact
    re-rank can use the same cosine expression as ``cosine_topk`` —
    nvec array<double> — the normalized vector, used by codebook
    training — codes array<int>).
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    B = np.asarray(codebooks, dtype="float64")
    n_sub, k_sub, sub_dim = B.shape

    @pandas_udf("struct<nvec: array<double>, codes: array<int>>")
    def enc(vecs):
        m = np.vstack(vecs.to_numpy()).astype("float64")
        m = m / np.maximum(np.linalg.norm(m, axis=1, keepdims=True), 1e-12)
        parts = m.reshape(len(m), n_sub, sub_dim)
        codes = np.empty((len(m), n_sub), dtype="int32")
        for s in range(n_sub):
            # (batch, k_sub) squared L2 distances to subspace centroids
            d = ((parts[:, s, None, :] - B[s][None, :, :]) ** 2).sum(axis=2)
            codes[:, s] = d.argmin(axis=1)
        return pd.DataFrame({"nvec": list(m), "codes": list(codes)})

    return corpus.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).alias("vec"),
        enc(F.col(vec_col)).alias("e"),
    ).select(
        "vec_id", "vec", F.col("e.nvec").alias("nvec"), F.col("e.codes").alias("codes")
    )


def pq_cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    n_sub: int = 8,
    k_sub: int = 16,
    n_iter: int = 2,
    rerank: int = 4,
    rerank_all: bool = False,
) -> DataFrame:
    """PQ-ANN top-k by asymmetric distance computation (ADC) + exact
    re-rank: the corpus is stored as ``n_sub`` byte-ish codes; each query
    precomputes a (n_sub x k_sub) lookup table of subvector dot products,
    so scoring a corpus vector is ``n_sub`` table lookups instead of a
    ``dim``-wide dot — the memory-bandwidth win that makes PQ the
    standard billion-scale ANN layout.

    Spark mapping: codes are computed once (Arrow batch); the per-query
    LUTs are literal arrays riding a broadcast join; the ADC score is a
    JVM-side ``aggregate`` over the code array (no Python on the scan
    path). The top ``rerank*k`` ADC candidates per query are re-ranked by
    exact cosine, so returned similarities are true cosines; recall is
    measured against brute force in tests. Approximate by design.

    ``rerank_all=True`` is the verification mode: the ADC scores and
    ranks are still computed (the train -> encode -> LUT -> ADC path
    executes unchanged) but NO candidate is dropped, so the exact
    re-rank covers the full corpus and the result reproduces brute-force
    ``cosine_topk`` exactly — the PQ analogue of IVF's nprobe=n_cells.
    """
    import numpy as np

    books = train_pq_codebooks(
        corpus, n_sub=n_sub, k_sub=k_sub, n_iter=n_iter, id_col=id_col, vec_col=vec_col
    )
    sub_dim = books.shape[2]
    codes = pq_encode(corpus, books, id_col=id_col, vec_col=vec_col).select(
        F.col("vec_id").alias("neighbor_id"), "vec", "codes"
    )

    # queries are the small side (same contract as cosine_topk's
    # broadcast): collect, build one LUT per query on the driver
    q_rows = queries.select(F.col(id_col).alias("i"), F.col(vec_col).alias("v")).collect()
    spark = corpus.sparkSession
    lut_rows = []
    for r in q_rows:
        q = np.asarray(r.v, dtype="float64")
        q = q / max(float(np.linalg.norm(q)), 1e-12)
        parts = q.reshape(n_sub, sub_dim)
        lut = np.einsum("sd,skd->sk", parts, books)  # (n_sub, k_sub)
        lut_rows.append((int(r.i), [float(x) for x in lut.ravel()]))
    luts = spark.createDataFrame(lut_rows, "query_id bigint, lut array<double>")

    scored = codes.join(F.broadcast(luts), F.col("query_id") != F.col("neighbor_id"))
    adc = F.aggregate(
        F.sequence(F.lit(0), F.lit(n_sub - 1)),
        F.lit(0.0),
        lambda acc, s: acc
        + F.get(F.col("lut"), (s * k_sub + F.get(F.col("codes"), s.cast("int"))).cast("int")),
    )
    w_adc = Window.partitionBy("query_id").orderBy(
        F.col("adc_score").desc(), F.col("neighbor_id")
    )
    cand = (
        scored.withColumn("adc_score", adc)
        .withColumn("adc_rank", F.row_number().over(w_adc))
        .filter(
            # rerank_all keeps every candidate but still computes the ADC
            # rank (adc_rank >= 1 is always true, yet opaque to Catalyst,
            # so the quantized scan path executes either way)
            F.col("adc_rank") >= 1 if rerank_all else F.col("adc_rank") <= rerank * k
        )
    )

    q_vecs = spark.createDataFrame(
        [(int(r.i), [float(x) for x in r.v]) for r in q_rows],
        "query_id bigint, q_vec array<double>",
    )
    exact = cand.join(F.broadcast(q_vecs), "query_id").select(
        "query_id",
        "neighbor_id",
        # same cosine expression as cosine_topk (raw vectors, one
        # normalization per side) so rerank_all reproduces it bit-exactly
        (
            dot(F.col("q_vec"), F.col("vec"))
            / (norm(F.col("q_vec")) * norm(F.col("vec")))
        ).alias("sim"),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("neighbor_id"))
    return (
        exact.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            F.round(F.col("sim"), 6).alias("cosine_sim"),
            "rank",
        )
    )


def pca_project(
    corpus: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_components: int = 2,
) -> DataFrame:
    """Distributed PCA projection of an embedding column.

    The covariance matrix is dim x dim — MODEL-sized — so the split is
    the classic one: executors accumulate per-partition Gram/mean
    partials (one numpy matmul per ``mapInPandas`` batch, Arrow
    transfer), a (i, j)-keyed aggregation reduces them (shuffle volume =
    dim^2 x n_partial_batches rows of three numbers — independent of
    corpus size), the driver eigen-decomposes the 64x64 covariance
    (numpy, deterministic), and the projection returns to the cluster
    as ``n_components`` broadcast literal arrays evaluated JVM-side (one
    ``dot`` per component, no Python on the projection pass).

    The only driver-side data is dim^2 + dim + 1 aggregate rows — never
    row-count-sized. Components follow numpy's eigh sign convention with
    the largest-|coordinate| entry forced positive, so output is
    reproducible run-to-run and partitioning-independent (the partials
    sum exactly: they are held as float64 and reduced by Spark SUM over
    a fixed (i, j) key set — ordering differences shift results below
    the 6-decimal rounding).
    """
    import numpy as np
    import pandas as pd

    vecs_only = corpus.select(F.col(vec_col).cast("array<double>").alias("v"))
    dim = len(vecs_only.first()["v"])

    def gram_partials(batches):
        for pdf in batches:
            m = np.vstack(pdf["v"].to_numpy())  # (batch, dim)
            g = m.T @ m  # (dim, dim)
            s = m.sum(axis=0)  # (dim,)
            i_idx, j_idx = np.meshgrid(range(dim), range(dim), indexing="ij")
            out = pd.DataFrame(
                {
                    "i": i_idx.ravel(),
                    "j": j_idx.ravel(),
                    "val": g.ravel(),
                }
            )
            mean_rows = pd.DataFrame({"i": range(dim), "j": -1, "val": s})
            count_row = pd.DataFrame({"i": [-1], "j": [-1], "val": [float(len(pdf))]})
            yield pd.concat([out, mean_rows, count_row], ignore_index=True)

    partials = vecs_only.mapInPandas(gram_partials, "i int, j int, val double")
    agg = partials.groupBy("i", "j").agg(F.sum("val").alias("val")).collect()

    n = next(r.val for r in agg if r.i == -1 and r.j == -1)
    mean = np.zeros(dim)
    gram = np.zeros((dim, dim))
    for r in agg:
        if r.i >= 0 and r.j == -1:
            mean[r.i] = r.val / n
        elif r.i >= 0 and r.j >= 0:
            gram[r.i, r.j] = r.val
    cov = gram / n - np.outer(mean, mean)
    eigvals, eigvecs = np.linalg.eigh(cov)  # ascending
    comps = eigvecs[:, ::-1][:, :n_components]  # top components, (dim, k)
    # deterministic sign: force the largest-|coordinate| entry positive
    for c in range(n_components):
        j = int(np.argmax(np.abs(comps[:, c])))
        if comps[j, c] < 0:
            comps[:, c] = -comps[:, c]

    centered = F.zip_with(
        F.col(vec_col).cast("array<double>"),
        F.array(*[F.lit(float(x)) for x in mean]),
        lambda x, m: x - m,
    )
    out_cols = [
        F.round(
            dot(centered, F.array(*[F.lit(float(x)) for x in comps[:, c]])), 6
        ).alias(f"pc{c + 1}")
        for c in range(n_components)
    ]
    return corpus.select(F.col(id_col), *out_cols)


def cosine_cluster_assign(
    corpus: DataFrame,
    centroids_df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact nearest-centroid assignment, fully JVM-side — the
    oracle-checkable twin of ``ivf_assign``'s Arrow kernel (numpy BLAS
    matmuls reorder float accumulation; the ``dot``/``norm`` fold here
    accumulates in index order, matching SQL engines bit-for-bit, which
    is what lets a DuckDB oracle hash-verify the quantizer semantics).

    ``centroids_df`` must be model-sized (centroid_id, c_vec): it rides
    a broadcast, so the per-vector cost is k cosines; the argmax is a
    ``max_by`` AGGREGATION over a totally-ordered key (sim, then lower
    centroid id) — map-side partials reduce each vector's k scored rows
    to one before the single shuffle, where a window formulation would
    shuffle and sort all k x N rows.

    Output: (vec_id, centroid_id, cosine_sim) — one row per corpus
    vector, deterministic tie-break on the lower centroid id.
    """
    v = corpus.select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).alias("v")
    )
    scored = v.join(F.broadcast(centroids_df)).select(
        "vec_id",
        "centroid_id",
        (dot(F.col("v"), F.col("c_vec")) / (norm(F.col("v")) * norm(F.col("c_vec")))).alias("sim"),
    )
    # total order per vector: higher sim wins, ties to the LOWER
    # centroid id (negate it inside the comparison struct)
    key = F.struct(F.col("sim"), (-F.col("centroid_id")).alias("_nc"))
    return scored.groupBy("vec_id").agg(
        F.expr("max_by(centroid_id, struct(sim, -centroid_id))").alias("centroid_id"),
        F.round(F.max(key).getField("sim"), 6).alias("cosine_sim"),
    )


def semantic_dedup(
    corpus: DataFrame,
    centroids_df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): cluster the corpus by nearest centroid, find
    near-duplicate pairs WITHIN clusters only, and keep one
    representative per near-dup neighborhood.

    Composition of two proven kernels — ``cosine_cluster_assign``
    (broadcast centroids, max_by argmax) buckets the corpus, then
    ``embedding_neardup_pairs(bucket_col=...)`` bounds pair generation
    to intra-cluster comparisons; the global all-pairs O(N^2) never
    appears in the plan, which is the property that makes SemDeDup
    viable at corpus scale (pairs are |cluster|^2-bounded, clusters are
    k-bounded slices of the shuffle).

    Keep rule (deterministic, local): for every near-dup pair the
    vector with LOWER (centroid_sim, then higher id) is dropped. A
    greedy pairwise rule rather than connected components: one
    aggregation instead of an iterative join loop. Guarantee: within
    every connected component of the dup graph the max-priority member
    survives (nobody outranks it), so no neighborhood is wiped out;
    along priority chains intermediate members may drop even when their
    only direct partner also dropped — same as SemDeDup's greedy
    per-neighborhood keep.

    Output: one row per corpus vector —
    (vec_id, centroid_id, centroid_sim, dup_neighbors, kept 0/1).
    """
    assign = cosine_cluster_assign(
        corpus, centroids_df, id_col=id_col, vec_col=vec_col
    ).select(
        "vec_id", "centroid_id", F.col("cosine_sim").alias("centroid_sim")
    )
    # materialize the assignment (SemDeDup's own first stage is a stored
    # cluster-assignment table): the subtree otherwise re-executes for
    # each pair side and the final output — 3 scans of the k-cosine agg
    assign = assign.cache()

    v = corpus.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).alias("vec"),
        norm(F.col(vec_col)).alias("n"),
    ).join(assign, "vec_id")
    a, b = v.alias("a"), v.alias("b")
    # pair join carries BOTH sides' centroid_sim — no post-hoc joins
    pairs = (
        a.join(
            b,
            (F.col("a.centroid_id") == F.col("b.centroid_id"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("id_a"),
            F.col("b.vec_id").alias("id_b"),
            F.col("a.centroid_sim").alias("csim_a"),
            F.col("b.centroid_sim").alias("csim_b"),
            F.round(
                dot(F.col("a.vec"), F.col("b.vec")) / (F.col("a.n") * F.col("b.n")),
                6,
            ).alias("cosine_sim"),
        )
        .filter(F.col("cosine_sim") >= threshold)
    )
    # the pair join + per-pair dots is the dominant stage and feeds two
    # consumers (drops, degree) — materialize it once
    pairs = pairs.cache()
    a_wins = (F.col("csim_a") > F.col("csim_b")) | (
        (F.col("csim_a") == F.col("csim_b")) & (F.col("id_a") < F.col("id_b"))
    )
    drops = pairs.select(
        F.when(a_wins, F.col("id_b")).otherwise(F.col("id_a")).alias("vec_id")
    ).distinct()
    degree = (
        pairs.select(F.col("id_a").alias("vec_id"))
        .unionAll(pairs.select(F.col("id_b").alias("vec_id")))
        .groupBy("vec_id")
        .agg(F.count("*").cast("bigint").alias("dup_neighbors"))
    )
    return (
        assign.join(degree, "vec_id", "left")
        .join(drops.withColumn("__drop", F.lit(1)), "vec_id", "left")
        .select(
            "vec_id",
            "centroid_id",
            "centroid_sim",
            F.coalesce(F.col("dup_neighbors"), F.lit(0)).cast("bigint").alias(
                "dup_neighbors"
            ),
            F.when(F.col("__drop") == 1, F.lit(0))
            .otherwise(F.lit(1))
            .cast("bigint")
            .alias("kept"),
        )
    )
