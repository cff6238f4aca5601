"""Similarity search over ``array<float>`` embedding columns.

  * brute_force_topk — exact cosine top-k of each query against the corpus.
    Baseline / verification path: broadcast the (small) query set, one pass
    over the corpus, per-query top-k window.  Corpus is never self-joined.
  * lsh_topk — random-hyperplane LSH bucketing: queries only meet corpus
    vectors sharing a signature bucket (multi-probe via several tables).
    The 100 TB path: shuffle cost ∝ bucket collisions, not |corpus|×|queries|.
  * ivf_topk — IVF coarse quantizer (spherical k-means trained map-reduce
    style) + nprobe cell probing — the second ANN scale path (FAISS shape).
  * cosine_neardup_pairs — embedding near-duplicate pairs via the same LSH
    tables + exact cosine verification.

Dot products run JVM-side (zip_with/aggregate) by default; for wide vectors
or many queries the ``method="pandas"`` paths switch to Arrow-batched numpy
matmuls with identical outputs.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from imgfact_spark.functions.vectors import cosine_sim
from imgfact_spark.operators.topk import topk_per_group
from imgfact_spark.operators.util import ensure_parallelism, snapshot

# The query relation is broadcast (and, for brute force, collected) under a
# documented small-query contract.  Above this row count the plan flips to
# shuffle joins keyed on the probe/bucket/query-id columns instead of
# silently OOMing the executors with an over-sized broadcast.  200k rows ×
# a 64-float vector ≈ 110 MB serialized — the upper end of what a healthy
# executor broadcast should carry.
DEFAULT_MAX_BROADCAST_QUERIES = 200_000


def _query_side(df: DataFrame, n_queries: int, limit: int) -> DataFrame:
    """Broadcast the query-derived relation when it is contract-small;
    return it unhinted (→ shuffle hash join on the join keys) otherwise."""
    return F.broadcast(df) if n_queries <= limit else df


def _probe_n_queries(
    queries: DataFrame, limit: int, n_queries: "int | None"
) -> int:
    """Size of the query relation for the broadcast-vs-shuffle decision.

    The decision only needs to know whether the relation exceeds ``limit``,
    so the probe job is bounded with ``limit(limit+1)`` instead of a full
    count — an expensive uncached query lineage stops at limit+1 rows
    instead of being executed twice in full.  Callers that already know the
    size pass ``n_queries`` and no probe job runs at all."""
    if n_queries is not None:
        return n_queries
    return queries.limit(limit + 1).count()


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    method: str = "column",
    max_broadcast_queries: int = DEFAULT_MAX_BROADCAST_QUERIES,
    n_queries: "int | None" = None,
) -> DataFrame:
    """Exact cosine top-k: queries × corpus scan → window top-k.

    ``column``: broadcast-join + zip_with/aggregate dot products (JVM-side,
    no Python; right default for narrow vectors / few queries).
    ``pandas``: the query matrix is closed over into ONE Arrow-batched
    mapInPandas kernel doing a numpy ``(batch, dim) @ (dim, n_q)`` matmul —
    BLAS beats codegen once n_q × dim is a few thousand mults per row.

    CONTRACT: brute force scores every query against every corpus row — the
    query relation must be broadcast/collect-small.  A query set above
    ``max_broadcast_queries`` raises (there is no join key a shuffle could
    use; the cross product itself is the wrong algorithm at that size — use
    ``lsh_topk`` / ``ivf_topk``, which shuffle on bucket/cell keys instead).

    Output: (query_id, vec_id, cosine, rank) — identical for both methods
    (tests/test_similarity.py pins them together).
    """
    n_q = _probe_n_queries(queries, max_broadcast_queries, n_queries)
    if n_q > max_broadcast_queries:
        raise ValueError(
            f"brute_force_topk: >{max_broadcast_queries} queries exceeds the broadcast-small "
            f"query contract ({max_broadcast_queries}); every query meets "
            "every corpus row, so a large query set needs a bucketed ANN "
            "plan — use lsh_topk or ivf_topk (their shuffle fallback "
            "handles large query relations), or raise max_broadcast_queries "
            "explicitly if the executors can hold the broadcast."
        )
    if method == "pandas":
        import numpy as np
        import pandas as pd

        qrows = queries.select(query_id_col, vec_col).collect()
        qids = np.array([r[query_id_col] for r in qrows])
        qmat = np.vstack([np.asarray(r[vec_col], dtype="float64") for r in qrows])
        qnorm = np.linalg.norm(qmat, axis=1)
        qnorm[qnorm == 0] = 1.0
        qt = (qmat / qnorm[:, None]).T  # (dim, n_q), pre-normalized

        def score(batches):
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                m = np.vstack(pdf[vec_col].to_numpy()).astype("float64")
                nrm = np.linalg.norm(m, axis=1)
                nrm[nrm == 0] = 1.0
                cos = np.round((m / nrm[:, None]) @ qt, 6)  # (batch, n_q)
                n, nq = cos.shape
                yield pd.DataFrame(
                    {
                        query_id_col: np.tile(qids, n),
                        id_col: np.repeat(pdf[id_col].to_numpy(), nq),
                        "cosine": cos.ravel(),
                    }
                )

        scored = ensure_parallelism(corpus.select(id_col, vec_col)).mapInPandas(
            score, schema=f"{query_id_col} long, {id_col} long, cosine double"
        )
    else:
        q = queries.select(
            F.col(query_id_col), F.col(vec_col).alias("_qvec")
        )
        scored = (
            ensure_parallelism(corpus.select(id_col, vec_col))
            .join(F.broadcast(q))
            .withColumn("cosine", F.round(cosine_sim(vec_col, "_qvec"), 6))
            .drop("_qvec", vec_col)
        )
    return topk_per_group(
        scored,
        keys=[query_id_col],
        order_by=[F.desc("cosine")],
        k=k,
        tiebreak=[id_col],
    )


def _table_planes(dim: int, n_planes: int, n_tables: int, seed: int) -> np.ndarray:
    """(n_tables*n_planes, dim) plane matrix; table t's block is exactly
    ``RandomState(seed+t).standard_normal((n_planes, dim))`` so multi-table
    signatures are bit-identical to per-table calls."""
    return np.vstack(
        [
            np.random.RandomState(seed + t).standard_normal((n_planes, dim))
            for t in range(n_tables)
        ]
    ).astype("float64")


def hyperplane_signatures(
    df: DataFrame,
    vec_col: str,
    dim: int,
    n_planes: int = 16,
    n_tables: int = 1,
    seed: int = 42,
    out_col: str = "lsh_sigs",
    method: str = "auto",
) -> DataFrame:
    """Random-hyperplane (SRP) signatures for ALL ``n_tables`` hash tables
    in ONE pass over ``df``: ``out_col`` is an ``array<long>`` of length
    ``n_tables`` where element t's bit i = sign(v · h_{t,i}).

    One projection (one matmul / one expression tree) instead of n_tables
    separate scans — callers explode the array, so the corpus is read once
    regardless of table count.  Two execution paths with identical results:

      * ``column`` — JVM-side zip_with/aggregate per plane.  No Python, no
        shuffle; fine for a handful of planes × small dim, but codegen cost
        grows as n_tables·n_planes·dim expressions per row.
      * ``pandas`` — one Arrow-batched pandas UDF doing a single numpy
        ``(batch, dim) @ (dim, n_tables*n_planes)`` matmul per batch — the
        vectorized model-kernel shape (BLAS, zero per-row Python).

    ``auto`` picks pandas when n_tables*n_planes*dim ≥ 512.
    """
    planes = _table_planes(dim, n_planes, n_tables, seed)
    if method == "auto":
        method = "pandas" if n_tables * n_planes * dim >= 512 else "column"

    if method == "column":
        sigs = []
        for t in range(n_tables):
            sig = F.lit(0).cast("long")
            for i in range(n_planes):
                plane = F.array(
                    *[F.lit(float(x)) for x in planes[t * n_planes + i]]
                )
                dot = F.aggregate(
                    F.zip_with(F.col(vec_col), plane, lambda a, b: a * b),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                )
                sig = sig.bitwiseOR(
                    F.when(
                        dot > 0, F.shiftleft(F.lit(1).cast("long"), i)
                    ).otherwise(F.lit(0).cast("long"))
                )
            sigs.append(sig)
        return df.withColumn(out_col, F.array(*sigs))

    planes_t = planes.T  # (dim, n_tables*n_planes)
    nt, npl = n_tables, n_planes

    @F.pandas_udf("array<long>")
    def sig_udf(v: pd.Series) -> pd.Series:
        if len(v) == 0:
            return pd.Series([], dtype="object")
        mat = np.vstack(v.to_numpy())  # (batch, dim) float
        bits = mat.astype("float64") @ planes_t > 0  # (batch, nt*npl)
        out = np.zeros((len(v), nt), dtype=np.int64)
        for t in range(nt):
            for i in range(npl):
                out[:, t] |= bits[:, t * npl + i].astype(np.int64) << i
        return pd.Series(list(out))

    return df.withColumn(out_col, sig_udf(F.col(vec_col)))


def hyperplane_signature(
    df: DataFrame,
    vec_col: str,
    dim: int,
    n_planes: int = 16,
    seed: int = 42,
    out_col: str = "lsh_sig",
    method: str = "auto",
) -> DataFrame:
    """Single-table SRP signature (see hyperplane_signatures)."""
    return hyperplane_signatures(
        df, vec_col, dim, n_planes, 1, seed, "_sigs1", method
    ).withColumn(out_col, F.col("_sigs1")[0]).drop("_sigs1")


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    n_planes: int = 12,
    n_tables: int = 4,
    seed: int = 42,
    method: str = "auto",
    max_broadcast_queries: int = DEFAULT_MAX_BROADCAST_QUERIES,
    n_queries: "int | None" = None,
) -> DataFrame:
    """Approximate top-k: candidates = corpus vectors sharing an LSH bucket
    with the query in ANY of ``n_tables`` hash tables; exact cosine + top-k
    on candidates only.

    All table signatures are emitted in one projection and exploded to
    (table, sig) rows, so the corpus is scanned ONCE regardless of
    ``n_tables`` (round-1 looped n_tables separate scans).

    The query-derived relations broadcast while the query set is under
    ``max_broadcast_queries``; above it the plan degrades gracefully to
    shuffle hash joins keyed on (table, signature) for the bucket probe and
    on the query id for the rerank — no driver/executor materialization of
    the query set, so a 10^7-query batch job plans instead of OOMing.

    ``method="column"`` forces sequential JVM dot products — bit-identical
    to DuckDB's list_dot_product, which is what the oracle-checked driver
    query uses; ``auto``/``pandas`` pick the BLAS kernel for throughput."""
    n_q = _probe_n_queries(queries, max_broadcast_queries, n_queries)
    c = ensure_parallelism(corpus.select(id_col, vec_col))
    q = queries.select(query_id_col, F.col(vec_col).alias("_qvec"))
    cexp = hyperplane_signatures(
        c, vec_col, dim, n_planes, n_tables, seed, method=method
    ).select(id_col, vec_col, F.posexplode("lsh_sigs").alias("_t", "_sig"))
    qexp = hyperplane_signatures(
        q.select(query_id_col, F.col("_qvec").alias(vec_col)),
        vec_col, dim, n_planes, n_tables, seed, method=method,
    ).select(query_id_col, F.posexplode("lsh_sigs").alias("_t", "_sig"))
    cand = (
        cexp.join(_query_side(qexp, n_q, max_broadcast_queries), ["_t", "_sig"])
        .select(query_id_col, id_col, vec_col)
        .dropDuplicates([query_id_col, id_col])
    )
    scored = (
        cand.join(_query_side(q, n_q, max_broadcast_queries), query_id_col)
        .withColumn("cosine", F.round(cosine_sim(vec_col, "_qvec"), 6))
        .drop("_qvec", vec_col)
    )
    return topk_per_group(
        scored, keys=[query_id_col], order_by=[F.desc("cosine")], k=k, tiebreak=[id_col]
    )


def ivf_train_centroids(
    corpus: DataFrame,
    dim: int,
    n_cells: int = 64,
    n_iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    deterministic: bool = False,
    prepared: bool = False,
    max_driver_train_elements: int = 200_000 * 64,
) -> np.ndarray:
    """Spherical k-means coarse quantizer for IVF (the second ANN scale
    path next to LSH; FAISS-style IVF over a DataFrame).

    ``prepared=True``: the caller passes an already-materialized
    (id, vec) projection (ivf_topk / semantic_dedup share ONE snapshot
    across init scan, Lloyd iterations and final cell assignment) — skip
    the internal projection + snapshot.

    Fast mode trains DRIVER-SIDE when the corpus fits
    ``max_driver_train_elements`` vector elements (rows × ``dim``; the
    default 200k × 64 floats ≈ 110 MB is the broadcast-small query
    contract, so a 1024-d corpus trains on the driver only up to 12.5k
    rows): coarse-quantizer training is the one
    stage whose input is routinely sample-sized — FAISS trains IVF on a
    driver/GPU sample even for billion-vector indexes — and the
    distributed loop's n_iters sequential job barriers (assign → explode →
    agg → collect per iteration) are pure scheduling latency at that size.
    One bounded collect replaces n_iters+2 jobs; same init policy (md5
    key order), same argmax assignment, same mean recentre — values equal
    up to float associativity, exactly the fast path's existing contract.
    Above the bound (or with ``deterministic=True``, the oracle path —
    bitwise-pinned to the map-reduce plan) the distributed loop runs
    unchanged; at true corpus scale pass a sample, as every IVF build
    does.

    Deterministic: init = the ``n_cells`` corpus vectors with the smallest
    md5(seed, id) keys; Lloyd iterations assign by max cosine (normalized
    dot) and recentre with exact per-dimension means via posexplode + avg —
    each iteration is ONE pass over the corpus plus an
    ``n_cells × dim``-row aggregate (driver-sized), the standard
    map-reduce k-means shape that survives any corpus size.
    Returns the (n_cells, dim) L2-normalized centroid matrix.

    ``deterministic=True`` makes the result BITWISE-reproducible regardless
    of partitioning or merge order (and exactly replicable in numpy —
    :func:`ivf_train_centroids_numpy` — which is what lets the driver query
    inject the trained centroids into a DuckDB oracle as literals):
    assignment uses sequential JVM fold dots instead of BLAS, and the
    recentre means fold each (cell, pos) value list in SORTED order, so the
    float sum no longer depends on partial-aggregation order.  The sorted
    fold collects per-group values, so this mode is for oracle/test scale;
    the default map-reduce partial-sum path is the 100 TB one.
    """
    method = "column" if deterministic else "pandas"
    # Materialize the (id, vec) projection ONCE: the init scan and every
    # Lloyd iteration are full passes over it, and the un-snapshotted
    # lineage re-ran the source scan + the ensure_parallelism repartition
    # per pass (n_iters + 2 scans and shuffles of the vectors).  k-means
    # training input is the classic cache candidate (guide §5: reused AND
    # expensive to recompute); the materialized relation is the pruned
    # (id, vec) projection only.
    proj = corpus if prepared else corpus.select(id_col, vec_col)
    if not deterministic:
        # bounded probe-collect: ≤ max_rows+1 rows (≤ the element bound
        # plus one row) ever reach the driver; a corpus past the bound
        # falls through to the distributed loop.
        # Arrow transfer (toPandas), NOT collect(): row-based collect of
        # 150k array<float> rows measured ~30 s of pure driver
        # deserialization — more than the whole distributed loop — while
        # the Arrow path moves the same batch in ~1 s (guide §6 "Arrow
        # for driver transfers").  The probe runs BEFORE any snapshot so
        # the driver-trained common case never pays a corpus
        # materialization it would not reuse.
        max_rows = max_driver_train_elements // dim
        pdf = proj.select(id_col, vec_col).limit(max_rows + 1).toPandas()
        if len(pdf) == 0:
            raise ValueError("ivf_train_centroids: empty corpus")
        if len(pdf) <= max_rows:
            ids = pdf[id_col].tolist()
            mat = np.vstack(pdf[vec_col].to_numpy()).astype("float64")
            return _train_centroids_numpy_fast(ids, mat, n_cells, n_iters, seed)
    # deterministic or above-bound: the init scan + every Lloyd pass reads
    # the projection — materialize it once (see docstring)
    c = proj if prepared else snapshot(ensure_parallelism(proj))
    key = F.md5(F.concat_ws("\x1f", F.lit(str(seed)), F.col(id_col).cast("string")))
    init_rows = (
        c.select(vec_col, key.alias("_k"))
        .orderBy("_k")
        .limit(n_cells)
        .collect()
    )
    if not init_rows:
        raise ValueError("ivf_train_centroids: empty corpus")
    # tiny corpora degrade gracefully: fewer cells than requested
    cents = np.vstack([np.asarray(r[vec_col], dtype="float64") for r in init_rows])
    norms = np.linalg.norm(cents, axis=1, keepdims=True)
    norms[norms == 0] = 1.0
    cents = cents / norms

    for _ in range(n_iters):
        assigned = _assign_cells(c, cents, vec_col, method=method)
        vals = assigned.select("_cell", F.posexplode(vec_col).alias("_pos", "_x"))
        if deterministic:
            stats = vals.groupBy("_cell", "_pos").agg(
                F.aggregate(
                    F.sort_array(F.collect_list("_x")),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                ).alias("_s"),
                F.count("*").alias("_n"),
            ).collect()
        else:
            stats = vals.groupBy("_cell", "_pos").agg(
                F.sum("_x").alias("_s"), F.count("*").alias("_n")
            ).collect()
        new = cents.copy()
        acc = {}
        for r in stats:
            acc.setdefault(r["_cell"], np.zeros(dim))[r["_pos"]] = r["_s"] / r["_n"]
        for cell, vec in acc.items():
            n = np.linalg.norm(vec)
            if n > 0:
                new[cell] = vec / n
        cents = new
    return cents


def _train_centroids_numpy_fast(
    ids, mat: np.ndarray, n_cells: int, n_iters: int, seed: int
) -> np.ndarray:
    """Driver-side Lloyd loop for the FAST (non-deterministic) path —
    semantics mirror the distributed fast plan exactly: md5-key init
    (identical keys to the Spark expression), assignment = stable argmax
    of normalized-vector · centroid (the pandas `_assign_cells` kernel),
    recentre = mean of the RAW member vectors, empty cells keep their
    centroid.  Values equal up to float associativity (BLAS vs
    partial-sum merge order) — the fast path's existing contract.  Not
    the oracle twin: that is :func:`ivf_train_centroids_numpy`, which
    pins the deterministic sorted-fold plan bitwise."""
    import hashlib

    keys = [
        hashlib.md5(f"{seed}\x1f{i}".encode()).hexdigest() for i in ids
    ]
    order = sorted(range(len(keys)), key=lambda j: keys[j])[:n_cells]
    cents = mat[order].astype("float64").copy()
    norms = np.linalg.norm(cents, axis=1, keepdims=True)
    norms[norms == 0] = 1.0
    cents = cents / norms
    nrm = np.linalg.norm(mat, axis=1, keepdims=True)
    nrm[nrm == 0] = 1.0
    mn = mat / nrm
    for _ in range(n_iters):
        cells = np.argmax(mn @ cents.T, axis=1)  # first max == pandas kernel
        new = cents.copy()
        for cell in np.unique(cells):
            vec = mat[cells == cell].mean(axis=0)
            n = np.linalg.norm(vec)
            if n > 0:
                new[cell] = vec / n
        cents = new
    return cents


def ivf_train_centroids_numpy(
    ids: np.ndarray,
    mat: np.ndarray,
    n_cells: int = 64,
    n_iters: int = 3,
    seed: int = 42,
) -> np.ndarray:
    """Exact numpy replica of ``ivf_train_centroids(deterministic=True)``:
    same md5 init, sequential-fold dots (``cumsum`` IS the left fold), and
    sorted sequential-fold means — bitwise-equal centroids.  Used by the
    s_ivf_topk oracle builder to embed the trained centroids as SQL
    literals without a SparkSession, and by tests to pin the two paths."""
    import hashlib

    keys = [
        hashlib.md5(f"{seed}\x1f{i}".encode()).hexdigest() for i in ids.tolist()
    ]
    order = sorted(range(len(keys)), key=lambda j: keys[j])[:n_cells]
    cents = mat[order].astype("float64").copy()
    norms = np.linalg.norm(cents, axis=1, keepdims=True)
    norms[norms == 0] = 1.0
    cents = cents / norms

    m = mat.astype("float64")
    dim = m.shape[1]
    for _ in range(n_iters):
        # sequential left-fold dot: cumsum of elementwise products
        dots = np.cumsum(m[:, None, :] * cents[None, :, :], axis=2)[:, :, -1]
        cells = np.argmax(dots, axis=1)  # first max == smallest index tie-break
        new = cents.copy()
        for cell in np.unique(cells):
            sub = m[cells == cell]
            vec = np.zeros(dim)
            for pos in range(dim):
                vals = np.sort(sub[:, pos])
                vec[pos] = np.cumsum(vals)[-1] / len(vals)
            n = np.linalg.norm(vec)
            if n > 0:
                new[cell] = vec / n
        cents = new
    return cents


def _cell_rank_array(vec_col: str, centroids: np.ndarray):
    """Column expression: array of cell indices ordered by descending
    sequential-fold dot(v, centroid) with index tie-break — the JVM twin of
    DuckDB ``list_sort([{d: -list_dot_product(v, C_i), i: i}, ...])``."""
    structs = []
    for i, cent in enumerate(centroids):
        arr = F.array(*[F.lit(float(x)) for x in cent])
        dot = F.aggregate(
            F.zip_with(F.col(vec_col), arr, lambda a, b: a * b),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        structs.append(
            F.struct((-dot).alias("d"), F.lit(i).cast("int").alias("i"))
        )
    return F.transform(F.sort_array(F.array(*structs)), lambda x: x["i"])


def _assign_cells(
    df: DataFrame, centroids: np.ndarray, vec_col: str, method: str = "pandas"
) -> DataFrame:
    """df + ``_cell`` = argmax cosine against the (broadcast-closed-over)
    centroid matrix.  ``pandas``: one Arrow-batched BLAS matmul per batch
    (the throughput path).  ``column``: sequential JVM fold dots, bitwise
    reproducible and DuckDB-replicable (argmax over raw dots — positive
    scaling by 1/||v|| never changes the argmax, so normalization is
    skipped)."""
    if method == "column":
        return df.withColumn(
            "_cell", _cell_rank_array(vec_col, centroids)[0]
        )
    ct = centroids.T  # (dim, n_cells)

    @F.pandas_udf("int")
    def cell_udf(v: pd.Series) -> pd.Series:
        if len(v) == 0:
            return pd.Series([], dtype="int32")
        mat = np.vstack(v.to_numpy()).astype("float64")
        nrm = np.linalg.norm(mat, axis=1, keepdims=True)
        nrm[nrm == 0] = 1.0
        return pd.Series(np.argmax((mat / nrm) @ ct, axis=1).astype("int32"))

    return df.withColumn("_cell", cell_udf(F.col(vec_col)))


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    n_cells: int = 64,
    nprobe: int = 8,
    n_iters: int = 3,
    seed: int = 42,
    method: str = "pandas",
    deterministic: bool = False,
    max_broadcast_queries: int = DEFAULT_MAX_BROADCAST_QUERIES,
    n_queries: "int | None" = None,
) -> DataFrame:
    """IVF approximate top-k: corpus vectors live in their nearest-centroid
    cell; each query probes its ``nprobe`` nearest cells and reranks those
    candidates exactly — shuffle cost ∝ probed-cell sizes, not
    |corpus|×|queries| (the FAISS IVF shape re-expressed as a cell equi-join).

    Probe assignment is DISTRIBUTED: the same closed-over centroid matrix
    that assigns corpus cells scores every query batch, taking the
    top-``nprobe`` per query (round-2 ran a driver-side Python loop over
    ``queries.collect()`` — the one undistributed compute in the ANN tier;
    at 10^6 queries that materialized every vector on the driver).  The
    probe relation inherits the query id's type from ``queries`` itself, so
    non-long ids work.

    The probe and rerank relations broadcast under ``max_broadcast_queries``
    query rows; above it they join by shuffle instead — keyed on the cell
    id for the probe and the query id for the rerank — so arbitrarily large
    query batches get a plan change, not an executor OOM.

    ``method="pandas"`` (default): Arrow-batched BLAS matmuls for cell
    assignment and probing.  ``method="column"`` + ``deterministic=True``:
    sequential JVM fold dots everywhere and order-independent training —
    bitwise-replicable in DuckDB with the trained centroids as literals
    (the oracle-checked driver query s_ivf_topk).
    """
    # ONE materialized (id, vec) projection feeds the init scan, every
    # training iteration AND the final cell assignment — the previous
    # lineage re-scanned + re-repartitioned the source per pass.
    c0 = snapshot(ensure_parallelism(corpus.select(id_col, vec_col)))
    cents = ivf_train_centroids(
        c0, dim, n_cells, n_iters, id_col, vec_col, seed,
        deterministic=deterministic, prepared=True,
    )
    assigned = snapshot(_assign_cells(c0, cents, vec_col, method=method))

    nprobe_eff = min(nprobe, len(cents))
    if method == "column":
        probes = (
            queries.select(query_id_col, vec_col)
            .withColumn(
                "_cells",
                F.slice(_cell_rank_array(vec_col, cents), 1, nprobe_eff),
            )
            .select(query_id_col, F.explode("_cells").alias("_cell"))
        )
    else:
        ct = cents.T  # (dim, n_cells)

        @F.pandas_udf("array<int>")
        def probe_udf(v: pd.Series) -> pd.Series:
            if len(v) == 0:
                return pd.Series([], dtype="object")
            mat = np.vstack(v.to_numpy()).astype("float64")
            nrm = np.linalg.norm(mat, axis=1, keepdims=True)
            nrm[nrm == 0] = 1.0
            sims = (mat / nrm) @ ct  # (batch, n_cells)
            order = np.argsort(-sims, axis=1, kind="stable")[:, :nprobe_eff]
            return pd.Series([row.astype("int32") for row in order])

        probes = (
            queries.select(query_id_col, vec_col)
            .withColumn("_cells", probe_udf(F.col(vec_col)))
            .select(query_id_col, F.explode("_cells").alias("_cell"))
        )

    n_q = _probe_n_queries(queries, max_broadcast_queries, n_queries)
    q = queries.select(query_id_col, F.col(vec_col).alias("_qvec"))
    cand = (
        assigned.join(_query_side(probes, n_q, max_broadcast_queries), "_cell")
        .select(query_id_col, id_col, vec_col)
        .dropDuplicates([query_id_col, id_col])
    )
    scored = (
        cand.join(_query_side(q, n_q, max_broadcast_queries), query_id_col)
        .withColumn("cosine", F.round(cosine_sim(vec_col, "_qvec"), 6))
        .drop("_qvec", vec_col)
    )
    return topk_per_group(
        scored, keys=[query_id_col], order_by=[F.desc("cosine")], k=k,
        tiebreak=[id_col],
    )


def cosine_neardup_pairs(
    corpus: DataFrame,
    dim: int,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 14,
    n_tables: int = 3,
    seed: int = 42,
    method: str = "auto",
) -> DataFrame:
    """Embedding near-duplicate pairs: bucket self-join over (table, sig)
    → distinct candidate pairs → exact cosine ≥ threshold.

    One corpus scan emits every table's signature (array → posexplode);
    ``snapshot`` materializes the tiny (id, table, sig) relation so the
    self-join does not recompute the signatures (round-1 looped n_tables
    scans of the corpus).  ``method="column"``: sequential JVM dots for
    oracle bit-equality (see lsh_topk)."""
    c = ensure_parallelism(corpus.select(id_col, vec_col))
    sig = snapshot(
        hyperplane_signatures(
            c, vec_col, dim, n_planes, n_tables, seed, method=method
        ).select(id_col, F.posexplode("lsh_sigs").alias("_t", "_sig"))
    )
    l = sig.select(F.col(id_col).alias("id_a"), "_t", "_sig")
    r = sig.select(F.col(id_col).alias("id_b"), "_t", "_sig")
    cand = (
        l.join(r, ["_t", "_sig"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    a = corpus.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("_va"))
    b = corpus.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("_vb"))
    return (
        cand.join(a, "id_a")
        .join(b, "id_b")
        .withColumn("cosine", F.round(cosine_sim("_va", "_vb"), 6))
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


def semantic_dedup(
    corpus: DataFrame,
    dim: int,
    threshold: float = 0.9,
    n_cells: int = 16,
    n_iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    method: str = "pandas",
    deterministic: bool = False,
    centroids: np.ndarray | None = None,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023, arXiv
    2303.09540): cluster the embedding space with the spherical k-means
    coarse quantizer, then search for τ-similar pairs ONLY within each
    cluster — turning the O(n²) all-pairs cosine scan into Σ O(|cell|²)
    with |cell| ≈ n/k, while catching exactly the pairs a semantic dedup
    wants (near-dups share a cell because the quantizer is trained on the
    same geometry).

    Keep policy (deterministic, partitioning-invariant): a row is DROPPED
    iff some τ-similar neighbor with a smaller ``id_col`` shares its cell;
    ``dup_of`` reports the smallest such neighbor.  (The paper keeps one
    random exemplar per duplicate set; smallest-id is the deterministic
    equivalent — the same representative rule as exact_dedup.)

    Returns (id_col, cell, keep, dup_of).

    Scale shape: centroid training = ``n_iters`` corpus passes + a
    driver-sized (n_cells × dim) aggregate (ivf_train_centroids);
    assignment is a map-only broadcast-closure pass; the pair search is an
    equi-self-join on the cell id — shuffle ∝ corpus rows, compare work
    bounded by the largest cell (AQE skew-split absorbs unbalanced cells;
    raise ``n_cells`` to cap |cell| — the paper runs k ≈ n/100k).  Nothing
    is all-pairs, nothing driver-side.  ``deterministic=True`` +
    ``method='column'`` makes every value (cells, cosines, drops)
    bitwise-replicable in numpy/DuckDB, which is what the driver oracle
    injects as centroid literals.

    Engine extension: the reference dedups by exact media key only
    (composite-key dropDuplicates, SURVEY §2 A5); this is the embedding-
    space near-dup its corpus curation lacks.
    """
    c = ensure_parallelism(corpus.select(id_col, vec_col))
    if centroids is None:
        # shared materialized projection: training passes + final
        # assignment.  With caller-provided centroids the assignment is
        # the projection's ONLY consumer — no snapshot then.
        c = snapshot(c)
        centroids = ivf_train_centroids(
            c, dim, n_cells=n_cells, n_iters=n_iters, id_col=id_col,
            vec_col=vec_col, seed=seed, deterministic=deterministic,
            prepared=True,
        )
    assigned = snapshot(
        _assign_cells(c, centroids, vec_col, method=method).select(
            id_col, vec_col, F.col("_cell").cast("bigint").alias("cell")
        )
    )
    a = assigned.select(
        F.col(id_col).alias("id_a"), "cell", F.col(vec_col).alias("_va")
    )
    b = assigned.select(
        F.col(id_col).alias("id_b"), "cell", F.col(vec_col).alias("_vb")
    )
    pairs = (
        a.join(b, "cell")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("cosine", F.round(cosine_sim("_va", "_vb"), 6))
        .filter(F.col("cosine") >= threshold)
    )
    drops = pairs.groupBy(F.col("id_b").alias(id_col)).agg(
        F.min("id_a").alias("dup_of")
    )
    return (
        assigned.select(id_col, "cell")
        .join(drops, [id_col], "left")
        .select(
            id_col, "cell", F.col("dup_of").isNull().alias("keep"), "dup_of"
        )
    )
