"""Similarity search tests: exactness vs numpy oracle, LSH recall."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from imgfact_spark.operators.similarity import (
    brute_force_topk,
    cosine_neardup_pairs,
    hyperplane_signature,
    lsh_topk,
)

DIM = 16
N = 120


def _vectors(spark):
    rng = np.random.RandomState(7)
    vecs = rng.standard_normal((N, DIM)).astype("float32")
    # plant near-dups: 100+i ≈ i slightly perturbed
    for i in range(5):
        vecs[N - 5 + i] = vecs[i] + rng.standard_normal(DIM).astype("float32") * 0.01
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(N)]
    return (
        spark.createDataFrame(rows, "vec_id long, embedding array<float>"),
        vecs,
    )


def test_brute_force_matches_numpy(spark):
    df, vecs = _vectors(spark)
    q = df.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    got = brute_force_topk(df, q, k=5)
    res = {(r["query_id"], r["rank"]): r["vec_id"] for r in got.collect()}
    v = vecs.astype("float64")
    norms = np.linalg.norm(v, axis=1)
    for qi in range(3):
        cos = (v @ v[qi]) / (norms * norms[qi])
        cos = np.round(cos, 6)
        order = sorted(range(N), key=lambda j: (-cos[j], j))[:5]
        for rank, j in enumerate(order, 1):
            assert res[(qi, rank)] == j, (qi, rank, res[(qi, rank)], j)


def test_hyperplane_signature_paths_agree(spark):
    df, _ = _vectors(spark)
    a = hyperplane_signature(df, "embedding", DIM, 8, 42, "sig", method="column")
    b = hyperplane_signature(df, "embedding", DIM, 8, 42, "sig", method="pandas")
    av = {r["vec_id"]: r["sig"] for r in a.collect()}
    bv = {r["vec_id"]: r["sig"] for r in b.collect()}
    assert av == bv


def test_lsh_topk_recall(spark):
    df, _ = _vectors(spark)
    q = df.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = brute_force_topk(df, q, k=3)
    approx = lsh_topk(df, q, dim=DIM, k=3, n_planes=6, n_tables=6)
    ex = {(r["query_id"], r["vec_id"]) for r in exact.collect()}
    ap = {(r["query_id"], r["vec_id"]) for r in approx.collect()}
    recall = len(ex & ap) / len(ex)
    assert recall >= 0.6, f"LSH recall too low: {recall}"
    # self-match (cosine 1.0) must always be found — a query collides with
    # itself in every table
    for qi in range(5):
        assert (qi, qi) in ap


def test_cosine_neardup_pairs(spark):
    df, _ = _vectors(spark)
    pairs = {
        (r["id_a"], r["id_b"])
        for r in cosine_neardup_pairs(
            df, dim=DIM, threshold=0.98, n_planes=6, n_tables=6
        ).collect()
    }
    found = sum(1 for i in range(5) if (i, N - 5 + i) in pairs)
    assert found >= 4, f"planted near-dups found: {found}/5"


def test_brute_force_pandas_method_parity(spark):
    df, _ = _vectors(spark)
    q = df.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    a = {
        (r["query_id"], r["vec_id"]): (r["cosine"], r["rank"])
        for r in brute_force_topk(df, q, k=4, method="column").collect()
    }
    b = {
        (r["query_id"], r["vec_id"]): (r["cosine"], r["rank"])
        for r in brute_force_topk(df, q, k=4, method="pandas").collect()
    }
    assert a == b


def test_query_size_guard_fallback_identical(spark):
    """Above max_broadcast_queries the ANN plans flip from broadcast-probe
    to shuffle joins (cell/bucket + query-id keys) with IDENTICAL results;
    brute force raises, naming the contract."""
    import pytest

    from imgfact_spark.operators.similarity import ivf_topk

    df, _ = _vectors(spark)
    q = df.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )

    def rows(out):
        return sorted(
            (r["query_id"], r["rank"], r["vec_id"], r["cosine"])
            for r in out.collect()
        )

    # disable Catalyst's size-stat auto-broadcast so any BroadcastExchange
    # in the plan can ONLY come from the operator's explicit hint — that
    # isolates what the guard controls (AQE/Catalyst remain free to pick
    # broadcast from real sizes in production; the guard only stops the
    # operator from FORCING an oversized one)
    orig = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        for fn, kw in (
            (lsh_topk, dict(dim=DIM, k=5, n_planes=6, n_tables=2)),
            (ivf_topk, dict(dim=DIM, k=5, n_cells=8, nprobe=4)),
        ):
            small = fn(df, q, **kw)
            forced = fn(df, q, max_broadcast_queries=0, **kw)
            assert rows(small) == rows(forced), fn.__name__
            small_plan = small._jdf.queryExecution().executedPlan().toString()
            forced_plan = forced._jdf.queryExecution().executedPlan().toString()
            assert "BroadcastExchange" in small_plan, fn.__name__
            assert "BroadcastExchange" not in forced_plan, fn.__name__
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", orig)

    with pytest.raises(ValueError, match="broadcast-small"):
        brute_force_topk(df, q, k=5, max_broadcast_queries=0)


def test_lsh_degenerate_single_bucket_skew(spark):
    """All-identical vectors: the whole corpus collapses into ONE
    (table, signature) bucket — the worst-case bucket skew.  The shuffle
    fallback join must still complete (AQE skew-split owns the oversized
    bucket) and return the exact id-tiebroken top-k."""
    n = 2000
    df = spark.createDataFrame(
        [(i, [1.0] * 8) for i in range(n)], "vec_id long, embedding array<float>"
    )
    q = spark.createDataFrame(
        [(0, [1.0] * 8)], "query_id long, embedding array<float>"
    )
    # exercise the shuffle-join path — the one where bucket skew exists
    out = lsh_topk(df, q, dim=8, k=5, n_planes=6, n_tables=2,
                   max_broadcast_queries=0)
    got = [(r.vec_id, r.cosine) for r in out.collect()]
    assert got == [(i, 1.0) for i in range(5)]  # all cosine 1.0 → id tiebreak
    assert spark.conf.get("spark.sql.adaptive.skewJoin.enabled") == "true"


def test_mean_pool_and_udaf(spark):
    from imgfact_spark.functions.vectors import avg_l2_norm_udaf, mean_pool

    df = spark.createDataFrame(
        [(1, [1.0, 2.0]), (1, [3.0, 4.0]), (2, [6.0, 8.0])],
        "k int, vec array<float>",
    )
    pooled = {r["k"]: r["mean_vec"] for r in mean_pool(df, ["k"], "vec", 2).collect()}
    assert pooled[1] == [2.0, 3.0] and pooled[2] == [6.0, 8.0]
    norms = {
        r["k"]: r["n"]
        for r in df.groupBy("k").agg(avg_l2_norm_udaf("vec").alias("n")).collect()
    }
    assert abs(norms[2] - 10.0) < 1e-9


def test_ivf_topk_recall_and_determinism(spark):
    """IVF probe path: top-1 must be found for every query (near-dup
    planted), overall recall@5 vs brute force is high, and results are
    partitioning-invariant."""
    from imgfact_spark.operators.similarity import ivf_topk

    df, _ = _vectors(spark)
    q = df.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = {
        (r["query_id"], r["vec_id"])
        for r in brute_force_topk(df, q, k=5).collect()
    }
    approx_df = ivf_topk(df, q, dim=DIM, k=5, n_cells=16, nprobe=6)
    approx = {(r["query_id"], r["vec_id"]) for r in approx_df.collect()}
    # the query vector itself (cosine 1.0) must always be retrieved: it
    # lives in the probed-first cell by construction
    for i in range(5):
        assert (i, i) in approx
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.6, f"recall@5 = {recall}"

    b = {
        (r["query_id"], r["vec_id"], r["rank"])
        for r in ivf_topk(
            df.repartition(7), q.repartition(3), dim=DIM, k=5, n_cells=16, nprobe=6
        ).collect()
    }
    a = {(r["query_id"], r["vec_id"], r["rank"]) for r in approx_df.collect()}
    assert a == b


def test_ivf_candidates_bounded_by_probed_cells(spark):
    """nprobe < n_cells ⇒ the rerank never sees the whole corpus."""
    from imgfact_spark.operators.similarity import (
        _assign_cells,
        ivf_train_centroids,
    )

    df, _ = _vectors(spark)
    cents = ivf_train_centroids(df, DIM, n_cells=16, n_iters=2)
    assert cents.shape == (16, DIM)
    # centroids are unit-norm
    assert np.allclose(np.linalg.norm(cents, axis=1), 1.0)
    assigned = _assign_cells(df, cents, "embedding")
    sizes = {r["_cell"]: r["count"] for r in assigned.groupBy("_cell").count().collect()}
    assert sum(sizes.values()) == N
    # probing 6 of 16 cells can only surface those cells' members
    assert max(sizes.values()) < N


def test_quantize_roundtrip_error_bound(spark):
    """int8-style quantization: codes bounded, zero vectors → zeros, and the
    reconstruction cosine stays above the scalar-quantization error bound."""
    from imgfact_spark.functions.vectors import (
        cosine_sim,
        dequantize_vec,
        quantize_vec,
        vec_max_abs,
    )

    df, vecs = _vectors(spark)
    df = df.unionByName(
        spark.createDataFrame([(999, [0.0] * DIM)], "vec_id long, embedding array<float>")
    )
    d = (
        df.select("vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v"))
        .withColumn("ma", vec_max_abs("v"))
        .withColumn("qv", quantize_vec("v"))
        .withColumn("dv", dequantize_vec("qv", "ma"))
        .withColumn("recon", cosine_sim("dv", "v"))
    )
    rows = d.collect()
    for r in rows:
        assert all(-128 <= q <= 127 for q in r["qv"])
        if r["vec_id"] == 999:
            assert all(q == 0 for q in r["qv"])
        else:
            assert r["recon"] > 0.995, (r["vec_id"], r["recon"])


def test_ivf_tiny_corpus_degrades_gracefully(spark):
    """Corpus smaller than n_cells: fewer cells, exact results (every
    vector probed), no crash; empty corpus raises."""
    import pytest

    from imgfact_spark.operators.similarity import ivf_topk, ivf_train_centroids

    rows = [(i, [float(i + j) for j in range(4)]) for i in range(5)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = df.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    cols = ["query_id", "vec_id", "cosine", "rank"]
    got = ivf_topk(df, q, dim=4, k=3, n_cells=64, nprobe=64, n_iters=1).select(*cols)
    exact = brute_force_topk(df, q, k=3).select(*cols)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, exact.collect()))

    empty = spark.createDataFrame([], "vec_id long, embedding array<float>")
    with pytest.raises(Exception):
        ivf_train_centroids(empty, dim=4, n_cells=4)


def test_ivf_deterministic_training_matches_numpy_replica(spark):
    """deterministic=True Spark training must be BITWISE-equal to
    ivf_train_centroids_numpy (the oracle builder's replica): md5 init,
    sequential-fold dots, sorted sequential-fold means."""
    from imgfact_spark.operators.similarity import (
        ivf_train_centroids,
        ivf_train_centroids_numpy,
    )

    df, vecs = _vectors(spark)
    d = df.select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
    )
    got = ivf_train_centroids(d, DIM, n_cells=8, n_iters=3, deterministic=True)
    want = ivf_train_centroids_numpy(
        np.arange(N), vecs.astype("float64"), n_cells=8, n_iters=3
    )
    assert got.shape == want.shape
    assert np.array_equal(got, want), "centroids diverge bitwise"
    # and repartitioning must not change a single bit
    got2 = ivf_train_centroids(
        d.repartition(7), DIM, n_cells=8, n_iters=3, deterministic=True
    )
    assert np.array_equal(got, got2)


def test_ivf_fast_driver_training_matches_distributed_loop(spark):
    """Fast-mode training collects and trains driver-side under the
    max_driver_train_elements contract (r7 job-latency optimization); forcing
    the bound to 0 must take the distributed Lloyd loop, and the two must
    agree to float-associativity tolerance (the fast path's contract) with
    identical cell assignments on the fixture."""
    from imgfact_spark.operators.similarity import (
        _assign_cells,
        ivf_train_centroids,
    )

    df, _ = _vectors(spark)
    fast = ivf_train_centroids(df, DIM, n_cells=8, n_iters=3)
    dist = ivf_train_centroids(
        df, DIM, n_cells=8, n_iters=3, max_driver_train_elements=0
    )
    assert fast.shape == dist.shape
    assert np.allclose(fast, dist, atol=1e-9), "training paths diverge"
    a_fast = {
        r["vec_id"]: r["_cell"]
        for r in _assign_cells(df, fast, "embedding").collect()
    }
    a_dist = {
        r["vec_id"]: r["_cell"]
        for r in _assign_cells(df, dist, "embedding").collect()
    }
    assert a_fast == a_dist


def test_ivf_driver_training_bound_counts_elements(spark, monkeypatch):
    """The driver-side training bound is in vector ELEMENTS, not rows: 20
    rows fit a 200-row × 64-d budget at 64-d, but the same 20 rows at
    1024-d exceed it and must train distributed."""
    from imgfact_spark.operators import similarity

    driver_runs = []
    fast = similarity._train_centroids_numpy_fast
    monkeypatch.setattr(
        similarity,
        "_train_centroids_numpy_fast",
        lambda *a: driver_runs.append(a[1].shape) or fast(*a),
    )
    rng = np.random.RandomState(3)
    bound = 200 * 64
    for dim in (64, 1024):
        rows = [(i, [float(x) for x in rng.standard_normal(dim)]) for i in range(20)]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        cents = similarity.ivf_train_centroids(
            df, dim, n_cells=4, n_iters=1, max_driver_train_elements=bound
        )
        assert cents.shape == (4, dim)
    assert driver_runs == [(20, 64)], "1024-d input above the bound trained on the driver"


def test_ivf_column_mode_matches_pandas_candidates(spark):
    """column-mode ivf_topk (sequential dots, the oracle path) retrieves
    the planted self-match for every query and is partitioning-invariant."""
    from imgfact_spark.operators.similarity import ivf_topk

    df, _ = _vectors(spark)
    d = df.select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
    )
    q = d.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    a = {
        (r["query_id"], r["vec_id"], r["rank"])
        for r in ivf_topk(
            d, q, dim=DIM, k=5, n_cells=8, nprobe=4,
            method="column", deterministic=True,
        ).collect()
    }
    for i in range(5):
        assert (i, i, 1) in a  # self cosine 1.0 ranks first
    b = {
        (r["query_id"], r["vec_id"], r["rank"])
        for r in ivf_topk(
            d.repartition(5), q.repartition(2), dim=DIM, k=5, n_cells=8,
            nprobe=4, method="column", deterministic=True,
        ).collect()
    }
    assert a == b


def test_semantic_dedup_drops_planted_copies(spark):
    """Planted near-copies (ids 115-119 ≈ 0-4) are dropped with dup_of =
    the original; a numpy brute-force twin of the full policy (cell
    assignment + within-cell τ-pairs + min-id drop) agrees row for row;
    partitioning never changes the result."""
    from imgfact_spark.operators.similarity import (
        ivf_train_centroids_numpy,
        semantic_dedup,
    )

    df, vecs = _vectors(spark)
    out = semantic_dedup(
        df, dim=DIM, threshold=0.9, n_cells=6, n_iters=3,
        method="column", deterministic=True,
    )
    got = {r.vec_id: (r.cell, r.keep, r.dup_of) for r in out.collect()}
    assert len(got) == N

    # numpy twin
    ids = np.arange(N)
    m = vecs.astype("float64")
    cents = ivf_train_centroids_numpy(ids, m, n_cells=6, n_iters=3, seed=42)
    cells = np.argmax(m @ cents.T, axis=1)
    norms = np.linalg.norm(m, axis=1)
    dup_of = {}
    for j in range(N):
        for i in range(j):
            if cells[i] != cells[j]:
                continue
            cos = round(m[i] @ m[j] / (norms[i] * norms[j]), 6)
            if cos >= 0.9:
                dup_of.setdefault(j, i)
    for v_id, (cell, keep, d) in got.items():
        assert cell == cells[v_id], v_id
        assert keep == (v_id not in dup_of), v_id
        assert d == dup_of.get(v_id), v_id
    # the 5 planted copies are exactly the drops, each pointing at its twin
    assert {v for v, (_, k, _) in got.items() if not k} == {N - 5 + i for i in range(5)}
    for i in range(5):
        assert got[N - 5 + i][2] == i

    # partitioning invariance
    got2 = {
        r.vec_id: (r.cell, r.keep, r.dup_of)
        for r in semantic_dedup(
            df.repartition(13), dim=DIM, threshold=0.9, n_cells=6, n_iters=3,
            method="column", deterministic=True,
        ).collect()
    }
    assert got2 == got
