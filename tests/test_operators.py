"""Unit tests for the operator library vs plain-Python oracles."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F

from imgfact_spark.operators.balance import oversample_balance
from imgfact_spark.operators.connected_components import connected_components
from imgfact_spark.operators.messy_swap import messy_swap
from imgfact_spark.operators.salted import salted_count
from imgfact_spark.operators.topk import topk_per_group
from imgfact_spark.operators.zip_join import zip_join


def test_topk_per_group(spark):
    rows = [("g1", i, float(i % 7)) for i in range(20)] + [
        ("g2", i, float(i % 3)) for i in range(10)
    ]
    df = spark.createDataFrame(rows, "g string, id int, score double")
    got = topk_per_group(
        df, keys=["g"], order_by=[F.desc("score")], k=3, tiebreak=["id"]
    ).collect()
    pdf = pd.DataFrame(rows, columns=["g", "id", "score"])
    want = set()
    for g, grp in pdf.groupby("g"):
        top = grp.sort_values(["score", "id"], ascending=[False, True]).head(3)
        for rank, (_, r) in enumerate(top.iterrows(), 1):
            want.add((g, int(r["id"]), rank))
    assert {(r["g"], r["id"], r["rank"]) for r in got} == want


def test_topk_prefilter_salt_same_result(spark):
    rows = [("g1", i, float((i * 37) % 50)) for i in range(200)]
    df = spark.createDataFrame(rows, "g string, id int, score double")
    base = topk_per_group(df, ["g"], [F.desc("score")], 5, tiebreak=["id"])
    salted = topk_per_group(
        df, ["g"], [F.desc("score")], 5, tiebreak=["id"], prefilter_salt=4
    )
    assert sorted(map(tuple, base.collect())) == sorted(map(tuple, salted.collect()))


def test_salted_count_matches_plain(spark):
    rows = [(f"k{i % 5}", i) for i in range(1000)]
    df = spark.createDataFrame(rows, "k string, v long")
    got = {r["k"]: r["count"] for r in salted_count(df, ["k"], n_salts=8).collect()}
    plain = {r["k"]: r["count"] for r in df.groupBy("k").count().collect()}
    assert got == plain


def test_salted_count_distinct(spark):
    rows = [(f"k{i % 3}", f"v{i % 10}") for i in range(300)]
    df = spark.createDataFrame(rows, "k string, v string")
    got = {
        r["k"]: r["n"] for r in salted_count(df, ["k"], distinct_on="v", count_col="n").collect()
    }
    plain = {
        r["k"]: r["n"]
        for r in df.groupBy("k").agg(F.countDistinct("v").alias("n")).collect()
    }
    assert got == plain


def test_zip_join_positional(spark):
    left = spark.createDataFrame([(i, f"L{i}") for i in range(50)], "lid int, lval string")
    right = spark.createDataFrame([(i, f"R{i}") for i in range(50)], "rid int, rval string")
    got = zip_join(left, right, left_order=["lid"], right_order=["rid"]).collect()
    assert len(got) == 50
    for r in got:
        assert r["lval"][1:] == r["rval"][1:]  # i-th pairs with i-th


def test_with_position_equals_global_sort(spark):
    """Distributed partition-offset minting == row_number over a global sort,
    exercised with many range partitions and a skewed key distribution."""
    import random

    from imgfact_spark.operators.zip_join import with_position

    rng = random.Random(7)
    rows = [(rng.randrange(10**6), i) for i in range(5000)]
    df = spark.createDataFrame(rows, "k long, payload int").repartition(16)
    got = {
        r["payload"]: r["pos"]
        for r in with_position(df, ["k", "payload"], num_partitions=13).collect()
    }
    expect = {
        payload: pos
        for pos, (_, payload) in enumerate(sorted(rows))
    }
    assert got == expect


def test_with_position_plan_has_no_single_partition_exchange(spark):
    from imgfact_spark.operators.zip_join import with_position

    df = spark.createDataFrame([(i,) for i in range(1000)], "k long")
    plan = (
        with_position(df, ["k"], num_partitions=8)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "SinglePartition" not in plan


def test_connected_components(spark):
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("x", "y"), ("p", "p")], "src string, dst string"
    )
    got = {r["node"]: r["component"] for r in connected_components(edges).collect()}
    assert got["a"] == got["b"] == got["c"] == "a"
    assert got["x"] == got["y"] == "x"
    assert got["p"] == "p"


def test_connected_components_chain(spark):
    # long chain: exercises multi-round convergence
    chain = [(f"n{i:02d}", f"n{i+1:02d}") for i in range(12)]
    edges = spark.createDataFrame(chain, "src string, dst string")
    got = {r["node"]: r["component"] for r in connected_components(edges).collect()}
    assert set(got.values()) == {"n00"}


def test_oversample_balance(spark):
    rows = [("a", i) for i in range(12)] + [("b", i) for i in range(3)]
    df = spark.createDataFrame(rows, "cls string, id int")
    got = oversample_balance(df, "cls").groupBy("cls").count().collect()
    counts = {r["cls"]: r["count"] for r in got}
    # a: factor floor(12/12)=1 → 12; b: floor(12/3)=4 → 12
    assert counts == {"a": 12, "b": 12}


def test_messy_swap_cross_cluster(spark):
    rows = [(f"img{i}", i % 3, i) for i in range(30)]
    df = spark.createDataFrame(rows, "img_path string, cluster_id int, row_id int")
    out = messy_swap(df).collect()
    assert len(out) == 30
    orig_cluster = {f"img{i}": i % 3 for i in range(30)}
    swapped = 0
    for r in out:
        if r["img_path"] != r["img_path_orig"]:
            # swapped-in image must come from a different cluster
            assert orig_cluster[r["img_path"]] != r["cluster_id"]
            swapped += 1
    assert swapped >= 20  # vast majority finds a cross-cluster partner


def test_messy_swap_deterministic(spark):
    rows = [(f"img{i}", i % 2, i) for i in range(20)]
    df = spark.createDataFrame(rows, "img_path string, cluster_id int, row_id int")
    a = sorted(map(tuple, messy_swap(df).collect()))
    b = sorted(map(tuple, messy_swap(df.repartition(7)).collect()))
    assert a == b


def _brute_messy_swap(rows, seed=998244353, max_scan=32):
    """Independent oracle: single global cyclic scan over the md5 order."""
    import hashlib

    def h(rid):
        return hashlib.md5(f"{seed}\x1f{rid}".encode()).hexdigest()

    seq = sorted(rows, key=lambda r: (h(r[2]), r[0], r[1]))
    n = len(seq)
    out = {}
    for i, (img, cl, rid) in enumerate(seq):
        got = img
        for j in range(1, max_scan + 1):
            nimg, ncl, _ = seq[(i + j) % n]
            if ncl != cl:
                got = nimg
                break
        out[rid] = got
    return out


def test_messy_swap_matches_global_cyclic_oracle(spark):
    """Bucketed (B>1) construction == the brute-force global cyclic scan,
    including wrap-around for the tail rows."""
    rows = [(f"img{i}", i % 5, i) for i in range(3000)]
    df = spark.createDataFrame(rows, "img_path string, cluster_id int, row_id int")
    got = {
        r["row_id"]: r["img_path"]
        for r in messy_swap(
            df, key_cols=["row_id"], target_bucket_rows=200
        ).collect()
    }
    assert got == _brute_messy_swap(rows)


def test_messy_swap_long_same_cluster_run_falls_back_to_self(spark):
    """A run longer than max_scan of one cluster: rows deep inside the run
    cannot see a cross-cluster partner and keep their own image (the
    reference's give-up branch) — but single-cluster-only inputs are all
    self."""
    rows = [(f"img{i}", 0, i) for i in range(100)]
    df = spark.createDataFrame(rows, "img_path string, cluster_id int, row_id int")
    out = messy_swap(df, key_cols=["row_id"], max_scan=8).collect()
    assert all(r["img_path"] == r["img_path_orig"] for r in out)


def test_messy_swap_wraparound_tail_finds_head_partner(spark):
    """Two clusters, two rows: with the cyclic wrap each row must take the
    other's image — the round-1 implementation left the tail row on self."""
    rows = [("imgA", 0, 1), ("imgB", 1, 2)]
    df = spark.createDataFrame(rows, "img_path string, cluster_id int, row_id int")
    out = {r["row_id"]: r["img_path"] for r in messy_swap(df, key_cols=["row_id"]).collect()}
    assert out == {1: "imgB", 2: "imgA"}


def test_messy_swap_plan_has_no_global_window(spark):
    """The multi-bucket plan must not contain a single-partition window
    (WindowExec with an empty partition spec shows as 'Window [... ORDER BY'
    without partition columns after a SinglePartition exchange)."""
    rows = [(f"img{i}", i % 3, i) for i in range(2000)]
    df = spark.createDataFrame(rows, "img_path string, cluster_id int, row_id int")
    plan = messy_swap(
        df, key_cols=["row_id"], target_bucket_rows=200
    )._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" not in plan


def _visual_relation_ratio_two_agg(visual_triples, all_triples, min_total):
    """Reference two-aggregation form of the visual relation ratio
    (gen_visual_relations.py:16-31): → (p, vis_count, all_count, ratio)."""
    vis = visual_triples.groupBy("p").agg(F.count("*").alias("vis_count"))
    alln = all_triples.groupBy("p").agg(F.count("*").alias("all_count"))
    return (
        alln.join(vis, "p", "left")
        .fillna(0, subset=["vis_count"])
        .filter(F.col("all_count") >= min_total)
        .withColumn("ratio", F.round(F.col("vis_count") / F.col("all_count"), 4))
    )


def test_visual_ratio_fused_matches_two_agg_form(spark):
    """relation_filter.visual_relation_ratio_fused (one-pass flags agg)
    must emit exactly the rows of the two-aggregation join form."""
    from imgfact_spark.pipeline import entity_filter, relation_filter

    cand = spark.createDataFrame(
        [
            (f"d{i}", f"e{i % 7}", f"p{i % 3}", f"e{(i * 5) % 7}")
            for i in range(200)
        ],
        "doc_id string, s string, p string, o string",
    )
    visual = spark.createDataFrame(
        [(f"e{i}",) for i in range(5)], "entity string"
    )
    vis_cand = entity_filter.filter_visual_triples(cand, visual)
    want = {
        (r["p"], r["vis_count"], r["all_count"], r["ratio"])
        for r in _visual_relation_ratio_two_agg(vis_cand, cand, min_total=10).collect()
    }
    got = {
        (r["p"], r["vis_count"], r["all_count"], r["ratio"])
        for r in relation_filter.visual_relation_ratio_fused(
            cand, visual, min_total=10
        ).collect()
    }
    assert got == want and len(got) > 0


def test_length_quantiles_exact_matches_numpy(spark):
    """Exact path == numpy type-7 (linear) quantiles per group."""
    import math

    import numpy as np

    from imgfact_spark.operators.stats import length_quantiles

    rows = [(f"g{i % 3}", (i * 37) % 251) for i in range(500)]
    df = spark.createDataFrame(rows, "g string, v long")
    out = {
        r.g: r for r in length_quantiles(df, "v", ["g"], (0.5, 0.9, 0.99)).collect()
    }
    for g in ("g0", "g1", "g2"):
        vals = np.array(sorted(v for gg, v in rows if gg == g), dtype=float)
        assert out[g].n == len(vals)
        assert out[g].mean == math.floor(vals.mean() * 1e6) / 1e6
        for q, col in ((0.5, "q50"), (0.9, "q90"), (0.99, "q99")):
            want = math.floor(float(np.quantile(vals, q)) * 1e6) / 1e6
            assert abs(getattr(out[g], col) - want) <= 1e-6, (g, col)


def test_length_quantiles_approx_within_rank_bound(spark):
    """GK-sketch path returns values inside a +/-5%-rank window around the
    target quantile (the unbounded-domain 100 TB path; not oracle-exact)."""
    import numpy as np

    from imgfact_spark.operators.stats import length_quantiles

    rows = [("g", i) for i in range(2000)]
    df = spark.createDataFrame(rows, "g string, v long")
    out = length_quantiles(
        df, "v", ["g"], (0.5, 0.9, 0.99), method="approx", accuracy=50
    ).collect()[0]
    vals = np.arange(2000, dtype=float)
    for q, col in ((0.5, "q50"), (0.9, "q90"), (0.99, "q99")):
        lo = float(np.quantile(vals, max(q - 0.05, 0.0)))
        hi = float(np.quantile(vals, min(q + 0.05, 1.0)))
        assert lo - 1e-6 <= getattr(out, col) <= hi + 1e-6, col


def test_length_quantiles_distinct_names_no_collision(spark):
    """(0.99, 0.999) get distinct columns (q99/q999) — the two-digit
    truncation used to silently overwrite one with the other — and a
    genuinely colliding spec raises instead of dropping a quantile."""
    import pytest as _pytest

    from imgfact_spark.operators.stats import length_quantiles

    df = spark.createDataFrame([("g", i) for i in range(100)], "g string, v long")
    out = length_quantiles(df, "v", ["g"], (0.5, 0.99, 0.999))
    assert {"q50", "q99", "q999"} <= set(out.columns)
    row = out.collect()[0]
    assert row.q999 >= row.q99 >= row.q50
    with _pytest.raises(ValueError, match="colliding"):
        length_quantiles(df, "v", ["g"], (0.99, 0.99))


# ------------------------------------------------------- co-occurrence lift


def test_cooccurrence_lift_counts_and_value(spark):
    from imgfact_spark.operators.cooccurrence import cooccurrence_lift

    rows = [
        (1, 1), (1, 2), (1, 3),
        (2, 1), (2, 2), (2, 2),  # duplicate membership row must not double-count
        (3, 1), (3, 2), (3, 4),
        (4, 3), (4, 4),
        (5, 1), (5, 5),
    ]
    df = spark.createDataFrame(rows, "g long, i long")
    out = cooccurrence_lift(df, "g", "i", min_pair_count=2, k=10).collect()
    assert len(out) == 1
    r = out[0]
    # (1,2) co-occurs in groups 1,2,3; n_1=4, n_2=3, N=5 -> lift 1.25
    assert (r.item_a, r.item_b, r.n_both, r.n_a, r.n_b) == (1, 2, 3, 4, 3)
    assert r.lift_micros == 1_250_000


def test_cooccurrence_lift_brute_force_ordering(spark):
    from imgfact_spark.operators.cooccurrence import cooccurrence_lift
    import itertools, math

    baskets = {g: {(g * j) % 6 for j in range(1, 4)} for g in range(1, 9)}
    rows = [(g, i) for g, items in baskets.items() for i in items]
    df = spark.createDataFrame(rows, "g long, i long")
    out = [
        (r.item_a, r.item_b, r.n_both, r.n_a, r.n_b, r.lift_micros)
        for r in cooccurrence_lift(df, "g", "i", min_pair_count=1, k=100).collect()
    ]
    n_groups = len(baskets)
    item_c: dict[int, int] = {}
    pair_c: dict[tuple, int] = {}
    for g, items in baskets.items():
        for i in items:
            item_c[i] = item_c.get(i, 0) + 1
        for a, b in itertools.combinations(sorted(items), 2):
            pair_c[(a, b)] = pair_c.get((a, b), 0) + 1
    want = [
        (a, b, c, item_c[a], item_c[b],
         math.floor(float(c) * float(n_groups) / (float(item_c[a]) * float(item_c[b])) * 1000000.0))
        for (a, b), c in pair_c.items()
    ]
    want.sort(key=lambda t: (-t[5], -t[2], t[0], t[1]))
    assert out == want


def test_cooccurrence_lift_caps_heavy_groups(spark):
    from imgfact_spark.operators.cooccurrence import cooccurrence_lift

    rows = [(1, i) for i in range(10)] + [(2, 0), (2, 1)]
    df = spark.createDataFrame(rows, "g long, i long")
    out = cooccurrence_lift(df, "g", "i", min_pair_count=1, k=100,
                            max_items_per_group=2).collect()
    # group 1 truncated to its first two items by id -> only pair (0,1) twice
    assert [(r.item_a, r.item_b, r.n_both) for r in out] == [(0, 1, 2)]


def test_rolling_anomaly_matches_python_twin(spark):
    """rolling_anomaly == an exact-integer python twin (same σ² formula);
    a planted 10× spike hour scores z > 4 while steady hours stay |z| < 3;
    history shorter than min_history yields NULL."""
    import datetime as dt
    import math

    from imgfact_spark.operators.stats import rolling_anomaly

    rows, eid = [], 0
    for h in range(60):                      # 60 hourly buckets
        n = 5 + (h % 3)                      # steady 5..7 events/hour
        if h == 50:
            n = 60                           # planted spike
        for _ in range(n):
            rows.append((eid, dt.datetime(2024, 3, 1) + dt.timedelta(hours=h), "click"))
            eid += 1
    rows.append((eid, None, "click"))  # NULL ts: must never bucket
    ev = spark.createDataFrame(rows, "event_id long, ts timestamp, event_type string")
    got = {
        r.bucket_us: (r.n, r.z)
        for r in rolling_anomaly(
            ev, "ts", ["event_type"], trailing=24, min_history=12
        ).collect()
    }
    assert len(got) == 60 and None not in got

    # twin: exact integer window sums, identical double formula
    counts = [(h, 60 if h == 50 else 5 + (h % 3)) for h in range(60)]
    for idx, (h, n) in enumerate(counts):
        hist = [c for _, c in counts[max(0, idx - 24):idx]]
        us = int((dt.datetime(2024, 3, 1) + dt.timedelta(hours=h)
                  - dt.datetime(1970, 1, 1)).total_seconds()) * 1_000_000
        c, s, s2 = len(hist), sum(hist), sum(x * x for x in hist)
        varnum = c * s2 - s * s
        if c >= 12 and varnum > 0:
            want = math.floor((n - s / c) / math.sqrt(varnum / (c * (c - 1))) * 1e4) / 1e4
        else:
            want = None
        assert got[us] == (n, want), (h, got[us], (n, want))
    spike_us = int((dt.datetime(2024, 3, 1) + dt.timedelta(hours=50)
                    - dt.datetime(1970, 1, 1)).total_seconds()) * 1_000_000
    assert got[spike_us][1] > 4
    steady = [z for us, (n, z) in got.items() if z is not None and us != spike_us]
    assert steady and all(abs(z) < 3 for z in steady)
