"""Physical-plan invariants — the scale properties the engine claims
(BENCH/PLAN_NOTES.md) pinned as tests so regressions surface immediately:
filter pushdown + column pruning at the parquet scan, broadcast semi-joins
for dictionary gates, native WindowGroupLimit for per-group top-K, and no
single-partition exchanges in the distributed operators."""

from __future__ import annotations

import re

from pyspark.sql import functions as F

SF = "/root/testdata/sf0.01"


def _formatted(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def _executed(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_filter_pushdown_and_column_pruning(spark):
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    q = li.filter(F.col("l_discount") > 0.04).select("l_orderkey", "l_discount")
    plan = _formatted(q)
    assert "PushedFilters" in plan and "GreaterThan(l_discount,0.04)" in plan
    # scan reads only the 2 projected columns, not all 11
    rs = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "l_orderkey" in rs and "l_discount" in rs
    assert "l_comment" not in rs and "l_extendedprice" not in rs


def test_dictionary_gates_compile_to_broadcast_semi(spark):
    from imgfact_spark.pipeline.entity_filter import filter_visual_triples

    cand = spark.read.parquet(f"{SF}/orders.parquet").select(
        F.col("o_custkey").cast("string").alias("s"),
        F.col("o_orderpriority").alias("p"),
        F.col("o_orderstatus").alias("o"),
    )
    visual = cand.select(F.col("s").alias("entity")).distinct().limit(100)
    plan = _executed(filter_visual_triples(cand, visual))
    assert plan.count("BroadcastHashJoin") >= 2  # both endpoint gates
    assert "LeftSemi" in plan
    assert "SortMergeJoin" not in plan


def test_topk_compiles_to_window_group_limit(spark):
    from imgfact_spark.operators.topk import topk_per_group

    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    t = topk_per_group(
        li, keys=["l_orderkey"], order_by=[F.desc("l_extendedprice")], k=3,
        tiebreak=["l_linenumber"],
    )
    plan = _executed(t)
    # partial limit below the exchange AND final above it
    assert plan.count("WindowGroupLimit") >= 2


def test_minhash_band_join_reuses_snapshot_not_recompute(spark):
    """The band-bucket self-join must read one materialized snapshot of the
    signature relation, not re-derive shingles+minhash per side."""
    from imgfact_spark.operators.dedup import (
        minhash_lsh_dup_pairs,
        minhash_signature,
        shingle_df,
    )

    d = spark.read.parquet(f"{SF}/documents.parquet").limit(200)
    sig = minhash_signature(shingle_df(d, "text", "doc_id", n=2), "doc_id", num_hashes=16)
    pairs = minhash_lsh_dup_pairs(sig, "doc_id", bands=4, rows_per_band=4)
    plan = _executed(pairs)
    # the pandas-free signature chain (explode + partial agg) appears at most
    # once; the self-join sides scan the snapshot (InMemory/LocalTableScan)
    assert plan.count("Generate explode") <= 1


def test_distributed_operators_have_no_single_partition_exchange(spark):
    from imgfact_spark.operators.zip_join import with_position
    from imgfact_spark.streaming import sessionize_events_batch

    ev = spark.read.parquet(f"{SF}/events.parquet")
    assert "SinglePartition" not in _executed(sessionize_events_batch(ev))
    d = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id")
    assert "SinglePartition" not in _executed(
        with_position(d, ["doc_id"], num_partitions=8)
    )


def test_bucketed_join_avoids_both_exchanges(spark):
    """Two tables bucketed on the join key: the join plan contains NO
    shuffle exchange on either side (co-located bucketed join)."""
    from imgfact_spark.io import write_bucketed

    li = spark.read.parquet(f"{SF}/lineitem.parquet").select(
        "l_orderkey", "l_extendedprice"
    )
    o = spark.read.parquet(f"{SF}/orders.parquet").select(
        "o_orderkey", "o_orderpriority"
    )
    bl = write_bucketed(li, "t_li_bucketed", ["l_orderkey"], 8, ["l_orderkey"])
    bo = write_bucketed(o, "t_o_bucketed", ["o_orderkey"], 8, ["o_orderkey"])
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = bl.join(bo, bl["l_orderkey"] == bo["o_orderkey"])
        plan = _executed(j)
        assert "Exchange hashpartitioning" not in plan
        assert j.count() == li.join(o, li["l_orderkey"] == o["o_orderkey"]).count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        spark.sql("DROP TABLE IF EXISTS t_li_bucketed")
        spark.sql("DROP TABLE IF EXISTS t_o_bucketed")


def test_checkpoint_scoring_ships_only_key_columns_through_arrow(spark):
    """The serving UDF projects exactly (s, p, o, media_ref) into
    ArrowEvalPython — every other gc column stays JVM-side instead of
    round-tripping through the Python worker (the 2x-Arrow-traffic shape
    the scalar-UDF refactor removed from score_groundings_model_sim)."""
    from imgfact_spark.pipeline.model_serving import (
        default_checkpoint_path,
        score_groundings_checkpoint,
    )

    gc = spark.range(10).selectExpr(
        # every key column data-dependent: a literal ('rel') would be
        # constant-folded into the UDF call and carry no attribute ref
        "cast(id as string) s", "concat('rel', id % 2) p", "cast(id as string) o",
        "concat('img/', id) media_ref", "cast(id as string) doc_id",
        "repeat('x', 100) wide_payload_col",
    )
    out = score_groundings_checkpoint(gc, default_checkpoint_path("md5"))
    plan = _executed(out)
    arrow_lines = [l for l in plan.splitlines() if "ArrowEvalPython" in l]
    assert len(arrow_lines) == 1
    line = arrow_lines[0]
    # match attribute references (col#id), not bare substrings — 's' alone
    # occurs in unrelated tokens of any plan line
    for col in ("s", "p", "o", "media_ref"):
        assert re.search(rf"\b{col}#\d+", line), (col, line)
    # the wide non-key column must not enter the Arrow exchange
    assert "wide_payload_col" not in line


def test_model_scorers_evaluate_once_per_row(spark):
    """Each served model scorer is planned as exactly ONE ArrowEvalPython:
    the threshold filters above a (deterministic) scoring UDF would be
    pushed down with the UDF inlined, planning it 2-3 times per row.  The
    count is taken on plans that have not run — once AQE has run a plan,
    its string also prints the initial plan."""
    from imgfact_spark import synth
    from imgfact_spark.pipeline.runner import (
        PipelineConfig,
        document_stages,
        kg_stages,
        lazy_stage,
    )

    docs = synth.synth_documents(spark, 40)
    kb = synth.kb_df(spark)
    ents = kb.selectExpr("s as entity").union(kb.selectExpr("o as entity")).distinct()
    per_doc = document_stages(
        lazy_stage, docs, synth.rel2desc_df(spark), ents, PipelineConfig()
    )

    def n_udf_nodes(stage, **cfg):
        out = kg_stages(
            lazy_stage, per_doc["media"], per_doc["candidates"],
            PipelineConfig(checkpoint="final", **cfg),
        )
        return _executed(out[stage]).count("ArrowEvalPython")

    assert n_udf_nodes("groundings", scoring="checkpoint") == 1
    assert n_udf_nodes("visual_entities", entity_gate="checkpoint") == 1


def test_duplicate_passage_plans(spark):
    """The passage-dedup family's scale invariants: gram construction is
    materialized once behind the snapshot (never re-derived per consumer),
    the duplicated-gram gate is a semi join, and the strip operator's
    token-level rebuild exists on exactly ONE branch — untouched documents
    pass through without any token explode."""
    from imgfact_spark.operators.dedup import (
        duplicate_passage_stats,
        strip_duplicate_passages,
    )

    d = spark.read.parquet(f"{SF}/documents.parquet").limit(200)

    stats_plan = _executed(duplicate_passage_stats(d, "text", "doc_id", k=5))
    # gram posexplode ran inside the snapshot; the visible plan reads it
    assert "Generate posexplode" not in stats_plan
    assert "LeftSemi" in stats_plan
    assert "CartesianProduct" not in stats_plan

    strip_plan = _executed(strip_duplicate_passages(d, "text", "doc_id", k=5))
    # exactly one token posexplode: the affected-docs rebuild branch; the
    # untouched branch is a map-only concat_ws behind an anti join
    assert strip_plan.count("Generate posexplode") == 1
    assert "LeftAnti" in strip_plan and "LeftSemi" in strip_plan
    assert "CartesianProduct" not in strip_plan


def test_budget_selection_plan_is_two_phase(spark):
    """select_by_budget's scale contract: the ONLY single-partition window
    is the dimension-sized bucket cumulative; the per-document exact window
    is hash-partitioned on the bucket key; the bucket relation reaches the
    docs via a broadcast join; nothing cartesian."""
    from imgfact_spark.operators.selection import select_by_budget

    d = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id",
        (F.length("text") / 100.0).alias("q"),
        F.length("text").alias("n"),
    )
    plan = _executed(select_by_budget(d, "q", "n", "doc_id", 10_000))
    assert plan.count("SinglePartition") == 1
    assert "hashpartitioning(_bucket" in plan
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_dsir_plan_shape(spark):
    """dsir_weights' scale contract: no cartesian product — the only
    nested-loop joins are the two broadcast 1-row total-count fan-ins, and
    the only single-partition exchanges are those same 1-row aggregates."""
    from imgfact_spark.operators.selection import dsir_weights

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _executed(
        dsir_weights(docs, "text", "doc_id", docs.filter(F.col("lang") == "en"))
    )
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastNestedLoopJoin") == 2  # 1-row totals only
    assert plan.count("SinglePartition") == 2  # the two 1-row aggregates


def test_pagerank_iteration_joins_are_shuffle_hash(spark):
    """The production (deterministic=False) PageRank step must never plan a
    per-iteration broadcast build: at 10⁹ nodes the rank relation cannot
    broadcast, and locally the driver-side build is pure serial time (the
    measured between-stage gap of BENCH/SCALING_pagerank.json).  Both the
    contribs join and the rank-update left join carry shuffle-hash hints;
    the oracle path (deterministic=True) is exempt — it optimizes for
    reproducibility, not throughput."""
    from imgfact_spark.operators.graph import _step

    nodes = spark.range(200).select(F.col("id").alias("node"))
    e_w = spark.range(2000).select(
        (F.col("id") % 200).alias("src"),
        ((F.col("id") * 7) % 200).alias("dst"),
        F.lit(3).alias("od"),
    )
    ranks = nodes.select(F.col("node").alias("_nid"), F.lit(0.005).alias("rank"))
    step = _step(nodes, e_w, ranks, F.lit(0.00075), 0.85, "_nid", False)
    step2 = _step(nodes, e_w, step, F.lit(0.00075), 0.85, "_nid", False)
    plan = _executed(step2)
    assert plan.count("ShuffledHashJoin") == 4  # 2 joins × 2 chained steps
    assert "BroadcastHashJoin" not in plan
    assert "SortMergeJoin" not in plan


def test_inverted_index_two_exchanges(spark):
    """inverted_index's scale contract: exactly two hash exchanges — the
    (term, doc) tf aggregation and ONE term-keyed exchange whose
    partitioning serves both the df COUNT window and the final
    (term, df, segment) aggregation.  Pins the review finding that the
    first version's dfreq join-back executed the corpus explode twice."""
    from imgfact_spark.operators.retrieval import inverted_index

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _executed(inverted_index(docs, "text", "doc_id", segment_size=16))
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 2
    assert "Join" not in plan  # df comes from the window, never a join


def test_decontaminate_single_corpus_pass_and_broadcast_bench(spark):
    """The decontamination plan scans/explodes the corpus grams ONCE (a
    review pass caught the two-aggregation form re-running the
    tokenize+explode subtree) and broadcasts the benchmark gram relation."""
    from imgfact_spark.operators.dedup import decontaminate

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    out = decontaminate(
        docs.filter(F.col("doc_id") >= 50),
        docs.filter(F.col("doc_id") < 50),
        "text", "doc_id", n=3, max_overlap=0.2,
    )
    plan = _formatted(out)
    # exactly TWO Generate (explode) ops: one corpus-gram explode, one
    # benchmark-gram explode — a third means the corpus pass doubled again
    # (formatted plans print each op in the tree AND the detail section,
    # so count the numbered detail headers)
    assert len(re.findall(r"\(\d+\) Generate", plan)) == 2, plan
    assert "BroadcastExchange" in plan  # the benchmark gram side


def test_dedup_against_index_no_cartesian_and_band_equijoins(spark):
    """Both incremental-dedup collision phases are (band, bh) equi-joins —
    never a nested-loop/cartesian product — and the final drop is an
    anti-join on the id."""
    from imgfact_spark.operators.dedup import (
        dedup_against_index,
        minhash_band_table,
        minhash_signature,
        shingle_df,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    old = docs.filter(F.col("doc_id") >= 450)
    index = minhash_band_table(
        minhash_signature(shingle_df(old, "text", "doc_id", n=1), "doc_id",
                          num_hashes=32),
        "doc_id", bands=4, rows_per_band=8,
    )
    res = dedup_against_index(
        docs.filter(F.col("doc_id") < 450), index, "text", "doc_id",
        n=1, num_hashes=32, bands=4, rows_per_band=8,
    )
    plan = _formatted(res.kept)
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan
    assert "LeftAnti" in plan
