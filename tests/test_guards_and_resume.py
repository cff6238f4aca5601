"""Engineering-invariant guards + fine-grained resume semantics."""

from __future__ import annotations

import glob
import json
import os
import re

import pytest

from imgfact_spark import synth
from imgfact_spark.io import TableStore
from imgfact_spark.pipeline.runner import PipelineConfig, run_pipeline

SRC = os.path.join(os.path.dirname(__file__), "..", "imgfact_spark")


def test_no_per_row_python_in_src():
    """BASELINE.json: 'no per-row Python executes anywhere' — ban
    row-at-a-time UDFs and RDD lambdas in the engine source (Arrow-batched
    pandas UDFs / mapInPandas / applyInPandas are the sanctioned path)."""
    banned = [
        re.compile(r"@F\.udf"),
        re.compile(r"F\.udf\("),
        re.compile(r"\budf\(lambda"),
        re.compile(r"\.rdd\.map"),
        re.compile(r"\.rdd\.flatMap"),
        re.compile(r"\.rdd\.mapPartitions"),
    ]
    offenders = []
    for path in glob.glob(os.path.join(SRC, "**", "*.py"), recursive=True):
        text = open(path).read()
        for pat in banned:
            if pat.search(text):
                offenders.append((os.path.relpath(path, SRC), pat.pattern))
    assert not offenders, f"per-row Python found: {offenders}"


def test_no_collect_in_pipeline_hot_path():
    """Driver-side collect() is allowed only for dimension tables and
    lineage; the pipeline stage modules must not collect fact data."""
    allowed = {"runner.py"}  # runner collects nothing; belt & braces anyway
    offenders = []
    for path in glob.glob(os.path.join(SRC, "pipeline", "*.py")):
        name = os.path.basename(path)
        text = open(path).read()
        for m in re.finditer(r"\.collect\(\)", text):
            # extract.detect_mentions collects the rel2desc DIMENSION (ok)
            line = text[: m.start()].rsplit("\n", 1)[-1] + text[m.start():].split("\n", 1)[0]
            if "rel2desc" not in line and name not in allowed:
                offenders.append((name, line.strip()))
    assert not offenders, offenders


@pytest.fixture(scope="module")
def small_run(spark, tmp_path_factory):
    docs = synth.synth_documents(spark, 80).cache()
    kb = synth.kb_df(spark)
    ents = kb.selectExpr("s as entity").union(kb.selectExpr("o as entity")).distinct()
    r2d = synth.rel2desc_df(spark)
    store = TableStore(str(tmp_path_factory.mktemp("resume_store")))
    cfg = PipelineConfig()
    res = run_pipeline(spark, docs, r2d, ents, store, cfg, input_fingerprint="t:80")
    # collect eagerly: later tests overwrite the store tables these
    # DataFrames point at
    triples80 = sorted(
        map(tuple, res.kg_triples.select("s", "p", "o").collect())
    )
    return docs, kb, ents, r2d, store, cfg, res, triples80


def test_stage_level_resume_recomputes_only_missing(spark, small_run):
    """Kill-after-stage-k semantics: drop a LATER stage's commit; re-run
    recomputes it but reuses every earlier stage (their commit timestamps
    are untouched) — the reference's skip-finished-chunks contract."""
    docs, kb, ents, r2d, store, cfg, res, triples80 = small_run
    a = triples80
    before = {
        name: store.lineage(name)["committed_at"]
        for name in ["spans", "media", "mentions", "candidates", "groundings"]
    }
    store.drop("kg_triples")
    assert not store.is_committed("kg_triples")
    res2 = run_pipeline(spark, docs, r2d, ents, store, cfg, input_fingerprint="t:80")
    after = {
        name: store.lineage(name)["committed_at"]
        for name in ["spans", "media", "mentions", "candidates", "groundings"]
    }
    assert before == after, "earlier stages were recomputed on resume"
    assert store.is_committed("kg_triples")
    b = sorted(map(tuple, res2.kg_triples.select("s", "p", "o").collect()))
    assert a == b


def test_changed_input_fingerprint_invalidates(spark, small_run):
    """A different input fingerprint must NOT reuse stale checkpoints."""
    docs, kb, ents, r2d, store, cfg, res, triples80 = small_run
    docs2 = synth.synth_documents(spark, 90)
    res2 = run_pipeline(
        spark, docs2, r2d, ents, store, cfg, input_fingerprint="t:90"
    )
    # stage fingerprint = input fp + config hash
    assert store.lineage("kg_triples")["input_fingerprint"].startswith("t:90:")
    assert res2.kg_triples.count() >= len(triples80)


def test_changed_config_invalidates_resume(spark, small_run):
    """Re-running with a different content-affecting config must recompute,
    not silently return tables computed under the old config."""
    import dataclasses

    docs, kb, ents, r2d, store, cfg, res, triples80 = small_run
    before = store.lineage("groundings")["committed_at"]
    cfg2 = dataclasses.replace(cfg, topk=max(1, cfg.topk - 1))
    run_pipeline(spark, docs, r2d, ents, store, cfg2, input_fingerprint="t:80")
    after = store.lineage("groundings")["committed_at"]
    assert before != after, "changed config reused stale stage tables"


def test_plan_only_config_does_not_invalidate(spark, small_run):
    """Plan-shape knobs (broadcast hints) must NOT invalidate committed
    stages — contents are identical."""
    import dataclasses

    docs, kb, ents, r2d, store, cfg, res, triples80 = small_run
    # (re-)establish the store under cfg's fingerprint — a sibling test may
    # have overwritten tables with a different config hash
    run_pipeline(spark, docs, r2d, ents, store, cfg, input_fingerprint="t:80")
    before = store.lineage("groundings")["committed_at"]
    cfg2 = dataclasses.replace(
        cfg, broadcast_entity_dims=not cfg.broadcast_entity_dims
    )
    run_pipeline(spark, docs, r2d, ents, store, cfg2, input_fingerprint="t:80")
    assert store.lineage("groundings")["committed_at"] == before


def test_lineage_df(spark, small_run):
    *_, store, cfg, res, triples80 = small_run
    ldf = store.lineage_df(spark)
    rows = {r["table"]: r for r in ldf.collect()}
    assert "kg_triples" in rows and "spans" in rows
    assert rows["spans"]["rows"] > 0


def test_config_fingerprint_is_stable():
    """Stores committed by earlier versions still resume: the default config
    keeps its stage fingerprint (plan-only fields never entered it)."""
    from imgfact_spark.pipeline.runner import _config_fingerprint

    assert _config_fingerprint(PipelineConfig()) == "9c8d876b77e4"


def _subset_frame(spark, n=5000):
    """24 letter subsets plus a NULL one and one that needs path escaping."""
    return spark.range(n).selectExpr(
        "id",
        "CASE WHEN id % 26 = 24 THEN NULL WHEN id % 26 = 25 THEN 'a/b c%' "
        "ELSE char(97 + CAST(id % 26 AS INT)) END AS subset",
    )


def test_commit_issues_no_job_beyond_the_write(spark, tmp_path, jobs_in_group):
    """The commit marker's counts are read from the written files' footers:
    a store write runs exactly the jobs of the bare partitioned write."""
    df = _subset_frame(spark)
    bare = jobs_in_group(
        "bare_write",
        lambda: df.repartition("subset").write.partitionBy("subset")
        .parquet(str(tmp_path / "bare")),
    )
    store = TableStore(str(tmp_path / "store"))
    committed = jobs_in_group(
        "store_write",
        lambda: store.write(df, "t", partition_by=["subset"]),
    )
    assert bare > 0
    assert committed == bare


def test_marker_counts_match_groupby(spark, tmp_path):
    """Per-partition marker counts equal a groupBy count, including the NULL
    partition and a value Spark escapes in its directory name."""
    df = _subset_frame(spark)
    store = TableStore(str(tmp_path / "store"))
    store.write(df, "t", partition_by=["subset"])
    meta = store.lineage("t")
    want = {r["subset"]: r["count"] for r in df.groupBy("subset").count().collect()}
    got = {p["subset"]: p["rows"] for p in meta["partitions"]}
    assert len(want) == 26 and None in want and "a/b c%" in want
    assert got == want
    assert meta["rows"] == 5000

    store.write(df, "flat")
    assert store.lineage("flat")["partitions"] == [{"rows": 5000}]
    assert store.lineage("flat")["rows"] == 5000


def test_empty_writes_commit_zero_rows(spark, tmp_path):
    empty = _subset_frame(spark).limit(0)
    store = TableStore(str(tmp_path / "store"))
    store.write(empty, "parted", partition_by=["subset"])
    store.write(empty, "flat")
    assert store.lineage("parted")["rows"] == 0
    assert store.lineage("parted")["partitions"] == []
    assert store.lineage("flat")["rows"] == 0
    assert store.lineage("flat")["partitions"] == [{"rows": 0}]
    assert store.read(spark, "parted").count() == 0


def test_compact_table_reduces_files_preserves_contents(spark, tmp_path):
    from imgfact_spark.io import TableStore, compact_table

    store = TableStore(str(tmp_path / "cstore"))
    df = spark.range(20000).selectExpr("id", "id % 7 AS k")
    # fragment: 64 tiny files
    store.write(df.repartition(64), "frag", input_fingerprint="c:1")
    import os as _os

    def parquet_files():
        return [
            f for _, _, fs in _os.walk(store.path("frag")) for f in fs
            if f.endswith(".parquet")
        ]

    before = len(parquet_files())
    assert before >= 32
    compacted = compact_table(store, spark, "frag", target_file_mb=128)
    after = len(parquet_files())
    assert after < before and after <= 4
    assert compacted.count() == 20000
    assert sorted(map(tuple, compacted.collect())) == sorted(map(tuple, df.collect()))
    # lineage survives the rewrite
    assert store.lineage("frag")["input_fingerprint"] == "c:1"


def test_compact_table_crash_windows_self_heal(spark, tmp_path):
    """A hard crash mid compact-swap must never lose the committed table:
    every reachable half-swapped state heals on the next read/is_committed."""
    import os as _os
    import shutil as _shutil

    from imgfact_spark.io import TableStore

    store = TableStore(str(tmp_path / "hstore"))
    df = spark.range(500).selectExpr("id", "id * 2 AS v")
    store.write(df, "t", input_fingerprint="h:1")
    src = store.path("t")

    # state (a): crash between rename(src, old) and rename(tmp, src) —
    # live dir gone, committed copy only at ._old (marker inside)
    _os.rename(src, src + "._old")
    assert store.is_committed("t", "h:1")
    assert store.read(spark, "t").count() == 500
    assert not _os.path.isdir(src + "._old")

    # state (b): crash after rename(tmp, src) but before rmtree(old) —
    # swap completed (marker at src), stale ._old leftover
    _shutil.copytree(src, src + "._old")
    assert store.is_committed("t", "h:1")
    assert not _os.path.isdir(src + "._old")
    assert store.read(spark, "t").count() == 500


def test_driver_sample_order_contract():
    """The driver checks the FIRST 50 registered queries: the curated
    rotation list must be exactly the front of QUERIES/ORACLES, 50 long,
    with the flagship in-sample (entry_queries._DRIVER_SAMPLE_FIRST)."""
    from imgfact_spark import entry_queries as eq

    front = list(eq.QUERIES)[: len(eq._DRIVER_SAMPLE_FIRST)]
    assert len(eq._DRIVER_SAMPLE_FIRST) == 50
    assert front == eq._DRIVER_SAMPLE_FIRST
    assert "kg_construct_e2e" in front
    # oracle dict is reordered identically (driver zips the two)
    ofront = [k for k in eq.ORACLES if k in set(front)]
    assert ofront == [k for k in front if k in eq.ORACLES]
