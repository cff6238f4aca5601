"""Self-tests of the benchmark: ``python3 -m pytest perfbench -q``.

* a tiny run of each workload, timed and traced, passes the output check
  and prints exactly the metrics ``BENCHMARK.json`` declares;
* the output check reports a dropped grounding row or a changed score;
* the reference's score rounding equals Spark's ``round``;
* outside a checkout the benchmark fails without printing a result.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

from perfbench import inputs, oracle
from perfbench import workloads as wl

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TINY_DOCS = 600

with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    SPEC = json.load(_fh)


def _run(workload: str, trace: int, cwd: str = ROOT) -> subprocess.CompletedProcess:
    """The benchmark's own command, run from ``cwd`` as from a checkout root."""
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "3", "--seconds", "1",
         "--trace", str(trace), "--docs", str(TINY_DOCS)],
        cwd=cwd, capture_output=True, text=True, timeout=900,
    )


@pytest.mark.parametrize("workload", sorted(wl.WORKLOADS))
@pytest.mark.parametrize("trace", [0, 1])
def test_tiny_run_passes_the_output_check(workload, trace):
    proc = _run(workload, trace)
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0, proc.stderr[-3000:]
    assert result["attempted"] >= 1
    declared = SPEC["per_layer" if trace else "end_to_end"]
    assert set(result["metrics"]) == {m["name"] for m in declared}
    for m in declared:
        assert result["metrics"][m["name"]]["unit"] == m["unit"]
    if not trace:
        assert all(v["value"] > 0 for v in result["metrics"].values())


@pytest.fixture(scope="module")
def built(tmp_path_factory):
    """A tiny corpus, its reference and one batch_fused build's output."""
    from imgfact_spark.io import TableStore

    work = str(tmp_path_factory.mktemp("perfbench"))
    workload = wl.scaled(wl.WORKLOADS["batch_fused"], TINY_DOCS)
    ctx = wl.Ctx(workload, inputs.corpus_for(os.path.join(work, "cache"), workload, 5), work)
    ctx.spark = wl.spark_session(work, cpus=2)
    inputs.prepare(ctx.spark, ctx.corpus)
    ctx.want = ctx.corpus.expected()
    wl.open_inputs(ctx)
    res = wl.run_build(ctx, TableStore(ctx.scratch("store")))
    got = (
        res.kg_triples.select(*oracle.TRIPLE_COLS).toPandas(),
        res.kg_groundings.select(*oracle.GROUNDING_COLS).toPandas(),
    )
    yield ctx, got
    ctx.spark.stop()


def test_check_accepts_the_unchanged_output(built):
    ctx, (triples, groundings) = built
    assert len(ctx.want[1]) > 0
    assert oracle.compare("kg_triples", triples, ctx.want[0]) is None
    assert oracle.compare("kg_groundings", groundings, ctx.want[1]) is None


def test_check_fails_a_dropped_grounding_row(built):
    ctx, (_, groundings) = built
    tally = wl.Tally()
    tally.unit("dropped", lambda: oracle.compare("kg_groundings", groundings.iloc[1:], ctx.want[1]))
    assert (tally.attempted, tally.failed) == (1, 1)


def test_check_fails_a_changed_score(built):
    ctx, (_, groundings) = built
    changed = groundings.copy()
    changed.loc[changed.index[0], "score"] += 1e-6
    tally = wl.Tally()
    tally.unit("changed", lambda: oracle.compare("kg_groundings", changed, ctx.want[1]))
    assert (tally.attempted, tally.failed) == (1, 1)


def test_reference_rounding_matches_spark(built):
    from pyspark.sql import functions as F

    ctx, _ = built
    u = F.col("id").cast("double") / F.lit(1e6)
    rows = (
        ctx.spark.range(0, 1_000_000, 37)
        .select("id", F.round(F.lit(0.75) + F.lit(0.25) * u, 6).alias("e"),
                F.round(F.lit(0.2) + F.lit(0.8) * u, 6).alias("p"))
        .toPandas()
    )
    k = rows["id"] / 1e6
    assert [oracle._round6(0.75 + 0.25 * x) for x in k] == rows["e"].tolist()
    assert [oracle._round6(0.2 + 0.8 * x) for x in k] == rows["p"].tolist()


def test_fails_without_a_result_outside_a_checkout(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = _run("batch_fused", 0, cwd=str(tmp_path))
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
