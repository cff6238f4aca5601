"""Executor-side checkpoint serving (pipeline/model_serving.py): the
once-per-partition load contract and score parity with the column scorer
and the closed-over model reference (reference inference.py:160-176 /
ptuningfilter.py:33-47 — per-worker load_state_dict, batched forward)."""

import os

import pytest
from pyspark.sql import functions as F

from imgfact_spark.pipeline.grounding import score_groundings
from imgfact_spark.pipeline.model_serving import (
    save_scorer_checkpoint,
    score_groundings_checkpoint,
)
from tests.oracle import model_scores_py


@pytest.fixture()
def gc(spark):
    return (
        spark.range(200)
        .select(
            F.concat(F.lit("s"), (F.col("id") % 13).cast("string")).alias("s"),
            F.concat(F.lit("rel"), (F.col("id") % 5).cast("string")).alias("p"),
            F.concat(F.lit("o"), (F.col("id") % 17).cast("string")).alias("o"),
            F.concat(F.lit("img/"), F.col("id").cast("string")).alias("media_ref"),
        )
        .repartition(4)
    )


def _collect_scores(df):
    return {
        r["media_ref"]: (r["score"], r["score_s"], r["score_o"])
        for r in df.collect()
    }


def test_model_checkpoint_matches_closed_over_planes(spark, gc, tmp_path):
    """mode='model' serving scores what the closed-over reference
    (tests/oracle.model_scores_py, weights drawn from the seed, not read
    from the file) scores: the checkpoint carries those weights unchanged
    through the file and the Arrow boundary."""
    ckpt = save_scorer_checkpoint(
        str(tmp_path / "m2.npz"), mode="model", width=64, layers=2, seed=42
    )
    served = score_groundings_checkpoint(gc, ckpt).toPandas().sort_values("media_ref")
    keys = [served[c].reset_index(drop=True) for c in ("s", "p", "o", "media_ref")]
    closed = model_scores_py(*keys, width=64, layers=2, seed=42)
    # exact float equality, not approx: both sides round to 6 decimals,
    # which absorbs the last-ulp BLAS differences between the UDF's
    # per-partition batches and the reference's one driver-side batch
    for col in ("score", "score_s", "score_o"):
        assert served[col].tolist() == closed[col].tolist(), col


def test_md5_checkpoint_matches_column_path(spark, gc, tmp_path):
    """mode='md5' serving computes the same value as the pure-Column
    det_score_col(hash_mode='md5') scorer — the cross-engine primitive."""
    ckpt = save_scorer_checkpoint(str(tmp_path / "m2md5.npz"), mode="md5")
    served = _collect_scores(score_groundings_checkpoint(gc, ckpt))
    column = _collect_scores(score_groundings(gc, hash_mode="md5"))
    assert served == column


def test_checkpoint_loads_once_per_partition(spark, gc, tmp_path):
    """The load marker count equals the partition count even when Arrow
    splits each partition into many batches — the iterator UDF deserializes
    once per task, then serves every batch."""
    ckpt = save_scorer_checkpoint(str(tmp_path / "m2.npz"), mode="md5")
    marker_dir = tmp_path / "loads"
    marker_dir.mkdir()
    prev = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "10")
    try:
        out = score_groundings_checkpoint(gc, ckpt, load_marker_dir=str(marker_dir))
        # count() would NOT load the checkpoint at all: Catalyst prunes the
        # unused UDF column (verified — loads stay 0), so materialize rows
        n_rows = len(out.collect())
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", prev)
    assert n_rows == 200
    n_parts = gc.rdd.getNumPartitions()
    loads = len(os.listdir(marker_dir))
    # 200 rows / 4 partitions at 10 rows/batch = ~5 batches per partition,
    # but exactly one checkpoint load per partition
    assert loads == n_parts


# ---------------------------------------------------------------------------
# M1 (VCC entity gate) and M4 (contrastive ranker) serving — same contract
# ---------------------------------------------------------------------------


@pytest.fixture()
def media(spark):
    return spark.range(400).select(
        F.concat(F.lit("e"), (F.col("id") % 23).cast("string")).alias("media_s"),
        F.concat(F.lit("e"), (F.col("id") % 31 + 100).cast("string")).alias("media_o"),
        F.concat(F.lit("img/"), F.col("id").cast("string")).alias("media_ref"),
    ).repartition(4)


def test_m1_md5_checkpoint_matches_standin_gate(spark, media, tmp_path):
    """visual_entities_checkpoint(md5 ckpt) == visual_entities(hash_mode=
    'md5'): identical surviving entities AND bit-identical scores — the
    serving path is a pure refactor of where the VCC weights live."""
    from imgfact_spark.pipeline.entity_filter import (
        visual_entities,
        visual_entities_checkpoint,
    )
    from imgfact_spark.pipeline.model_serving import save_vcc_checkpoint

    ckpt = save_vcc_checkpoint(str(tmp_path / "m1.npz"), mode="md5")
    served = {
        r["entity"]: (r["n_media"], r["vcc_score"])
        for r in visual_entities_checkpoint(
            media, ckpt, min_evidence=5, vcc_threshold=0.10
        ).collect()
    }
    standin = {
        r["entity"]: (r["n_media"], r["vcc_score"])
        for r in visual_entities(
            media, min_evidence=5, vcc_threshold=0.10, hash_mode="md5"
        ).collect()
    }
    assert served == standin
    assert len(served) > 0  # non-vacuous: some entities survive both gates


def test_m1_model_checkpoint_matches_numpy_twin(spark, media, tmp_path):
    """mode='model' M1 serving is bit-equal to the driver-side numpy twin
    loading the same .npz — real ndarray weights round-trip the file and
    the Arrow boundary unchanged."""
    from imgfact_spark.pipeline.entity_filter import visual_entities_checkpoint
    from imgfact_spark.pipeline.model_serving import (
        save_vcc_checkpoint,
        vcc_scores_numpy,
    )

    ckpt = save_vcc_checkpoint(
        str(tmp_path / "m1m.npz"), mode="model", width=64, layers=2
    )
    got = {
        r["entity"]: r["vcc_score"]
        for r in visual_entities_checkpoint(
            media, ckpt, min_evidence=1, vcc_threshold=0.0
        ).collect()
    }
    ents = sorted(got)
    want = vcc_scores_numpy(ents, ckpt)
    # ulp-tight, not bit-exact: BLAS matmul results vary in the last ulp
    # with batch shape (CLAUDE.md), and the twin scores one driver-side
    # batch while the UDF scores per-partition batches.  The md5-mode
    # test above carries the bit-exact cross-engine contract.
    assert [got[e] for e in ents] == pytest.approx(list(want), rel=1e-12)


@pytest.fixture()
def cands(spark):
    return spark.range(300).select(
        (F.col("id") % 40).alias("grp"),
        F.concat(F.lit("s"), (F.col("id") % 11).cast("string")).alias("s"),
        F.concat(F.lit("rel"), (F.col("id") % 5).cast("string")).alias("p"),
        F.concat(F.lit("o"), (F.col("id") % 13).cast("string")).alias("o"),
        F.concat(F.lit("img/"), F.col("id").cast("string")).alias("media_ref"),
    ).repartition(4)


def test_m4_model_checkpoint_matches_numpy_twin(spark, cands, tmp_path):
    """mode='model' M4 serving (dual-encoder dot(CLS,CLS)) is bit-equal to
    the numpy twin over the same checkpoint file."""
    from imgfact_spark.pipeline.model_serving import (
        cp_scores_numpy,
        save_cp_checkpoint,
        score_candidates_checkpoint,
    )

    ckpt = save_cp_checkpoint(
        str(tmp_path / "m4m.npz"), mode="model", width=64, layers=2
    )
    rows = score_candidates_checkpoint(cands, ckpt).collect()
    got = {r["media_ref"]: r["cp_score"] for r in rows}
    keys = sorted(got)
    by_ref = {r["media_ref"]: r for r in rows}
    want = cp_scores_numpy(
        [by_ref[k]["s"] for k in keys],
        [by_ref[k]["p"] for k in keys],
        [by_ref[k]["o"] for k in keys],
        [by_ref[k]["media_ref"] for k in keys],
        ckpt,
    )
    # ulp-tight (BLAS batch-shape ulps — see the M1 twin test note)
    assert [got[k] for k in keys] == pytest.approx(list(want), rel=1e-12)


def test_m1_m4_load_once_per_partition(spark, media, cands, tmp_path):
    """Both new kernels keep the once-per-partition load invariant under
    multi-batch Arrow splits."""
    from imgfact_spark.pipeline.model_serving import (
        save_cp_checkpoint,
        save_vcc_checkpoint,
        score_candidates_checkpoint,
        score_entities_checkpoint,
    )

    prev = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "10")
    try:
        for name, save, score, df in (
            ("m1", save_vcc_checkpoint,
             lambda d, c, m: score_entities_checkpoint(
                 d.select(F.col("media_s").alias("entity")), c, load_marker_dir=m
             ),
             media),
            ("m4", save_cp_checkpoint,
             lambda d, c, m: score_candidates_checkpoint(d, c, load_marker_dir=m),
             cands),
        ):
            ckpt = save(str(tmp_path / f"{name}.npz"), mode="md5")
            marker = tmp_path / f"loads_{name}"
            marker.mkdir()
            assert len(score(df, ckpt, str(marker)).collect()) > 0
            assert len(os.listdir(marker)) == df.rdd.getNumPartitions()
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", prev)


def test_wrong_kernel_checkpoint_fails_stop(spark, tmp_path):
    """Loading an M2 checkpoint through the M1/M4 loaders raises — kernel
    tags make cross-wiring a fail-stop, never silently wrong scores."""
    import numpy as np

    from imgfact_spark.pipeline.model_serving import _LoadedCp, _LoadedVcc

    ckpt = save_scorer_checkpoint(str(tmp_path / "m2.npz"), mode="md5")
    with pytest.raises((ValueError, KeyError)):
        _LoadedVcc(ckpt)
    with pytest.raises((ValueError, KeyError)):
        _LoadedCp(ckpt)
