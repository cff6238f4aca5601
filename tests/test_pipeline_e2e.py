"""Golden end-to-end test: Spark pipeline vs the independent pandas oracle.

Asserts (BASELINE.json):
  * emitted (s,p,o) triples P/R ≥ 0.95 vs the oracle (expected: 1.0 — both
    implement the same decision rules over deterministic scorers);
  * grounding rows match exactly (score, rank, media_ref);
  * per-document span-sequence equality (kind, text, media_ref, order)
    between input and the reassembled spans table;
  * checkpoint-resume: second run returns identical tables without
    recomputation.
"""

from __future__ import annotations

import pandas as pd
import pytest

from imgfact_spark import synth
from imgfact_spark.io import TableStore
from imgfact_spark.pipeline.ingest import explode_spans, reassemble_spans
from imgfact_spark.pipeline.runner import PipelineConfig, run_pipeline
from tests.oracle import run_oracle

N_DOCS = 300


@pytest.fixture(scope="module")
def pipeline_setup(spark, tmp_path_factory):
    docs = synth.synth_documents(spark, N_DOCS).cache()
    kb = synth.kb_df(spark)
    ents = kb.selectExpr("s as entity").union(kb.selectExpr("o as entity")).distinct()
    r2d = synth.rel2desc_df(spark)
    store = TableStore(str(tmp_path_factory.mktemp("store")))
    cfg = PipelineConfig()
    res = run_pipeline(spark, docs, r2d, ents, store, cfg)
    return docs, kb, r2d, ents, store, cfg, res


@pytest.fixture(scope="module")
def oracle_result(pipeline_setup):
    docs, kb, r2d, ents, store, cfg, res = pipeline_setup
    doc_rows = [
        {
            "doc_id": r["doc_id"],
            "spans": [s.asDict() for s in r["spans"]],
        }
        for r in docs.collect()
    ]
    templates = [(r["p"], r["template"]) for r in r2d.collect()]
    kb_ents = {r["entity"] for r in ents.collect()}
    return run_oracle(
        doc_rows,
        templates,
        kb_ents,
        min_evidence=cfg.min_evidence,
        vcc_threshold=cfg.vcc_threshold,
        pair_threshold=cfg.pair_threshold,
        ent_threshold=cfg.ent_threshold,
        topk=cfg.topk,
    )


def test_triples_pr_vs_oracle(pipeline_setup, oracle_result):
    *_, res = pipeline_setup
    tdf, _ = oracle_result
    got = {(r["s"], r["p"], r["o"]) for r in res.kg_triples.collect()}
    want = {(r.s, r.p, r.o) for r in tdf.itertuples()}
    assert want, "oracle produced no triples — fixture too small"
    tp = len(got & want)
    precision = tp / len(got) if got else 0.0
    recall = tp / len(want)
    assert precision >= 0.95, f"precision {precision} ({len(got)} got, {tp} tp)"
    assert recall >= 0.95, f"recall {recall}"
    # with identical rules both ways we expect exact agreement:
    assert got == want


def test_groundings_exact_vs_oracle(pipeline_setup, oracle_result):
    *_, res = pipeline_setup
    _, gdf = oracle_result
    got = {
        (r["s"], r["p"], r["o"], r["media_ref"], r["doc_id"], r["score"], r["rank"])
        for r in res.kg_groundings.collect()
    }
    want = {
        (r.s, r.p, r.o, r.media_ref, r.doc_id, r.score, r.rank)
        for r in gdf.itertuples()
    }
    assert want
    assert got == want


def test_n_docs_evidence_counts(pipeline_setup, oracle_result):
    *_, res = pipeline_setup
    tdf, _ = oracle_result
    got = {
        (r["s"], r["p"], r["o"]): r["n_docs"] for r in res.kg_triples.collect()
    }
    for r in tdf.itertuples():
        assert got[(r.s, r.p, r.o)] == r.n_docs


def test_span_sequence_equality(spark, pipeline_setup):
    """Per-row invariant: explode → reassemble is the identity on
    (kind, text, media_ref, order)."""
    docs, *_ = pipeline_setup
    back = reassemble_spans(explode_spans(docs))
    orig = docs.select("doc_id", "spans").orderBy("doc_id").collect()
    got = {r["doc_id"]: r["spans"] for r in back.collect()}
    assert len(got) == len(orig)
    for r in orig:
        g = got[r["doc_id"]]
        assert [
            (s["kind"], s["text"], s["media_ref"], s["offset"]) for s in g
        ] == [
            (s["kind"], s["text"], s["media_ref"], s["offset"]) for s in r["spans"]
        ], f"span sequence diverged for {r['doc_id']}"


def test_resume_identical(spark, pipeline_setup):
    """Second run over the same store + fingerprint reads checkpoints and
    yields identical output (reference resume semantics,
    inference.py:139-143)."""
    docs, kb, r2d, ents, store, cfg, res = pipeline_setup
    res2 = run_pipeline(spark, docs, r2d, ents, store, cfg)
    a = sorted(
        map(tuple, res.kg_triples.select("s", "p", "o", "n_docs").collect())
    )
    b = sorted(
        map(tuple, res2.kg_triples.select("s", "p", "o", "n_docs").collect())
    )
    assert a == b
    assert store.is_committed("kg_triples")
    assert store.lineage("kg_triples")["rows"] == len(a)


def test_partitioning_invariance(spark, tmp_path_factory, pipeline_setup):
    """Same input repartitioned differently → identical kg_triples
    (determinism under parallelism, SURVEY.md §7 hard part 2)."""
    docs, kb, r2d, ents, _, cfg, res = pipeline_setup
    store2 = TableStore(str(tmp_path_factory.mktemp("store2")))
    res2 = run_pipeline(
        spark, docs.repartition(17), r2d, ents, store2, cfg
    )
    a = sorted(map(tuple, res.kg_triples.select("s", "p", "o", "n_docs").collect()))
    b = sorted(map(tuple, res2.kg_triples.select("s", "p", "o", "n_docs").collect()))
    assert a == b


def test_skewed_head_entity_present(pipeline_setup):
    """The planted 100×-skewed head entity must survive the pipeline (skew
    handling must not drop or duplicate hot keys)."""
    *_, res = pipeline_setup
    skew = res.kg_triples.filter(f"s = '{synth.SKEW_HEAD}'").count()
    other = res.kg_triples.filter(f"s = 'Head_0001'").count()
    assert skew > other  # hot key dominates but isn't dropped


def test_synth_skew_prob_amplifies_head_and_stays_deterministic(spark):
    """skew_prob threads through synthesis: a 0.75 draw probability puts the
    planted head entity in far more docs than the 0.25 default, and the
    corpus stays a pure function of (seed, doc_id, skew_prob)."""
    from pyspark.sql import functions as F

    from imgfact_spark import synth

    def head_docs(skew_prob):
        d = synth.synth_documents(spark, 400, skew_prob=skew_prob)
        return (
            d.select(
                "doc_id",
                F.exists(
                    "spans",
                    lambda s: s["text"].contains(
                        synth.SKEW_HEAD.replace("_", " ")
                    ) | F.coalesce(
                        s["media_ref"].contains(synth.SKEW_HEAD.replace("_", " ")),
                        F.lit(False),
                    ),
                ).alias("has_head"),
            )
            .filter("has_head")
            .count()
        )

    base, hard = head_docs(0.25), head_docs(0.75)
    assert hard > base * 1.8  # ~35% of docs → ~90%
    # determinism: same args ⇒ identical corpus
    a = synth.synth_documents(spark, 200, skew_prob=0.75)
    b = synth.synth_documents(spark, 200, skew_prob=0.75)
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_pipeline_checkpoint_scoring_is_dropin(spark, tmp_path):
    """scoring='checkpoint' (weights deserialized per partition from an
    executor-local .npz, model_serving) produces the IDENTICAL kg tables as
    the in-engine column scorer under hash_mode='md5' — the serving path is
    a pure refactor of where the weights live, end to end through the full
    pipeline DAG."""
    docs = synth.synth_documents(spark, 200).cache()
    kb = synth.kb_df(spark)
    ents = kb.selectExpr("s as entity").union(kb.selectExpr("o as entity")).distinct()
    r2d = synth.rel2desc_df(spark)

    def run(scoring, sub):
        cfg = PipelineConfig(checkpoint="final", scoring=scoring, hash_mode="md5")
        store = TableStore(str(tmp_path / sub))
        return run_pipeline(
            spark, docs, r2d, ents, store, cfg,
            input_fingerprint="ckpt-parity:200", materialize_input=False,
        )

    a = run("column", "col")
    b = run("checkpoint", "ckpt")
    for side in ("kg_triples", "kg_groundings"):
        da, db = getattr(a, side), getattr(b, side)
        assert da.exceptAll(db).count() == 0 and db.exceptAll(da).count() == 0, side
    assert a.kg_triples.count() > 0


def test_pipeline_checkpoint_entity_gate_is_dropin(spark, tmp_path):
    """entity_gate='checkpoint' (M1 VCC weights deserialized per partition
    from an executor-local .npz) produces IDENTICAL kg tables to the
    in-engine stand-in gate under hash_mode='md5' — with ALL FOUR model
    kernels now checkpoint-servable, the full pipeline can run entirely on
    user-supplied weights (scoring + entity_gate both 'checkpoint')."""
    docs = synth.synth_documents(spark, 200).cache()
    kb = synth.kb_df(spark)
    ents = kb.selectExpr("s as entity").union(kb.selectExpr("o as entity")).distinct()
    r2d = synth.rel2desc_df(spark)

    def run(sub, **kw):
        cfg = PipelineConfig(checkpoint="final", hash_mode="md5", **kw)
        store = TableStore(str(tmp_path / sub))
        return run_pipeline(
            spark, docs, r2d, ents, store, cfg,
            input_fingerprint="gate-parity:200", materialize_input=False,
        )

    a = run("col")
    b = run("gate", entity_gate="checkpoint")
    c = run("both", entity_gate="checkpoint", scoring="checkpoint")
    for side in ("kg_triples", "kg_groundings"):
        da = getattr(a, side)
        for other in (b, c):
            db = getattr(other, side)
            assert da.exceptAll(db).count() == 0 and db.exceptAll(da).count() == 0
    assert a.kg_triples.count() > 0
