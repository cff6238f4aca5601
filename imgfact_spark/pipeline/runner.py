"""End-to-end KG-construction pipeline: documents → kg_triples + kg_groundings.

Stage DAG (SURVEY.md §3.1):

    documents
      └─ spans            (ingest.explode_spans)
          ├─ media        (ingest.media_spans)
          │    └─ visual_entities   (entity gate, M1)
          └─ mentions     (extract.detect_mentions — pandas-UDF kernel)
               └─ candidates        (extract.link_entities)
                    └─ visual_candidates (J1 semi-joins)
                         └─ [relation whitelist]
                              └─ groundings scored+filtered+topK (M2/M3/W1)
                                   └─ canonicalized kg_triples / kg_groundings

The dataflow is defined ONCE, as a per-document half
(:func:`document_stages`) and a corpus-global half (:func:`kg_stages`).
Both take a stage wrapper ``run_stage(name, compute, partition_by=None,
shared=False, keep=None)``: ``shared`` marks a fan-out point, ``keep`` the
columns downstream reads (an uncommitted stage is narrowed to them).
:func:`run_pipeline` passes one that commits or persists; the incremental
path (``streaming.incremental_extract`` / ``incremental_kg_tables``) passes
:func:`lazy_stage`, per micro-batch and over the extraction logs.

Checkpointing is a granularity knob (``PipelineConfig.checkpoint``):
  * ``"all"``   — every stage is a committed table; a killed job resumes
                  from the last finished stage (reference semantics:
                  skip-finished-chunks, inference.py:139-143).
  * ``"final"`` — only kg_triples / kg_groundings are materialized; the
                  intermediate DAG stays one fused Catalyst plan (shared
                  fan-out points and the narrow media/candidates
                  projections are persisted in memory+disk and released
                  at the end).  Maximum throughput when resume granularity
                  isn't needed.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from imgfact_spark.io import TableStore, fingerprint_df, stage
from imgfact_spark.pipeline import canonicalize as canon
from imgfact_spark.pipeline import entity_filter, extract, grounding, ingest, relation_filter


@dataclass
class PipelineConfig:
    min_evidence: int = 1        # reference: 10 (entity_filtering/dataloading.py:21)
    vcc_threshold: float = 0.02
    pair_threshold: float = grounding.PAIR_THRESHOLD
    ent_threshold: float = grounding.ENT_THRESHOLD
    topk: int = grounding.DEFAULT_TOPK
    relation_min_total: int = 0   # reference: 20 (gen_visual_relations.py:29)
    relation_min_count: int = 0   # reference: 50 (gen_sample_tuples.py:9)
    use_lsh_aliases: bool = False  # char-LSH alias edges (slow on tiny data)
    n_subset_partitions: int = 30
    checkpoint: str = "all"       # "all" | "final"
    # "column" (hash stand-in) | "model_sim" (numpy kernel) | "checkpoint"
    # (weights served from an executor-loaded .npz via iterator pandas UDF —
    # the real-model contract; see pipeline/model_serving.py)
    scoring: str = "column"
    scorer_checkpoint: str | None = None  # .npz path for scoring="checkpoint"
    # M1 entity gate: "column" (hash stand-in) | "checkpoint" (VCC weights
    # served from an executor-loaded .npz — reference inference.py:83-119);
    # md5-mode checkpoints gate bit-identically to the stand-in (parity
    # pinned by test_model_serving + the pipeline parity test)
    entity_gate: str = "column"
    vcc_checkpoint: str | None = None  # .npz path for entity_gate="checkpoint"
    hash_mode: str = "xxhash64"   # "xxhash64" | "md5" (cross-engine oracle mode)
    lineage_stats: bool = True    # per-partition row counts in commit markers
    broadcast_entity_dims: bool = True  # hint entity-scaled dims (off at web scale)


#: PipelineConfig fields that cannot affect stage CONTENTS (only plan shape
#: or bookkeeping) — excluded from the stage fingerprint.
_PLAN_ONLY_FIELDS = ("checkpoint", "lineage_stats", "broadcast_entity_dims")


def _config_fingerprint(cfg: PipelineConfig) -> str:
    import hashlib
    import json
    from dataclasses import asdict

    d = asdict(cfg)
    for k in _PLAN_ONLY_FIELDS:
        d.pop(k, None)
    return hashlib.md5(json.dumps(d, sort_keys=True).encode()).hexdigest()[:12]


@dataclass
class PipelineResult:
    kg_triples: DataFrame
    kg_groundings: DataFrame
    stages: dict[str, DataFrame] = field(default_factory=dict)


_FINAL_STAGES = {"kg_triples", "kg_groundings"}

#: The columns of ``media`` / ``candidates`` that downstream stages read
#: (pos / media_p / img_no are provenance, kept only in committed tables).
MEDIA_COLS = ("doc_id", "media_ref", "subset", "media_s", "media_o")
CANDIDATE_COLS = ("doc_id", "s", "p", "o")


def run_pipeline(
    spark: SparkSession,
    documents: DataFrame,
    rel2desc: DataFrame,
    kb_entities: DataFrame,
    store: TableStore,
    cfg: PipelineConfig | None = None,
    input_fingerprint: str | None = None,
    materialize_input: bool = True,
) -> PipelineResult:
    """``input_fingerprint``: identity of the input for resume detection.
    Pass metadata when it is known without a scan (Iceberg snapshot id in
    production; synth params for generated corpora) — otherwise one content
    hash pass over the source is performed.

    ``materialize_input``: checkpoint the source once so a lazily-computed
    input (e.g. the synth generator) is not re-executed by every stage that
    scans it.  Disable when the input is already a stable table scan.
    """
    cfg = cfg or PipelineConfig()
    input_fp = input_fingerprint or fingerprint_df(documents.select("doc_id"))
    # Stage identity = input × config: re-running with changed thresholds /
    # topk / scoring must NOT resume from tables computed under the old
    # config.  Plan-only knobs (checkpoint granularity, broadcast hints,
    # lineage stats) are excluded — they cannot change stage contents.
    fp = f"{input_fp}:{_config_fingerprint(cfg)}"
    persisted: list[DataFrame] = []

    def _stage(name, compute, partition_by=None, shared=False, keep=None):
        if cfg.checkpoint == "all" or name in _FINAL_STAGES:
            return stage(
                store, name, fp, compute, spark,
                partition_by=partition_by, stats=cfg.lineage_stats,
            )
        df = lazy_stage(name, compute, keep=keep)
        if shared or keep:
            df = df.persist()
            persisted.append(df)
        return df

    if materialize_input:
        # keyed on the input alone: the source table does not depend on cfg
        documents_stable = stage(store, "documents", input_fp, lambda: documents, spark)
    else:
        documents_stable = documents

    stages = document_stages(_stage, documents_stable, rel2desc, kb_entities, cfg)
    stages.update(kg_stages(_stage, stages["media"], stages["candidates"], cfg))

    for df in persisted:
        df.unpersist()

    return PipelineResult(
        kg_triples=stages.pop("kg_triples"),
        kg_groundings=stages.pop("kg_groundings"),
        stages=stages,
    )


def lazy_stage(name, compute, partition_by=None, shared=False, keep=None):
    """Pass-through stage wrapper: nothing is committed or persisted; a
    stage with ``keep`` is narrowed to those columns."""
    df = compute()
    return df.select(*keep) if keep else df


def document_stages(
    run_stage, documents: DataFrame, rel2desc: DataFrame, kb_entities: DataFrame,
    cfg: PipelineConfig,
) -> dict[str, DataFrame]:
    """Per-document half of the dataflow: span explode → media parse →
    mention detection → entity linking.  Every output row depends on one
    document only, so the half runs equally over a whole corpus or one
    arriving micro-batch.  → {spans, media, mentions, candidates}"""
    # spans is never shared: its two consumers (media, mentions) read
    # disjoint subsets, so caching the exploded rows costs more memory
    # bandwidth than re-scanning the compressed parquet source.
    spans = run_stage("spans", lambda: ingest.explode_spans(documents))
    media = run_stage("media", lambda: ingest.media_spans(spans), keep=MEDIA_COLS)
    mentions = run_stage("mentions", lambda: extract.detect_mentions(spans, rel2desc))
    candidates = run_stage(
        "candidates",
        lambda: extract.link_entities(
            mentions, kb_entities, broadcast_dim=cfg.broadcast_entity_dims
        ),
        keep=CANDIDATE_COLS,
    )
    return {"spans": spans, "media": media, "mentions": mentions, "candidates": candidates}


def kg_stages(
    run_stage, media: DataFrame, candidates: DataFrame, cfg: PipelineConfig
) -> dict[str, DataFrame]:
    """Corpus-global half of the dataflow: visual entity gate → visual
    triples → relation whitelist → grounding score/threshold/top-K →
    canonical rewrite → kg_triples / kg_groundings.  Each gate aggregates
    evidence over the whole corpus, so the half is recomputed over every
    document seen so far.  → {visual_entities, visual_candidates,
    whitelisted_candidates, groundings, [aliases], kg_triples,
    kg_groundings}"""

    # `visual` feeds two consumers (the candidate gate and the fused
    # ratio); it is entity-dimension-sized.
    def _visual():
        if cfg.entity_gate == "checkpoint":
            from imgfact_spark.pipeline import model_serving

            ckpt = cfg.vcc_checkpoint or model_serving.default_vcc_checkpoint_path(
                "md5" if cfg.hash_mode == "md5" else "model"
            )
            return entity_filter.visual_entities_checkpoint(
                media, ckpt, cfg.min_evidence, cfg.vcc_threshold
            )
        return entity_filter.visual_entities(
            media, cfg.min_evidence, cfg.vcc_threshold, hash_mode=cfg.hash_mode
        )

    visual = run_stage("visual_entities", _visual, shared=True)
    vis_cand = run_stage(
        "visual_candidates",
        lambda: entity_filter.filter_visual_triples(
            candidates, visual, broadcast_dim=cfg.broadcast_entity_dims
        ),
    )

    def _whitelisted():
        # one-pass flagged aggregation (identical values to the two-agg
        # join form, minus one candidate scan, one shuffle and a sort
        # nobody consumed — the gate-phase fixed cost was measurably the
        # pipeline's scheduling-latency tail at bench scale)
        ratio = relation_filter.visual_relation_ratio_fused(
            candidates, visual,
            min_total=cfg.relation_min_total,
            broadcast_dim=cfg.broadcast_entity_dims,
        )
        wl = relation_filter.select_relations(ratio, min_count=cfg.relation_min_count)
        return relation_filter.apply_relation_whitelist(vis_cand, wl)

    wl_cand = run_stage("whitelisted_candidates", _whitelisted, shared=True)

    def _groundings():
        gc = grounding.grounding_candidates(wl_cand, media)
        if cfg.scoring == "model_sim":
            scored = grounding.score_groundings_model_sim(gc)
        elif cfg.scoring == "checkpoint":
            from imgfact_spark.pipeline import model_serving

            # md5-mode default checkpoint scores identically to the
            # scoring="column" hash_mode="md5" path (pinned by
            # test_pipeline_e2e), so the serving path is a drop-in
            ckpt = cfg.scorer_checkpoint or model_serving.default_checkpoint_path(
                "md5" if cfg.hash_mode == "md5" else "model"
            )
            scored = model_serving.score_groundings_checkpoint(gc, ckpt)
        else:
            scored = grounding.score_groundings(gc, hash_mode=cfg.hash_mode)
        filtered = grounding.filter_groundings(
            scored, cfg.pair_threshold, cfg.ent_threshold
        )
        return grounding.topk_groundings(filtered, cfg.topk)

    grounded = run_stage("groundings", _groundings)
    out = {
        "visual_entities": visual,
        "visual_candidates": vis_cand,
        "whitelisted_candidates": wl_cand,
        "groundings": grounded,
    }

    # Alias resolution: with LSH edges the map is a real table (components
    # can merge distinct canonical forms); without LSH it IS
    # canonical_entity, applied as a pure expression — no table, no
    # broadcast join (canonicalize.rewrite_triples_norm).
    if cfg.use_lsh_aliases:
        def _aliases():
            ents = canon.observed_entities(wl_cand)
            return canon.alias_map(ents, with_lsh=True)

        aliases = out["aliases"] = run_stage("aliases", _aliases, shared=True)
        _rewrite = lambda df: canon.rewrite_triples(
            df, aliases, broadcast_dim=cfg.broadcast_entity_dims
        )
    else:
        _rewrite = canon.rewrite_triples_norm

    def _kg_triples():
        rewritten = _rewrite(wl_cand.select(*CANDIDATE_COLS))
        return (
            rewritten.groupBy("s", "p", "o")
            .agg(F.countDistinct("doc_id").alias("n_docs"))
            .withColumn(
                "subset",
                F.format_string(
                    "Triplelist%03d",
                    F.pmod(F.xxhash64("s", "p", "o"), F.lit(cfg.n_subset_partitions))
                    + 1,
                ),
            )
        )

    def _kg_groundings():
        rewritten = _rewrite(grounded)
        return rewritten.select(
            "s", "p", "o", "media_ref", "doc_id", "score", "rank", "subset"
        )

    # The two final tables are built CONCURRENTLY: their query DAGs are
    # independent above the shared inputs (wl_cand/media), so overlapping
    # their writes hides each other's AQE query-stage scheduling gaps,
    # commit latency and straggler tails (measured ~3s of the pipeline's
    # fixed cost at bench scale).  Spark's job scheduler interleaves the
    # two jobs; concurrent first-touch of a cached partition is serialized
    # by the BlockManager, so the shared upstream is computed once.
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=2) as pool:
        f_triples = pool.submit(run_stage, "kg_triples", _kg_triples, ["subset"])
        f_groundings = pool.submit(run_stage, "kg_groundings", _kg_groundings, ["subset"])
        out["kg_triples"] = f_triples.result()
        out["kg_groundings"] = f_groundings.result()
    return out
