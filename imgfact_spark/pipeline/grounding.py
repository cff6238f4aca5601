"""Stage 4: ground candidate triples against co-occurring media spans.

Reference semantics re-expressed (SURVEY.md §2.9 M2/M3, §2.2 P5/P6, §2.4 A12,
§2.5 W1):

  * a triple's grounding candidates are the media spans of the SAME document
    whose path-encoded entity pair matches (s, o) — the reference grounds
    images crawled for exactly that entity pair (directory layout
    README.md:66-84);
  * pair scorer (M2, P-tuned CLIP): score > 0.4
    (ptuningfilter.py:16,40-45);
  * per-entity scorer (M3): both entity scores ≥ 0.87
    (ptuningfilter_ent.py:32,60-65);
  * the two filters' outputs are INTERSECTED (README.md:107-112 → A12);
  * per-triplet rank by score desc, keep top-K (ptuningfilter.py:62-65 → W1)
    with deterministic tiebreak on media_ref.

Scores are the deterministic stand-ins (functions/scoring.py) affinely
calibrated into the score ranges real CLIP produces on pair-crawled images,
so the reference thresholds stay meaningful:
    pair score  = 0.20 + 0.80·u(pair|s|p|o|media_ref)   — ~75% pass 0.4
    entity score = 0.75 + 0.25·u(ent|entity|media_ref)  — ~27% pass both 0.87
Both are pure Column expressions (xxhash64-based).  Model weights plug in
through ``PipelineConfig(scoring="checkpoint")``, which serves them from a
checkpoint file (pipeline/model_serving.py).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from imgfact_spark.functions.scoring import det_score_col
from imgfact_spark.operators.topk import topk_per_group

PAIR_THRESHOLD = 0.4  # ptuningfilter.py:16
ENT_THRESHOLD = 0.87  # ptuningfilter_ent.py:32
DEFAULT_TOPK = 10


def pair_score(
    s: Column | str, p: Column | str, o: Column | str, media_ref: Column | str,
    hash_mode: str = "xxhash64",
) -> Column:
    base = F.lit(0.20) + F.lit(0.80) * det_score_col(
        F.lit("pair"), s, p, o, media_ref, hash_mode=hash_mode
    )
    # md5 (oracle) mode skips the cosmetic round: cross-engine round() is
    # the one operation with midpoint divergence (CLAUDE.md), and the raw
    # affine-of-rational value is already bit-identical in both engines.
    return base if hash_mode == "md5" else F.round(base, 6)


def entity_score(
    entity: Column | str, media_ref: Column | str, hash_mode: str = "xxhash64"
) -> Column:
    base = F.lit(0.75) + F.lit(0.25) * det_score_col(
        F.lit("ent"), entity, media_ref, hash_mode=hash_mode
    )
    return base if hash_mode == "md5" else F.round(base, 6)


def grounding_candidates(candidates: DataFrame, media: DataFrame) -> DataFrame:
    """Join candidate triples to same-doc media spans with a matching
    path-encoded pair.  Equi-join on (doc_id, s, o) — co-partitioned by the
    shuffle on the composite key; skewed docs are rare (docs are small) so
    the skew dimension is the entity pair, handled by AQE."""
    m = media.select(
        "doc_id",
        F.col("media_s").alias("s"),
        F.col("media_o").alias("o"),
        "media_ref",
        "subset",
    )
    return candidates.join(m, ["doc_id", "s", "o"], "inner")


def score_groundings(gc: DataFrame, hash_mode: str = "xxhash64") -> DataFrame:
    return (
        gc.withColumn("score", pair_score("s", "p", "o", "media_ref", hash_mode))
        .withColumn("score_s", entity_score("s", "media_ref", hash_mode))
        .withColumn("score_o", entity_score("o", "media_ref", hash_mode))
    )


def filter_groundings(
    scored: DataFrame,
    pair_threshold: float = PAIR_THRESHOLD,
    ent_threshold: float = ENT_THRESHOLD,
) -> DataFrame:
    """P5 ∧ P6 — the A12 intersection of the pair filter and the per-entity
    filter, expressed as one conjunctive predicate (both filters see the
    same rows, so intersect-on-key ≡ AND)."""
    return scored.filter(
        (F.col("score") > pair_threshold)
        & (F.col("score_s") >= ent_threshold)
        & (F.col("score_o") >= ent_threshold)
    )


def topk_groundings(filtered: DataFrame, k: int = DEFAULT_TOPK) -> DataFrame:
    """Per-(s,p,o) rank by score desc, keep K (W1); deterministic tiebreak."""
    return topk_per_group(
        filtered,
        keys=["s", "p", "o"],
        order_by=[F.desc("score")],
        k=k,
        tiebreak=["media_ref", "doc_id"],
    )

