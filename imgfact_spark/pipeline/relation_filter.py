"""Stage 3: relation filtering — counts, visual ratio, sampling gates.

Mirrors the four relation_filtering/ scripts (SURVEY.md §3.1 steps 2-5):
  * candidate relation counts, partial+final agg
    (gen_candidate_relations.py:26-44 → A1; Catalyst's hash agg does the
    partial/final split; the salted variant guards hot relations);
  * visual ratio join: |visual triples with p| / |all triples with p|,
    keep total ≥ min_total, sort by ratio (gen_visual_relations.py:16-31
    → J3/O2);
  * min-count gate count ≥ min_count (gen_sample_tuples.py:9 → O3);
  * seeded shuffle + per-relation limit ≤ sample_per_rel
    (gen_sample_tuples.py:15-27 → O4) — ``F.rand(seed)`` + row_number window.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def relation_counts(triples: DataFrame) -> DataFrame:
    return triples.groupBy("p").agg(F.count("*").alias("count"))


def visual_relation_ratio_fused(
    candidates: DataFrame,
    visual: DataFrame,
    min_total: int = 20,
    broadcast_dim: bool = True,
) -> DataFrame:
    """Visual relation ratio → (p, vis_count, all_count, ratio), total ≥
    min_total, computed in ONE aggregation pass.

    The reference's two-input form (|visual triples with p| / |all triples
    with p|) costs two shuffled aggregations over the candidate table plus
    a join.  Here visual membership is attached as broadcast-join flags
    and both counts come out of a single groupBy(p) — one candidate scan,
    one tiny shuffle, no sort.  Identical values by construction: ``visual``
    is unique per entity, so the left joins never duplicate rows and
    ``vis_count`` counts exactly the double-semi-join survivors.
    Unsorted: the whitelist consumer is order-insensitive; sort by
    (ratio desc, p) for the reference's report (gen_visual_relations.py:16-31).
    """
    v = visual.select("entity")
    if broadcast_dim:
        v = F.broadcast(v)
    flagged = candidates.select("s", "p", "o").join(
        v.select(F.col("entity").alias("s"), F.lit(1).alias("_vs")), "s", "left"
    ).join(
        v.select(F.col("entity").alias("o"), F.lit(1).alias("_vo")), "o", "left"
    )
    return (
        flagged.groupBy("p")
        .agg(
            F.count("*").alias("all_count"),
            F.sum(
                F.when(
                    F.col("_vs").isNotNull() & F.col("_vo").isNotNull(), 1
                ).otherwise(0)
            ).alias("vis_count"),
        )
        .filter(F.col("all_count") >= min_total)
        .withColumn("ratio", F.round(F.col("vis_count") / F.col("all_count"), 4))
        .select("p", "vis_count", "all_count", "ratio")
    )


def select_relations(
    ratio_df: DataFrame, min_count: int = 50, min_ratio: float = 0.0
) -> DataFrame:
    """The relation whitelist (finalrels analogue, cluster.py:50-54)."""
    return ratio_df.filter(
        (F.col("vis_count") >= min_count) & (F.col("ratio") >= min_ratio)
    ).select("p")


def sample_tuples_per_relation(
    triples: DataFrame, per_relation: int = 50, seed: int = 998244353
) -> DataFrame:
    """Seeded shuffle, keep ≤ per_relation triples per relation (O4).

    Seed value is the reference's own (cluster.py:18 uses 998244353).
    The shuffle key is a seeded HASH of the row, not ``F.rand(seed)``:
    Spark's rand derives per-partition streams, so its sample would change
    with input partitioning — a hash key keeps the selection a pure
    function of the data (SURVEY.md §7 determinism hard part)."""
    w = Window.partitionBy("p").orderBy(
        F.xxhash64(F.lit(seed), "s", "o"), "s", "o"
    )
    return (
        triples.select("s", "p", "o")
        .distinct()
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= per_relation)
        .drop("_rn")
    )


def apply_relation_whitelist(triples: DataFrame, whitelist: DataFrame) -> DataFrame:
    return triples.join(F.broadcast(whitelist.select("p")), "p", "left_semi")
