"""Registry of driver-checked queries: Spark callable + DuckDB oracle SQL.

Split by tier since round 6 (the monolith passed 4,800 lines): _registry
holds the shared dicts, core.py the SURVEY §2 set, training.py the
training-data/dedup/ANN/temporal set, streaming.py the st_* set and
graph.py the KG analytics.  Import order matters only in that streaming
aliases an oracle registered by training.  The public surface is
unchanged: ``QUERIES``, ``ORACLES``, ``_DRIVER_SAMPLE_FIRST`` and the
shared SQL legs re-exported below.

Each entry exercises one operator family from SURVEY.md §2 against the
driver's parquet tables (region nation customer supplier part orders
lineitem events documents embeddings).  Column names are aliased identically
on both sides — the driver hash-compares values after sorting columns by
name (lowercase aliases everywhere; floats rounded on BOTH sides; no
timestamps in outputs; seeded "randomness" = md5 so both engines agree).

Spark callables route through the imgfact_spark operator library wherever
one exists so the driver checks the real implementations, not ad-hoc
reimplementations.
"""

from __future__ import annotations

from imgfact_spark.entry_queries._registry import ORACLES, QUERIES
from imgfact_spark.entry_queries import core as _core  # noqa: F401  (registers)
from imgfact_spark.entry_queries import training as _training  # noqa: F401
from imgfact_spark.entry_queries import streaming as _streaming  # noqa: F401
from imgfact_spark.entry_queries import graph as _graph  # noqa: F401
from imgfact_spark.entry_queries.training import (  # noqa: F401  (test surface)
    _QUALITY_LEG_SQL,
    _QUALITY_RAW_SQL,
    _TOKENS_LEG_SQL,
)




# ---------------------------------------------------------------------------
# Driver sample ordering.  The driver checks the FIRST 50 registered queries
# each round; every registered query is equally verifiable locally
# (tools/check_oracles.py is driver-identical), but the hard evidence is a
# CORRECTNESS row.  Rotation policy (COVERAGE.md): no query's newest driver
# row may age past two rounds.
#
# The nine queries whose newest CORRECTNESS rows are r4 lead the front-50,
# right after the flagship (which never leaves).  Each was deferred for a
# query that needed a first row (it has one now) or because an in-sample
# sibling shares its operator path, and each takes the slot of that query
# or sibling (t_bm25_topk, a9_ranking_metrics,
# j8_theta_diff_partner, api_retrieve_by_relation, s_lsh_topk,
# d_dedup_corpus, t_decontaminate, d_dedup_incremental, st_incremental_dedup
# rotate OUT — all checked since r6).  Next, the r6-checked set ages to its
# own two-round edge.
# ---------------------------------------------------------------------------
_DRIVER_SAMPLE_FIRST = [
    # flagship (always in-sample)
    "kg_construct_e2e",
    # newest CORRECTNESS rows r4 (freshness edge) — refresh first
    "t_bm25_multi",
    "a9_weighted_prf",
    "j8b_diff_partner_pop",
    "api_entity_vocab",
    "s_quantize_embeddings",
    "d_minhash_lsh_pairs",
    "d_ngram_jaccard_pairs",
    "d_simhash_pairs",
    "kg_construct_triples",
    # checked since r6
    "d_winnow_fingerprints",
    "d_winnow_dup_pairs",
    "t_split_sentences",
    "t_domain_profile",
    "kg_khop",
    "t_inverted_index",
    "m1_checkpoint_gate",
    "m4_checkpoint_ranking",
    "a12_filter_intersection",
    "a13_union_shard_partials",
    "a2_group_collect_scored",
    "a6_vector_mean_pool",
    "a8_oversample_balance",
    "ep_masked_inputs",
    "ep_split_sets_sizes",
    "j3_visual_ratio",
    "j7_first_seen_label_ids",
    "j9_messy_swap",
    "m6_cluster_representatives",
    "mm_frame_sample",
    "o4_sample_per_group",
    "p6_dual_threshold",
    "r_select_results",
    "s5_json_roundtrip",
    "s_cosine_topk",
    "s_ivf_topk",
    "st_incremental_kg",
    "st_sessionization",
    "st_windowed_event_counts",
    "t_contamination",
    "t_corpus_length_profile",
    "t_exact_dedup_groups",
    "t_ngram_topk",
    "t_pii_redact",
    "t_repetition_ratio",
    "t_sample_stratified",
    "t_sample_weighted",
    "w1_topk_per_group",
    "w2_top5_membership",
    "x_multiway_join_rollup",
]


_unknown = [n for n in _DRIVER_SAMPLE_FIRST if n not in QUERIES]


assert not _unknown, f"driver-sample list names unregistered queries: {_unknown}"




def _reorder(d: dict) -> dict:
    front = {k: d[k] for k in _DRIVER_SAMPLE_FIRST if k in d}
    return {**front, **{k: v for k, v in d.items() if k not in front}}




QUERIES = _reorder(QUERIES)


ORACLES = _reorder(ORACLES)

