"""Stage 1: batched mention detection + candidate triple extraction.

The reference's extraction substrate is a DBpedia triple dump filtered to
visual entities (relation_filtering/filter_tuples.py) plus model scoring; the
north rule re-frames it as mention detection over interleaved documents.

Implementation: an **iterator pandas UDF** (mapInPandas) over text spans —
the direct analogue of the reference's batched DataLoader inference loops
(entity_filtering/inference.py:160-176, batch=64): per partition the
relation-template pattern table (broadcast-sized: 142 rows in the reference,
rel2desc.txt) is compiled ONCE, then each Arrow batch is matched with
vectorized ``pandas.Series.str.extract`` — no per-row Python.

Entity linking happens downstream as a broadcast dictionary join
(entity-surface → KB entity), per SURVEY.md §1.4 "dict/set hash indexes →
broadcast dimension DataFrames".
"""

from __future__ import annotations

import re
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from imgfact_spark.functions.text import canonical_entity

MENTION_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("pos", T.IntegerType(), False),
        T.StructField("p", T.StringType(), False),
        T.StructField("s_surface", T.StringType(), False),
        T.StructField("o_surface", T.StringType(), False),
    ]
)


def _template_to_pattern(template: str) -> str:
    """``"{}'s former team is {}."`` → anchored regex with two capture
    groups.  First slot non-greedy, second greedy-trimmed (consumes to the
    template tail)."""
    escaped = re.escape(template)
    # re.escape leaves {} escaped as \{\} in py<3.7 only; modern escape keeps
    # {} literal. Replace both slot spellings defensively.
    for slot in (r"\{\}", "{}"):
        if slot in escaped:
            first = escaped.replace(slot, "(.+?)", 1)
            if slot in first:
                escaped = first.replace(slot, "(.+?)", 1)
                break
    return "^" + escaped + "$"


def _template_literal(template: str) -> str:
    """Longest constant segment of a two-slot template — the prescan key.

    ``"{}'s former team is {}."`` → ``"'s former team is "``.
    """
    parts = template.split("{}")
    best = max(parts, key=len) if parts else ""
    return best if len(best) >= 4 else ""


def detect_mentions(text_spans: DataFrame, rel2desc: DataFrame) -> DataFrame:
    """text spans × relation templates → raw (doc_id, pos, p, surfaces).

    ``rel2desc`` is collected driver-side (dimension table, ≤ a few hundred
    rows by construction) and closed over — the same broadcast the reference
    does with its rel2desc dict (eval_and_app/prepare_data.py:21-25).
    """
    templates = [
        (r["p"], _template_to_pattern(r["template"]), _template_literal(r["template"]))
        for r in rel2desc.collect()
    ]

    def match_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        compiled = [(p, re.compile(pat), lit) for p, pat, lit in templates]
        for pdf in batches:
            outs = []
            texts = pdf["text"].astype(str)
            for p, rgx, lit in compiled:
                # cheap vectorized literal prescan: only rows containing the
                # template's distinctive constant segment see the full regex
                # (the reference's analogue is its per-relation file split —
                # each scorer only ever sees its own relation's rows)
                cand = texts.str.contains(lit, regex=False) if lit else texts.notna()
                if not cand.any():
                    continue
                ext = texts[cand].str.extract(rgx)  # vectorized over the batch
                hit = ext[0].notna()
                if hit.any():
                    sub = pdf.loc[hit[hit].index, ["doc_id", "pos"]].copy()
                    sub["p"] = p
                    sub["s_surface"] = ext.loc[hit, 0]
                    sub["o_surface"] = ext.loc[hit, 1]
                    outs.append(sub)
            if outs:
                yield pd.concat(outs, ignore_index=True)
            else:
                yield pd.DataFrame(
                    {
                        "doc_id": pd.Series(dtype="str"),
                        "pos": pd.Series(dtype="int32"),
                        "p": pd.Series(dtype="str"),
                        "s_surface": pd.Series(dtype="str"),
                        "o_surface": pd.Series(dtype="str"),
                    }
                )

    src = text_spans.filter(F.col("kind") == "text").select("doc_id", "pos", "text")
    # JVM-side literal prescan: a row that contains NO template's constant
    # segment cannot match any anchored template, so it never needs to cross
    # the Arrow boundary at all — on real corpora the overwhelming majority
    # of text is non-factual, so this turns the kernel's input from "all
    # text" into "plausible mentions" before a single byte is transferred.
    # Only sound when every template has a distinctive literal; otherwise
    # fall back to the kernel's own per-template prescan.
    # Shape measured at the reference's 142-template scale
    # (BENCH/PLAN_NOTES.md, 2M rows): this contains-chain runs 3.3×
    # FASTER than one rlike over a \Q…\E-quoted alternation (9.3 s vs
    # 30.4 s) — java.util.regex retries every alternative at every position
    # (NFA backtracking, no Aho-Corasick), while each contains() is a
    # vectorized codegen substring scan.  Keep the chain.
    literals = [lit for _, _, lit in templates]
    if templates and all(literals):
        gate = F.col("text").contains(literals[0])
        for lit in literals[1:]:
            gate = gate | F.col("text").contains(lit)
        src = src.filter(gate)
    return src.mapInPandas(match_batches, schema=MENTION_SCHEMA)


def link_entities(
    mentions: DataFrame, kb_entities: DataFrame, broadcast_dim: bool = True
) -> DataFrame:
    """Dictionary entity linking: canonicalize surfaces, keep mentions whose
    BOTH endpoints resolve to KB entities (broadcast semi-joins — the Spark
    form of the reference's ``in visualset`` membership test,
    filter_tuples.py:22-24).

    → candidates(doc_id, pos, s, p, o)

    Both sides are compared in CANONICAL space: the dictionary entries are
    canonicalized like the surfaces (entities whose ids embed parenthetical
    qualifiers — ``Counterfeit_(band)`` — must link to their stripped
    mention forms; cf. del_bar at ptuning.py:88-106 applied to both sides).
    """
    # broadcast_dim=True (default): hint the dictionary — AQE would only
    # convert to broadcast AFTER shuffling the fact side, so the hint saves
    # a full shuffle whenever the vocabulary is known to fit.  Set False at
    # web scale (10^8+ entities exceeds the 8 GB broadcast ceiling).
    ents = kb_entities.select(canonical_entity("entity").alias("entity")).distinct()
    if broadcast_dim:
        ents = F.broadcast(ents)
    cand = mentions.select(
        "doc_id",
        "pos",
        canonical_entity("s_surface").alias("s"),
        "p",
        canonical_entity("o_surface").alias("o"),
    )
    return (
        cand.join(ents.withColumnRenamed("entity", "s"), "s", "left_semi")
        .join(ents.withColumnRenamed("entity", "o"), "o", "left_semi")
        .select("doc_id", "pos", "s", "p", "o")
    )
