"""Stage 1: mention detection + candidate triple extraction.

The reference's extraction substrate is a DBpedia triple dump filtered to
visual entities (relation_filtering/filter_tuples.py) plus model scoring; the
north rule re-frames it as mention detection over interleaved documents.

Implementation: ONE Catalyst projection over text spans.  The
relation-template table (broadcast-sized: 142 rows in the reference,
rel2desc.txt) becomes one ``regexp_extract`` pair per template, all
evaluated in the JVM — no Python worker, no Arrow transfer.  Each template
is an anchored java.util.regex pattern whose constant segments are
``\\Q…\\E``-quoted and which runs in UNIX_LINES mode ``(?d)``, so it matches
exactly what Python ``re`` matches for the same template (only ``\\n``
ends a line; ``\\r``, ``\\u0085`` and ``\\u2028`` are ordinary characters).

Entity linking happens downstream as a broadcast dictionary join
(entity-surface → KB entity), per SURVEY.md §1.4 "dict/set hash indexes →
broadcast dimension DataFrames".
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from imgfact_spark.functions.text import canonical_entity


def _quote(segment: str) -> str:
    """java.util.regex literal block; a ``\\E`` inside the segment is split
    out of the ``\\Q…\\E`` block and matched as an escaped backslash + E."""
    return "\\Q" + segment.replace("\\E", "\\E\\\\E\\Q") + "\\E"


def _template_pattern(p: str, template: str) -> str:
    """``"{} died in {}."`` → ``(?d)^\\Q\\E(.+?)\\Q died in \\E(.+?)\\Q.\\E$``.
    Both slots are non-greedy; the ``$`` anchor makes the second consume
    to the template tail."""
    segments = template.split("{}")
    if len(segments) != 3:
        raise ValueError(
            f"relation template for p={p!r} must have exactly two '{{}}' "
            f"slots, got {len(segments) - 1}: {template!r}"
        )
    return "(?d)^" + "(.+?)".join(_quote(s) for s in segments) + "$"


def _template_literal(template: str) -> str:
    """Longest constant segment of a two-slot template — the prescan key.

    ``"{}'s former team is {}."`` → ``"'s former team is "``.
    """
    parts = template.split("{}")
    best = max(parts, key=len) if parts else ""
    return best if len(best) >= 4 else ""


def detect_mentions(text_spans: DataFrame, rel2desc: DataFrame) -> DataFrame:
    """text spans × relation templates → raw (doc_id, pos, p, s_surface,
    o_surface), one row per (span, matching template).

    ``rel2desc`` is collected driver-side (dimension table, ≤ a few hundred
    rows by construction) and compiled into the plan — the same broadcast
    the reference does with its rel2desc dict
    (eval_and_app/prepare_data.py:21-25).  A template without exactly two
    ``{}`` slots raises ``ValueError`` here, at plan time.
    """
    templates = [
        (r["p"], _template_pattern(r["p"], r["template"]), _template_literal(r["template"]))
        for r in rel2desc.collect()
    ]
    text = F.col("text")
    # NULL text matches no template; read as "" it also makes every
    # extracted column non-nullable, so the optimizer drops the null checks
    # that link_entities' join keys would add (each check re-evaluates
    # canonical_entity over a surface).
    src = text_spans.filter(F.col("kind") == "text").select(
        "doc_id", "pos", F.coalesce(text, F.lit("")).alias("text")
    )
    # JVM-side literal prescan: a row that contains NO template's constant
    # segment cannot match any anchored template, so it never reaches the
    # per-template regexes — on real corpora the overwhelming majority of
    # text is non-factual.  Only sound when every template has a
    # distinctive literal.  Shape measured at the reference's 142-template
    # scale (BENCH/PLAN_NOTES.md, 2M rows): this contains-chain runs 3.3×
    # FASTER than one rlike over a \Q…\E-quoted alternation (9.3 s vs
    # 30.4 s) — java.util.regex retries every alternative at every position
    # (NFA backtracking, no Aho-Corasick), while each contains() is a
    # vectorized codegen substring scan.  Keep the chain: without it the
    # per-template extraction below ran 1.6× slower at 142 templates.
    literals = [lit for _, _, lit in templates]
    if templates and all(literals):
        gate = text.contains(literals[0])
        for lit in literals[1:]:
            gate = gate | text.contains(lit)
        src = src.filter(gate)
    # Per template: the literal check (``contains("")`` is always true) guards
    # the regex; a match always captures a non-empty first slot, so ``""``
    # means no match.  Non-matching templates yield NULL, dropped by
    # array_compact before inline fans the hits out to rows.
    hits = []
    for p, pat, lit in templates:
        s = F.regexp_extract(text, pat, 1)
        hits.append(
            F.when(
                text.contains(lit) & (s != ""),
                F.struct(
                    F.lit(p).alias("p"),
                    s.alias("s_surface"),
                    F.regexp_extract(text, pat, 2).alias("o_surface"),
                ),
            )
        )
    # an empty template table still yields the typed (empty) mention relation
    found = F.array_compact(F.array(*hits)) if hits else F.array().cast(
        "array<struct<p:string,s_surface:string,o_surface:string>>"
    )
    return src.select("doc_id", "pos", F.inline(found))


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
