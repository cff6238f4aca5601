"""Independent reference for the KG tables, built from the planted truth.

The synthetic corpus plants known facts: ``synth.synth_truth`` lists, per
document, every (s, p, o) written into its text, and the document's media
spans carry the entity pair in their path.  The expected ``kg_triples`` and
``kg_groundings`` follow from those two inputs and the decision rules below
with plain pandas merges — no Spark, and none of the pipeline's stage code.
The only program function used is the vendored ``xxh64`` (the stand-in
scorers hash with Spark's xxhash64, seed 42).

Decision rules (the pipeline's default configuration; reference thresholds):

* an entity is visual when it appears in at least ``MIN_EVIDENCE`` distinct
  media refs and its classifier score ``u("vcc|e")`` is ``>= VCC_THRESHOLD``;
* a planted fact is kept when both endpoints are visual (a relation whitelist
  with zero minimum counts keeps every relation that occurs);
* a kept fact grounds on the media spans of the same document whose path
  pair equals (s, o); a grounding survives when its pair score is
  ``> PAIR_THRESHOLD`` and both entity scores are ``>= ENT_THRESHOLD``;
* per (s, p, o) the survivors are ranked by score desc, media_ref, doc_id and
  the first ``TOPK`` kept;
* ``kg_triples.n_docs`` is the number of documents planting the fact.

Scores are rounded to 6 decimals half-up on the shortest decimal form of the
double, as Spark's ``round`` does (checked against Spark over all 3·10^6
possible score values on OpenJDK 17).
"""

from __future__ import annotations

from decimal import ROUND_HALF_UP, Decimal

import pandas as pd
import pyarrow.compute as pc
import pyarrow.parquet as pq

from imgfact_spark.functions.scoring import xxh64

MIN_EVIDENCE = 1
VCC_THRESHOLD = 0.02
PAIR_THRESHOLD = 0.4
ENT_THRESHOLD = 0.87
TOPK = 10

TRIPLE_COLS = ["s", "p", "o", "n_docs"]
GROUNDING_COLS = ["s", "p", "o", "media_ref", "doc_id", "score", "rank"]

_Q6 = Decimal("0.000001")


def _round6(x: float) -> float:
    return float(Decimal(repr(x)).quantize(_Q6, rounding=ROUND_HALF_UP))


def _unit(key: str) -> float:
    """pmod(xxhash64(key), 10^6) / 10^6 with Spark's signed 64-bit hash."""
    h = xxh64(key.encode("utf-8"))
    if h >= 1 << 63:
        h -= 1 << 64
    return float(h % 1_000_000) / 1e6


def _scores(keys: pd.Series, scale: float, offset: float) -> pd.Series:
    """Hash each distinct key once: keys repeat heavily across documents."""
    uniq = {k: _round6(offset + scale * _unit(k)) for k in keys.unique()}
    return keys.map(uniq).astype("float64")


def media_spans(docs_path: str) -> pd.DataFrame:
    """(doc_id, media_ref) of every media span, read straight from parquet."""
    table = pq.read_table(docs_path, columns=["doc_id", "spans"])
    spans = table.column("spans").combine_chunks()
    flat = pc.list_flatten(spans)
    parent = pc.list_parent_indices(spans)
    doc_ids = pc.take(table.column("doc_id").combine_chunks(), parent)
    df = pd.DataFrame(
        {
            "doc_id": doc_ids.to_pandas(),
            "kind": pc.struct_field(flat, "kind").to_pandas(),
            "media_ref": pc.struct_field(flat, "media_ref").to_pandas(),
        }
    )
    return df.loc[df["kind"] == "media", ["doc_id", "media_ref"]].reset_index(drop=True)


def _media_pairs(media: pd.DataFrame) -> pd.DataFrame:
    """Path ``img://<subset>/<p>/<s> <o>/<n>.jpg`` → entity pair; the pair
    directory splits at the midpoint of its space-separated tokens."""
    pair = media["media_ref"].str.removeprefix("img://").str.split("/").str[2]
    tokens = pair.str.split(" ")
    half = tokens.str.len() // 2
    s = [("_".join(t[:h])) for t, h in zip(tokens, half)]
    o = [("_".join(t[h:])) for t, h in zip(tokens, half)]
    return media.assign(s=s, o=o)


def expected_tables(truth: pd.DataFrame, media: pd.DataFrame) -> tuple[pd.DataFrame, pd.DataFrame]:
    """→ (kg_triples, kg_groundings) in canonical order (see :func:`canonical`)."""
    media = _media_pairs(media)
    evidence = pd.concat(
        [media[["s", "media_ref"]].rename(columns={"s": "entity"}),
         media[["o", "media_ref"]].rename(columns={"o": "entity"})]
    ).drop_duplicates()
    counts = evidence.groupby("entity")["media_ref"].size()
    ents = counts[counts >= MIN_EVIDENCE].index.to_series()
    vcc = _scores("vcc|" + ents, 1.0, 0.0)
    visual = set(ents[vcc.to_numpy() >= VCC_THRESHOLD])

    facts = truth[["doc_id", "s", "p", "o"]]
    kept = facts[facts["s"].isin(visual) & facts["o"].isin(visual)]

    g = kept.merge(media[["doc_id", "s", "o", "media_ref"]], on=["doc_id", "s", "o"])
    g = g.assign(
        score=_scores("pair|" + g["s"] + "|" + g["p"] + "|" + g["o"] + "|" + g["media_ref"], 0.8, 0.2),
        score_s=_scores("ent|" + g["s"] + "|" + g["media_ref"], 0.25, 0.75),
        score_o=_scores("ent|" + g["o"] + "|" + g["media_ref"], 0.25, 0.75),
    )
    g = g[(g["score"] > PAIR_THRESHOLD) & (g["score_s"] >= ENT_THRESHOLD) & (g["score_o"] >= ENT_THRESHOLD)]
    g = g.sort_values(
        ["s", "p", "o", "score", "media_ref", "doc_id"],
        ascending=[True, True, True, False, True, True],
    )
    g = g.assign(rank=g.groupby(["s", "p", "o"]).cumcount() + 1)
    g = g[g["rank"] <= TOPK]

    triples = kept.groupby(["s", "p", "o"])["doc_id"].nunique().rename("n_docs").reset_index()
    return canonical(triples, TRIPLE_COLS), canonical(g, GROUNDING_COLS)


def canonical(df: pd.DataFrame, cols: list[str]) -> pd.DataFrame:
    """Fixed column order, dtypes and row order, so equal tables compare equal."""
    out = df[cols].copy()
    for c in out.columns:
        if c in ("n_docs", "rank"):
            out[c] = out[c].astype("int64")
        elif c == "score":
            out[c] = out[c].astype("float64")
        else:
            out[c] = out[c].astype(object)
    return out.sort_values(cols).reset_index(drop=True)


def compare(name: str, got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """None when equal, else a one-line description of the first difference."""
    cols = list(want.columns)
    missing = [c for c in cols if c not in got.columns]
    if missing:
        return f"{name}: missing columns {missing}"
    got = canonical(got, cols)
    if got.equals(want):
        return None
    diff = got.merge(want, how="outer", on=cols, indicator=True)
    extra = diff[diff["_merge"] == "left_only"]
    lost = diff[diff["_merge"] == "right_only"]
    first = (extra if len(extra) else lost).head(1).to_dict("records")
    return (
        f"{name}: {len(got)} rows vs {len(want)} expected, "
        f"{len(extra)} unexpected, {len(lost)} missing; first {first}"
    )
