"""Independent pure-pandas oracle for the KG-construction pipeline.

Reimplements the reference decision rules (same thresholds/rankings the Spark
pipeline encodes, cited in the pipeline modules) WITHOUT Spark, so the
golden e2e test compares two independent implementations.
"""

from __future__ import annotations

import re

import numpy as np
import pandas as pd

from imgfact_spark.functions.scoring import _MOD, _to_signed, xxh64


def u(*parts: str) -> float:
    h = _to_signed(xxh64("|".join(parts).encode("utf-8")))
    return (h % _MOD + _MOD) % _MOD / _MOD


def template_to_pattern_py(template: str) -> str:
    """Python-``re`` reading of a two-slot relation template: the constant
    segments ``re.escape``d, both slots non-greedy ``(.+?)``, anchored at
    both ends."""
    return "^" + "(.+?)".join(re.escape(seg) for seg in template.split("{}")) + "$"


def mentions_py(
    spans: list[tuple], templates: list[tuple[str, str]]
) -> list[tuple]:
    """spans [(doc_id, pos, kind, text)] × templates [(p, template)] →
    sorted [(doc_id, pos, p, s_surface, o_surface)]: one row per text span
    and matching template; NULL text matches nothing."""
    compiled = [(p, re.compile(template_to_pattern_py(t))) for p, t in templates]
    out = []
    for doc_id, pos, kind, text in spans:
        if kind != "text" or text is None:
            continue
        for p, rgx in compiled:
            m = rgx.match(text)
            if m:
                out.append((doc_id, pos, p, m.group(1), m.group(2)))
    return sorted(out)


def canonical_entity_py(x: str) -> str:
    x = x.replace("_", " ")
    for _ in range(3):
        x = re.sub(r"\([^()]*\)", "", x)
    x = re.sub(r"__+", "_", x)
    x = re.sub(r"  +", " ", x)
    x = re.sub(r"^[_ ]+|[_ ]+$", "", x)
    return x.replace(" ", "_")


def parse_media_ref(ref: str) -> tuple[str, str, str, str]:
    """→ (subset, p, s, o) from img://Triplelist/rel/"s o"/N.jpg — pair
    entities canonicalized like the pipeline (ingest.media_spans)."""
    parts = ref.removeprefix("img://").split("/")
    subset, p, pair = parts[0], parts[1], parts[2]
    toks = pair.split(" ")
    half = len(toks) // 2
    s = canonical_entity_py("_".join(toks[:half]))
    o = canonical_entity_py("_".join(toks[half:]))
    return subset, p, s, o


def run_oracle(
    docs: list[dict],
    templates: list[tuple[str, str]],
    kb_entities: set[str],
    min_evidence: int = 1,
    vcc_threshold: float = 0.02,
    pair_threshold: float = 0.4,
    ent_threshold: float = 0.87,
    topk: int = 10,
):
    """docs: [{doc_id, spans: [{kind,text,media_ref,offset}]}] →
    (kg_triples pdf, kg_groundings pdf)."""
    compiled = [(p, re.compile(template_to_pattern_py(t))) for p, t in templates]
    kb_entities = {canonical_entity_py(e) for e in kb_entities}

    mentions = []  # (doc_id, pos, s, p, o)
    media = []  # (doc_id, pos, media_ref, subset, p, s, o)
    for d in docs:
        for pos, sp in enumerate(d["spans"]):
            if sp["kind"] == "text":
                for p, rgx in compiled:
                    m = rgx.match(sp["text"])
                    if m:
                        s = canonical_entity_py(m.group(1))
                        o = canonical_entity_py(m.group(2))
                        if s in kb_entities and o in kb_entities:
                            mentions.append((d["doc_id"], pos, s, p, o))
            else:
                subset, mp, ms, mo = parse_media_ref(sp["media_ref"])
                media.append((d["doc_id"], pos, sp["media_ref"], subset, mp, ms, mo))

    mdf = pd.DataFrame(
        media, columns=["doc_id", "pos", "media_ref", "subset", "mp", "ms", "mo"]
    )
    # entity evidence: distinct media_ref per endpoint entity
    ev: dict[str, set] = {}
    for _, r in mdf.iterrows():
        ev.setdefault(r["ms"], set()).add(r["media_ref"])
        ev.setdefault(r["mo"], set()).add(r["media_ref"])
    visual = {
        e
        for e, refs in ev.items()
        if len(refs) >= min_evidence and u("vcc", e) >= vcc_threshold
    }

    cands = [
        (d, pos, s, p, o)
        for d, pos, s, p, o in mentions
        if s in visual and o in visual
    ]

    # groundings: same-doc media with matching pair
    grounds = []
    for d, pos, s, p, o in cands:
        sub = mdf[(mdf["doc_id"] == d) & (mdf["ms"] == s) & (mdf["mo"] == o)]
        for _, r in sub.iterrows():
            score = round(0.20 + 0.80 * u("pair", s, p, o, r["media_ref"]), 6)
            ss = round(0.75 + 0.25 * u("ent", s, r["media_ref"]), 6)
            so = round(0.75 + 0.25 * u("ent", o, r["media_ref"]), 6)
            if score > pair_threshold and ss >= ent_threshold and so >= ent_threshold:
                grounds.append((s, p, o, r["media_ref"], d, score, r["subset"]))

    gdf = pd.DataFrame(
        grounds, columns=["s", "p", "o", "media_ref", "doc_id", "score", "subset"]
    )
    if not gdf.empty:
        gdf = gdf.sort_values(
            ["s", "p", "o", "score", "media_ref", "doc_id"],
            ascending=[True, True, True, False, True, True],
        )
        gdf["rank"] = gdf.groupby(["s", "p", "o"]).cumcount() + 1
        gdf = gdf[gdf["rank"] <= topk]

    tdf = (
        pd.DataFrame(cands, columns=["doc_id", "pos", "s", "p", "o"])
        .groupby(["s", "p", "o"])["doc_id"]
        .nunique()
        .reset_index(name="n_docs")
        if cands
        else pd.DataFrame(columns=["s", "p", "o", "n_docs"])
    )
    return tdf, gdf


def model_scores_py(
    s: pd.Series, p: pd.Series, o: pd.Series, media_ref: pd.Series,
    width: int = 256, layers: int = 4, seed: int = 42,
) -> pd.DataFrame:
    """Closed-over reference for the served ``mode="model"`` grounding
    scorer (pipeline/model_serving.py): the weights are drawn here from
    (width, layers, seed) — planes, readout, freqs, in that order — instead
    of being read from a checkpoint file, and the encoder is written out
    again, so a drift in the file format or in the served forward pass
    shows up as a score mismatch.  → (score, score_s, score_o)"""
    rng = np.random.RandomState(seed)
    planes = [rng.standard_normal((width, width)) / np.sqrt(width) for _ in range(layers)]
    readout = rng.standard_normal(width) / np.sqrt(width)
    freqs = rng.uniform(0.5, 2.0, width) * 2 * np.pi

    def encode(keys: pd.Series) -> np.ndarray:
        h = pd.util.hash_pandas_object(keys, index=False).to_numpy()
        x = np.sin(np.outer((h % np.uint64(2**31)).astype("float64") / float(2**31), freqs))
        for w in planes:
            x = np.tanh(x @ w)
        return 1.0 / (1.0 + np.exp(-3.0 * (x @ readout)))

    return pd.DataFrame(
        {
            "score": np.round(encode("pair|" + s + "|" + p + "|" + o + "|" + media_ref), 6),
            "score_s": np.round(0.75 + 0.25 * encode("ent|" + s + "|" + media_ref), 6),
            "score_o": np.round(0.75 + 0.25 * encode("ent|" + o + "|" + media_ref), 6),
        }
    )


def redact_pii_py(text: str) -> str:
    """Python twin of functions/text.redact_pii — same pattern list (shared
    source, no drift), Python `re` (backtracking, like Java regex)."""
    import re

    from imgfact_spark.functions.text import _PII_PATTERNS

    for pat, tag in _PII_PATTERNS:
        text = re.sub(pat, tag, text)
    return text


def gopher_rules_py(text: str) -> dict:
    """Python twin of functions/text.gopher_rules — independent
    re/str implementation of the seven Gopher §A1.1 rules."""
    import re

    from imgfact_spark.functions.text import _GOPHER_STOPWORDS

    collapsed = re.sub(r"\s+", " ", text).strip()
    blank = len(collapsed) == 0
    toks = collapsed.lower().split(" ")
    n_w = 0 if blank else len(toks)
    mean_len = (sum(len(t) for t in toks) / n_w) if n_w > 0 else 0.0
    n_sym = len(re.findall(r"#|\.\.\.|…", text))
    lines = text.split("\n")
    n_bullet = sum(1 for ln in lines if re.match(r"^[ \t]*[-*•]", ln))
    n_ell = sum(1 for ln in lines if re.search(r"(\.\.\.|…)[ \t]*$", ln))
    n_alpha = 0 if blank else sum(1 for t in toks if re.search("[a-z]", t))
    stop_hits = len(set(toks) & set(_GOPHER_STOPWORDS.split(",")))
    out = {
        "n_words": n_w,
        "r_word_count": 50 <= n_w <= 100000,
        "r_mean_word_len": 3.0 <= mean_len <= 10.0,
        "r_symbol_ratio": (n_sym / n_w <= 0.1) if n_w > 0 else False,
        "r_bullet_lines": n_bullet / len(lines) <= 0.9,
        "r_ellipsis_lines": n_ell / len(lines) <= 0.3,
        "r_alpha_words": (n_alpha / n_w >= 0.8) if n_w > 0 else False,
        "r_stopwords": stop_hits >= 2,
    }
    out["n_rules"] = sum(v for k, v in out.items() if k.startswith("r_"))
    out["keep"] = all(v for k, v in out.items() if k.startswith("r_"))
    return out
