"""Text normalization + deterministic scorer parity tests."""

from __future__ import annotations

from pyspark.sql import functions as F

from imgfact_spark.functions.scoring import det_score_col, det_score_py, xxh64, _to_signed
from imgfact_spark.functions.text import (
    canonical_entity,
    doc_fingerprint,
    lang_id,
    quality_score,
    token_count,
)
from tests.oracle import canonical_entity_py


CASES = [
    "David_Beckham",
    "David Beckham",
    "David Beckham (footballer)",
    "Head 0099 (1999 film)",
    "Nested (qual (inner)) Name",
    "  padded  ",
    "under_scored_(qualifier)",
    # adversarial cases for the gated fast path: mixed/doubled/edge
    # separators must still route through the full cleanup chain
    "a_ b",
    "a _b",
    "a__b",
    "a  b",
    "_leading",
    "trailing_",
    " edge _ mix_ ",
    "",
    "clean_simple_name",
]


def test_canonical_entity_matches_python(spark):
    df = spark.createDataFrame([(c,) for c in CASES], "v string")
    got = [r["c"] for r in df.select(canonical_entity("v").alias("c")).collect()]
    want = [canonical_entity_py(c) for c in CASES]
    assert got == want


def test_canonical_entity_unifies_aliases(spark):
    df = spark.createDataFrame(
        [("David_Beckham",), ("David Beckham",), ("David Beckham (footballer)",)],
        "v string",
    )
    vals = {r["c"] for r in df.select(canonical_entity("v").alias("c")).collect()}
    assert vals == {"David_Beckham"}


def test_xxhash64_parity_spark_python(spark):
    vals = ["", "a", "hello world", "Head_0000|formerTeam|Tail_0001", "x" * 100]
    df = spark.createDataFrame([(v,) for v in vals], "v string")
    got = {r["v"]: r["h"] for r in df.select("v", F.xxhash64("v").alias("h")).collect()}
    for v in vals:
        assert got[v] == _to_signed(xxh64(v.encode())), v


def test_det_score_col_py_parity(spark):
    rows = [("s1", "p1"), ("s2", "p2"), ("Head_0000", "formerTeam")]
    df = spark.createDataFrame(rows, "a string, b string")
    got = [
        r["u"] for r in df.select(
            F.round(det_score_col("a", "b"), 9).alias("u")
        ).collect()
    ]
    import pandas as pd

    want = det_score_py(
        pd.Series([a for a, _ in rows]), pd.Series([b for _, b in rows])
    ).round(9).tolist()
    assert got == want


def test_token_count_edges(spark):
    df = spark.createDataFrame(
        [("",), ("   ",), ("one",), ("two words",), ("  padded   words here ",)],
        "t string",
    )
    got = [r["n"] for r in df.select(token_count("t").alias("n")).collect()]
    assert got == [0, 0, 1, 2, 3]


def test_lang_id_heuristic(spark):
    df = spark.createDataFrame(
        [
            ("the cat sat on the mat and it was happy",),
            ("zxcv qwer asdf yuio",),
        ],
        "t string",
    )
    got = [r["l"] for r in df.select(lang_id("t").alias("l")).collect()]
    assert got == ["en", "other"]


def test_quality_score_bounds(spark):
    df = spark.createDataFrame(
        [("",), ("a good length sentence with many normal english words included",)],
        "t string",
    )
    got = [r["q"] for r in df.select(quality_score("t").alias("q")).collect()]
    assert all(0.0 <= q <= 1.0 for q in got)
    assert got[1] > got[0]


def test_doc_fingerprint_normalization(spark):
    df = spark.createDataFrame(
        [("Hello  World",), ("  hello world ",), ("different",)], "t string"
    )
    got = [r["f"] for r in df.select(doc_fingerprint("t").alias("f")).collect()]
    assert got[0] == got[1] != got[2]


def _rolling_twin(text: str) -> int:
    import hashlib
    import re as _re

    # collapse-then-trim, exactly like the Spark column and DuckDB oracle
    t = _re.sub(r"\s+", " ", text).strip()
    if not t:
        return 0
    h = 0
    for tok in t.lower().split(" "):
        th = int(hashlib.md5(tok.encode()).hexdigest()[:7], 16)
        h = (h * 131 + th) % 2147483647
    return h


def test_rolling_fingerprint_matches_twin_and_is_order_sensitive(spark):
    from imgfact_spark.functions.text import rolling_fingerprint

    texts = ["alpha beta gamma", "beta alpha gamma", "  Spaced   Out ",
             "", "   ", "one", "42 7 42", "a b a b a",
             # tab/newline edges: Spark trim strips only spaces, so the
             # collapse-then-trim order is load-bearing here
             "\talpha beta", "alpha beta\n", "\t\n", " \t mixed\nws\t "]
    df = spark.createDataFrame([(t,) for t in texts], "t string")
    got = [r["f"] for r in df.select(rolling_fingerprint("t").alias("f")).collect()]
    assert got == [_rolling_twin(t) for t in texts]
    # order-SENSITIVE (unlike a bag hash): swapped tokens change the value
    assert got[0] != got[1]
    # edge whitespace must not change the value, whatever the char
    assert got[8] == got[9] == _rolling_twin("alpha beta")
    assert got[10] == 0  # whitespace-only (tab/newline) → blank → 0


def test_rolling_fingerprint_prefix_composable():
    # h(a ++ b) extends h(a) by folding b's tokens — the chunked-scanner
    # contract claimed in the docstring
    import hashlib

    a, b = "lorem ipsum dolor", "sit amet"
    h = _rolling_twin(a)
    for tok in b.lower().split(" "):
        th = int(hashlib.md5(tok.encode()).hexdigest()[:7], 16)
        h = (h * 131 + th) % 2147483647
    assert h == _rolling_twin(a + " " + b)


def test_token_count_bpe_matches_re_twin(spark):
    import re as _re

    from imgfact_spark.functions.text import _BPE_TOKEN_PATTERN, token_count_bpe

    texts = ["Hello, world!", "abc123def", "42.5%", "", "   ",
             "a_b-c", "x  y\tz\n", "don't stop-me now!!"]
    df = spark.createDataFrame([(t,) for t in texts], "t string")
    got = [r["n"] for r in df.select(token_count_bpe("t").alias("n")).collect()]
    assert got == [len(_re.findall(_BPE_TOKEN_PATTERN, t)) for t in texts]
    # shape checks: digits split per-char, letter runs stay whole
    assert got[1] == 5  # abc | 1 | 2 | 3 | def
    assert got[2] == 5  # 4 | 2 | . | 5 | %


def test_redact_pii_known_strings(spark):
    from imgfact_spark.functions.text import redact_pii

    cases = [
        ("write to bob.smith+x@sub.example.co.uk today",
         "write to <EMAIL> today"),
        ("server at 192.168.0.1 and 10.0.0.255 up",
         "server at <IP> and <IP> up"),
        ("call +1 (415) 555-0123 now", "call <PHONE> now"),
        ("mixed a@b.io 127.0.0.1 555 123 4567 end",
         "mixed <EMAIL> <IP> <PHONE> end"),
        ("no pii here, just words and 42", "no pii here, just words and 42"),
        ("", ""),
    ]
    df = spark.createDataFrame([(t,) for t, _ in cases], "t string")
    got = [r["c"] for r in df.select(redact_pii("t").alias("c")).collect()]
    assert got == [want for _, want in cases]


def test_redact_pii_spark_matches_python_twin(spark):
    """Column implementation == the python twin property tests run on
    (chain: hypothesis property → twin → Spark parity)."""
    from imgfact_spark.functions.text import redact_pii
    from tests.oracle import redact_pii_py

    samples = [
        "a@b.io x", "10.0.0.1", "+1 (415) 555-0123", "no pii", "",
        "u.v-w%x+y@sub.dom.co 255.255.255.255 tail",
        "digits 123456789012 run", "at@at@no.pe", "1.2.3.4.5.6",
        "call 555 123 4567 or write a@b.cd now", "+  spaced",
        "trail dot 1.2.3.4.", "a@b.c",  # 1-char TLD: must NOT match email
    ]
    df = spark.createDataFrame([(s,) for s in samples], "t string")
    got = [r["c"] for r in df.select(redact_pii("t").alias("c")).collect()]
    assert got == [redact_pii_py(s) for s in samples]


def test_repetition_ratio_known_values(spark):
    from imgfact_spark.functions.text import repetition_ratio

    cases = [
        ("a b a b a b", 1.0 - 2.0 / 5.0),   # bigrams: ab ba ab ba ab
        ("all tokens here are unique", 0.0),
        ("word word word word", 1.0 - 1.0 / 3.0),
        ("one", 0.0),
        ("", 0.0),
        ("   ", 0.0),
    ]
    df = spark.createDataFrame([(t,) for t, _ in cases], "t string")
    got = [r["r"] for r in df.select(repetition_ratio("t").alias("r")).collect()]
    for (txt, want), g in zip(cases, got):
        assert abs(g - want) < 1e-12, (txt, g, want)


def test_gopher_rules_spark_matches_python_twin(spark):
    """Column implementation == independent re/str twin on adversarial
    cases: blanks, bullet/ellipsis line mixes, symbol floods, word-count
    boundaries (exactly 50 words), digit-only tokens, multi-line docs."""
    from imgfact_spark.functions.text import gopher_rules
    from tests.oracle import gopher_rules_py

    fifty = " ".join(
        f"the be to of and that have with word{i}" for i in range(5)
    )  # exactly 50 tokens, stopword-rich, mean len in range
    cases = [
        "",
        "   ",
        "one",
        fifty,
        fifty + " extra",
        "# " * 60,                                # symbol flood
        "- bullet\n- bullet\n- bullet\nplain",     # 75% bullets: passes
        "- b\n- b\n- b\n- b",                      # 100% bullets: fails
        "end...\nend…\nplain\nplain",              # 50% ellipsis: fails
        " ".join(["123"] * 60),                    # no alpha words
        " ".join(["supercalifragilistic"] * 60),   # mean len > 10
        "the be to of " + " ".join(f"w{i}" for i in range(46)) + "\n  - x\ntail...",
        "\tthe be\n" + fifty,
        "\t",                                      # tab-only: blank, 0 words
        "\n\n",                                    # newline-only: blank
        "\t- a\n\t- b\n\t- c\n\t- d",               # tab-indented bullet wall
        "x...\t\ny...\t\nz...\t\nw...\t",           # tab-trailing ellipses
    ]
    df = spark.createDataFrame([(t,) for t in cases], "t string")
    got = [
        r.asDict()
        for r in df.select(gopher_rules("t").alias("g")).select("g.*").collect()
    ]
    for txt, g in zip(cases, got):
        assert g == gopher_rules_py(txt), (txt[:60], g, gopher_rules_py(txt))


def test_checkpoint_scorer_partition_deterministic(spark):
    """The served default model checkpoint (M2/M3 grounding scorer) is a
    pure function of (s,p,o,media_ref): identical scores regardless of
    partitioning, all non-key columns pass through JVM-side, scores in
    (0,1], and equal to the closed-over reference at the default width-256,
    4-layer, seed-42 weights."""
    import pandas as pd

    from imgfact_spark.pipeline.model_serving import (
        default_checkpoint_path,
        score_groundings_checkpoint,
    )
    from tests.oracle import model_scores_py

    ckpt = default_checkpoint_path("model")
    rows = [
        (f"d{i}", f"s{i % 7}", f"p{i % 3}", f"o{i % 5}", f"img://x/{i}", "TL001")
        for i in range(500)
    ]
    df = spark.createDataFrame(
        rows, "doc_id string, s string, p string, o string, media_ref string, subset string"
    )
    a = score_groundings_checkpoint(df.repartition(1), ckpt).orderBy("doc_id").collect()
    b = score_groundings_checkpoint(df.repartition(13), ckpt).orderBy("doc_id").collect()
    assert [r.asDict() for r in a] == [r.asDict() for r in b]
    assert set(a[0].asDict()) == {
        "doc_id", "s", "p", "o", "media_ref", "subset",
        "score", "score_s", "score_o",
    }
    assert all(0.0 < r.score <= 1.0 and 0.0 < r.score_s <= 1.0 for r in a)
    # exact, not approx: the 6-decimal round on both sides absorbs BLAS
    # batch-shape ulps (see test_model_serving)
    ser = lambda c: pd.Series([r[c] for r in a], dtype="object")  # noqa: E731
    want = model_scores_py(ser("s"), ser("p"), ser("o"), ser("media_ref"))
    assert [(r.score, r.score_s, r.score_o) for r in a] == list(
        want.itertuples(index=False, name=None)
    )
    # same key -> same score regardless of the surrounding rows
    by_key = {}
    for r in a:
        by_key.setdefault((r.s, r.p, r.o, r.media_ref), set()).add(
            (r.score, r.score_s, r.score_o)
        )
    assert all(len(v) == 1 for v in by_key.values())


# ------------------------------------------------------ sentence splitting


def _py_sentences(text):
    import re

    marked = re.sub(r"([.!?]) ", lambda m: m.group(1) + "\x1e", text)
    return [s.strip() for s in marked.split("\x1e") if s.strip()]


def test_split_sentences_matches_python_twin(spark):
    from imgfact_spark.functions.text import split_sentences

    docs = [
        (1, "One. Two! Three? Four"),
        (2, "No split here"),
        (3, "Trailing dot. "),
        (4, "a.b no space so no split. end"),
        (5, "  "),
        (6, "Multi  spaces. After!  Double gap."),
        (7, "e.g. abbreviation splits. By design."),
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    got = {
        r["doc_id"]: r["s"]
        for r in df.select("doc_id", split_sentences("text").alias("s")).collect()
    }
    for did, text in docs:
        assert got[did] == _py_sentences(text), (did, got[did])


def test_split_sentences_blank_and_lone_punct(spark):
    from imgfact_spark.functions.text import split_sentences

    df = spark.createDataFrame([(1, ""), (2, ". . ."), (3, "! ")], ["doc_id", "text"])
    got = {
        r["doc_id"]: r["s"]
        for r in df.select("doc_id", split_sentences("text").alias("s")).collect()
    }
    assert got[1] == []
    assert got[2] == [".", ".", "."]
    assert got[3] == ["!"]


# ------------------------------------------------------- domain profile


def test_domain_profile_counts_and_dups(spark):
    from imgfact_spark.operators.stats import domain_profile

    rows = [
        ("a", "Hello world. Twice here!"),
        ("a", "hello   world. twice here!"),  # same fingerprint as row 1
        ("a", "distinct content entirely"),
        ("b", "Solo doc. With two sentences."),
    ]
    df = spark.createDataFrame(rows, ["source", "text"])
    got = {
        r["domain"]: r.asDict()
        for r in domain_profile(df, "text", "source").collect()
    }
    assert got["a"]["n_docs"] == 3
    # rows 1+2 normalize (collapse+lower) to the same fingerprint
    assert got["a"]["n_unique_docs"] == 2
    assert got["b"]["n_docs"] == got["b"]["n_unique_docs"] == 1
    assert got["a"]["tok_sum"] == 4 + 4 + 3
    assert got["a"]["sent_sum"] == 2 + 2 + 1
    assert got["b"]["sent_sum"] == 2
    assert "qsum_e4" not in got["a"]  # only with quality_col


def test_domain_profile_quality_sum_is_exact_integer(spark):
    from imgfact_spark.operators.stats import domain_profile

    rows = [("a", "x", 0.12345), ("a", "y", 0.5), ("b", "z", 0.99999)]
    df = spark.createDataFrame(rows, ["source", "text", "q"])
    got = {
        r["domain"]: r["qsum_e4"]
        for r in domain_profile(df, "text", "source", quality_col="q").collect()
    }
    assert got["a"] == 1234 + 5000
    assert got["b"] == 9999


def test_quality_leg_sql_twin_blank_text_parity(spark):
    """The factored _QUALITY_RAW_SQL oracle leg must match Spark
    quality_score on blank/whitespace-only text too: DuckDB's
    string_split_regex('') returns [''] (len 1), so the token component
    needs the same empty-guard as _TOKENS_LEG_SQL (round-5 review
    finding — this is the drift class the factoring exists to prevent)."""
    import duckdb

    from imgfact_spark.entry_queries import _QUALITY_RAW_SQL
    from imgfact_spark.functions.text import quality_score

    texts = ["", "   ", "\t\n ", "hi", "a b. c!", "one. two three"]
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE documents AS SELECT * FROM (VALUES "
        + ",".join(f"({i}, '{t}')" for i, t in enumerate(texts))
        + ") AS v(doc_id, text)"
    )
    want = dict(
        con.execute(
            f"SELECT doc_id, {_QUALITY_RAW_SQL} FROM documents"
        ).fetchall()
    )
    df = spark.createDataFrame(list(enumerate(texts)), ["doc_id", "text"])
    got = {
        r["doc_id"]: r["q"]
        for r in df.select(
            "doc_id", quality_score("text", round_to=None).alias("q")
        ).collect()
    }
    for i, t in enumerate(texts):
        assert got[i] == want[i], (repr(t), got[i], want[i])
