"""Mention detection (pipeline/extract.detect_mentions) against the
independent Python-``re`` reference (tests/oracle.mentions_py).

The engine builds java.util.regex patterns; the reference builds Python
``re`` patterns from the same templates.  The inputs are chosen where the
two dialects disagree unless the engine quotes and flags its patterns
correctly: regex metacharacters and ``\\Q``/``\\E`` inside templates, the
line terminators java.util.regex knows but Python does not, NULL/empty
text and characters outside the BMP.
"""

from __future__ import annotations

import pytest

from imgfact_spark.pipeline.extract import detect_mentions
from tests.oracle import mentions_py

SPAN_SCHEMA = "doc_id string, pos int, kind string, text string"

# every template has a constant segment of >= 4 chars: the row-level
# contains gate is on
GATED_TEMPLATES = [
    ("birthPlace", "{} was born in {}."),
    ("born", "{} was born {}"),  # also matches every birthPlace row
    ("price", "{} costs $5.00 (net) for {}."),
    ("quoted", "{} \\E said \\Q to {}"),
    ("tail", "{} is the parent of {}"),
]
# one template's longest segment is 3 chars: the gate is off and every text
# row meets every template
UNGATED_TEMPLATES = GATED_TEMPLATES + [("amp", "{} & {}")]

TEXTS = [
    "Alice was born in Paris.",
    "Alice was born in Paris.\n",
    "Alice was born in Paris.\n\n",
    "Alice\nBob was born in Paris.",
    "Alice was born in Pa\nris.",
    "Alice\r was born in Paris\r.",
    "Alice\r\n was born in Paris.",
    "\u0085Alice was born in \u2028Paris\u2029.",
    "Al\u2028ice is the parent of B\u0085ob",
    "\U0001F600Alice was born in \U0001D11EParis.",
    "A was born in B was born in C.",
    "Widget costs $5.00 (net) for Bob.",
    "Widget costs $5X00 (net) for Bob.",
    "Widget costs $5.00 net for Bob.",
    "Q \\E said \\Q to R",
    "Q E said Q to R",
    "Q \\\\E said \\Q to R",
    "X & Y",
    "X & Y\n",
    "&&&",
    " was born in .",
    "was born in Paris.",
    "",
    None,
]


def _spans(spark, texts):
    rows = [(f"d{i % 7}", i, "text", t) for i, t in enumerate(texts)]
    # media spans are never matched, even when their text would be
    rows.append(("d0", 10_000, "image", "Alice was born in Paris."))
    return rows, spark.createDataFrame(rows, SPAN_SCHEMA)


def _rel2desc(spark, templates):
    return spark.createDataFrame(templates, "p string, template string")


def _engine(df):
    return sorted(map(tuple, df.collect()))


@pytest.mark.parametrize(
    "templates", [GATED_TEMPLATES, UNGATED_TEMPLATES], ids=["gated", "ungated"]
)
def test_detect_mentions_matches_python_re(spark, templates):
    rows, spans = _spans(spark, TEXTS)
    got = _engine(detect_mentions(spans, _rel2desc(spark, templates)))
    want = mentions_py(rows, templates)
    assert got == want
    # the edge cases are live: several dialect traps match, two templates
    # hit one row
    assert len(want) >= 12
    assert ("d0", 0, "born", "Alice", "in Paris.") in want
    assert ("d0", 0, "birthPlace", "Alice", "Paris") in want
    assert ("d5", 5, "birthPlace", "Alice\r", "Paris\r") in want


def test_detect_mentions_142_templates_match_python_re(spark):
    stems = ["was born in", "works for", "is married to", "died in",
             "graduated from", "plays for", "is located in", "belongs to"]
    templates = [
        (f"p{i:03d}", "{} " + f"{stems[i % len(stems)]} the {i:03d}th" + " {}.")
        for i in range(142)
    ]
    texts = []
    for i in range(2000):
        j = i % 142
        lit = f"{stems[j % len(stems)]} the {j:03d}th"
        if i % 5 == 0:
            texts.append(f"subject {i} {lit} object {i}.")
        elif i % 5 == 1:  # the literal without the template's tail
            texts.append(f"subject {i} {lit} object {i}")
        elif i % 5 == 2:  # two literals: the lazy first slot decides
            texts.append(f"s{i} {lit} x {lit} o{i}.")
        else:
            texts.append(f"entity {i} mentioned nothing factual at all")
    rows, spans = _spans(spark, texts)
    got = _engine(detect_mentions(spans, _rel2desc(spark, templates)))
    want = mentions_py(rows, templates)
    assert got == want and len(want) == 800


def test_detect_mentions_plan_has_no_python(spark):
    _, spans = _spans(spark, TEXTS)
    df = detect_mentions(spans, _rel2desc(spark, UNGATED_TEMPLATES))
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    for node in ("MapInPandas", "ArrowEvalPython", "BatchEvalPython", "PythonUDF"):
        assert node not in plan, plan
    assert df.schema.simpleString() == (
        "struct<doc_id:string,pos:int,p:string,s_surface:string,o_surface:string>"
    )
    # non-nullable surfaces: link_entities' join keys then need no
    # isnotnull filter, which would evaluate canonical_entity a second time
    assert [df.schema[c].nullable for c in ("p", "s_surface", "o_surface")] == [
        False, False, False
    ]


@pytest.mark.parametrize(
    "template", ["{} was born in Paris.", "{} was born in {} and {}."]
)
def test_template_without_two_slots_is_rejected_at_plan_time(spark, template):
    _, spans = _spans(spark, TEXTS)
    r2d = _rel2desc(spark, [("birthPlace", "{} was born in {}."), ("bad", template)])
    with pytest.raises(ValueError, match="p='bad'") as err:
        detect_mentions(spans, r2d)
    assert repr(template) in str(err.value)


def test_empty_template_table_yields_no_mentions(spark):
    _, spans = _spans(spark, TEXTS)
    df = detect_mentions(spans, _rel2desc(spark, []))
    assert df.collect() == []
    assert df.columns == ["doc_id", "pos", "p", "s_surface", "o_surface"]
