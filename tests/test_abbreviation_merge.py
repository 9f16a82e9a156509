"""The JVM abbreviation merge (Column expressions) equals its Python
specification, ``_merge_abbr_str`` / ``_merge_legal_abbr_str``.

The alphabet mixes the characters the regex cares about (ASCII letters,
dots, ASCII and Unicode whitespace) with ones where Python's and Java's
regex semantics differ: Unicode word characters for ``\\b`` (accented
letters, titlecase, superscript and letter-like numerals, ``_``, digits)
and letters a case-insensitive class would confuse with ASCII.
"""

import random

from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from entitymatchingmodel_spark.functions.preprocessing import (
    _merge_abbr_str,
    _merge_legal_abbr_str,
    merge_abbreviations,
    merge_legal_form_abbreviations,
)

ALPHABET = (
    "abvgnlstcoABVGNLSTCO" "." " " "\t" "\x1c" "\xa0" "　"
    "é" "_" "0" "7" "ǅ" "²" "Ⅻ" "İ" "K"
)
# letters that merge into legal forms, so the legal variant's both
# branches are exercised
_SEEDS = ["B.V.", "b v", "N. V.", "G m b H", "L.T.D", "s a", "x.y", "co."]


def _corpus(n: int, seed: int) -> list:
    rng = random.Random(seed)
    out = []
    for _ in range(n):
        parts = []
        for _ in range(rng.randint(0, 6)):
            if rng.random() < 0.3:
                parts.append(rng.choice(_SEEDS))
            else:
                parts.append("".join(rng.choice(ALPHABET) for _ in range(rng.randint(0, 5))))
        out.append(rng.choice(["", " ", ".", "\t"]).join(parts))
    return out


def _jvm_merge(spark, strings: list) -> list:
    df = spark.createDataFrame([(i, s) for i, s in enumerate(strings)], "i long, s string")
    rows = df.select(
        "i",
        merge_abbreviations(F.col("s")).alias("g"),
        merge_legal_form_abbreviations(F.col("s")).alias("l"),
    ).collect()
    got = sorted((r["i"], r["g"], r["l"]) for r in rows)
    return [(g, l) for _, g, l in got]


def test_jvm_merge_equals_python_on_seeded_corpus(spark):
    strings = _corpus(20_000, seed=11) + ["", None, "B. V.", "Tzu Sun B.V.", "A B C Consulting"]
    got = _jvm_merge(spark, strings)
    want = [
        (_merge_abbr_str(s), _merge_legal_abbr_str(s)) if s is not None else (None, None)
        for s in strings
    ]
    bad = [(s, g, w) for s, g, w in zip(strings, got, want) if g != w]
    assert not bad, f"{len(bad)} mismatches, first: {bad[:5]!r}"
    # the corpus exercises merging and the legal variant's both branches
    assert sum(g != s for s, (g, _) in zip(strings, got) if s) > 1000
    assert sum(l != g for (g, l) in got if g is not None) > 1000


@given(st.lists(st.text(alphabet=ALPHABET, max_size=30), min_size=1, max_size=40))
@settings(max_examples=15, deadline=None)
def test_jvm_merge_equals_python_property(spark, strings):
    want = [(_merge_abbr_str(s), _merge_legal_abbr_str(s)) for s in strings]
    assert _jvm_merge(spark, strings) == want
