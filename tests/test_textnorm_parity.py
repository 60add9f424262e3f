"""Catalyst-vs-Python normalization parity (the byte-identity keystone).

The golden path runs normalization in Catalyst (functions/text.py) while
goldens come from the Python oracle (core/textnorm.py). These tests feed
adversarial strings through BOTH and assert byte equality, plus the
idempotence property (SURVEY §5.2.4).
"""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from pdf_to_text_spark.core import textnorm as py
from pdf_to_text_spark.functions import text as cat
from pdf_to_text_spark.operators.extract import _normalized_pages, _pages_to_doc

ADVERSARIAL = [
    "",
    "plain",
    "  leading and trailing  ",
    "inform-\n ation joins",
    "hyphen-\n\n  across blank",
    "a\tb\tc\t\t d",
    "line1   \n   line2\n\n\n\n\nline3",
    "\n\n\nonly\n\n\n",
    "nbsp here  run",
    "crlf\r\nline\r\n\r\nnext",
    "x \x0b y \x0c z",
    "trailing hyphen-\n",
    "- leading hyphen line\nnext",
    "multi  spaces   and\nnewline mix \t\n \t deep",
    "unicode ünïcode — em–dash … ellipsis",
    "a\n \n \n \nb",
    # Java's $ also matches before a final line terminator
    "a \x85",
    "a \u2028",
    "a\n\n\u2029",
]


def _spark_apply(spark, fn, values):
    df = spark.createDataFrame([(v,) for v in values], "s string")
    return [r[0] for r in df.select(fn(F.col("s")).alias("o")).collect()]


def test_normalize_parity(spark):
    got = _spark_apply(spark, cat.normalize_extracted, ADVERSARIAL)
    exp = [py.normalize_extracted(v) for v in ADVERSARIAL]
    assert got == exp


def test_normalize_idempotent():
    for v in ADVERSARIAL:
        once = py.normalize_extracted(v)
        assert py.normalize_extracted(once) == once


# page fragments: seams, hyphens and every whitespace class the chain treats
# differently (NBSP, CR, \x0b, \f, U+0085 outside the class)
_FRAGMENTS = [
    "a", "b", "x y", "-", "x-", "--", " -", "- ", "-\n", " ", "  ", "\t", "\n", "\n\n",
    "\n\n\n", "\r", "\r\n", "\xa0", "\x0b", "\x0c", "\x85", "\u2028", "é",
]
_WS_PAGES = [" ", "\n", "\xa0\n", " \t\r\n\x0b\x0c\xa0", "\n\n\n\n"]
PAGE_CASES = [
    [],
    [""],
    ["", ""],
    ["x-", ""],
    ["x-", "", ""],
    ["", "x-"],
    ["", "", "x", "", ""],
    ["x-", "", "y"],
    ["-"],
    ["-", "-"],
    ["x", "-", ""],
    ["a -", "b"],
    ["a -", ""],
    ["  ", "x\xa0", "\x0b-\r\n"],
    ["a \x85", "b"],
]


def _random_pages(rng: random.Random) -> list[str]:
    pages = []
    for _ in range(rng.randrange(7)):
        roll = rng.random()
        if roll < 0.2:
            pages.append("")
        elif roll < 0.3:
            pages.append(rng.choice(_WS_PAGES))
        else:
            pages.append("".join(rng.choices(_FRAGMENTS, k=rng.randrange(1, 9))))
    return pages


def test_pdf_doc_from_normalized_pages_matches_oracle(spark):
    """The PDF doc text (the 4-pass join of the normalized page array)
    equals the oracle's ``normalize_extracted`` of the ``"\\n\\n"``-join
    of the normalized pages, on hand-picked seams and seeded page arrays
    (one Spark job)."""
    rng = random.Random(20261018)
    cases = PAGE_CASES + [_random_pages(rng) for _ in range(20000)]
    rows = [
        (pages, py.normalize_extracted("\n\n".join(py.normalize_extracted(p) for p in pages)))
        for pages in cases
    ]
    df = spark.createDataFrame(rows, "pages array<string>, expect string")
    got = df.select(
        "pages", "expect", _pages_to_doc(_normalized_pages(F.col("pages"))).alias("got")
    )
    bad = got.filter(~F.col("got").eqNullSafe(F.col("expect"))).limit(5).collect()
    assert bad == []


def test_meaningful_len_parity(spark):
    got = _spark_apply(spark, cat.meaningful_len, ADVERSARIAL)
    exp = [py.meaningful_len(v) for v in ADVERSARIAL]
    assert got == exp


def test_charset_clean_parity(spark):
    vals = ["OCR & Text — x", " • bullet ◦ two ", "a b", "keep. me! ok?; 'q' \"z\" -"]
    got = _spark_apply(spark, cat.charset_clean, vals)
    exp = [py.charset_clean(v) for v in vals]
    assert got == exp


def test_deep_clean_parity(spark):
    vals = [
        "Héllo!!! visit http://x.com or a@b.c  now",
        "www.site.org trailing",
        "repeat??!! ok...",
        "tabs\tand\nnewlines stay spaces",
    ]
    got = _spark_apply(spark, cat.deep_clean, vals)
    exp = [py.deep_clean(v) for v in vals]
    assert got == exp


def test_routing_threshold_parity(spark):
    vals = ["x" * 250, "x" * 251, " " * 300 + "x" * 250, "y" * 300, ""]
    df = spark.createDataFrame([(v,) for v in vals], "s string")
    got = [r[0] for r in df.select(cat.text_layer_sufficient(F.col("s")).alias("o")).collect()]
    exp = [py.text_layer_sufficient(v) for v in vals]
    assert got == exp


@pytest.mark.parametrize("n", [0, 1, 7])
def test_sentence_split(spark, n):
    s = " ".join(f"Sentence number {i} ends here." for i in range(n))
    df = spark.createDataFrame([(s,)], "s string")
    out = df.select(cat.sentences_strict(F.col("s")).alias("a")).collect()[0][0]
    assert len(out) == n
