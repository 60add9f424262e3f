"""Differential test of the production content-stream scanner.

``pdfparse._scan_content`` (the fused regex scanner + operator
interpreter) against the reference tokenizer + interpreter in
``tests/content_reference.py``, compared by outcome: the runs, the
inline-image spans and the ``Do`` operands, or the ``PdfError``
message, or the class of any other exception.

- Harvested: every content stream, with its fonts, that the parser
  interprets for the PDF rows of one cycle of the extended fixture mix
  (the default mix plus the CID/ToUnicode, /Differences, legacy-filter
  and scanned classes; whale included).
- Fuzzed: windows of those streams with one or two grammar-hostile
  tokens spliced in at seeded positions (nested and unterminated
  strings, bad hex, unbalanced brackets, stray delimiters, inline-image
  markers and a whole inline image, a ``/BI`` name, ``Do``
  operators in operator position, in a string and in a dictionary,
  marked-content dictionaries holding strings, and a literal string
  with line continuations).
"""

from __future__ import annotations

import random

import pytest

from pdf_to_text_spark.core import pdfparse as P
from pdf_to_text_spark.fixtures import ROW_CLASSES_EXTENDED, make_corpus
from tests.content_reference import mismatches, outcome

HOSTILE = [
    b"(a(b)c)", b"(x\\", b"<4G>", b"]", b"{", b"%", b"BI", b" ID ", b" EI ",
    b".", b"-", b"[", b"(", b"<", b"<<", b")",
    b"/BI", b"(/Im0 Do)", b"/Im0 Do", b"<< /A (/Im0 Do) >>", b" BI /W 2 /H 1 ID \x00) EI ",
    b"/Span<</ActualText<FEFF0041>>> BDC", b"<< /A (x>>y) >> BDC", b"(con\\\ntin\\\r\nued)",
]
FUZZ_STREAMS = 4000


@pytest.fixture(scope="module")
def harvested():
    """(content, fonts) of every page the parser interprets, recorded
    by wrapping ``_scan_content`` during ``extract_pdf_pages``."""
    seen: list[tuple[bytes, dict | None]] = []
    real = P._scan_content

    def record(content, fonts=None):
        seen.append((content, fonts))
        return real(content, fonts)

    rows = make_corpus(sum(w for _, w in ROW_CLASSES_EXTENDED), 41, ROW_CLASSES_EXTENDED)
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(P, "_scan_content", record)
        for row in rows:
            if row["cls"].startswith("pdf"):
                P.extract_pdf_pages_safe(row["html"])
    assert {r["cls"] for r in rows} >= {"pdf_whale", "pdf_modern", "pdf_differences"}
    return seen


def test_scanner_matches_reference_on_harvested_streams(harvested):
    assert len(harvested) > 400
    assert any(fonts and any(fonts.values()) for _, fonts in harvested)
    assert any(P._scan_content(c, f).painted for c, f in harvested)
    assert mismatches(harvested) == []


def test_scanner_matches_reference_on_splice_fuzz(harvested):
    rng = random.Random(5)
    cases = []
    for _ in range(FUZZ_STREAMS):
        content, fonts = rng.choice(harvested)
        # a window from a BT, so most spliced streams still show text
        lo = content.rfind(b"BT", 0, rng.randrange(len(content) + 1))
        window = bytearray(content[max(lo, 0) :][: rng.randint(64, 1024)])
        for _ in range(rng.randint(1, 2)):
            at = rng.randint(0, len(window))
            window[at:at] = rng.choice(HOSTILE)
        cases.append((bytes(window), fonts))
    outs = [outcome(P._scan_content, c, f) for c, f in cases]
    kinds = {kind for kind, _ in outs}
    assert kinds == {"scan", "PdfError", "exception"}, kinds
    scans = [scan for kind, scan in outs if kind == "scan"]
    assert any(s.inline for s in scans) and any(s.painted for s in scans)
    assert mismatches(cases) == []
