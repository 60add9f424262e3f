"""Focused equivalence tests for the round-6 optimization internals.

Each optimization that rewrote an operator's internals must prove the
rewrite computes the SAME values as the reference path it replaced:

- ``ngram_jaccard_pairs``: numpy postings kernel vs the inverted-index
  self-join (each forced through ``core.sizing.KERNEL_MAX_BYTES``);
- the fused PDF content-stream scanner + interpreter vs the reference
  tokenizer + interpreter kept in ``tests/content_reference.py``
  (including nested, unterminated and malformed strings, which the
  scanner must read in linear time);
- ``similarity._bucket_norm_projection`` numpy kernel vs the original
  higher-order-expression projection (including null / off-width rows).
"""

from __future__ import annotations

import subprocess
import sys
from pathlib import Path

import pandas as pd
import pytest
from pyspark.sql import functions as F

from tests.conftest import *  # noqa: F401,F403 — spark fixture
from tests.content_reference import mismatches


def test_ngram_jaccard_kernel_matches_join_by_size(spark, monkeypatch):
    """The size probe picks the plan: at or below ``KERNEL_MAX_BYTES``
    the numpy kernel (a ``MapInArrow`` node), above it the join (none);
    both yield the same pairs and scores."""
    rows = []
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    for i in range(40):
        words = base.split()
        # i % 20 → 20 twin-pairs sharing the same rare substitution, so
        # rare shingles (df=2) survive any df cap that prunes the
        # base-template shingles (df ≈ 40)
        words[(i % 20) % len(words)] = f"tok{i % 20}"
        rows.append((i, " ".join(words * 3)))
    rows.append((100, "completely different text with other words entirely here now"))
    rows.append((101, ""))  # empty doc → single empty-string shingle
    # from pandas: a local relation, which Catalyst can size
    docs = spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))

    from pdf_to_text_spark.core import sizing
    from pdf_to_text_spark.operators.dedup import ngram_jaccard_pairs

    def run(max_bytes, thr, mdf):
        monkeypatch.setattr(sizing, "KERNEL_MAX_BYTES", max_bytes)
        df = ngram_jaccard_pairs(docs, threshold=thr, max_df=mdf)
        plan = df._jdf.queryExecution().executedPlan().toString()
        return "MapInArrow" in plan, {(r["id_a"], r["id_b"]): r["jaccard"] for r in df.collect()}

    n_bytes = sizing.plan_bytes(docs)
    for thr, mdf in [(0.2, None), (0.5, 30)]:
        k_arrow, k = run(n_bytes, thr, mdf)
        j_arrow, j = run(n_bytes - 1, thr, mdf)
        assert k_arrow and not j_arrow
        assert k == j, f"kernel != join at threshold={thr} max_df={mdf}"
        assert k, f"degenerate test: no pairs produced at threshold={thr} max_df={mdf}"


def test_tokenizer_fast_matches_slow_on_adversarial_streams():
    """The scanner (``_scan_content``) must read adversarial
    tokenizer streams exactly as the reference tokenizer does: the same
    runs, the same ``PdfError`` message or the same exception class,
    also on streams outside the scanner's token branches."""
    cases = [
        b"BT /F1 12 Tf 72 720 Td (hello world) Tj T* (second) Tj ET",
        b"[ (a) -300 (b) ] TJ",
        b"(esc \\) paren) Tj (a\\)b) Tj",
        b"(line\\\ncont) Tj",
        b"<48656C6C6F> Tj <6 97> Tj",
        b"<< /MCID 1 >> BDC (tagged) Tj EMC",
        b"1 0 0 1 5 5 Tm 12 TL (x) '",
        b"",
        b"   \t\r\n  ",
        b"(empty)()Tj",
        b"BI /W 1 /H 1 ID \x00) EI (after) Tj [ BI /W 1 ID ( EI (q) ] TJ",
        # only the catch-all branch reads these: nested, unterminated,
        # escaped at EOF, bad or unterminated hex, unbalanced brackets,
        # stray bytes
        b"(a(b)c) Tj",
        b"(c(d\\)e)f) Tj (nest (esc\\() ok) Tj",
        b"(unterminated",
        b"(trail\\",
        b"[ (a(b)) -300 (c) ] TJ",
        b"] Tj",
        b"<4G> Tj",
        b"<48",
        b"{ }",
        b")",
    ]
    assert mismatches((c, None) for c in cases) == []


def test_fused_run_interpreter_matches_reference():
    from pdf_to_text_spark.core import pdfparse as P

    cases = [
        b"BT /F1 12 Tf 72 720 Td (a) Tj 0 -14 Td (b) Tj ET",
        b"BT 14 TL (x) ' (y) ' ET",
        b"BT 1 0 0 1 50 600 Tm [ (ke) -300 (rn) ] TJ T* (next) Tj ET",
        b"BT /F9 9 Tf (no font map) Tj ET",
        b"<< /MCID 2 >> BDC BT (t) Tj ET EMC",
        b"BT 5 7 TD (td) Tj T* (below) Tj ET",
        b"",
        b"BT ((nested) parens) Tj ET",
    ]
    assert mismatches((c, None) for c in cases) == []
    assert P._scan_content(cases[-1]).runs == [(0.0, 0.0, "(nested) parens")]


@pytest.mark.parametrize(
    "content_expr",
    [
        # a nested paren after 40 plain chars (legal per PDF 32000 §7.3.4.2)
        'b"BT (" + b"Smith, J. and Jones, K. Proceedings of t" + b" (ed.) x) Tj ET"',
        # a 500 KB literal string that never closes
        'b"BT (" + b"Lorem ipsum dolor sit amet " * 18_520',
        # 200,000 nested opens that never close
        'b"BT " + b"(" * 200_000',
        # 200 KB of escaped parens in a string that never closes
        'b"BT " + b"(\\\\" * 100_000',
    ],
    ids=[
        "nested_paren_after_40_chars",
        "unterminated_500kb",
        "unclosed_nesting_200k",
        "escaped_parens_200kb",
    ],
)
def test_content_scanner_is_linear_on_adversarial_strings(content_expr):
    """The scanner must read a string no literal-string branch of
    ``_SCAN_RE`` covers in linear time: a backtracking branch takes
    exponential time on the nested paren, and a finditer search ahead
    from every ``(`` takes quadratic time on the escaped parens. Run in
    a subprocess because the regex engine does not yield to signals."""
    code = (
        "from tests.content_reference import mismatches\n"
        f"assert mismatches([({content_expr}, None)]) == []\n"
    )
    try:
        r = subprocess.run(
            [sys.executable, "-c", code],
            cwd=Path(__file__).resolve().parents[1],
            capture_output=True,
            text=True,
            timeout=30,
        )
    except subprocess.TimeoutExpired:
        pytest.fail(f"content-stream scan did not finish in 30 s: {content_expr}")
    assert r.returncode == 0, r.stderr


def test_bucket_norm_kernel_matches_expression_path(spark):
    from pdf_to_text_spark.operators import similarity as S

    planes = S.generate_planes(3, 8)
    rows = [
        (1, [float(i) for i in range(8)]),
        (2, [(-1.0) ** i * (i + 0.25) for i in range(8)]),
        (3, None),  # null vector
        (4, [1.0, 2.0, 3.0]),  # off-width
        (5, [0.001 * i for i in range(8)]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    got = {
        r["vec_id"]: (r["bucket"], r["_vn"])
        for r in S._bucket_norm_projection(df, planes, "embedding", "vec_id").collect()
    }

    # reference: the pre-r6 higher-order-expression projection
    v = F.col("embedding").cast("array<double>")
    ref_df = df.select(
        F.col("vec_id"), v.alias("_v"), S.hyperplane_bucket(F.col("embedding"), planes).alias("bucket")
    )
    ref_df = ref_df.withColumn(
        "_n", F.sqrt(F.aggregate(F.col("_v"), F.lit(0.0), lambda acc, x: acc + x * x))
    ).select(
        F.col("vec_id"), "bucket", F.transform(F.col("_v"), lambda x: x / F.col("_n")).alias("_vn")
    )
    ref = {r["vec_id"]: (r["bucket"], r["_vn"]) for r in ref_df.collect()}

    assert set(got) == set(ref)
    for k in ref:
        assert got[k][0] == ref[k][0], f"bucket differs for vec {k}"
        assert got[k][1] == ref[k][1], f"vn differs for vec {k} (must be bit-identical)"
