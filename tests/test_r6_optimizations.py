"""Focused equivalence tests for the round-6 optimization internals.

Each optimization that rewrote an operator's internals must prove the
rewrite computes the SAME values as the reference path it replaced:

- ``ngram_jaccard_pairs``: numpy postings kernel vs the inverted-index
  self-join (strategy="kernel" vs "join");
- the fused PDF content-stream scanner + interpreter vs the reference
  tokenizer + interpreter (including bail-to-slow cases, which must be
  reached in linear time);
- ``similarity._bucket_norm_projection`` numpy kernel vs the original
  higher-order-expression projection (including null / off-width rows).
"""

from __future__ import annotations

import subprocess
import sys
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from tests.conftest import *  # noqa: F401,F403 — spark fixture


def test_ngram_jaccard_kernel_matches_join_strategy(spark):
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
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    from pdf_to_text_spark.operators.dedup import ngram_jaccard_pairs

    def key(df):
        return {(r["id_a"], r["id_b"]): r["jaccard"] for r in df.collect()}

    for thr, mdf in [(0.2, None), (0.5, 30)]:
        k = key(ngram_jaccard_pairs(docs, threshold=thr, max_df=mdf, strategy="kernel"))
        j = key(ngram_jaccard_pairs(docs, threshold=thr, max_df=mdf, strategy="join"))
        assert k == j, f"kernel != join at threshold={thr} max_df={mdf}"
        assert k, f"degenerate test: no pairs produced at threshold={thr} max_df={mdf}"


def test_tokenizer_fast_matches_slow_on_adversarial_streams():
    """The fast regex scanner (``_runs_fast``) must read adversarial
    tokenizer streams exactly as the slow reference tokenizer does;
    streams outside its grammar must bail and, through
    ``_runs_from_content``, take the slow path."""
    from pdf_to_text_spark.core import pdfparse as P

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
    ]
    for c in cases:
        fast = P._runs_fast(c, None)
        slow = P._runs_interpret(P._tokenize_slow(c), None)
        assert fast == slow, f"runs mismatch on {c!r}"

    # bail cases must fall back (via _runs_from_content) to slow-path behavior
    bail_cases = [b"(a(b)c) Tj", b"(unterminated", b"(trail\\"]
    for c in bail_cases:
        with pytest.raises(P._FastBail):
            P._runs_fast(c, None)
        assert P._runs_from_content(c, None) == P._runs_interpret(
            P._tokenize_slow(c), None
        ), f"bail path mismatch on {c!r}"


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
    ]
    for c in cases:
        fast = P._runs_fast(c, None)
        ref = P._runs_interpret(P._tokenize_slow(c), None)
        assert fast == ref, f"runs mismatch on {c!r}"
    # bail case falls through _runs_from_content to the reference path
    nested = b"BT ((nested) parens) Tj ET"
    with pytest.raises(P._FastBail):
        P._runs_fast(nested, None)
    assert P._runs_from_content(nested, None) == P._runs_interpret(
        P._tokenize_slow(nested), None
    )


@pytest.mark.parametrize(
    "content_expr",
    [
        # a nested paren after 40 plain chars (legal per PDF 32000 §7.3.4.2)
        'b"BT (" + b"Smith, J. and Jones, K. Proceedings of t" + b" (ed.) x) Tj ET"',
        # a 500 KB literal string that never closes
        'b"BT (" + b"Lorem ipsum dolor sit amet " * 18_520',
    ],
    ids=["nested_paren_after_40_chars", "unterminated_500kb"],
)
def test_content_scanner_is_linear_on_adversarial_strings(content_expr):
    """The literal-string branch of ``_SCAN_RE`` must fail fast on a
    string it does not cover, so the stream reaches the reference path;
    a backtracking branch takes exponential time here. Run in a
    subprocess because the regex engine does not yield to signals."""
    code = (
        "from pdf_to_text_spark.core import pdfparse as P\n"
        f"c = {content_expr}\n"
        "assert P._runs_from_content(c, None) == "
        "P._runs_interpret(P._tokenize_slow(c), None)\n"
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
