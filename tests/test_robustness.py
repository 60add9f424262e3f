"""Row-level error tolerance + routing-spec consistency (round-2
hardening): malformed-but-magic-valid payloads must become error ROWS
(never task failures), identically in the operator and the sequential
oracle; edge payloads (NBSP prefix, \\x02 octal injection) must
route/extract identically on both paths."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pdf_to_text_spark.core.pdfgen import build_pdf, page_content_stream
from pdf_to_text_spark.fixtures import oracle_extract
from pdf_to_text_spark.operators.extract import extract_documents

PAGES_SCHEMA = "url string, warc_ts timestamp, html binary, text string, lang string"


def _dangling_contents_pdf() -> bytes:
    """Valid %PDF- magic, /Pages and /Kids present, but the page's
    /Contents points at an object that does not exist."""
    return (
        b"%PDF-1.4\n"
        b"1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n"
        b"2 0 obj\n<< /Type /Pages /Kids [3 0 R] /Count 1 >>\nendobj\n"
        b"3 0 obj\n<< /Type /Page /Parent 2 0 R /Contents 99 0 R >>\nendobj\n"
        b"%%EOF\n"
    )


def _missing_operand_pdf() -> bytes:
    """Content stream whose TD has no operands on the stack — the parser
    hits an IndexError, which must surface as an error row, not a crash."""
    return build_pdf([b"BT TD ET"])


def _adversarial_rows():
    hello = "<html><body><article><p>" + "hello world " * 30 + "</p></article></body></html>"
    return [
        ("u_dangling", None, _dangling_contents_pdf(), None, "en"),
        ("u_badop", None, _missing_operand_pdf(), None, "en"),
        ("u_nbsp", None, b"\xa0" + hello.encode(), None, "en"),
        ("u_ok", None, hello.encode(), None, "en"),
    ]


@pytest.fixture(scope="module")
def adversarial_df(spark):
    return spark.createDataFrame(_adversarial_rows(), PAGES_SCHEMA)


def _by_url(df):
    return {r["url"]: r for r in df.collect()}


def test_malformed_pdfs_become_error_rows(spark, adversarial_df):
    got = _by_url(extract_documents(adversarial_df))
    assert got["u_dangling"].error == "pdf:dangling contents ref"
    assert got["u_dangling"].extracted_text is None
    assert got["u_badop"].error == "pdf:unexpected:IndexError"
    assert got["u_badop"].route == "pdf"
    assert got["u_ok"].error is None and "hello world" in got["u_ok"].extracted_text


def test_nbsp_prefix_routes_identically(spark, adversarial_df):
    """bytes.lstrip() (UDF router + oracle) never strips U+00A0 →
    unknown_format on both paths."""
    got = _by_url(extract_documents(adversarial_df))
    assert got["u_nbsp"].route == "error"
    assert got["u_nbsp"].error == "unknown_format"


def test_all_paths_agree_with_oracle(spark, adversarial_df):
    got = _by_url(extract_documents(adversarial_df))
    for url, _, html, text, _ in _adversarial_rows():
        o_text, o_err, o_route, _ = oracle_extract(html, text)
        row = got[url]
        assert (row.extracted_text, row.error, row.route) == (o_text, o_err, o_route), url


def test_page_sep_injection_stays_byte_identical(spark):
    """A PDF string containing a raw \\x02 (the operator's page
    sentinel) must not split a page: frozen spec strips \\x02 from page
    text, so operator == oracle, with the sentinel gone."""
    pdf = build_pdf([page_content_stream(["ab\x02cd", "second line"])])
    df = spark.createDataFrame([("u_sep", None, pdf, None, "en")], PAGES_SCHEMA)
    o_text, o_err, o_route, _ = oracle_extract(pdf, None)
    assert o_err is None and "\x02" not in o_text and "abcd" in o_text
    row = _by_url(extract_documents(df))["u_sep"]
    assert (row.extracted_text, row.error, row.route) == (o_text, o_err, o_route)


def test_minhash_bands_must_divide(spark):
    from pdf_to_text_spark.operators.dedup import minhash_lsh_pairs

    df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    with pytest.raises(ValueError, match="divisible"):
        minhash_lsh_pairs(df, num_hashes=10, bands=4)


def test_connected_components_empty_and_self_pairs(spark):
    """Degenerate inputs: no pairs → empty result (not an error);
    self-loops collapse to the node's own component."""
    from pdf_to_text_spark.plans.components import connected_components

    empty = spark.createDataFrame([], "id_a long, id_b long")
    assert connected_components(empty).count() == 0

    selfy = spark.createDataFrame([(5, 5), (5, 6)], "id_a long, id_b long")
    got = {r["doc_id"]: r["component"] for r in connected_components(selfy).collect()}
    assert got == {5: 5, 6: 5}


def test_chart_routing_null_and_empty_content(spark):
    """Null text and chartless decks route cleanly: null blueprint →
    null parts struct; a no-chart deck gets all-null charts."""
    from pyspark.sql import functions as F

    from pdf_to_text_spark.functions.pptxsink import blueprint_to_pptx_parts
    from pdf_to_text_spark.operators.blueprint import text_to_blueprint

    df = spark.createDataFrame(
        [(1, "# only heading"), (2, None)], "i long, t string"
    )
    parts = blueprint_to_pptx_parts(text_to_blueprint(F.col("t")))
    rows = {r["i"]: r for r in df.select("i", parts.alias("p")).collect()}
    assert rows[1]["p"]["charts"] == [None]
    assert rows[2]["p"] is None or rows[2]["p"]["slides"] is None


def test_sample_video_frames_null_media(spark):
    """Null binary degrades to a demux_error row, never a task failure."""
    from pdf_to_text_spark.operators.multimodal import sample_video_frames

    df = spark.createDataFrame([(1, None)], "media_id long, media binary")
    rows = sample_video_frames(df).collect()
    assert len(rows) == 1 and rows[0]["demux_error"]
