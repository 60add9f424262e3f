"""End-to-end golden-file byte-identity (BASELINE.json north rule):
Spark pipeline output must match the sequential oracle per url, exactly.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from pdf_to_text_spark.operators.extract import (
    extract_documents,
    extract_pdf_page_table,
    reassemble_documents,
)


def test_doc_level_byte_identity(pages_df, golden_extracted):
    got = extract_documents(pages_df).select("url", "extracted_text", "error", "route")
    j = got.alias("g").join(golden_extracted.alias("o"), "url", "full_outer")
    diff = j.filter(
        ~F.col("g.extracted_text").eqNullSafe(F.col("o.extracted_text"))
        | ~F.col("g.error").eqNullSafe(F.col("o.error"))
        | ~F.col("g.route").eqNullSafe(F.col("o.route"))
    )
    assert diff.count() == 0
    # every golden url present exactly once
    assert got.count() == golden_extracted.count()
    assert got.groupBy("url").count().filter("count > 1").count() == 0


def test_page_level_byte_identity(pages_df, golden_pages):
    got = extract_pdf_page_table(pages_df)
    j = got.alias("g").join(golden_pages.alias("o"), ["url", "page_num"], "full_outer")
    assert j.filter(~F.col("g.page_text").eqNullSafe(F.col("o.page_text"))).count() == 0


def test_empty_pages_preserved(pages_df, golden_pages):
    """pdf_sparse fixtures contain 0-byte pages; they must survive as ''."""
    empties = golden_pages.filter(F.length("page_text") == 0)
    assert empties.count() > 0
    got = extract_pdf_page_table(pages_df).filter(F.length("page_text") == 0)
    assert got.count() == empties.count()


def test_order_invariance_under_shuffled_input(pages_df, golden_extracted, spark):
    """Reassembly is order-invariant: shuffle input rows, same bytes out."""
    shuffled = pages_df.orderBy(F.xxhash64("url", F.lit(7))).repartition(13)
    got = extract_documents(shuffled).select("url", "extracted_text")
    j = got.alias("g").join(golden_extracted.alias("o"), "url", "inner")
    assert j.filter(~F.col("g.extracted_text").eqNullSafe(F.col("o.extracted_text"))).count() == 0


def test_reassemble_lexicographic_vs_numeric(spark):
    rows = [("u", i, f"t{i}") for i in (1, 2, 10)]
    df = spark.createDataFrame(rows, "url string, page_num int, page_text string")
    name = F.concat(F.lit("page_"), F.col("page_num").cast("string"))
    part = F.concat(F.lit("\n\n---- "), name, F.lit(" ----\n\n"), F.col("page_text"))
    sep = "\n" + "=" * 50 + "\n"
    numeric_key = F.lpad(F.col("page_num").cast("string"), 9, "0")
    lex = reassemble_documents(df, "url", name, part, sep).collect()[0]["combined_text"]
    num = reassemble_documents(df, "url", numeric_key, part, sep).collect()[0]["combined_text"]
    # the caller's key carries the order: a "page_N" string key sorts
    # page_1 < page_10 < page_2 (the reference's quirk, visible in
    # 3_Extracted_Texts/Synopsis/Synopsis_combined.txt); a zero-padded
    # key sorts numerically
    assert lex.index("---- page_10 ----") < lex.index("---- page_2 ----")
    assert num.index("---- page_2 ----") < num.index("---- page_10 ----")
    assert "=" * 50 in lex


def test_row_level_error_tolerance(pages_df):
    """Broken payloads produce error rows; the job never aborts
    (reference analog: main.py:77-78 catches per file)."""
    out = extract_documents(pages_df)
    errs = out.filter(F.col("error").isNotNull())
    assert errs.count() > 0
    assert errs.filter(F.col("extracted_text").isNotNull()).count() == 0


def test_extended_corpus_byte_identity(spark, tmp_path_factory):
    """Golden byte-identity over the full widened-subset class list
    (pdf_modern: ObjStm + CID/ToUnicode + /Contents arrays + nested
    trees; pdf_legacy_filters: LZW / ASCII85+Flate / RLE / ASCIIHex;
    pdf_predictor: TIFF/PNG predictors; pdf_encrypted and pdf_15_pure
    are in the DEFAULT mix since round 5 — the extended corpus adds the
    remaining correctness-only classes on top)."""
    from pdf_to_text_spark.fixtures import ROW_CLASSES_EXTENDED, write_corpus

    d = tmp_path_factory.mktemp("corpus_ext")
    counts = write_corpus(str(d), 150, seed=7, classes=ROW_CLASSES_EXTENDED)
    for cls in (
        "pdf_modern", "pdf_legacy_filters", "pdf_predictor", "pdf_encrypted",
        "pdf_15_pure", "html_charset", "pdf_scanned",
    ):
        assert counts.get(cls, 0) > 0, cls
    pages = spark.read.parquet(f"{d}/pages.parquet")
    golden = spark.read.parquet(f"{d}/golden_extracted.parquet")
    got = extract_documents(pages).select("url", "extracted_text", "error", "route")
    j = got.alias("g").join(golden.alias("o"), "url", "full_outer")
    diff = j.filter(
        ~F.col("g.extracted_text").eqNullSafe(F.col("o.extracted_text"))
        | ~F.col("g.error").eqNullSafe(F.col("o.error"))
        | ~F.col("g.route").eqNullSafe(F.col("o.route"))
    )
    assert diff.count() == 0
    assert got.count() == golden.count()
    # the widened classes must actually extract (no silent error routing)
    assert golden.filter(F.col("error").isNull()).count() > 0
    # page-level identity too (covers multi-stream /Contents reassembly)
    gp = spark.read.parquet(f"{d}/golden_pages.parquet")
    gotp = extract_pdf_page_table(pages)
    jp = gotp.alias("g").join(gp.alias("o"), ["url", "page_num"], "full_outer")
    assert jp.filter(~F.col("g.page_text").eqNullSafe(F.col("o.page_text"))).count() == 0
