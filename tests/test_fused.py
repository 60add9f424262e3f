"""The single-pass extractor must be byte-identical to the goldens."""

from __future__ import annotations

from pyspark.sql import functions as F

from pdf_to_text_spark.operators.extract import extract_documents


def test_fused_matches_golden(pages_df, golden_extracted):
    """Byte-identity through the one UDF pass, plus the ``bytes_in``
    contract: 0 on the text-layer route (its html is never parsed), the
    payload size on every other route."""
    got = extract_documents(pages_df)
    j = got.alias("g").join(golden_extracted.alias("o"), "url", "full_outer")
    diff = j.filter(
        ~F.col("g.extracted_text").eqNullSafe(F.col("o.extracted_text"))
        | ~F.col("g.error").eqNullSafe(F.col("o.error"))
        | ~F.col("g.route").eqNullSafe(F.col("o.route"))
    )
    assert diff.count() == 0
    sizes = pages_df.select("url", F.coalesce(F.octet_length("html"), F.lit(0)).alias("n"))
    expected = F.when(F.col("route") == "text_layer", F.lit(0)).otherwise(F.col("n"))
    assert got.join(sizes, "url").filter(F.col("bytes_in") != expected).count() == 0
