"""M2 rasterize + real M4 OCR: spec roundtrip, Spark operator chain,
row-level tolerance."""

from __future__ import annotations

from pyspark.sql import functions as F

from pdf_to_text_spark.core.raster import GLYPHS, ocr_expected, ocr_png, rasterize_text
from pdf_to_text_spark.operators.multimodal import ocr_pages, rasterize_col


def test_glyph_table_injective_and_space_blank():
    assert GLYPHS[" "] == 0
    assert len(set(GLYPHS.values())) == len(GLYPHS) == 95


def test_raster_ocr_spark_chain(spark):
    cases = [
        (0, "hello world"),
        (1, ""),
        (2, "multi\nline\n\npage"),
        (3, "x" * 100 + "\nclipped"),          # > 64 cols clipped
        (4, "unicodé • projected\tto spaces"),
        (5, "trailing spaces   \n\n\n"),
    ]
    df = spark.createDataFrame(cases, "doc_id long, text string")
    pages = df.select("doc_id", rasterize_col(F.col("text")).alias("page_png"))
    out = {r["doc_id"]: (r["ocr_text"], r["ocr_error"]) for r in ocr_pages(pages).collect()}
    for i, t in cases:
        assert out[i] == (ocr_expected(t), None), (i, t, out[i])


def test_ocr_rejects_garbage_rows_not_tasks(spark):
    good = rasterize_text("ok page")
    df = spark.createDataFrame(
        [(0, bytearray(good)), (1, bytearray(b"\x89PNG\r\n\x1a\nnot really")), (2, None)],
        "doc_id long, page_png binary",
    )
    rows = {r["doc_id"]: r for r in ocr_pages(df).collect()}
    assert rows[0]["ocr_text"] == "ok page" and rows[0]["ocr_error"] is None
    assert rows[1]["ocr_text"] is None and rows[1]["ocr_error"].startswith("ocr:")
    assert rows[2]["ocr_text"] is None and rows[2]["ocr_error"] == "null page"
    assert len(rows) == 3


def test_edge_density_on_real_raster():
    """A2 analog on real pixels: ink density of a rendered page is
    higher for dense text than for a blank page."""
    from pdf_to_text_spark.core.mediacodec import decode_png

    def ink(png: bytes) -> float:
        w, h, _, px = decode_png(png)
        return sum(1 for p in px if p < 128) / (w * h)

    blank = ink(rasterize_text(""))
    dense = ink(rasterize_text("\n".join("dense text line of glyphs" for _ in range(48))))
    assert blank == 0.0
    assert dense > 0.05
