"""Incremental streaming extraction + the PDF embedded-image operator."""

from __future__ import annotations

from pyspark.sql import functions as F


def test_incremental_streaming_extraction(spark, corpus_dir, golden_extracted, tmp_path):
    """availableNow streaming over the pages dir must equal the batch
    result, and a second drop of files is picked up incrementally."""
    from pdf_to_text_spark.streaming.stream import run_incremental_extraction

    in_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    ck = str(tmp_path / "ck")
    pages = spark.read.parquet(f"{corpus_dir}/pages.parquet")
    a, b = pages.randomSplit([0.5, 0.5], seed=1)
    a.write.mode("overwrite").parquet(in_dir)

    run_incremental_extraction(spark, in_dir, out_dir, ck)
    n1 = spark.read.parquet(out_dir).count()
    assert n1 == a.count()

    # drop more files → only the new ones are processed
    b.write.mode("append").parquet(in_dir)
    run_incremental_extraction(spark, in_dir, out_dir, ck)
    got = spark.read.parquet(out_dir)
    assert got.count() == pages.count()

    j = got.alias("g").join(golden_extracted.alias("o"), "url", "inner")
    assert j.filter(~F.col("g.extracted_text").eqNullSafe(F.col("o.extracted_text"))).count() == 0


def test_stream_windowed_counts_watermark_late_data(spark, tmp_path):
    """Late row within the watermark delay lands in its window;
    a too-late row is dropped; append emits each finalized window once."""
    from datetime import datetime

    from pdf_to_text_spark.streaming.stream import stream_windowed_counts

    src, out, ckpt = (str(tmp_path / d) for d in ("src", "out", "ckpt"))
    schema = "ts timestamp, event_type string"

    def drop(name, rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        stream_windowed_counts(spark, src, out, ckpt, schema, "1 hour", "30 minutes")
        _ = name

    t = lambda h, m: datetime(2026, 1, 1, h, m)  # noqa: E731
    drop("d1", [(t(9, 5), "a"), (t(10, 5), "a"), (t(10, 15), "a"), (t(11, 5), "b")])
    # watermark is now 10:35: the 9:00 window (end 10:00 <= wm) is
    # closed — 9:45 is TOO late and dropped; the 10:00 window is still
    # open — 10:50 is late-but-ok and lands in it
    drop("d2", [(t(9, 45), "a"), (t(10, 50), "a"), (t(11, 40), "b")])
    # advance the watermark past 12:00 so the remaining windows finalize
    drop("d3", [(t(12, 31), "b")])

    got = {
        (r["window_start"].hour, r["event_type"]): r["n"]
        for r in spark.read.parquet(out).collect()
    }
    assert got == {(9, "a"): 1, (10, "a"): 3, (11, "b"): 2}, got


def test_pdf_embedded_images_operator(spark):
    """notch 4: /DCTDecode XObject extraction + own-codec decode through
    the Arrow-batched operator, incl. row-level error tolerance."""
    from pdf_to_text_spark.core.jpegcodec import encode_jpeg
    from pdf_to_text_spark.core.pdfgen import build_pdf, page_content_stream
    from pdf_to_text_spark.operators.multimodal import pdf_embedded_images

    def doc(g, w, h):
        jpeg = encode_jpeg(w, h, 1, bytes([g]) * (w * h), quality=50)
        content = page_content_stream(["line one", "line two"]) + (
            f"\nq {w} 0 0 {h} 72 600 cm /Im0 Do Q".encode()
        )
        return build_pdf([content], flate=True, images=[(w, h, jpeg)])

    rows = [
        ("u1", doc(64, 16, 8)),
        ("u2", doc(200, 8, 24)),
        ("u3", b"%PDF-1.4\ngarbage"),  # unparseable → error row
        ("u4", build_pdf([page_content_stream(["no images here"])])),
    ]
    df = spark.createDataFrame(rows, "url string, html binary")
    got = {r["url"]: r.asDict() for r in pdf_embedded_images(df).collect()}
    assert got["u1"]["mean_luma"] == 64 and (got["u1"]["width"], got["u1"]["height"]) == (16, 8)
    assert got["u2"]["mean_luma"] == 200 and got["u2"]["codec"] == "jpeg"
    assert got["u3"]["image_no"] == 0 and got["u3"]["extract_error"]
    assert "u4" not in got  # zero images → zero rows, no error row
    assert len(got) == 3


def test_pdf_embedded_images_password_and_g4(spark):
    """Round-5: the operator passes a user password through to the
    decryptor, and CCITT-G4 bitonal XObjects yield a bit-mean luma."""
    from pdf_to_text_spark.core.ccittfax import encode_g4
    from pdf_to_text_spark.core.pdfgen import build_pdf, page_content_stream
    from pdf_to_text_spark.operators.multimodal import pdf_embedded_images

    w, h = 16, 5  # 5 | 255: exact integer luma
    bm = [[1] * w if i < 2 else [0] * w for i in range(h)]  # 2/5 black
    pdf = build_pdf(
        [page_content_stream(["x"])],
        flate=True, encrypt=4, user_pw=b"pw",
        images=[(w, h, encode_g4(bm, w), "g4")],
    )
    df = spark.createDataFrame([("u1", pdf)], "url string, html binary")
    # no password → disclosed error row
    no_pw = pdf_embedded_images(df).collect()[0]
    assert no_pw["image_no"] == 0 and "password" in no_pw["extract_error"]
    # with password → decrypt + G4 decode + exact luma (3/5 white = 153)
    ok = pdf_embedded_images(df, password=b"pw").collect()[0]
    assert (ok["codec"], ok["mean_luma"]) == ("raw", 153)


def test_pdf_embedded_images_reports_jpeg_decode_error(spark):
    """An embedded JPEG the codec cannot decode (SOF0 flipped to SOF9,
    arithmetic-coded) keeps its image row, with a null mean_luma and the
    codec's message in extract_error, so it never reads like an image
    that was simply not decoded."""
    from pdf_to_text_spark.core.jpegcodec import encode_jpeg
    from pdf_to_text_spark.core.pdfgen import build_pdf, page_content_stream
    from pdf_to_text_spark.operators.multimodal import pdf_embedded_images

    jpeg = bytearray(encode_jpeg(8, 8, 1, bytes(range(64)), quality=90))
    jpeg[jpeg.find(b"\xff\xc0") + 1] = 0xC9
    pdf = build_pdf([page_content_stream(["x"])], flate=True, images=[(8, 8, bytes(jpeg))])
    df = spark.createDataFrame([("u1", pdf)], "url string, html binary")
    row = pdf_embedded_images(df).collect()[0]
    assert (row["image_no"], row["codec"], row["mean_luma"]) == (1, "jpeg", None)
    assert row["extract_error"].startswith("jpeg:") and "non-baseline" in row["extract_error"]
    plain = pdf_embedded_images(df, decode=False).collect()[0]
    assert (plain["mean_luma"], plain["extract_error"]) == (None, None)


def test_rejected_pdf_same_error_in_text_and_image_rows(spark):
    """A PDF whose content stream the scanner rejects with a non-PdfError
    (``Td`` with one operand: an IndexError) carries the same error in
    its text row and its image error row."""
    from pdf_to_text_spark.core.pdfgen import build_pdf
    from pdf_to_text_spark.operators.extract import extract_documents
    from pdf_to_text_spark.operators.multimodal import pdf_embedded_images

    pages = spark.createDataFrame(
        [("u1", None, build_pdf([b"BT 5 Td ET"]), None, "en")],
        "url string, warc_ts timestamp, html binary, text string, lang string",
    )
    (text_row,) = extract_documents(pages).collect()
    (image_row,) = pdf_embedded_images(pages).collect()
    assert image_row["image_no"] == 0
    assert image_row["extract_error"] == text_row["error"] == "pdf:unexpected:IndexError"
