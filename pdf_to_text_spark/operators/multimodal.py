"""Image columns of the PDF → page image → OCR → text pipeline, as
Arrow-batched ``mapInPandas``/pandas-UDF operators with row-level error
tolerance (a bad payload becomes an error row, never a task failure):

- ``rasterize_col``: text → page PNG bytes (``core.raster``, real PNG
  encode via ``core.mediacodec``).
- ``ocr_pages``: page PNG → text by inverse glyph match
  (``core.raster.ocr_png``).
- ``pdf_embedded_images``: every ``/Subtype /Image`` XObject and inline
  image of a PDF payload becomes a row; JPEG payloads are pixel-decoded
  by the repo's own baseline/progressive codec (``core.jpegcodec``) and
  CCITT bitonal scans by ``core.ccittfax``, giving a mean luma. An
  undecodable JPEG (arithmetic/lossless: ``MediaError``) keeps its row
  with a null ``mean_luma``; an unparseable PDF, a content stream the
  text scanner rejects, or an unsupported image codec (JPX, JBIG2)
  becomes one ``extract_error`` row.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def rasterize_col(text: Column) -> Column:
    """M2 page rasterize: text → fixed-grid grayscale PNG page bytes
    (``core.raster`` frozen spec — deterministic injective 5x7 font,
    real PNG encode), the Spark shape of the reference's
    ``page.get_pixmap`` hop (convert_pdfs_pymupdf.py:18,
    core_document_processing.py:60-66). A scalar Arrow UDF, so the
    raster composes into any projection (the artifact-export job's
    row, ``ocr_pages``' input) in one shuffle-free select."""

    @F.pandas_udf(T.BinaryType())
    def _r(s: pd.Series) -> pd.Series:
        from pdf_to_text_spark.core.raster import rasterize_text

        return s.map(lambda t: rasterize_text(t) if t is not None else None)

    return _r(text)


def ocr_pages(df: DataFrame, png_col: str = "page_png", id_col: str = "doc_id") -> DataFrame:
    """Real M4 OCR map: rasterized page PNG → text by inverse glyph
    match (``core.raster.ocr_png``), replacing the reference's
    Tesseract hop (ocr_engine.py:13-42) with a deterministic decoder.
    Row-level error tolerance: undecodable pages become
    ``(None, error)`` rows, never task failures (main.py:77-78)."""
    from pdf_to_text_spark.core.raster import ocr_png

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            texts, errs = [], []
            for data in pdf[png_col]:
                if data is None:
                    texts.append(None)
                    errs.append("null page")
                    continue
                try:
                    texts.append(ocr_png(bytes(data)))
                    errs.append(None)
                except Exception as e:  # noqa: BLE001 — row tolerance
                    texts.append(None)
                    errs.append(f"ocr:{type(e).__name__}")
            yield pd.DataFrame({id_col: pdf[id_col], "ocr_text": texts, "ocr_error": errs})

    id_type = dict(df.dtypes)[id_col]
    return df.select(id_col, png_col).mapInPandas(
        batches, schema=f"{id_col} {id_type}, ocr_text string, ocr_error string"
    )


PDF_IMAGE_SCHEMA = (
    "url string, image_no int, obj int, width int, height int, "
    "colorspace string, codec string, image_bytes binary, mean_luma int, "
    "extract_error string"
)


def _mean_luma(im: dict) -> int | None:
    """Rounded mean luminance of one extracted image, or None for a
    kind that is not pixel-decoded here. JPEG goes through the repo's
    own codec; raw 8-bpc gray is averaged as is; packed 1-bpc rows
    (e.g. CCITT G4), byte-aligned per row with 1 bits white (§7.4.6
    BlackIs1 default), are averaged over the real pixels only, the
    row-padding bits excluded. A decode failure raises."""
    import numpy as np

    if im["codec"] == "jpeg":
        from pdf_to_text_spark.core.jpegcodec import decode_jpeg

        _, _, _, px = decode_jpeg(im["data"])
        return int(round(float(np.frombuffer(px, np.uint8).mean())))
    if im["codec"] == "raw" and im["bpc"] == 8:
        return int(round(sum(im["data"]) / len(im["data"]))) if im["data"] else None
    if im["codec"] == "raw" and im["bpc"] == 1:
        w, h = im["width"], im["height"]
        rb = (w + 7) // 8
        arr = np.unpackbits(np.frombuffer(im["data"], np.uint8).reshape(h, rb), axis=1)[:, :w]
        return int(round(float(arr.mean()) * 255))
    return None


def pdf_embedded_images(
    df: DataFrame,
    bin_col: str = "html",
    id_col: str = "url",
    decode: bool = True,
    password: bytes | str = b"",
) -> DataFrame:
    """Embedded-image extraction from PDF payloads: every ``/Subtype
    /Image`` XObject, then every inline image (``obj`` 0) of the page
    content streams, becomes a row — 1-based image_no, dimensions,
    colorspace, codec ('jpeg' for /DCTDecode, 'raw' for fully-decoded
    chains) and the image bytes, via one Arrow-batched ``mapInPandas``
    pass (embarrassingly parallel, no shuffle). With ``decode=True``,
    JPEG payloads are pixel-decoded by the repo's own baseline/
    progressive codec (``core/jpegcodec.py``) and ``mean_luma`` carries
    the rounded mean luminance; CCITT bitonal scans (G4, G3 1-D, G3 mixed /K>0) decode to packed 1-bpc rows
    (``core/ccittfax.py``) and get a bit-mean luma. Row-level
    tolerance: unparseable PDFs, content streams the text scanner
    rejects (inline images are found by the same scan that reads the
    text, so such a PDF's text row is a ``pdf:`` error too) and
    unsupported image codecs (JPX, JBIG2) emit one (image_no=0,
    extract_error) row whose error is the text row's, ``pdf:`` prefix
    included (``pdfparse.pdf_error_text``); an image whose pixels fail
    to decode (e.g. an arithmetic-coded SOF9 JPEG) keeps its row with a
    null ``mean_luma`` and the codec's message in ``extract_error``,
    prefixed with the codec (``jpeg:…``, ``raw:…``).

    Reference parity: generalizes the reference's page-level rasterize
    hop (``core_document_processing.py:60-66``) to first-class image
    columns; the reference never surfaces embedded images at all.
    """
    from pdf_to_text_spark.core.pdfparse import extract_pdf_images, pdf_error_text

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = [c.split(" ")[0] for c in PDF_IMAGE_SCHEMA.split(", ")]
        for pdf in it:
            rows = []
            for uid, data in zip(pdf[id_col], pdf[bin_col]):
                data = bytes(data) if data is not None else b""
                try:
                    imgs = extract_pdf_images(data, password)
                except Exception as e:  # noqa: BLE001 — row tolerance
                    err = f"pdf:{pdf_error_text(e)}"
                    rows.append(
                        dict.fromkeys(cols) | {"url": uid, "image_no": 0, "extract_error": err}
                    )
                    continue
                for i, im in enumerate(imgs, start=1):
                    luma = err = None
                    if decode:
                        try:
                            luma = _mean_luma(im)
                        except Exception as e:  # noqa: BLE001 — meta survives
                            err = f"{im['codec']}:{e}"
                    rows.append({
                        "url": uid, "image_no": i, "obj": im["obj"],
                        "width": im["width"], "height": im["height"],
                        "colorspace": im["colorspace"], "codec": im["codec"],
                        "image_bytes": im["data"], "mean_luma": luma,
                        "extract_error": err,
                    })
            yield pd.DataFrame(rows, columns=cols)

    return df.select(id_col, bin_col).mapInPandas(batches, schema=PDF_IMAGE_SCHEMA)
