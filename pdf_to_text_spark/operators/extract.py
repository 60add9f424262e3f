"""Extraction operators: one Arrow-batched UDF routes and parses each row.

Spark-first re-expression of the reference's per-file pipeline
(``/root/reference/2_OpenCV_OCR/main.py:86-127``,
``core_document_processing.py:45-89``):

- routing and parsing run in ONE scalar pandas UDF (``parse_any_udf``):
  the frozen P3 ladder (text-layer fast path → empty guard → ``%PDF-``
  magic → ``<`` in a 32-byte lstripped window → error) is plain Python
  over each row, then the row goes to the frozen core spec
  (``core.pdfparse`` / ``core.htmlextract``), so UDF output is
  byte-identical to the sequential oracle by construction;
- all normalization is the Catalyst chain (``functions.text``);
- the doc-level result needs NO shuffle: PDF pages come back joined on
  ``PAGE_SEP`` and reassembly is ``array_join(transform(split(...)))``
  — at 100 TB the extraction stage is embarrassingly parallel (scan →
  project → write), which is what makes ≥0.8 scaling efficiency
  attainable.

Per-row ``extract_ms`` is measured inside the UDF batch loop and feeds
the per-partition lineage table (north rule).
"""

from __future__ import annotations

import time

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pdf_to_text_spark.core.htmlextract import extract_main_content_bytes
from pdf_to_text_spark.core.pdfparse import extract_pdf_pages_safe
from pdf_to_text_spark.functions.text import normalize_extracted, text_layer_sufficient

ROUTE_TEXT, ROUTE_PDF, ROUTE_HTML, ROUTE_ERROR = "text_layer", "pdf", "html", "error"

_SNIFF_WINDOW = 32  # bytes; frozen spec, mirrored in fixtures.oracle_extract

_PDF_RESULT = T.StructType(
    [
        T.StructField("pages", T.ArrayType(T.StringType())),
        T.StructField("error", T.StringType()),
    ]
)


def _ocr_hook(ocr_scanned: bool):
    """The scanned-page OCR fallback (round 5, ``core.scanocr``): pages
    with no text layer that paint a readable image OCR via the frozen
    raster. Default OFF = goldens unchanged."""
    if not ocr_scanned:
        return None
    from pdf_to_text_spark.core.scanocr import ocr_scanned_images

    return ocr_scanned_images


def _html_main_safe(data: bytes) -> tuple[str | None, str | None]:
    """Row-level error tolerance for the HTML route (same contract as
    ``extract_pdf_pages_safe``): never raises."""
    try:
        return extract_main_content_bytes(data), None
    except Exception as e:  # noqa: BLE001 — row-level tolerance by design
        return None, f"unexpected:{type(e).__name__}"


def make_pdf_pages_udf(ocr_scanned: bool = False):
    """binary → (ordered page texts, error) for the per-page table.
    SURVEY M1/M2/M5: deterministic text-object decode replaces
    rasterize+OCR. Errors (including unexpected exceptions on
    malformed-but-magic-valid input) become rows, never task failures."""
    hook = _ocr_hook(ocr_scanned)

    @F.pandas_udf(_PDF_RESULT)
    def pdf_pages_udf(html: pd.Series) -> pd.DataFrame:
        pages_out, err_out = [], []
        for data in html:
            pages, err = extract_pdf_pages_safe(bytes(data), b"", hook)
            pages_out.append(pages)
            err_out.append(err)
        return pd.DataFrame({"pages": pages_out, "error": err_out})

    return pdf_pages_udf


pdf_pages_udf = make_pdf_pages_udf()


def _is_pdf_magic(html: Column) -> Column:
    return F.substring(html, 1, 5) == F.lit(b"%PDF-")


# internal page sentinel — guaranteed absent from page text because
# extract_pdf_pages strips \x02 as part of the frozen spec (a PDF string
# could otherwise inject it via an octal escape)
PAGE_SEP = "\x02"

_PARSE_RESULT = T.StructType(
    [
        T.StructField("raw", T.StringType()),
        T.StructField("error", T.StringType()),
        T.StructField("route", T.StringType()),
        T.StructField("ms", T.DoubleType()),
    ]
)


def make_parse_any_udf(password: bytes | str = b"", ocr_scanned: bool = False):
    """Single-pass routed parse (SURVEY §7.2 decision record): one Arrow
    round trip per row, whatever its route. PDF pages are joined on
    PAGE_SEP so normalization can stay Catalyst. ``password`` is
    threaded to the PDF decryptor (round-5 item 6) — wrong or missing
    passwords stay disclosed error rows; ``ocr_scanned`` enables the
    scanned-page OCR fallback."""
    hook = _ocr_hook(ocr_scanned)

    @F.pandas_udf(_PARSE_RESULT)
    def parse_any_udf(html: pd.Series, text: pd.Series) -> pd.DataFrame:
        from pdf_to_text_spark.core.textnorm import text_layer_sufficient as _suff

        raws, errs, routes, mss = [], [], [], []
        for h, t in zip(html, text):
            t0 = time.perf_counter()
            raw = err = None
            if _suff(t):
                raw, route = t, ROUTE_TEXT
            else:
                data = bytes(h) if h is not None else b""
                if not data:
                    err, route = "empty_payload", ROUTE_ERROR
                elif data.startswith(b"%PDF-"):
                    route = ROUTE_PDF
                    pages, perr = extract_pdf_pages_safe(data, password, hook)
                    if perr is not None:
                        err = f"pdf:{perr}"
                    else:
                        raw = PAGE_SEP.join(pages)
                elif data[:_SNIFF_WINDOW].lstrip()[:1] == b"<":
                    route = ROUTE_HTML
                    raw, herr = _html_main_safe(data)
                    if herr is not None:
                        err = f"html:{herr}"
                else:
                    err, route = "unknown_format", ROUTE_ERROR
            raws.append(raw)
            errs.append(err)
            routes.append(route)
            mss.append((time.perf_counter() - t0) * 1000.0)
        return pd.DataFrame({"raw": raws, "error": errs, "route": routes, "ms": mss})

    return parse_any_udf


parse_any_udf = make_parse_any_udf()


def extract_documents(
    pages_df: DataFrame,
    pdf_password: bytes | str = b"",
    ocr_scanned: bool = False,
) -> DataFrame:
    """The headline operator: pages table → (url, extracted_text, error,
    route, bytes_in, extract_ms).

    One scan, one ``ArrowEvalPython`` node (``parse_any_udf``), one
    Catalyst projection — audited in tests/test_plans.py. The text-layer
    threshold is the frozen spec's 250, baked into the Python router.
    ``bytes_in`` is 0 on the text-layer route (its html is never parsed).
    """
    parse = (
        parse_any_udf
        if not pdf_password and not ocr_scanned
        else make_parse_any_udf(pdf_password, ocr_scanned)
    )
    parsed = pages_df.withColumn("r", parse("html", "text"))
    r = F.col("r")
    pages_arr = F.split(r["raw"], PAGE_SEP)
    pdf_doc = normalize_extracted(
        F.array_join(F.transform(pages_arr, lambda p: normalize_extracted(p)), "\n\n")
    )
    extracted = (
        F.when(r["error"].isNotNull() | (r["route"] == ROUTE_ERROR), F.lit(None).cast("string"))
        .when(r["route"] == ROUTE_PDF, pdf_doc)
        .otherwise(normalize_extracted(r["raw"]))
    )
    return parsed.select(
        "url",
        extracted.alias("extracted_text"),
        r["error"].alias("error"),
        r["route"].alias("route"),
        F.when(r["route"] == ROUTE_TEXT, F.lit(0))
        .otherwise(F.coalesce(F.octet_length("html"), F.lit(0)))
        .alias("bytes_in"),
        r["ms"].alias("extract_ms"),
    )


# former name of ``extract_documents``, kept because the frozen benchmark
# harness (perfbench/prefixes.py) imports it
extract_documents_fused = extract_documents


def extract_pdf_page_table(
    pages_df: DataFrame, ocr_scanned: bool = False
) -> DataFrame:
    """Per-page table for the PDF route: (url, page_num, page_text) —
    the golden_pages contract (analog of the reference's per-page
    ``3_Extracted_Texts/*/page_N.txt`` files). Uses posexplode (M1/O2);
    empty pages are preserved as empty strings. The UDF returns the page
    ARRAY rather than a ``PAGE_SEP`` join, which could not tell a
    zero-page PDF (``[]``) from one empty page (both join to ``""``).
    ``ocr_scanned`` enables the opt-in scanned-page fallback (SPEC v1.2
    item 4)."""
    page_udf = pdf_pages_udf if not ocr_scanned else make_pdf_pages_udf(True)
    return (
        pages_df.filter(~text_layer_sufficient(F.col("text")) & _is_pdf_magic(F.col("html")))
        .withColumn("r", page_udf("html"))
        .filter(F.col("r.error").isNull())
        .select("url", F.posexplode("r.pages").alias("pos", "page_text_raw"))
        .select(
            "url",
            (F.col("pos") + 1).alias("page_num"),
            normalize_extracted(F.col("page_text_raw")).alias("page_text"),
        )
    )


def reassemble_documents(
    page_df: DataFrame,
    order: str = "numeric",
    header_fmt: str = "\n\n---- {name} ----\n\n",
    separator: str = "\n" + "=" * 50 + "\n",
) -> DataFrame:
    """A4/A5: per-document ordered concat of page texts with headers —
    the reference's ``combine_texts.py:17-30`` (lexicographic) and
    ``core_document_generator.py:185-187`` (numeric) variants, one
    parameterized operator.

    Input: (url, page_num, page_text). Output: (url, combined_text).
    One shuffle on url; map-side partial aggregation applies since
    collect_list is partial-izable.
    """
    if order == "lexicographic":
        # page_10 sorts before page_2 — the reference's quirk, preserved
        sort_key = F.concat(F.lit("page_"), F.col("page_num").cast("string"))
    elif order == "numeric":
        sort_key = F.lpad(F.col("page_num").cast("string"), 9, "0")
    else:
        raise ValueError(order)
    named = F.struct(
        sort_key.alias("k"),
        F.concat(F.lit("page_"), F.col("page_num").cast("string")).alias("name"),
        F.col("page_text").alias("t"),
    )
    pre, post = header_fmt.split("{name}")
    return (
        page_df.groupBy("url")
        .agg(F.array_sort(F.collect_list(named)).alias("parts"))
        .select(
            "url",
            F.array_join(
                F.transform(
                    F.col("parts"),
                    lambda p: F.concat(F.lit(pre), p["name"], F.lit(post), p["t"]),
                ),
                separator,
            ).alias("combined_text"),
        )
    )
