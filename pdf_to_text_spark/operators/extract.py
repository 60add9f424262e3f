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
- a PDF comes back as its page ARRAY, normalized once per page; the
  document text (a join of that array) and the per-page table (a
  ``posexplode`` of it) read the same expression, and neither needs a
  shuffle — at 100 TB the extraction stage is embarrassingly parallel
  (scan → project → write), which is what makes ≥0.8 scaling efficiency
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
from pdf_to_text_spark.core.textnorm import RE_BLANKS
from pdf_to_text_spark.functions.text import (
    normalize_extracted,
    strip_outer,
    text_layer_sufficient,
)

ROUTE_TEXT, ROUTE_PDF, ROUTE_HTML, ROUTE_ERROR = "text_layer", "pdf", "html", "error"

_SNIFF_WINDOW = 32  # bytes; frozen spec, mirrored in fixtures.oracle_extract


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


def _is_pdf_magic(html: Column) -> Column:
    return F.substring(html, 1, 5) == F.lit(b"%PDF-")


_PARSE_RESULT = T.StructType(
    [
        T.StructField("raw", T.StringType()),
        T.StructField("pages", T.ArrayType(T.StringType())),
        T.StructField("error", T.StringType()),
        T.StructField("route", T.StringType()),
        T.StructField("ms", T.DoubleType()),
    ]
)


def make_parse_any_udf(ocr_scanned: bool = False):
    """Single-pass routed parse (SURVEY §7.2 decision record): one Arrow
    round trip per row, whatever its route. A PDF row returns its page
    texts as the ``pages`` array and leaves ``raw`` null; every other
    row returns its text in ``raw``. An error row carries neither.
    Normalization stays Catalyst. ``ocr_scanned`` enables the
    scanned-page OCR fallback."""
    hook = _ocr_hook(ocr_scanned)

    @F.pandas_udf(_PARSE_RESULT)
    def parse_any_udf(html: pd.Series, text: pd.Series) -> pd.DataFrame:
        from pdf_to_text_spark.core.textnorm import text_layer_sufficient as _suff

        raws, pages_out, errs, routes, mss = [], [], [], [], []
        for h, t in zip(html, text):
            t0 = time.perf_counter()
            raw = pages = err = None
            if _suff(t):
                raw, route = t, ROUTE_TEXT
            else:
                data = bytes(h) if h is not None else b""
                if not data:
                    err, route = "empty_payload", ROUTE_ERROR
                elif data.startswith(b"%PDF-"):
                    route = ROUTE_PDF
                    pages, perr = extract_pdf_pages_safe(data, page_ocr=hook)
                    if perr is not None:
                        err = f"pdf:{perr}"
                elif data[:_SNIFF_WINDOW].lstrip()[:1] == b"<":
                    route = ROUTE_HTML
                    raw, herr = _html_main_safe(data)
                    if herr is not None:
                        err = f"html:{herr}"
                else:
                    err, route = "unknown_format", ROUTE_ERROR
            raws.append(raw)
            pages_out.append(pages)
            errs.append(err)
            routes.append(route)
            mss.append((time.perf_counter() - t0) * 1000.0)
        return pd.DataFrame(
            {"raw": raws, "pages": pages_out, "error": errs, "route": routes, "ms": mss}
        )

    return parse_any_udf


parse_any_udf = make_parse_any_udf()


def _parse(ocr_scanned: bool):
    return parse_any_udf if not ocr_scanned else make_parse_any_udf(ocr_scanned=True)


def _normalized_pages(pages: Column) -> Column:
    """The PDF route's page array, each page normalized once; the doc
    text and the page table both read it."""
    return F.transform(pages, normalize_extracted)


def _pages_to_doc(pages: Column) -> Column:
    """Doc text from normalized pages, equal to the frozen spec's
    ``normalize_extracted("\\n\\n".join(pages))`` in 4 passes, not 6.

    A normalized page has no outer whitespace, no ``-[H]*\\n``, no
    ``\\n{3,}`` and no horizontal whitespace but single spaces, so on
    the join the doc-level chain acts only at the seams: de-hyphenation
    takes a page-final ``-`` with the whole ``\\n`` run after it (empty
    pages included), the blank collapse shortens the runs empty pages
    leave, and the outer strip takes leading and trailing runs; the
    horizontal collapse and line trim find nothing. A seeded property
    test pins the equality (tests/test_textnorm_parity.py)."""
    doc = F.regexp_replace(F.array_join(pages, "\n\n"), "-\n+", "")
    return strip_outer(F.regexp_replace(doc, RE_BLANKS, "\n\n"))


def extract_documents(pages_df: DataFrame, ocr_scanned: bool = False) -> DataFrame:
    """The headline operator: pages table → (url, extracted_text, error,
    route, bytes_in, extract_ms).

    One scan, one ``ArrowEvalPython`` node (``parse_any_udf``), one
    Catalyst projection — audited in tests/test_plans.py. The text-layer
    threshold is the frozen spec's 250, baked into the Python router.
    ``bytes_in`` is 0 on the text-layer route (its html is never parsed).
    Error rows carry neither ``raw`` nor ``pages``, so their text is null.
    """
    parsed = pages_df.withColumn("r", _parse(ocr_scanned)("html", "text"))
    r = F.col("r")
    extracted = F.when(
        r["route"] == ROUTE_PDF, _pages_to_doc(_normalized_pages(r["pages"]))
    ).otherwise(normalize_extracted(r["raw"]))
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
    ``3_Extracted_Texts/*/page_N.txt`` files). Two Catalyst pre-filters
    keep the rows the router sends to the PDF route; the same
    ``parse_any_udf`` parses them, and a posexplode (M1/O2) of the same
    normalized page array as the doc text gives one row per page. Empty
    pages are preserved as empty strings; a zero-page PDF gives no row,
    and neither does an error row, whose page array is null. (A filter
    on the UDF's ``error`` would be pushed below the projection and run
    the UDF a second time.) ``ocr_scanned`` enables the opt-in
    scanned-page fallback (SPEC v1.2 item 4)."""
    return (
        pages_df.filter(~text_layer_sufficient(F.col("text")) & _is_pdf_magic(F.col("html")))
        .withColumn("r", _parse(ocr_scanned)("html", "text"))
        .select("url", F.posexplode(_normalized_pages(F.col("r.pages"))).alias("pos", "page_text"))
        .select("url", (F.col("pos") + 1).alias("page_num"), "page_text")
    )


def reassemble_documents(
    df: DataFrame, group: str | Column, key: Column, part: Column, sep: str
) -> DataFrame:
    """K2/A4/A5: per-group ordered concat — ``groupBy(group)``, sort the
    ``(key, part)`` structs, join the parts with ``sep``. Output: the
    group column(s) and ``combined_text``.

    The caller's ``key`` sets the order. A string key such as
    ``"page_" || page_num`` sorts lexicographically, so page_10 comes
    before page_2: the reference's ``combine_texts.py:17-30`` quirk. A
    zero-padded key gives numeric order
    (``core_document_generator.py:185-187``). One shuffle on the group;
    collect_list aggregates partially on the map side.
    """
    parts = F.array_sort(F.collect_list(F.struct(key.alias("k"), part.alias("p"))))
    return df.groupBy(group).agg(
        F.array_join(F.transform(parts, lambda s: s["p"]), sep).alias("combined_text")
    )
