"""Catalyst expression library — SURVEY.md §2.4 (F1–F14).

Every function here is a pure ``pyspark.sql.functions`` composition
(JVM-side, whole-stage-codegen'd; zero Python in the hot path). The
regex *source strings* are imported from ``core.textnorm`` so the
Python oracle and the JVM run literally the same patterns; tests assert
byte-identity on adversarial fixtures.

Java-vs-Python regex gotchas handled here:
- no bare ``\\s`` (Java = ASCII-only, Python = Unicode) — explicit classes
- group refs in replacements: Java wants ``$1``, Python ``\\1``
- ``F.trim`` strips spaces only — outer strip uses anchored classes
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from pdf_to_text_spark.core.textnorm import (
    CLS_A,
    RE_BLANKS,
    RE_DEHYPH,
    RE_HCOLLAPSE,
    RE_LINETRIM,
    RE_LSTRIP,
    RE_RSTRIP,
    TEXT_LAYER_MIN_CHARS,
)

# ---------------------------------------------------------------- golden path


def strip_outer(c: Column) -> Column:
    """Strip leading/trailing whitespace incl. newlines (Java trim can't)."""
    return F.regexp_replace(F.regexp_replace(c, RE_LSTRIP, ""), RE_RSTRIP, "")


def normalize_extracted(c: Column) -> Column:
    """Frozen normalization chain v1 — Catalyst twin of
    ``core.textnorm.normalize_extracted`` (same patterns, same order)."""
    c = F.regexp_replace(c, RE_DEHYPH, "")       # F5 de-hyphenate
    c = F.regexp_replace(c, RE_HCOLLAPSE, " ")   # horizontal ws collapse
    c = F.regexp_replace(c, RE_LINETRIM, "\n")   # per-line trim
    c = F.regexp_replace(c, RE_BLANKS, "\n\n")   # F3 blank collapse
    return strip_outer(c)


# ------------------------------------------------------- reference cleaners


def meaningful_len(c: Column) -> Column:
    """F1: length excluding whitespace (core_document_processing.py:73)."""
    return F.length(F.regexp_replace(c, f"{CLS_A}+", ""))


def text_layer_sufficient(c: Column) -> Column:
    """P3 routing predicate — pure Catalyst, no UDF."""
    return c.isNotNull() & (meaningful_len(c) > F.lit(TEXT_LAYER_MIN_CHARS))


def charset_clean(c: Column) -> Column:
    """F2: OCR charset clean (ocr_engine.py:30-33) + outer strip."""
    return strip_outer(F.regexp_replace(c, r"[^A-Za-z0-9.,!?;:'\"\- \t\n\r\f\x0b]", ""))


def deep_clean(c: Column) -> Column:
    """F7: deep cleaner (5_NLP/nlp/cleaning.py:9-34). Note ``$1`` group
    ref (Java); the oracle/DuckDB twin uses ``\\1``."""
    c = F.regexp_replace(c, r"[^\x00-\x7F]+", " ")
    c = F.regexp_replace(c, r"http[^ \t\n]+|www[^ \t\n]+", "")
    c = F.regexp_replace(c, r"[^ \t\n]+@[^ \t\n]+", "")
    c = F.regexp_replace(c, r"([!?.,]){2,}", "$1")
    c = F.regexp_replace(c, r"[^a-zA-Z0-9 \t\n.?!]", " ")
    return strip_outer(F.regexp_replace(c, r"[ \t\n\r\f\x0b]+", " "))


def sentences_strict(c: Column) -> Column:
    """M8 deterministic sentence split (rule-based replacement for
    spaCy/nltk, 5_NLP/nlp/sentence_splitter.py:12-17) with an RE2-safe
    pattern (no lookbehind) so the DuckDB oracle can run the identical
    regex: a sentence is a maximal run of non-terminators followed by
    ≥1 terminator; empties are removed."""
    arr = F.regexp_extract_all(c, F.lit(r"[^.!?]+[.!?]+"), 0)
    return F.filter(F.transform(arr, lambda s: F.trim(s)), lambda s: F.length(s) > 0)


def token_count(c: Column) -> Column:
    """Whitespace token count (text-analytics tier)."""
    return F.size(F.filter(F.split(c, f"{CLS_A}+"), lambda s: F.length(s) > 0))


def is_topic(c: Column) -> Column:
    """P8: topic-vs-text routing predicate — an input of fewer than 10
    whitespace-separated words is a *topic* (a title to expand), else
    body text (core_document_generator.py:270-274 ``len(input.split())
    < 10``). Python ``str.split()`` drops empty tokens, so an
    empty/blank string counts 0 words → topic; token_count matches."""
    return token_count(c) < F.lit(10)


# -------------------------------------------------- markdown / blueprint ops


def extract_image_tag(c: Column) -> Column:
    """F10: pull X from '[Image of X]' — case-INSENSITIVE search
    anywhere in the line, topic stripped, exactly the reference's
    ``re.search(r'\\[Image of (.+?)\\]', line, re.IGNORECASE)`` +
    ``.strip()`` (core_document_processing.py:350-353). '' when no tag."""
    return strip_outer(F.regexp_extract(c, r"(?i)\[image of (.+?)\]", 1))


def render_image_placeholder(pt: Column) -> Column:
    """F10 sink rule: a content line carrying an [Image of X] tag is
    REPLACED by the image-prompt placeholder ``🖼️ [PROMPT: X]`` the
    reference writes into the deck in place of the line
    (core_document_processing.py:348-357); tag-free lines pass through.
    Consumed by the PPTX slide builder and the DOCX document builder —
    apply BEFORE XML escaping (the reference sets paragraph text and
    lets python-pptx escape at save)."""
    tag = extract_image_tag(pt)
    return F.when(
        tag != F.lit(""), F.concat(F.lit("🖼️ [PROMPT: "), tag, F.lit("]"))
    ).otherwise(pt)


# ----------------------------------------------------------- F11 chart parse


def parse_chart_string(c: Column) -> Column:
    """F11: parse ``"<title>, <series>, <cat>:<val>, ..."``
    (``/root/reference/2_OpenCV_OCR/pptx_designer.py:131-157``).

    Semantics mirrored exactly: split on ',', require ≥3 parts (else
    null — the reference raises), parts[0]/parts[1] stripped are
    title/series, remaining parts WITH a ':' become (category, value)
    points; value = float of the part after the FIRST colon with
    ``[^0-9.]`` removed, 0.0 when unparseable (``float()`` raise →
    ``try_cast`` null → coalesce 0.0 — same failure set: the cleaned
    string holds only digits/dots). Pure Catalyst; the DuckDB twin runs
    the identical steps (strpos/substr for the first-colon split).

    Returns ``struct<title, series, points:array<struct<category,value>>>``.
    """
    parts = F.split(c, ",")
    rest = F.slice(parts, 3, F.greatest(F.size(parts) - 2, F.lit(0)))
    with_colon = F.filter(rest, lambda p: F.instr(p, ":") > 0)

    def _point(p: Column) -> Column:
        kv = F.split(p, ":", 2)
        cleaned = F.regexp_replace(F.element_at(kv, 2), "[^0-9.]", "")
        return F.struct(
            strip_outer(F.element_at(kv, 1)).alias("category"),
            F.coalesce(cleaned.try_cast("double"), F.lit(0.0)).alias("value"),
        )

    return F.when(
        F.size(parts) >= 3,
        F.struct(
            strip_outer(F.element_at(parts, 1)).alias("title"),
            strip_outer(F.element_at(parts, 2)).alias("series"),
            F.transform(with_colon, _point).alias("points"),
        ),
    )


# ------------------------------------------------------ F14 filename helpers


def file_ext(c: Column) -> Column:
    """F14: lowercased extension without the dot ('' when none) —
    ``os.path.splitext`` analog (main.py:32-33, utils_list_images.py:5)."""
    return F.lower(F.regexp_extract(c, r"\.([A-Za-z0-9]+)$", 1))


def file_stem(c: Column) -> Column:
    """F14: final path segment minus extension (main.py:45 splitext)."""
    return F.regexp_extract(c, r"([^/]+?)(?:\.[A-Za-z0-9]+)?$", 1)


def rel_path(c: Column, base: str) -> Column:
    """F14: path relative to ``base`` (``os.path.relpath`` analog,
    main.py:68-70). ``base`` is a literal prefix, regex-escaped."""
    import re as _re

    return F.regexp_replace(c, "^" + _re.escape(base.rstrip("/")) + "/", "")


def title_from_stem(c: Column) -> Column:
    """F14: template/display name from a file stem — separators to
    spaces, then initcap (``ai_presentation generator.py:183``)."""
    return F.initcap(F.regexp_replace(c, "[_\\-]+", " "))
