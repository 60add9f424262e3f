"""Slide-blueprint operators — the deterministic replacement for the
reference's LLM restructuring (SURVEY M7/M10/F9/F13/O4).

The reference turns cleaned text into a schema-enforced JSON blueprint
``array<struct<title:string, content:array<string>>>``
(``core_document_generator.py:237-255``) via a Gemini call, then splits
slides on markdown headings (``core_document_processing.py:310-312``)
and pages long slides at 12 lines (``ppt_formation.py:95-108``). Here
the same structures are produced deterministically with Catalyst ops.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# the reference's response_schema (core_document_generator.py:239-254)
BLUEPRINT_SCHEMA = T.ArrayType(
    T.StructType(
        [
            T.StructField("title", T.StringType()),
            T.StructField("content", T.ArrayType(T.StringType())),
        ]
    )
)


def split_on_headings(c: Column) -> Column:
    """M10 variant 3: split text into sections at markdown headings —
    the reference uses ``re.split(r'(?=\\n#+\\s)')``; lookahead-free
    equivalent: inject a sentinel before each heading, then split.

    Sections are kept only if they contain a non-WHITESPACE character
    (full class, not ``trim``'s space-only strip): an all-whitespace
    section like ``" \\n "`` would otherwise survive here, produce an
    empty line list in ``section_to_slide``, and crash the task under
    ANSI ``element_at`` — diverging from the DuckDB twin instead of
    being row-tolerant."""
    from pdf_to_text_spark.core.textnorm import CLS_A

    marked = F.regexp_replace(c, r"\n(#+[ ])", "\x01$1")
    return F.filter(
        F.split(marked, "\x01"),
        lambda s: F.length(F.regexp_replace(s, f"{CLS_A}+", "")) > 0,
    )


def section_to_slide(section: Column) -> Column:
    """One section → struct(title, content): first line (heading hashes
    stripped) is the title, remaining non-empty lines are bullets."""
    lines = F.filter(
        F.transform(F.split(section, "\n"), lambda s: F.trim(s)),
        lambda s: F.length(s) > 0,
    )
    title = F.regexp_replace(F.element_at(lines, 1), r"^#+[ ]", "")
    body = F.slice(lines, 2, F.greatest(F.size(lines) - 1, F.lit(0)))
    content = F.transform(body, lambda s: F.regexp_replace(s, r"^[*•\-][ ]", ""))
    return F.struct(title.alias("title"), content.alias("content"))


def text_to_blueprint(c: Column) -> Column:
    """Full deterministic restructure: text → blueprint array."""
    return F.transform(split_on_headings(c), section_to_slide)


def blueprint_json_roundtrip(df: DataFrame, text_col: str = "text") -> DataFrame:
    """F13: blueprint → JSON string → parsed struct (the reference's
    materialized IR is the JSON string; user edits re-enter via parse,
    ui.py:180-187). Adds ``blueprint_json`` and the ``blueprint`` parsed
    back from it; q22 reads the parsed side."""
    return df.withColumn(
        "blueprint_json", F.to_json(text_to_blueprint(F.col(text_col)))
    ).withColumn("blueprint", F.from_json("blueprint_json", BLUEPRINT_SCHEMA))


def blueprint_to_markdown(bp: Column) -> Column:
    """K6 markdown sink: blueprint → report string, the reference's
    ``create_markdown_report`` (core_document_generator.py:415-434):
    ``# Presentation Content Report`` header, then per slide
    ``## <title>`` + one ``- <point>`` line per bullet + a blank line.
    Pure Catalyst — the writer itself is ``df.write.text`` downstream."""
    slide_md = F.transform(
        bp,
        lambda s: F.concat(
            F.lit("## "), s["title"], F.lit("\n"),
            F.array_join(
                F.transform(s["content"], lambda p: F.concat(F.lit("- "), p, F.lit("\n"))),
                "",
            ),
            F.lit("\n"),
        ),
    )
    return F.concat(F.lit("# Presentation Content Report\n\n"), F.array_join(slide_md, ""))


def _xml_escape(c: Column) -> Column:
    """Escape XML text content (& first, else it re-escapes the escapes).
    Literal ``F.replace`` — no regex replacement-string surprises."""
    c = F.replace(c, F.lit("&"), F.lit("&amp;"))
    c = F.replace(c, F.lit("<"), F.lit("&lt;"))
    return F.replace(c, F.lit(">"), F.lit("&gt;"))


DOCX_XML_HEAD = (
    '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>\n'
    '<w:document xmlns:w='
    '"http://schemas.openxmlformats.org/wordprocessingml/2006/main">'
    "<w:body>"
)
DOCX_XML_TAIL = "</w:body></w:document>"
DOCX_PAGE_BREAK = '<w:p><w:r><w:br w:type="page"/></w:r></w:p>'


def _docx_para(style: Column, text: Column) -> Column:
    return F.concat(
        F.lit('<w:p><w:pPr><w:pStyle w:val="'),
        style,
        F.lit('"/></w:pPr><w:r><w:t xml:space="preserve">'),
        _xml_escape(text),
        F.lit("</w:t></w:r></w:p>"),
    )


def blueprint_to_docx_xml(bp: Column) -> Column:
    """K4 DOCX sink, document part: blueprint → WordprocessingML
    ``word/document.xml`` string, pure Catalyst — the reference's
    ``create_docx`` (core_document_generator.py:380-413): slide 0 title
    → Heading1, later titles → Heading2, each content point a
    ``List Bullet`` paragraph, page break between slides (not after the
    last). ``functions.udfs.docx_package`` wraps this into the .docx
    zip container. F10: content lines carrying an [Image of X] tag are
    replaced by the 🖼️ [PROMPT: X] placeholder paragraph
    (core_document_processing.py:348-357)."""
    from pdf_to_text_spark.functions.text import render_image_placeholder

    slides = F.transform(
        bp,
        lambda s, i: F.concat(
            _docx_para(
                F.when(i == 0, F.lit("Heading1")).otherwise(F.lit("Heading2")), s["title"]
            ),
            F.array_join(
                F.transform(
                    s["content"],
                    lambda p: _docx_para(F.lit("ListBullet"), render_image_placeholder(p)),
                ),
                "",
            ),
            F.when(i < F.size(bp) - 1, F.lit(DOCX_PAGE_BREAK)).otherwise(F.lit("")),
        ),
    )
    return F.concat(F.lit(DOCX_XML_HEAD), F.array_join(slides, ""), F.lit(DOCX_XML_TAIL))


def paginate_slides(df: DataFrame, pos_col: str) -> DataFrame:
    """A7: flush a slide every 12 lines (ppt_formation.py:98) —
    ``slide_no = floor(pos / 12)`` over a 0-based line position such as
    a posexplode's ``pos``."""
    return df.withColumn("slide_no", F.floor(F.col(pos_col) / 12).cast("long"))
