"""Blueprint (deterministic restructure) + sources + UDF-surface tests."""

from __future__ import annotations

from pyspark.sql import functions as F

from pdf_to_text_spark.functions.udfs import nfkc_lower, remove_stopwords
from pdf_to_text_spark.operators.blueprint import (
    blueprint_json_roundtrip,
    paginate_slides,
    text_to_blueprint,
)

MD = """# Intro
- point one
- point two

## Details
* alpha
beta line

## Empty Section Tail
"""


def test_text_to_blueprint(spark):
    df = spark.createDataFrame([(MD,)], "text string")
    bp = df.select(text_to_blueprint(F.col("text")).alias("bp")).collect()[0]["bp"]
    assert [s["title"] for s in bp] == ["Intro", "Details", "Empty Section Tail"]
    assert bp[0]["content"] == ["point one", "point two"]
    assert bp[1]["content"] == ["alpha", "beta line"]
    assert bp[2]["content"] == []


def test_blueprint_json_roundtrip(spark):
    df = spark.createDataFrame([(MD,)], "text string")
    row = blueprint_json_roundtrip(df).collect()[0]
    assert row["blueprint"][0]["title"] == "Intro"
    assert '"title":"Intro"' in row["blueprint_json"]


def test_paginate_slides(spark):
    rows = [("d", i, f"line{i:02d}") for i in range(30)]
    df = spark.createDataFrame(rows, "doc string, line_no int, line string")
    got = {r["line_no"]: r["slide_no"] for r in paginate_slides(df, "line_no").collect()}
    assert got[0] == 0 and got[11] == 0
    assert got[12] == 1 and got[23] == 1 and got[24] == 2 and got[29] == 2


def test_nfkc_lower_udf(spark):
    df = spark.createDataFrame([("Ｆｕｌｌｗｉｄｔｈ ＴＥＸＴ ﬁne",), (None,)], "s string")
    got = [r[0] for r in df.select(nfkc_lower(F.col("s")).alias("o")).collect()]
    assert got[0] == "fullwidth text fine"
    assert got[1] is None


def test_remove_stopwords(spark):
    df = spark.createDataFrame([("the quick fox and the dog",)], "s string")
    got = df.select(remove_stopwords(F.col("s")).alias("o")).collect()[0][0]
    assert got == "quick fox dog"


def test_scan_document_dir(spark, tmp_path):
    from pdf_to_text_spark.core.pdfgen import build_pdf, page_content_stream
    from pdf_to_text_spark.operators.extract import extract_documents
    from pdf_to_text_spark.sources.ingest import scan_document_dir

    (tmp_path / "sub").mkdir()
    (tmp_path / "a.pdf").write_bytes(build_pdf([page_content_stream(["hello pdf"])]))
    (tmp_path / "sub" / "b.html").write_text(
        "<html><body><p>a sufficiently long html paragraph for keeping</p></body></html>"
    )
    (tmp_path / "skip.txt").write_text("not scanned")
    pages = scan_document_dir(spark, str(tmp_path))
    assert pages.count() == 2
    out = {r["route"] for r in extract_documents(pages).collect()}
    assert out == {"pdf", "html"}


def test_blueprint_to_markdown_reference_format(spark):
    """Byte-parity with create_markdown_report
    (/root/reference/2_OpenCV_OCR/core_document_generator.py:415-434)."""
    from pdf_to_text_spark.operators.blueprint import blueprint_to_markdown, text_to_blueprint

    md_in = "# Intro\n- point one\n- point two\n# Empty Slide\n# Next\n- only"
    df = spark.createDataFrame([(md_in,)], "t string")
    got = df.select(blueprint_to_markdown(text_to_blueprint(F.col("t"))).alias("r")).collect()[0]["r"]
    expected = (
        "# Presentation Content Report\n\n"
        "## Intro\n- point one\n- point two\n\n"
        "## Empty Slide\n\n"
        "## Next\n- only\n\n"
    )
    assert got == expected


def test_whitespace_only_section_is_dropped_not_crash(spark):
    """An all-whitespace text (or section) must yield zero slides —
    previously F.element_at on an empty line list aborted the task
    under Spark 4 ANSI (and diverged from the DuckDB twin)."""
    from pdf_to_text_spark.operators.blueprint import text_to_blueprint

    df = spark.createDataFrame(
        [(0, " \n "), (1, ""), (2, "\t\n\x0b"), (3, " \n \n# real\n- point\n# next")],
        "i long, t string",
    )
    rows = {
        r["i"]: r["bp"]
        for r in df.select("i", text_to_blueprint(F.col("t")).alias("bp")).collect()
    }
    assert rows[0] == [] and rows[1] == [] and rows[2] == []
    # the whitespace-only leading section is dropped, the real ones kept
    assert [s.title for s in rows[3]] == ["real", "next"]


def test_blueprint_fuzz_parity_vs_python_spec(spark):
    """Catalyst blueprint == a pure-Python replica of the frozen spec
    on adversarial inputs (whitespace-only sections, bare '#', mixed
    bullets, unicode, tabs). Pins the split/trim/strip rules the four
    blueprint oracles replay in SQL."""
    import random
    import re

    from pdf_to_text_spark.core.textnorm import CLS_A

    def py_blueprint(text: str):
        marked = re.sub(r"\n(#+ )", "\x01\\1", text)
        out = []
        for sec in marked.split("\x01"):
            if not re.sub(f"{CLS_A}+", "", sec):
                continue
            lines = [ln.strip(" ") for ln in sec.split("\n")]
            lines = [ln for ln in lines if ln]
            title = re.sub(r"^#+ ", "", lines[0])
            content = [re.sub(r"^[*•\-] ", "", ln) for ln in lines[1:]]
            out.append((title, content))
        return out

    rng = random.Random(4812)
    frags = ["# Head", "## Sub x", "- b1", "* b2", "• b3", "plain", "",
             " ", "\t", "#", "# ", "-", "café •", "  spaced  "]
    cases = [
        "\n".join(rng.choice(frags) for _ in range(rng.randint(0, 12)))
        for _ in range(150)
    ]
    df = spark.createDataFrame([(i, s) for i, s in enumerate(cases)], "i long, t string")
    got = {
        r["i"]: [(s.title, list(s.content)) for s in r["bp"]]
        for r in df.select("i", text_to_blueprint(F.col("t")).alias("bp")).collect()
    }
    for i, s in enumerate(cases):
        assert got[i] == py_blueprint(s), (i, repr(s), got[i])
