"""K5 PPTX sink (basic variant): slide XML semantics + OPC container
consistency (zip, rels, content types, determinism)."""

from __future__ import annotations

import io
import re
import xml.etree.ElementTree as ET
import zipfile

from pyspark.sql import functions as F

from pdf_to_text_spark.functions.pptxsink import blueprint_to_slide_xml, pptx_package_with_charts
from pdf_to_text_spark.operators.blueprint import text_to_blueprint

P_NS = "{http://schemas.openxmlformats.org/presentationml/2006/main}"
A_NS = "{http://schemas.openxmlformats.org/drawingml/2006/main}"

SAMPLE = (
    "# Deck & <Title>\n"
    "- alpha point\n"
    "- beta > point\n"
    "# Second slide\n"
    "- gamma\n"
    "# Bare heading"
)


def _slides_for(spark, text: str) -> list[str]:
    df = spark.createDataFrame([(text,)], "t string")
    return df.select(
        blueprint_to_slide_xml(text_to_blueprint(F.col("t"))).alias("s")
    ).collect()[0]["s"]


def _text_deck(t):
    """Text-only deck: the export packager with no chart parts."""
    return pptx_package_with_charts(
        blueprint_to_slide_xml(text_to_blueprint(t)), F.lit(None).cast("array<string>")
    )


def test_slide_xml_semantics(spark):
    slides = _slides_for(spark, SAMPLE)
    assert len(slides) == 3
    for i, sx in enumerate(slides):
        root = ET.fromstring(sx)  # well-formed despite &/<> in source
        phs = [ph.get("type") for ph in root.iter(f"{P_NS}ph")]
        # O4 first-slide rule: ctrTitle on slide 0, title after
        assert phs[0] == ("ctrTitle" if i == 0 else "title")
    texts0 = [t.text for t in ET.fromstring(slides[0]).iter(f"{A_NS}t")]
    assert texts0 == ["Deck & <Title>", "alpha point", "beta > point"]
    # slide with no content points has no body placeholder
    assert 'type="body"' not in slides[2]


def test_pptx_package_consistent_and_deterministic(spark):
    df = spark.createDataFrame([(SAMPLE,), (SAMPLE,)], "t string")
    out = df.select(_text_deck(F.col("t")).alias("p")).collect()
    assert out[0]["p"] == out[1]["p"]
    z = zipfile.ZipFile(io.BytesIO(out[0]["p"]))
    assert z.testzip() is None
    names = set(z.namelist())
    # every part well-formed XML
    for n in names:
        ET.fromstring(z.read(n))
    # content types cover every slide part; rels resolve to real members
    ct = z.read("[Content_Types].xml").decode()
    for n in names:
        if n.startswith("ppt/slides/"):
            assert f'PartName="/{n}"' in ct
    rels = z.read("ppt/_rels/presentation.xml.rels").decode()
    for tgt in re.findall(r'Target="([^"]+)"', rels):
        assert f"ppt/{tgt}" in names, tgt
    # presentation sldIdLst references every slide rel id
    pres = z.read("ppt/presentation.xml").decode()
    rel_ids = set(re.findall(r'Id="(rId\d+)"', rels))
    for rid in re.findall(r'r:id="(rId\d+)"', pres):
        assert rid in rel_ids
    assert sum(1 for n in names if n.startswith("ppt/slides/")) == 3


CHART_STR = "Sales & <Deck>, 2024 Revenue, Q1: $10.5, Q2: 20, bad part, Q3:oops"


def test_pptx_package_with_charts(spark):
    """Chart-bearing package (the reference's themed chart slides,
    pptx_designer.py:131-172/236-290): the parsed chart string becomes a
    real c:chartSpace part wired through per-slide rels + content-type
    override, with a graphicFrame on the hosting slide."""
    from pdf_to_text_spark.functions.pptxsink import chart_slide_xml, chart_to_chart_xml
    from pdf_to_text_spark.functions.text import parse_chart_string

    df = spark.createDataFrame([(SAMPLE, CHART_STR)], "t string, cs string")
    ch = parse_chart_string(F.col("cs"))
    text_slides = blueprint_to_slide_xml(text_to_blueprint(F.col("t")))
    slides = F.concat(text_slides, F.array(chart_slide_xml(ch["title"])))
    charts = F.concat(
        F.transform(text_slides, lambda s: F.lit(None).cast("string")),
        F.array(chart_to_chart_xml(ch)),
    )
    out = df.select(pptx_package_with_charts(slides, charts).alias("p")).collect()[0]["p"]

    z = zipfile.ZipFile(io.BytesIO(out))
    assert z.testzip() is None
    names = set(z.namelist())
    for n in names:
        ET.fromstring(z.read(n))

    # 3 text slides + 1 chart slide; exactly one chart part
    assert sum(1 for n in names if re.fullmatch(r"ppt/slides/slide\d+\.xml", n)) == 4
    assert "ppt/charts/chart1.xml" in names
    # chart slide rels bind rId1 to the chart part; content type declared
    rels = z.read("ppt/slides/_rels/slide4.xml.rels").decode()
    assert 'Target="../charts/chart1.xml"' in rels and 'Id="rId1"' in rels
    ct = z.read("[Content_Types].xml").decode()
    assert 'PartName="/ppt/charts/chart1.xml"' in ct
    assert "drawingml.chart+xml" in ct
    # hosting slide carries the graphicFrame referencing rId1
    slide4 = z.read("ppt/slides/slide4.xml").decode()
    assert "graphicFrame" in slide4 and 'r:id="rId1"' in slide4
    # text-only slides got no rels/charts
    assert "ppt/slides/_rels/slide1.xml.rels" not in names

    # chart DATA faithfulness: escaped title, series, cats in order,
    # values cleaned with the reference's 0.0-on-unparseable rule
    chart = z.read("ppt/charts/chart1.xml").decode()
    assert "<a:t>Sales &amp; &lt;Deck&gt;</a:t>" in chart
    assert "<c:v>2024 Revenue</c:v>" in chart
    cats = re.findall(r'<c:cat>.*?</c:cat>', chart, re.S)[0]
    assert re.findall(r"<c:v>([^<]*)</c:v>", cats) == ["Q1", "Q2", "Q3"]
    vals = re.findall(r'<c:val>.*?</c:val>', chart, re.S)[0]
    assert re.findall(r"<c:v>([^<]*)</c:v>", vals) == ["10.5", "20.0", "0.0"]
    assert '<c:ptCount val="3"/>' in cats

    # determinism
    out2 = df.select(pptx_package_with_charts(slides, charts).alias("p")).collect()[0]["p"]
    assert out == out2


CHART_DECK = (
    "# Q3 Review\n"
    "- opening remarks\n"
    "# Revenue\n"
    "- context line is dropped on chart slides\n"
    "-   [chart: Quarterly Revenue, 2024, Q1: $10.5, Q2: 20]  \n"
    "# Broken chart\n"
    "- [CHART: only-two, parts]\n"
    "- still a text bullet\n"
)


def test_blueprint_to_pptx_parts_chart_routing(spark):
    """Reference create_pptx_with_style routing (pptx_designer.py:
    218-231): a content line starting (stripped, case-insensitive)
    with [CHART: makes the slide a chart slide — remaining content
    dropped — while an unparseable chart string (<3 parts) falls back
    to a text slide (disclosed deviation) so the package stays
    consistent."""
    from pdf_to_text_spark.functions.pptxsink import blueprint_to_pptx_parts

    df = spark.createDataFrame([(CHART_DECK,)], "t string")
    parts = blueprint_to_pptx_parts(text_to_blueprint(F.col("t")))
    row = df.select(
        parts["slides"].alias("s"),
        parts["charts"].alias("c"),
        pptx_package_with_charts(parts["slides"], parts["charts"]).alias("p"),
    ).collect()[0]
    slides, charts = row["s"], row["c"]
    assert len(slides) == 3 and len(charts) == 3
    # slide 1: text; slide 2: chart (case-insensitive detect, content dropped)
    assert charts[0] is None and charts[2] is None
    assert charts[1] is not None and "<c:chartSpace" in charts[1]
    assert "graphicFrame" in slides[1]
    assert "context line" not in slides[1]  # reference's `continue`
    assert "<c:v>Quarterly Revenue</c:v>" not in charts[1]  # title, not cache
    assert "<a:t>Quarterly Revenue</a:t>" in charts[1]
    assert "<c:v>2024</c:v>" in charts[1]          # series
    assert "<c:v>10.5</c:v>" in charts[1] and "<c:v>20.0</c:v>" in charts[1]
    # slide 3: unparseable chart string -> text slide, bullet survives
    assert "graphicFrame" not in slides[2]
    assert "still a text bullet" in slides[2]

    # package: chart part for slide 2 only, rels/ct consistent
    z = zipfile.ZipFile(io.BytesIO(row["p"]))
    names = set(z.namelist())
    assert "ppt/charts/chart1.xml" in names
    assert "ppt/slides/_rels/slide2.xml.rels" in names
    assert "ppt/slides/_rels/slide1.xml.rels" not in names
    for n in names:
        ET.fromstring(z.read(n))


def test_themed_slides_all_themes(spark):
    """K5 theming (pptx_designer.py THEMES + _apply_theme_style +
    _add_design_element): run properties carry the theme's
    font/size/color; Professional gets the bottom-bar rect, Creative
    the side roundRect, Basic no design shape; unknown names fall back
    to the reference's DEFAULT_THEME."""
    from pdf_to_text_spark.functions.pptxsink import blueprint_to_slide_xml

    df = spark.createDataFrame([("# T\n- a point",)], "t string")

    def render(theme):
        return df.select(
            blueprint_to_slide_xml(text_to_blueprint(F.col("t")), theme_name=theme).alias("s")
        ).collect()[0]["s"][0]

    prof = render("Professional")
    ET.fromstring(prof)
    assert 'sz="3200"' in prof and '<a:srgbClr val="003366"/>' in prof
    assert '<a:latin typeface="Arial"/>' in prof          # title font
    assert 'sz="1800"' in prof and 'val="595959"' in prof  # body run
    assert '<a:prstGeom prst="rect">' in prof              # bottom bar

    creative = render("Creative")
    ET.fromstring(creative)
    assert '<a:latin typeface="Georgia"/>' in creative and 'sz="3600"' in creative
    assert '<a:prstGeom prst="roundRect">' in creative     # side bar

    basic = render("Basic")
    ET.fromstring(basic)
    assert "prstGeom" not in basic                         # clean, no shapes

    assert render("NoSuchTheme") == prof                   # DEFAULT_THEME fallback
    # unthemed output is byte-stable (no empty rPr artifacts)
    plain = render(None)
    assert "<a:rPr" not in plain and "prstGeom" not in plain


def test_template_media_closure_and_dangling_rels():
    """ADVICE r3 (medium): a template whose master rels reference
    ppt/media/* images must carry those parts (plus their content-type
    Defaults) into the rebuilt deck — r3 dropped them, leaving dangling
    relationships. A rels target genuinely missing from the template
    raises (callers' row tolerance nulls the row) instead of emitting a
    silently corrupt package."""
    import pytest

    from pdf_to_text_spark.functions.pptxsink import (
        _MASTER_RELS,
        _pack_pptx,
        _pack_pptx_from_template,
    )

    base = _pack_pptx(["<p:sld/>"])
    zin = zipfile.ZipFile(io.BytesIO(base))
    media_rel = (
        '<Relationship Id="rId9" Type='
        '"http://schemas.openxmlformats.org/officeDocument/2006/relationships/image"'
        ' Target="../media/image1.png"/></Relationships>'
    )
    with_media = io.BytesIO()
    with zipfile.ZipFile(with_media, "w", zipfile.ZIP_STORED) as zo:
        for n in zin.namelist():
            data = zin.read(n)
            if n == "ppt/slideMasters/_rels/slideMaster1.xml.rels":
                assert data.decode() == _MASTER_RELS
                data = data.replace(b"</Relationships>", media_rel.encode())
            zo.writestr(n, data)
        zo.writestr("ppt/media/image1.png", b"\x89PNG fake bytes")

    deck = _pack_pptx_from_template(["<p:sld/>", "<p:sld/>"], with_media.getvalue())
    z = zipfile.ZipFile(io.BytesIO(deck))
    assert z.read("ppt/media/image1.png") == b"\x89PNG fake bytes"
    ct = z.read("[Content_Types].xml").decode()
    assert '<Default Extension="png" ContentType="image/png"/>' in ct

    # same template minus the media part -> the kept rels dangle -> raise
    dangling = io.BytesIO()
    with zipfile.ZipFile(dangling, "w", zipfile.ZIP_STORED) as zo:
        zsrc = zipfile.ZipFile(with_media)
        for n in zsrc.namelist():
            if n != "ppt/media/image1.png":
                zo.writestr(n, zsrc.read(n))
    with pytest.raises(ValueError, match="missing from package"):
        _pack_pptx_from_template(["<p:sld/>"], dangling.getvalue())


def test_pptx_package_from_template(spark):
    """Template reuse (the reference's create_pptx_with_style template
    branch): the rebuilt deck carries the TEMPLATE's masters/layouts/
    theme verbatim while all slides come from the blueprint; malformed
    templates degrade to a null package (row tolerance)."""
    from pdf_to_text_spark.functions.pptxsink import _THEME_XML, pptx_package_from_template

    # the "uploaded template": one of our own decks, re-zipped with a
    # marker baked into its theme part so provenance is checkable
    tpl_df = spark.createDataFrame([("# tpl slide",)], "t string")
    template = tpl_df.select(_text_deck(F.col("t")).alias("p")).collect()[0]["p"]
    zin = zipfile.ZipFile(io.BytesIO(template))
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_STORED) as zo:
        for n in zin.namelist():
            data = zin.read(n)
            if n == "ppt/theme/theme1.xml":
                assert _THEME_XML.encode() == data
                data = data.replace(b'name="Office"', b'name="ClientBrand"', 1)
            zo.writestr(n, data)
    template = buf.getvalue()

    df = spark.createDataFrame(
        [(1, SAMPLE, template), (2, SAMPLE, b"not a zip")], "i long, t string, tpl binary"
    )
    out = {
        r["i"]: r["p"]
        for r in df.select(
            "i",
            pptx_package_from_template(
                blueprint_to_slide_xml(text_to_blueprint(F.col("t"))), F.col("tpl")
            ).alias("p"),
        ).collect()
    }
    good, bad = out[1], out[2]
    assert bad is None  # malformed template -> null, not task failure

    z = zipfile.ZipFile(io.BytesIO(good))
    names = set(z.namelist())
    for n in names:
        ET.fromstring(z.read(n))
    # slides are the blueprint's (3 sections), not the template's one
    assert sum(1 for n in names if re.fullmatch(r"ppt/slides/slide\d+\.xml", n)) == 3
    assert "Deck &amp; &lt;Title&gt;" in z.read("ppt/slides/slide1.xml").decode()
    # the template's theme travels verbatim
    assert 'name="ClientBrand"' in z.read("ppt/theme/theme1.xml").decode()
    # content types cover the template's style parts + all slides
    ct = z.read("[Content_Types].xml").decode()
    for n in names:
        if n.endswith(".xml") and ("slideMasters" in n or "theme" in n or n.startswith("ppt/slides/")):
            assert f'PartName="/{n}"' in ct, n
