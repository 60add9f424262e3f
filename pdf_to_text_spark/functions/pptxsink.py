"""K5 PPTX sink (basic variant): blueprint → PresentationML slides +
deterministic OPC container.

The reference ships four PPTX writers (plain lines
``ppt_formation.py:68-78``, heading-split
``core_document_processing.py:299-379``, markdown-levels, themed+charts
``pptx_designer.py:177-370``). This implements the structural core they
share — one slide per blueprint entry, title placeholder + one bullet
paragraph per content point, first slide on the title layout (O4,
``core_document_processing.py:314-326``) — as a pure-Catalyst
slide-XML builder (hash-checkable in DuckDB) plus one Arrow-UDF zip
packager, ``pptx_package_with_charts``, mirroring
``functions.udfs.docx_package`` (a text-only deck is its null-chart
case); ``pptx_package_from_template`` repacks the same slides inside an
uploaded template. Packages are structurally valid OPC (zip + rels +
content types all consistent, pinned by tests); no Office install
exists here to certify rendering.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

_NS = (
    ' xmlns:a="http://schemas.openxmlformats.org/drawingml/2006/main"'
    ' xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships"'
    ' xmlns:p="http://schemas.openxmlformats.org/presentationml/2006/main"'
)

SLIDE_XML_HEAD = (
    '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>\n'
    f"<p:sld{_NS}><p:cSld><p:spTree>"
    '<p:nvGrpSpPr><p:cNvPr id="1" name=""/><p:cNvGrpSpPr/><p:nvPr/></p:nvGrpSpPr>'
    "<p:grpSpPr/>"
)
SLIDE_XML_TAIL = "</p:spTree></p:cSld></p:sld>"


from pdf_to_text_spark.operators.blueprint import _xml_escape  # noqa: E402 — one escape spec


def _sp(ph: Column, body: Column, *, shape_id: int, name: str) -> Column:
    return F.concat(
        F.lit(
            f'<p:sp><p:nvSpPr><p:cNvPr id="{shape_id}" name="{name}"/><p:cNvSpPr/>'
            "<p:nvPr><p:ph "
        ),
        ph,
        F.lit("/></p:nvPr></p:nvSpPr><p:spPr/><p:txBody><a:bodyPr/>"),
        body,
        F.lit("</p:txBody></p:sp>"),
    )


# --- themes: the reference's THEME CONFIGURATION data, mirrored as-is
# (``/root/reference/2_OpenCV_OCR/pptx_designer.py:14-50`` — config
# constants are matched semantics, like the shared regex strings).
# design-shape geometry from _add_design_element (:72-102), converted
# Inches → EMU (×914400) for a 10in × 7.5in slide.
THEMES: dict[str, dict] = {
    "Professional": {
        "title_font": "Arial", "title_color": (0, 51, 102), "title_size": 32,
        "body_font": "Calibri", "body_color": (89, 89, 89), "body_size": 18,
        "design_shape": "RECTANGLE", "design_color": (0, 51, 102),
    },
    "Creative": {
        "title_font": "Georgia", "title_color": (230, 81, 0), "title_size": 36,
        "body_font": "Gill Sans MT", "body_color": (40, 40, 40), "body_size": 20,
        "design_shape": "SIDE_BAR", "design_color": (230, 81, 0),
    },
    "Basic": {
        "title_font": "Calibri Light", "title_color": (0, 0, 0), "title_size": 30,
        "body_font": "Calibri", "body_color": (60, 60, 60), "body_size": 18,
        "design_shape": None, "design_color": (255, 255, 255),
    },
}
DEFAULT_THEME = "Professional"  # pptx_designer.py:57


def _rgb_hex(rgb: tuple[int, int, int]) -> str:
    return "%02X%02X%02X" % rgb


def _run_props(font: str, size_pt: int, rgb: tuple[int, int, int]) -> str:
    """``a:rPr`` for a themed text run: size in centipoints, solid
    srgb fill, latin typeface — what python-pptx emits for the
    reference's _apply_theme_style (pptx_designer.py:59-70)."""
    return (
        f'<a:rPr lang="en-US" sz="{size_pt * 100}" dirty="0">'
        f'<a:solidFill><a:srgbClr val="{_rgb_hex(rgb)}"/></a:solidFill>'
        f'<a:latin typeface="{font}"/></a:rPr>'
    )


def _design_sp(theme: dict) -> str:
    """The theme's 'bold' design element (pptx_designer.py:72-102):
    Professional = bottom bar (rect, 0,7.0in, 10×0.5in), Creative =
    side accent (roundRect, 0,1.5in, 0.2×5.5in); solid themed fill,
    no outline."""
    shape = theme.get("design_shape")
    if not shape:
        return ""
    if shape == "RECTANGLE":
        prst, off, ext = "rect", (0, 6400800), (9144000, 457200)
    else:  # SIDE_BAR
        prst, off, ext = "roundRect", (0, 1371600), (182880, 5029200)
    return (
        '<p:sp><p:nvSpPr><p:cNvPr id="5" name="Design"/><p:cNvSpPr/><p:nvPr/></p:nvSpPr>'
        f'<p:spPr><a:xfrm><a:off x="{off[0]}" y="{off[1]}"/>'
        f'<a:ext cx="{ext[0]}" cy="{ext[1]}"/></a:xfrm>'
        f'<a:prstGeom prst="{prst}"><a:avLst/></a:prstGeom>'
        f'<a:solidFill><a:srgbClr val="{_rgb_hex(theme["design_color"])}"/></a:solidFill>'
        "<a:ln><a:noFill/></a:ln></p:spPr></p:sp>"
    )


def slide_to_xml(slide: Column, slide_no: Column, theme: dict | None = None) -> Column:
    """One blueprint entry → a complete ``slideN.xml`` string.

    Slide 0 uses the title placeholder (``type="ctrTitle"`` on the
    title layout), later slides ``type="title"`` — the O4 first-slide
    rule. Each content point is one ``<a:p>`` bullet paragraph. With a
    ``theme`` (see ``THEMES``), title/body runs carry the theme's
    font/size/color run properties and the theme's design shape is
    appended to the spTree — the reference's themed variant
    (pptx_designer.py:59-70, 72-102)."""
    from pdf_to_text_spark.functions.text import render_image_placeholder

    t_props = F.lit(
        _run_props(theme["title_font"], theme["title_size"], theme["title_color"])
        if theme else ""
    )
    b_props = F.lit(
        _run_props(theme["body_font"], theme["body_size"], theme["body_color"])
        if theme else ""
    )
    title_ph = F.when(slide_no == 0, F.lit('type="ctrTitle"')).otherwise(F.lit('type="title"'))
    title_body = F.concat(
        F.lit("<a:p><a:r>"), t_props, F.lit("<a:t>"),
        _xml_escape(slide["title"]), F.lit("</a:t></a:r></a:p>"),
    )
    points = F.array_join(
        F.transform(
            slide["content"],
            # F10: [Image of X] lines become 🖼️ [PROMPT: X] paragraphs
            lambda pt: F.concat(
                F.lit("<a:p><a:r>"), b_props, F.lit("<a:t>"),
                _xml_escape(render_image_placeholder(pt)),
                F.lit("</a:t></a:r></a:p>"),
            ),
        ),
        "",
    )
    body_sp = F.when(
        F.size(slide["content"]) > 0,
        _sp(F.lit('type="body" idx="1"'), points, shape_id=3, name="Content"),
    ).otherwise(F.lit(""))
    return F.concat(
        F.lit(SLIDE_XML_HEAD),
        _sp(title_ph, title_body, shape_id=2, name="Title"),
        body_sp,
        F.lit(_design_sp(theme) if theme else ""),
        F.lit(SLIDE_XML_TAIL),
    ).alias("slide_xml")


def blueprint_to_slide_xml(bp: Column, theme_name: str | None = None) -> Column:
    """Blueprint array → array of slide-XML strings (explode for the
    per-slide frame). ``theme_name`` selects a ``THEMES`` entry (an
    unknown name falls back to the reference's DEFAULT_THEME,
    pptx_designer.py:214); None = unthemed output."""
    theme = None
    if theme_name is not None:
        theme = THEMES.get(theme_name, THEMES[DEFAULT_THEME])
    return F.transform(bp, lambda s, i: slide_to_xml(s, i, theme))


# ------------------------------------------------------------- chart part

_CHART_NS = (
    ' xmlns:c="http://schemas.openxmlformats.org/drawingml/2006/chart"'
    ' xmlns:a="http://schemas.openxmlformats.org/drawingml/2006/main"'
    ' xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships"'
)

CHART_XML_HEAD = (
    '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>\n'
    f"<c:chartSpace{_CHART_NS}><c:chart>"
)
CHART_XML_TAIL = '<c:plotVisOnly val="1"/></c:chart></c:chartSpace>'
_AXES = (
    '<c:axId val="111111111"/><c:axId val="222222222"/></c:barChart>'
    '<c:catAx><c:axId val="111111111"/><c:scaling><c:orientation val="minMax"/>'
    '</c:scaling><c:delete val="0"/><c:axPos val="b"/>'
    '<c:crossAx val="222222222"/></c:catAx>'
    '<c:valAx><c:axId val="222222222"/><c:scaling><c:orientation val="minMax"/>'
    '</c:scaling><c:delete val="0"/><c:axPos val="l"/>'
    '<c:crossAx val="111111111"/></c:valAx>'
    "</c:plotArea>"
)


def chart_to_chart_xml(ch: Column) -> Column:
    """Parsed chart struct (F11, ``functions.text.parse_chart_string``)
    → a complete clustered-column ``c:chartSpace`` part string — the
    chart DATA path of the reference's themed chart slides
    (``/root/reference/2_OpenCV_OCR/pptx_designer.py:131-172``:
    ``ChartData`` categories/series + ``XL_CHART_TYPE.COLUMN_CLUSTERED``
    via python-pptx ``add_chart``; the parsed title becomes the chart
    title, parts[1] the series name, the (cat, val) points the
    str/numCache). Pure Catalyst, so the part is hash-checkable in
    DuckDB; a null chart struct (the <3-parts reference error path)
    propagates to a null part."""
    title = F.concat(
        F.lit("<c:title><c:tx><c:rich><a:bodyPr/><a:lstStyle/><a:p><a:r><a:t>"),
        _xml_escape(ch["title"]),
        F.lit("</a:t></a:r></a:p></c:rich></c:tx><c:overlay val=\"0\"/></c:title>"),
        F.lit('<c:autoTitleDeleted val="0"/>'),
    )
    n = F.size(ch["points"])
    cats = F.array_join(
        F.transform(
            ch["points"],
            lambda p, i: F.concat(
                F.lit('<c:pt idx="'), i.cast("string"), F.lit('"><c:v>'),
                _xml_escape(p["category"]), F.lit("</c:v></c:pt>"),
            ),
        ),
        "",
    )
    vals = F.array_join(
        F.transform(
            ch["points"],
            lambda p, i: F.concat(
                F.lit('<c:pt idx="'), i.cast("string"), F.lit('"><c:v>'),
                p["value"].cast("string"), F.lit("</c:v></c:pt>"),
            ),
        ),
        "",
    )
    last_row = (n + 1).cast("string")
    ser = F.concat(
        F.lit('<c:ser><c:idx val="0"/><c:order val="0"/>'),
        F.lit("<c:tx><c:strRef><c:f>Sheet1!$B$1</c:f><c:strCache>"),
        F.lit('<c:ptCount val="1"/><c:pt idx="0"><c:v>'),
        _xml_escape(ch["series"]),
        F.lit("</c:v></c:pt></c:strCache></c:strRef></c:tx>"),
        F.lit("<c:cat><c:strRef><c:f>Sheet1!$A$2:$A$"), last_row,
        F.lit('</c:f><c:strCache><c:ptCount val="'), n.cast("string"), F.lit('"/>'),
        cats,
        F.lit("</c:strCache></c:strRef></c:cat>"),
        F.lit("<c:val><c:numRef><c:f>Sheet1!$B$2:$B$"), last_row,
        F.lit("</c:f><c:numCache><c:formatCode>General</c:formatCode>"),
        F.lit('<c:ptCount val="'), n.cast("string"), F.lit('"/>'),
        vals,
        F.lit("</c:numCache></c:numRef></c:val></c:ser>"),
    )
    return F.concat(
        F.lit(CHART_XML_HEAD),
        title,
        F.lit("<c:plotArea><c:layout/>"),
        F.lit('<c:barChart><c:barDir val="col"/><c:grouping val="clustered"/>'),
        F.lit('<c:varyColors val="0"/>'),
        ser,
        F.lit(_AXES),
        F.lit(CHART_XML_TAIL),
    )


def chart_slide_xml(title: Column) -> Column:
    """A content slide hosting a chart: title placeholder + a
    ``p:graphicFrame`` whose graphicData references the slide's chart
    part as ``r:id="rId1"`` (resolved by the per-slide rels that
    ``pptx_package_with_charts`` emits). Geometry matches the
    reference's Inches(1), Inches(1.5), 8×5 in EMUs
    (pptx_designer.py:168: ``x, y, cx, cy``)."""
    title_body = F.concat(
        F.lit("<a:p><a:r><a:t>"), _xml_escape(title), F.lit("</a:t></a:r></a:p>")
    )
    frame = F.lit(
        '<p:graphicFrame><p:nvGraphicFramePr><p:cNvPr id="4" name="Chart"/>'
        "<p:cNvGraphicFramePr/><p:nvPr/></p:nvGraphicFramePr>"
        '<p:xfrm><a:off x="914400" y="1371600"/><a:ext cx="7315200" cy="4572000"/></p:xfrm>'
        '<a:graphic><a:graphicData uri='
        '"http://schemas.openxmlformats.org/drawingml/2006/chart">'
        '<c:chart xmlns:c="http://schemas.openxmlformats.org/drawingml/2006/chart"'
        ' xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships"'
        ' r:id="rId1"/></a:graphicData></a:graphic></p:graphicFrame>'
    )
    return F.concat(
        F.lit(SLIDE_XML_HEAD),
        _sp(F.lit('type="title"'), title_body, shape_id=2, name="Title"),
        frame,
        F.lit(SLIDE_XML_TAIL),
    )


def _chart_point(content: Column) -> Column:
    """First content line that is a chart placeholder — the reference's
    detection (``pptx_designer.py:221-223``):
    ``p.strip().upper().startswith('[CHART:')``; the chart string is
    the stripped line minus the 7-char prefix and the trailing ``]``
    (``chart_placeholder[7:-1]``). Null when the slide has none."""
    from pdf_to_text_spark.functions.text import strip_outer

    hits = F.filter(
        content, lambda p: F.upper(strip_outer(p)).startswith(F.lit("[CHART:"))
    )
    first = strip_outer(F.get(hits, 0))
    return F.substring(first, F.lit(8), F.length(first) - F.lit(8))


def blueprint_to_pptx_parts(bp: Column) -> Column:
    """Blueprint → ``struct(slides: array<string>, charts:
    array<string>)``, the chart-routed deck build of the reference's
    ``create_pptx_with_style`` loop (pptx_designer.py:218-231): a slide
    whose content carries a ``[CHART: ...]`` placeholder becomes a
    chart slide (title + graphicFrame; remaining content dropped, the
    reference's ``continue``) with a real chart part parsed from the
    placeholder; other slides render normally and get a null chart.
    Deviation (disclosed): an UNPARSEABLE chart string (< 3 parts —
    where the reference emits a title-only slide and prints a failure)
    falls back to a normal text slide here, so the emitted package
    never references a chart part that failed to materialize. Feed the
    two arrays to ``pptx_package_with_charts``."""
    from pdf_to_text_spark.functions.text import parse_chart_string

    def per_slide(s: Column, i: Column) -> Column:
        cp = _chart_point(s["content"])
        chx = F.when(cp.isNotNull(), chart_to_chart_xml(parse_chart_string(cp)))
        return F.struct(
            F.when(chx.isNotNull(), chart_slide_xml(s["title"]))
            .otherwise(slide_to_xml(s, i))
            .alias("slide"),
            chx.alias("chart"),
        )

    both = F.transform(bp, per_slide)
    return F.struct(
        F.transform(both, lambda b: b["slide"]).alias("slides"),
        F.transform(both, lambda b: b["chart"]).alias("charts"),
    )


# ---------------------------------------------------------- OPC container

_CT_HEAD_BARE = (
    '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
    '<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">'
    '<Default Extension="rels" ContentType='
    '"application/vnd.openxmlformats-package.relationships+xml"/>'
    '<Default Extension="xml" ContentType="application/xml"/>'
    '<Override PartName="/ppt/presentation.xml" ContentType='
    '"application/vnd.openxmlformats-officedocument.presentationml.presentation.main+xml"/>'
)
_CT_HEAD = (
    _CT_HEAD_BARE
    + '<Override PartName="/ppt/slideMasters/slideMaster1.xml" ContentType='
    '"application/vnd.openxmlformats-officedocument.presentationml.slideMaster+xml"/>'
    '<Override PartName="/ppt/slideLayouts/slideLayout1.xml" ContentType='
    '"application/vnd.openxmlformats-officedocument.presentationml.slideLayout+xml"/>'
    '<Override PartName="/ppt/theme/theme1.xml" ContentType='
    '"application/vnd.openxmlformats-officedocument.theme+xml"/>'
)
_SLIDE_CT = (
    '<Override PartName="/ppt/slides/slide{n}.xml" ContentType='
    '"application/vnd.openxmlformats-officedocument.presentationml.slide+xml"/>'
)
_ROOT_RELS = (
    '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
    '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
    '<Relationship Id="rId1" Type='
    '"http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument"'
    ' Target="ppt/presentation.xml"/>'
    "</Relationships>"
)
_MASTER_XML = (
    '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>\n'
    f"<p:sldMaster{_NS}><p:cSld><p:spTree>"
    '<p:nvGrpSpPr><p:cNvPr id="1" name=""/><p:cNvGrpSpPr/><p:nvPr/></p:nvGrpSpPr>'
    "<p:grpSpPr/></p:spTree></p:cSld>"
    '<p:clrMap bg1="lt1" tx1="dk1" bg2="lt2" tx2="dk2" accent1="accent1"'
    ' accent2="accent2" accent3="accent3" accent4="accent4" accent5="accent5"'
    ' accent6="accent6" hlink="hlink" folHlink="folHlink"/>'
    '<p:sldLayoutIdLst><p:sldLayoutId id="2147483649" r:id="rId1"/></p:sldLayoutIdLst>'
    "</p:sldMaster>"
)
_MASTER_RELS = (
    '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
    '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
    '<Relationship Id="rId1" Type='
    '"http://schemas.openxmlformats.org/officeDocument/2006/relationships/slideLayout"'
    ' Target="../slideLayouts/slideLayout1.xml"/>'
    '<Relationship Id="rId2" Type='
    '"http://schemas.openxmlformats.org/officeDocument/2006/relationships/theme"'
    ' Target="../theme/theme1.xml"/>'
    "</Relationships>"
)
_LAYOUT_XML = (
    '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>\n'
    f'<p:sldLayout{_NS} type="title"><p:cSld><p:spTree>'
    '<p:nvGrpSpPr><p:cNvPr id="1" name=""/><p:cNvGrpSpPr/><p:nvPr/></p:nvGrpSpPr>'
    "<p:grpSpPr/></p:spTree></p:cSld></p:sldLayout>"
)
_LAYOUT_RELS = (
    '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
    '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
    '<Relationship Id="rId1" Type='
    '"http://schemas.openxmlformats.org/officeDocument/2006/relationships/slideMaster"'
    ' Target="../slideMasters/slideMaster1.xml"/>'
    "</Relationships>"
)
_THEME_XML = (
    '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>\n'
    '<a:theme xmlns:a="http://schemas.openxmlformats.org/drawingml/2006/main"'
    ' name="Office"><a:themeElements><a:clrScheme name="Office">'
    "<a:dk1><a:sysClr val=\"windowText\" lastClr=\"000000\"/></a:dk1>"
    "<a:lt1><a:sysClr val=\"window\" lastClr=\"FFFFFF\"/></a:lt1>"
    '<a:dk2><a:srgbClr val="44546A"/></a:dk2><a:lt2><a:srgbClr val="E7E6E6"/></a:lt2>'
    '<a:accent1><a:srgbClr val="4472C4"/></a:accent1>'
    '<a:accent2><a:srgbClr val="ED7D31"/></a:accent2>'
    '<a:accent3><a:srgbClr val="A5A5A5"/></a:accent3>'
    '<a:accent4><a:srgbClr val="FFC000"/></a:accent4>'
    '<a:accent5><a:srgbClr val="5B9BD5"/></a:accent5>'
    '<a:accent6><a:srgbClr val="70AD47"/></a:accent6>'
    '<a:hlink><a:srgbClr val="0563C1"/></a:hlink>'
    '<a:folHlink><a:srgbClr val="954F72"/></a:folHlink></a:clrScheme>'
    '<a:fontScheme name="Office"><a:majorFont><a:latin typeface="Calibri Light"/>'
    '<a:ea typeface=""/><a:cs typeface=""/></a:majorFont>'
    '<a:minorFont><a:latin typeface="Calibri"/><a:ea typeface=""/>'
    '<a:cs typeface=""/></a:minorFont></a:fontScheme>'
    '<a:fmtScheme name="Office"><a:fillStyleLst>'
    '<a:solidFill><a:schemeClr val="phClr"/></a:solidFill>'
    '<a:solidFill><a:schemeClr val="phClr"/></a:solidFill>'
    '<a:solidFill><a:schemeClr val="phClr"/></a:solidFill></a:fillStyleLst>'
    '<a:lnStyleLst><a:ln><a:solidFill><a:schemeClr val="phClr"/></a:solidFill></a:ln>'
    '<a:ln><a:solidFill><a:schemeClr val="phClr"/></a:solidFill></a:ln>'
    '<a:ln><a:solidFill><a:schemeClr val="phClr"/></a:solidFill></a:ln></a:lnStyleLst>'
    "<a:effectStyleLst><a:effectStyle><a:effectLst/></a:effectStyle>"
    "<a:effectStyle><a:effectLst/></a:effectStyle>"
    "<a:effectStyle><a:effectLst/></a:effectStyle></a:effectStyleLst>"
    '<a:bgFillStyleLst><a:solidFill><a:schemeClr val="phClr"/></a:solidFill>'
    '<a:solidFill><a:schemeClr val="phClr"/></a:solidFill>'
    '<a:solidFill><a:schemeClr val="phClr"/></a:solidFill></a:bgFillStyleLst>'
    "</a:fmtScheme></a:themeElements></a:theme>"
)


def _presentation_xml(n_slides: int) -> str:
    sld_ids = "".join(
        f'<p:sldId id="{256 + i}" r:id="rId{2 + i}"/>' for i in range(n_slides)
    )
    return (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>\n'
        f"<p:presentation{_NS}>"
        '<p:sldMasterIdLst><p:sldMasterId id="2147483648" r:id="rId1"/></p:sldMasterIdLst>'
        f"<p:sldIdLst>{sld_ids}</p:sldIdLst>"
        '<p:sldSz cx="9144000" cy="6858000"/><p:notesSz cx="6858000" cy="9144000"/>'
        "</p:presentation>"
    )


def _presentation_rels(n_slides: int) -> str:
    rels = (
        '<Relationship Id="rId1" Type='
        '"http://schemas.openxmlformats.org/officeDocument/2006/relationships/slideMaster"'
        ' Target="slideMasters/slideMaster1.xml"/>'
    )
    for i in range(n_slides):
        rels += (
            f'<Relationship Id="rId{2 + i}" Type='
            '"http://schemas.openxmlformats.org/officeDocument/2006/relationships/slide"'
            f' Target="slides/slide{i + 1}.xml"/>'
        )
    return (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
        f"{rels}</Relationships>"
    )


_CHART_CT = (
    '<Override PartName="/ppt/charts/chart{n}.xml" ContentType='
    '"application/vnd.openxmlformats-officedocument.drawingml.chart+xml"/>'
)
_SLIDE_CHART_RELS = (
    '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
    '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
    '<Relationship Id="rId1" Type='
    '"http://schemas.openxmlformats.org/officeDocument/2006/relationships/chart"'
    ' Target="../charts/chart{n}.xml"/>'
    "</Relationships>"
)


def _pack_pptx(slides, charts=None) -> bytes | None:
    """Assemble one deterministic .pptx from slide XMLs plus optional
    per-slide chart-part XMLs (``charts[i]`` is slide i's chart or
    None). Chart slides get a per-slide rels file binding ``rId1`` to
    ``../charts/chartN.xml`` and the chart content-type override —
    the container consistency tests walk all three."""
    from pdf_to_text_spark.functions.udfs import opc_zip

    if slides is None:
        return None
    slides = list(slides)
    charts = list(charts) if charts is not None else [None] * len(slides)
    n = len(slides)
    ct = _CT_HEAD + "".join(_SLIDE_CT.format(n=i + 1) for i in range(n))
    members: list[tuple[str, str]] = [
        ("_rels/.rels", _ROOT_RELS),
        ("ppt/presentation.xml", _presentation_xml(n)),
        ("ppt/_rels/presentation.xml.rels", _presentation_rels(n)),
        ("ppt/slideMasters/slideMaster1.xml", _MASTER_XML),
        ("ppt/slideMasters/_rels/slideMaster1.xml.rels", _MASTER_RELS),
        ("ppt/slideLayouts/slideLayout1.xml", _LAYOUT_XML),
        ("ppt/slideLayouts/_rels/slideLayout1.xml.rels", _LAYOUT_RELS),
        ("ppt/theme/theme1.xml", _THEME_XML),
    ]
    chart_no = 0
    for i, s in enumerate(slides):
        members.append((f"ppt/slides/slide{i + 1}.xml", s))
        if i < len(charts) and charts[i] is not None:
            chart_no += 1
            members.append((f"ppt/charts/chart{chart_no}.xml", charts[i]))
            members.append(
                (f"ppt/slides/_rels/slide{i + 1}.xml.rels",
                 _SLIDE_CHART_RELS.format(n=chart_no))
            )
            ct += _CHART_CT.format(n=chart_no)
    members.insert(0, ("[Content_Types].xml", ct + "</Types>"))
    return opc_zip(members)


_LAYOUT_CT = (
    '<Override PartName="/{n}" ContentType='
    '"application/vnd.openxmlformats-officedocument.presentationml.slideLayout+xml"/>'
)
_MASTER_CT = (
    '<Override PartName="/{n}" ContentType='
    '"application/vnd.openxmlformats-officedocument.presentationml.slideMaster+xml"/>'
)
_THEME_CT = (
    '<Override PartName="/{n}" ContentType='
    '"application/vnd.openxmlformats-officedocument.theme+xml"/>'
)


# Default content types for binary parts a template's masters/layouts
# commonly reference (ECMA-376 Part 2 media registrations). Unknown
# extensions fall back to octet-stream — valid OPC, keeps the package
# consistent rather than dangling.
_MEDIA_DEFAULT_CT = {
    "png": "image/png",
    "jpeg": "image/jpeg",
    "jpg": "image/jpeg",
    "gif": "image/gif",
    "bmp": "image/bmp",
    "tiff": "image/tiff",
    "tif": "image/tiff",
    "emf": "image/x-emf",
    "wmf": "image/x-wmf",
    "svg": "image/svg+xml",
    "fntdata": "application/x-fontdata",
}
_NOTES_MASTER_CT = (
    '<Override PartName="/{n}" ContentType='
    '"application/vnd.openxmlformats-officedocument.presentationml.notesMaster+xml"/>'
)


def _rels_targets(rels_xml: bytes, base_dir: str) -> list[str]:
    """Internal (non-External) relationship targets of one .rels part,
    resolved to normalized zip paths relative to ``base_dir`` (the
    directory of the part the rels file describes)."""
    import posixpath
    import xml.etree.ElementTree as ET

    ns = "{http://schemas.openxmlformats.org/package/2006/relationships}"
    out = []
    for rel in ET.fromstring(rels_xml).iter(f"{ns}Relationship"):
        if rel.get("TargetMode", "Internal") == "External":
            continue
        tgt = rel.get("Target", "")
        if not tgt:
            continue
        path = tgt.lstrip("/") if tgt.startswith("/") else posixpath.normpath(
            posixpath.join(base_dir, tgt)
        )
        out.append(path)
    return out


def _style_closure(zin, names: set, style: list[str]) -> list[str]:
    """Transitive closure of the kept style parts over their .rels
    graph (ADVICE r3): masters/layouts commonly reference ppt/media/*
    images, notesMasters, embedded fonts — dropping those targets
    leaves dangling relationships and a silently corrupt package. A
    kept rels target that does not exist in the template raises
    ValueError (callers' row tolerance nulls the row)."""
    import posixpath

    seen = set(style)
    queue = [m for m in style if not m.endswith(".rels")]
    extra: list[str] = []
    while queue:
        part = queue.pop()
        d, base = posixpath.split(part)
        rels = f"{d}/_rels/{base}.rels"
        if rels not in names:
            continue
        for tgt in _rels_targets(zin.read(rels), d):
            if tgt in seen:
                continue
            if tgt not in names:
                raise ValueError(f"template rels target missing from package: {tgt}")
            seen.add(tgt)
            extra.append(tgt)
            queue.append(tgt)
            tgt_rels = f"{posixpath.dirname(tgt)}/_rels/{posixpath.basename(tgt)}.rels"
            if tgt_rels in names and tgt_rels not in seen:
                seen.add(tgt_rels)
                extra.append(tgt_rels)
    return sorted(extra)


def _pack_pptx_from_template(slides, template: bytes | None) -> bytes | None:
    """Rebuild a deck INSIDE a template's design: keep the template's
    slideMasters/slideLayouts/theme parts (and their rels) verbatim,
    replace everything else — presentation, rels, content types, and
    ALL slides — with our deterministic parts. This is the engine's
    counterpart of the reference's template branch
    (``pptx_designer.py:189-209, 236-245``: load Presentation(template),
    reuse its layout for every blueprint slide, skip theme styling);
    slide CONTENT always comes from the blueprint, as there slide 0
    overwrites the template's existing slide. Standard part naming
    (``slideMaster1.xml``) is required — anything else raises
    ``ValueError`` (caught by callers' row tolerance)."""
    import io
    import zipfile

    from pdf_to_text_spark.functions.udfs import opc_zip

    if slides is None or template is None:
        return None
    slides = list(slides)
    n = len(slides)
    zin = zipfile.ZipFile(io.BytesIO(bytes(template)))
    names = set(zin.namelist())
    if "ppt/slideMasters/slideMaster1.xml" not in names:
        raise ValueError("template has no standard slideMaster1 part")
    style = sorted(
        m for m in names
        if m.startswith(("ppt/slideMasters/", "ppt/slideLayouts/", "ppt/theme/"))
    )
    # parts the kept style parts reference transitively (media images,
    # notesMasters, fonts) — dropped in r3, which left dangling rels
    style = style + _style_closure(zin, names, style)
    ct = _CT_HEAD_BARE + "".join(_SLIDE_CT.format(n=i + 1) for i in range(n))
    defaults: dict[str, str] = {}
    for m in style:
        if m.endswith(".rels"):
            continue
        if "/slideLayouts/" in m:
            ct += _LAYOUT_CT.format(n=m)
        elif "/slideMasters/" in m:
            ct += _MASTER_CT.format(n=m)
        elif "/theme/" in m:
            ct += _THEME_CT.format(n=m)
        elif "/notesMasters/" in m:
            ct += _NOTES_MASTER_CT.format(n=m)
        elif not m.endswith(".xml"):
            ext = m.rsplit(".", 1)[-1].lower() if "." in m else ""
            if ext and ext not in ("rels", "xml"):
                defaults[ext] = _MEDIA_DEFAULT_CT.get(ext, "application/octet-stream")
    ct += "".join(
        f'<Default Extension="{e}" ContentType="{c}"/>' for e, c in sorted(defaults.items())
    )
    members: list[tuple[str, str | bytes]] = [
        ("[Content_Types].xml", ct + "</Types>"),
        ("_rels/.rels", _ROOT_RELS),
        ("ppt/presentation.xml", _presentation_xml(n)),
        ("ppt/_rels/presentation.xml.rels", _presentation_rels(n)),
    ]
    members += [(m, zin.read(m)) for m in style]
    members += [(f"ppt/slides/slide{i + 1}.xml", s) for i, s in enumerate(slides)]
    return opc_zip(members)


@F.pandas_udf(T.BinaryType())
def pptx_package_from_template(slide_xmls: pd.Series, template: pd.Series) -> pd.Series:
    """Template-reuse packager: (array<string> slide XMLs, binary
    template .pptx) → deck carrying the template's masters/layouts/
    theme. Row-level tolerance: a malformed/non-standard template
    yields a null package, not a task failure."""

    def pack(s, t):
        try:
            return _pack_pptx_from_template(s, t)
        except Exception:  # noqa: BLE001 — row tolerance
            return None

    return pd.Series(
        [pack(s, t) for s, t in zip(slide_xmls, template)],
        index=slide_xmls.index,
        dtype=object,
    )


@F.pandas_udf(T.BinaryType())
def pptx_package_with_charts(slide_xmls: pd.Series, chart_xmls: pd.Series) -> pd.Series:
    """``array<string>`` of slide XMLs + a same-length array where
    element i is slide i's ``c:chartSpace`` part XML (null = text-only
    slide; a null array is a text-only deck) → one deterministic .pptx
    (shared ``functions.udfs.opc_zip`` container contract). The
    reference counterpart is
    ``create_pptx_with_style``'s chart branch
    (pptx_designer.py:177-290 + _add_chart_slide:131-172)."""
    return pd.Series(
        [_pack_pptx(s, c) for s, c in zip(slide_xmls, chart_xmls)],
        index=slide_xmls.index,
        dtype=object,
    )
