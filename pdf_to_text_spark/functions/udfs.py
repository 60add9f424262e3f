"""The engine's complete Python-UDF surface beyond parsing (SURVEY §2.9).

Everything else in the engine is native Catalyst; these are the few
operations with no JVM builtin. All Arrow-batched (zero per-row
Python serde).
"""

from __future__ import annotations

import unicodedata

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T


@F.pandas_udf(T.StringType())
def nfkc_lower(s: pd.Series) -> pd.Series:
    """F4: unicode NFKC normalize + lowercase
    (/root/reference/5_NLP/nlp/normalize.py:8-11) — NFKC has no
    Catalyst builtin, hence the engine's only non-parsing UDF."""
    return s.map(lambda v: unicodedata.normalize("NFKC", v).lower() if v is not None else None)


_DOCX_CONTENT_TYPES = (
    '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
    '<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">'
    '<Default Extension="rels" ContentType='
    '"application/vnd.openxmlformats-package.relationships+xml"/>'
    '<Default Extension="xml" ContentType="application/xml"/>'
    '<Override PartName="/word/document.xml" ContentType='
    '"application/vnd.openxmlformats-officedocument.wordprocessingml.document.main+xml"/>'
    "</Types>"
)
_DOCX_RELS = (
    '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
    '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
    '<Relationship Id="rId1" Type='
    '"http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument"'
    ' Target="word/document.xml"/>'
    "</Relationships>"
)


def opc_zip(members: list[tuple[str, str]]) -> bytes:
    """Deterministic OPC (Office Open XML) zip container: stored
    entries, pinned DOS timestamp, caller-fixed member order — equal
    inputs → byte-equal files on any executor (idempotent re-runs
    byte-match). Shared by the DOCX and PPTX packagers so the
    determinism contract lives in exactly one place."""
    import io
    import zipfile

    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_STORED) as z:
        for name, data in members:
            zi = zipfile.ZipInfo(name, date_time=(1980, 1, 1, 0, 0, 0))
            zi.compress_type = zipfile.ZIP_STORED
            z.writestr(zi, data)
    return buf.getvalue()


@F.pandas_udf(T.BinaryType())
def docx_package(xml: pd.Series) -> pd.Series:
    """K4 DOCX sink, container part: wrap a WordprocessingML document
    string (``operators.blueprint.blueprint_to_docx_xml``) into a valid
    .docx (deterministic OPC zip via ``opc_zip``). Zip+CRC needs
    Python, hence a packaging UDF (Arrow-batched)."""

    def pack(doc: str | None) -> bytes | None:
        if doc is None:
            return None
        return opc_zip(
            [
                ("[Content_Types].xml", _DOCX_CONTENT_TYPES),
                ("_rels/.rels", _DOCX_RELS),
                ("word/document.xml", doc),
            ]
        )

    return xml.map(pack)


def remove_stopwords(c: Column) -> Column:
    """F8: stopword removal of ``EN_STOPWORDS`` (5_NLP/nlp/cleaning.py:26-29)
    — native Catalyst (array_except-style filter keeps order + duplicates)."""
    from pdf_to_text_spark.operators.textstats import EN_STOPWORDS

    words = F.filter(F.split(c, "[ ]+"), lambda w: F.length(w) > 0)
    kept = F.filter(words, lambda w: ~F.lower(w).isin(EN_STOPWORDS))
    return F.array_join(kept, " ")
