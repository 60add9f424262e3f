"""Deterministic synthetic corpus + sequential golden oracle (FIXTURES.md).

Generates the ``pages`` input table (url, warc_ts, html:binary, text,
lang) with the row classes from FIXTURES.md §1, and computes golden
outputs with a sequential, non-Spark oracle implementation of the
frozen extraction spec (SURVEY.md §5.2.2). No external data; seeded.

CLI:
    python -m pdf_to_text_spark.fixtures --out DIR --rows N [--seed 42]
writes  DIR/pages.parquet, DIR/golden_extracted.parquet,
        DIR/golden_pages.parquet
"""

from __future__ import annotations

import argparse
import datetime as dt
import random

import pyarrow as pa
import pyarrow.parquet as pq

from pdf_to_text_spark.core.htmlextract import extract_main_content_bytes
from pdf_to_text_spark.core.pdfgen import build_pdf, page_content_stream
from pdf_to_text_spark.core.pdfparse import extract_pdf_pages_safe
from pdf_to_text_spark.core.textnorm import normalize_extracted, text_layer_sufficient

_WORDS = (
    "data spark table query column partition shuffle join filter scan page "
    "document text extract content main article heading paragraph system "
    "cluster executor batch arrow vector hash salt skew lineage manifest "
    "resume golden byte identical pipeline catalyst codegen parquet iceberg"
).split()

_BASE_TS = dt.datetime(2025, 1, 1, tzinfo=dt.timezone.utc)

# Round-5 default mix (judge item 9): one encrypted and one
# xref-stream class join the DEFAULT corpus at small weight, so the
# headline docs/s reflects the parser users actually get. Weights still
# sum to 100 (pdf_digital 14→13, html_article 22→21 absorb them); the
# bench bands are re-baselined against this mix in BENCH/BASELINE.md —
# round-over-round comparisons before/after use the measured same-
# window old-mix/new-mix ratio recorded there.
ROW_CLASSES = [
    ("pdf_digital", 13),
    ("pdf_flate", 9),
    ("pdf_sparse", 7),
    ("pdf_shuffled_ops", 7),
    ("html_article", 21),
    ("html_article_textlayer", 8),
    ("html_menu", 8),
    ("html_messy", 10),
    ("html_empty", 5),
    ("broken", 5),
    ("pdf_whale", 1),
    ("nonenglish", 4),
    ("pdf_encrypted", 2),       # notch 5/7: RC4-40/128 + AESV2, empty user pw
    ("pdf_15_pure", 2),         # notch 6: xref stream + ObjStm, sometimes updated
]

# Corpus-mix version tag — part of every bench-corpus cache key so a
# mix change can NEVER silently reuse a stale cached corpus.
MIX_TAG = "m6"  # m6 = m5 content in bounded row groups (physical layout only)

# Full widened-subset coverage for correctness runs (--extended):
ROW_CLASSES_EXTENDED = ROW_CLASSES + [
    ("pdf_modern", 6),          # notch 2: ObjStm + CID/ToUnicode + /Contents arrays
    ("pdf_legacy_filters", 5),  # notch 3: LZW / ASCII85+Flate / RLE / ASCIIHex
    ("pdf_predictor", 3),       # notch 4: TIFF/PNG predictors on flate content
    ("html_charset", 3),        # round 5: meta-declared cp1252/shift_jis pages
    ("pdf_differences", 3),     # round 5: simple-font /Encoding (§9.6.6)
    ("pdf_scanned", 3),         # round 5: image-only pages (scan shape)
]


def _sentence(rng: random.Random, n: int) -> str:
    return " ".join(rng.choice(_WORDS) for _ in range(n)).capitalize() + "."


def _para(rng: random.Random, sentences: int, wpm: int = 9) -> str:
    return " ".join(_sentence(rng, rng.randint(5, wpm + 5)) for _ in range(sentences))


def _pdf_lines(rng: random.Random, n_lines: int) -> list[str]:
    return [_sentence(rng, rng.randint(4, 9)) for _ in range(n_lines)]


def _make_pdf(rng: random.Random, cls: str) -> bytes:
    if cls == "pdf_modern":
        # PDF-1.5-shaped upload: object streams, Type0/Identity-H font
        # with a ToUnicode CMap (2-byte CID hex show strings), content
        # split across /Contents arrays, sometimes a nested page tree
        n_pages = rng.randint(3, 6)
        pages = [
            page_content_stream(_pdf_lines(rng, rng.randint(20, 35)), style="cid")
            for _ in range(n_pages)
        ]
        return build_pdf(
            pages,
            flate=True,
            cid_font=True,
            split_content=bool(rng.getrandbits(1)),
            objstm=True,
            nested=(n_pages >= 5),
        )
    if cls == "pdf_differences":
        # round-5 widening: simple-font /Encoding in its three syntactic
        # forms. The TeX shape remaps low codes to f-ligatures via
        # /Differences; the Word shape declares /WinAnsiEncoding and
        # uses cp1252's 0x80-0x9F typographic block. Expected text is
        # pinned independently by tests/test_core_pdf.py's hand-written
        # roundtrips; this class rides the golden byte-identity gate.
        variant = rng.randrange(3)
        lines = _pdf_lines(rng, rng.randint(20, 35))
        if variant == 0:
            # TeX-shaped: "fi"/"fl" digraphs emitted as single codes
            lines = [
                ln.replace("fi", "\x01").replace("fl", "\x02") for ln in lines
            ]
            enc = b"<< /Type /Encoding /Differences [1 /fi /fl] >>"
            indirect = False
        elif variant == 1:
            lines = [f"\x93{ln}\x94 \x85" for ln in lines]  # cp1252 quotes
            enc = b"/WinAnsiEncoding"
            indirect = False
        else:
            # indirect dict, base + override: code 'q' renders as é
            # (diverges from BOTH latin-1 and WinAnsi at that slot)
            lines = [f"\x93{ln}" for ln in lines]
            enc = (
                b"<< /Type /Encoding /BaseEncoding /WinAnsiEncoding "
                b"/Differences [113 /eacute] >>"
            )
            indirect = True
        pages = [page_content_stream(lines) for _ in range(rng.randint(3, 6))]
        return build_pdf(
            pages, flate=True, encoding=enc, encoding_indirect=indirect
        )
    if cls == "pdf_scanned":
        # round-5 scanned-document shape: image-only pages (no text
        # operators) across the engine's scan codecs. With the default
        # pipeline these extract as empty pages (text layer absent —
        # the frozen-spec behavior the goldens pin); the OCR-enabled
        # path (`ocr=True` oracle / `ocr_scanned=True` operators)
        # recovers `raster.ocr_expected` of each page text.
        from pdf_to_text_spark.core.pdfgen import build_scanned_pdf

        kind = rng.choice(["gray", "g4", "g3", "g3_2d", "jpeg"])
        texts = [
            "\n".join(_pdf_lines(rng, rng.randint(8, 20)))
            for _ in range(rng.randint(1, 3))
        ]
        return build_scanned_pdf(texts, kind=kind)
    if cls == "pdf_predictor":
        pred = rng.choice([2, 12, 15])
        pages = [
            page_content_stream(_pdf_lines(rng, rng.randint(20, 35)))
            for _ in range(rng.randint(3, 5))
        ]
        return build_pdf(pages, predictor=pred, pred_columns=rng.choice([24, 48, 64]))
    if cls == "pdf_encrypted":
        r = rng.choice([2, 3, 4])  # RC4-40 / RC4-128 / AESV2
        pages = [
            page_content_stream(_pdf_lines(rng, rng.randint(20, 35)))
            for _ in range(rng.randint(3, 6))
        ]
        return build_pdf(
            pages, flate=True, encrypt=r, objstm=(r >= 3 and bool(rng.getrandbits(1)))
        )
    if cls == "pdf_15_pure":
        from pdf_to_text_spark.core.pdfgen import append_incremental, content_stream_obj

        pages = [
            page_content_stream(_pdf_lines(rng, rng.randint(20, 35)))
            for _ in range(rng.randint(2, 4))
        ]
        pdf = build_pdf(pages, flate=True, objstm=True, xref_stream=True)
        if rng.getrandbits(1):
            # replace page 1's content via an incremental update
            pdf = append_incremental(
                pdf,
                {4: content_stream_obj(
                    page_content_stream(_pdf_lines(rng, rng.randint(10, 20))),
                    flate=True,
                )},
            )
        return pdf
    if cls == "pdf_legacy_filters":
        chain = rng.choice(
            [
                ["LZWDecode"],
                ["ASCII85Decode", "FlateDecode"],
                ["RunLengthDecode"],
                ["ASCIIHexDecode"],
                ["RunLengthDecode", "LZWDecode"],
            ]
        )
        pages = [
            page_content_stream(
                _pdf_lines(rng, rng.randint(20, 35)),
                style=rng.choice(["td", "tj_array"]),
            )
            for _ in range(rng.randint(3, 6))
        ]
        return build_pdf(pages, filters=chain)
    if cls == "pdf_sparse":
        # cover page (<250 meaningful chars) + an empty page + one real page
        pages = [
            page_content_stream(["Cover", "Title only"]),
            b"",
            page_content_stream(_pdf_lines(rng, rng.randint(8, 14))),
        ]
        return build_pdf(pages)
    if cls == "pdf_whale":
        pages = [
            page_content_stream(_pdf_lines(rng, 40), style="td")
            for _ in range(rng.randint(120, 180))
        ]
        return build_pdf(pages, flate=True)
    # page/line counts sized so a row is tens of KB — representative of
    # real crawl documents (CommonCrawl mean ~100 KB/page), which keeps
    # the benchmark compute-bound rather than overhead-bound
    n_pages = rng.randint(4, 10)
    styles = {
        "pdf_digital": ["td", "tm", "tstar"],
        "pdf_flate": ["td", "tj_array"],
        "pdf_shuffled_ops": ["shuffled"],
    }[cls]
    pages = [
        page_content_stream(_pdf_lines(rng, rng.randint(25, 45)), style=rng.choice(styles))
        for _ in range(n_pages)
    ]
    return build_pdf(pages, flate=(cls == "pdf_flate"))


def _nav(rng: random.Random, n: int) -> str:
    links = "".join(f'<li><a href="/{w}">{w}</a></li>' for w in rng.sample(_WORDS, n))
    return f"<nav><ul>{links}</ul></nav>"


def _make_html(rng: random.Random, cls: str) -> str:
    head = "<head><title>t</title><style>.x{color:red}</style><script>var a=1;</script></head>"
    nav = _nav(rng, 8)
    footer = '<footer><a href="/about">about</a> <a href="/contact">contact</a> tiny</footer>'
    side = "<aside>" + " ".join(
        f'<a href="/{w}">{w} {w}</a>' for w in rng.sample(_WORDS, 6)
    ) + "</aside>"
    if cls == "html_menu":
        body = nav + side + footer
    elif cls == "html_empty":
        body = ""
    elif cls == "html_messy":
        art = (
            f"<h1>Messy {rng.choice(_WORDS)}</h1>"
            f"<p>This has inform-\n ation with a hyphen break, runs!!! of punct, "
            f"a url http://example.com/{rng.choice(_WORDS)} and mail {rng.choice(_WORDS)}@x.io "
            f"plus bullets • one ◦ two ▪ three and nbsp and ünïcode — dash. "
            f"{_para(rng, 3)}</p>"
            f"<p>Short.</p>"
            f"<p>   {_para(rng, 2)}   \t</p>"
        )
        body = nav + f"<main>{art}</main>" + side + footer
    else:  # html_article / html_article_textlayer
        paras = "".join(
            f"<p>{_para(rng, rng.randint(3, 7))}</p>" for _ in range(rng.randint(15, 40))
        )
        art = f"<h2>{_sentence(rng, 4)[:-1]}</h2>{paras}"
        body = nav + f"<article>{art}</article>" + side + footer
    return f"<!DOCTYPE html>\n<html>{head}<body>{body}</body></html>"


def oracle_extract(
    html: bytes | None, text: str | None, ocr: bool = False
) -> tuple[str | None, str | None, str, list[str]]:
    """The sequential oracle: (extracted_text, error, route, pdf_page_texts).

    Route order (frozen spec): text-layer fast path (P3) → magic-byte
    sniff (%PDF- → pdf, '<' → html) → error row. ``ocr`` mirrors the
    operators' opt-in ``ocr_scanned`` flag (scanned-page fallback);
    default OFF keeps the goldens bit-identical across rounds.
    """
    if text_layer_sufficient(text):
        return normalize_extracted(text), None, "text_layer", []
    if html is None or len(html) == 0:
        return None, "empty_payload", "error", []
    if html.startswith(b"%PDF-"):
        if ocr:
            from pdf_to_text_spark.core.scanocr import ocr_scanned_images

            raw_pages, perr = extract_pdf_pages_safe(html, page_ocr=ocr_scanned_images)
        else:
            raw_pages, perr = extract_pdf_pages_safe(html)
        if perr is not None:
            return None, f"pdf:{perr}", "pdf", []
        pages = [normalize_extracted(p) for p in raw_pages]
        return normalize_extracted("\n\n".join(pages)), None, "pdf", pages
    if html[:32].lstrip()[:1] == b"<":  # 32-byte sniff window (frozen spec)
        try:
            content = extract_main_content_bytes(html)
        except Exception as e:  # noqa: BLE001 — row-level tolerance, mirrors engine
            return None, f"html:unexpected:{type(e).__name__}", "html", []
        return normalize_extracted(content), None, "html", []
    return None, "unknown_format", "error", []


def make_corpus(n_rows: int, seed: int = 42, classes: list | None = None) -> list[dict]:
    """Deterministic corpus. Row i's class cycles a weight-expanded list
    shuffled once by the seed, so every scale has every class."""
    rng = random.Random(seed)
    weighted = [c for c, w in (classes or ROW_CLASSES) for _ in range(w)]
    rng.shuffle(weighted)
    rows = []
    for i in range(n_rows):
        cls = weighted[i % len(weighted)]
        r = random.Random((seed << 20) ^ i)  # per-row independent stream
        url = f"https://fixture.test/doc/{i:06d}"
        ts = _BASE_TS + dt.timedelta(seconds=137 * i)
        text: str | None = None
        lang = "en"
        if cls.startswith("pdf"):
            html: bytes | None = _make_pdf(r, cls)
        elif cls == "broken":
            kind = r.randrange(3)
            if kind == 0:
                html = b"%PDF-1.4\ngarbage no objects"
            elif kind == 1:
                html = bytes(r.getrandbits(8) for _ in range(64))
            else:
                html = b""
        elif cls == "html_charset":
            # non-UTF-8 crawl reality: meta-declared windows-1252 or
            # shift_jis bytes (round-5 charset-aware decode)
            if r.getrandbits(1):
                body = (
                    f"<p>Café résumé naïve décor — {_para(r, 4)}</p>"
                    f"<p>{_para(r, 5)} déjà vu straße</p>"
                )
                page = (
                    '<!DOCTYPE html>\n<html><head><meta charset="iso-8859-1">'
                    f"</head><body>{body}</body></html>"
                )
                html = page.encode("windows-1252")
            else:
                body = f"<p>日本語のページ本文です。{_para(r, 4)}</p>"
                page = (
                    '<!DOCTYPE html>\n<html><head><meta http-equiv="Content-Type" '
                    'content="text/html; charset=shift_jis"></head>'
                    f"<body>{body}</body></html>"
                )
                html = page.encode("shift_jis")
            lang = "xx"
        else:
            if cls == "nonenglish":
                lang = "xx"
            html = _make_html(r, "html_article" if cls == "nonenglish" else cls).encode()
            if cls == "html_article_textlayer":
                text = _para(r, 8)  # >250 chars pre-extracted layer
        rows.append(
            {"url": url, "warc_ts": ts, "html": html, "text": text, "lang": lang, "cls": cls}
        )
    return rows


_PAGES_SCHEMA = pa.schema(
    [
        ("url", pa.string()),
        ("warc_ts", pa.timestamp("us", tz="UTC")),
        ("html", pa.binary()),
        ("text", pa.string()),
        ("lang", pa.string()),
    ]
)


def write_corpus(
    out_dir: str,
    n_rows: int,
    seed: int = 42,
    goldens: bool = True,
    classes: list | None = None,
) -> dict:
    """Write pages.parquet (+ golden tables unless ``goldens=False`` —
    bench corpora skip the sequential oracle pass, which dominates
    generation time at scale); returns summary counts."""
    import os
    from collections import Counter

    os.makedirs(out_dir, exist_ok=True)
    rows = make_corpus(n_rows, seed, classes=classes)
    pq.write_table(
        pa.Table.from_pylist(
            [{k: r[k] for k in ("url", "warc_ts", "html", "text", "lang")} for r in rows],
            schema=_PAGES_SCHEMA,
        ),
        f"{out_dir}/pages.parquet",
        # bounded row groups (r6): pyarrow's default wrote the whole
        # corpus as ONE row group, and Spark's byte-range splitting
        # cannot split inside a row group — an 892 MB bench corpus
        # scanned (and fed the input repartition's shuffle write) on a
        # single task. ~16 MB groups give the reader real splits; the
        # logical content is unchanged (same rows, same order).
        row_group_size=4096,
    )
    if not goldens:
        return dict(Counter(r["cls"] for r in rows))
    golden, golden_pages = [], []
    for r in rows:
        extracted, error, route, pages = oracle_extract(r["html"], r["text"])
        golden.append(
            {"url": r["url"], "extracted_text": extracted, "error": error, "route": route}
        )
        for pnum, ptext in enumerate(pages, start=1):
            golden_pages.append({"url": r["url"], "page_num": pnum, "page_text": ptext})
    golden_schema = pa.schema(
        [
            ("url", pa.string()),
            ("extracted_text", pa.string()),
            ("error", pa.string()),
            ("route", pa.string()),
        ]
    )
    gpages_schema = pa.schema(
        [("url", pa.string()), ("page_num", pa.int32()), ("page_text", pa.string())]
    )
    pq.write_table(
        pa.Table.from_pylist(golden, schema=golden_schema),
        f"{out_dir}/golden_extracted.parquet",
    )
    pq.write_table(
        pa.Table.from_pylist(golden_pages, schema=gpages_schema),
        f"{out_dir}/golden_pages.parquet",
    )
    from collections import Counter

    return dict(Counter(r["cls"] for r in rows))


if __name__ == "__main__":
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", required=True)
    ap.add_argument("--rows", type=int, default=120)
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument(
        "--extended",
        action="store_true",
        help="include the round-4 widened-subset PDF classes (ObjStm/CID/"
        "legacy filters); off by default to keep bench corpora comparable",
    )
    args = ap.parse_args()
    print(
        write_corpus(
            args.out,
            args.rows,
            args.seed,
            classes=ROW_CLASSES_EXTENDED if args.extended else None,
        )
    )
