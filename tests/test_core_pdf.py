"""Unit tests for the pure-Python PDF writer/parser core (SURVEY §5.2.1)."""

import pytest

from pdf_to_text_spark.core.pdfgen import build_pdf, page_content_stream
from pdf_to_text_spark.core.pdfparse import PdfError, extract_pdf_pages

LINES = ["Hello world line one", "Second (with parens) and \\backslash", "Third-line"]


@pytest.mark.parametrize("style", ["td", "tm", "tj_array", "shuffled", "tstar", "hex"])
@pytest.mark.parametrize("flate", [False, True])
def test_roundtrip_styles(style, flate):
    pdf = build_pdf([page_content_stream(LINES, style=style)], flate=flate)
    assert extract_pdf_pages(pdf) == ["\n".join(LINES)]


def test_widened_subset_nested_tree_filter_array_hex():
    """Round-4 widened subset, all features at once: nested /Kids tree,
    /Filter [/FlateDecode] array form, hex-string Tj, inline BDC dict —
    page order is the depth-first /Kids walk."""
    pages = [
        page_content_stream([f"page {i} line a", f"page {i} line b"], style="hex")
        for i in range(5)
    ]
    pdf = build_pdf(pages, filter_array=True, nested=True)
    assert b"/Filter [/FlateDecode]" in pdf
    got = extract_pdf_pages(pdf)
    assert got == [f"page {i} line a\npage {i} line b" for i in range(5)]


def test_hex_string_oddity_and_whitespace():
    """Hex strings: embedded whitespace is legal, odd length pads a
    trailing zero nibble (PDF 32000 §7.3.4.3)."""
    content = b"BT /F1 12 Tf 72 700 Td <48 65\n6C6C 6F2> Tj ET"  # 'Hello' + 0x20
    assert extract_pdf_pages(build_pdf([content])) == ["Hello "]


@pytest.mark.parametrize(
    "props",
    [b"/Span<</ActualText<FEFF0041>>>", b"/Span << /A (x>>y) >>"],
    ids=["hex_string_before_close", "close_inside_string"],
)
def test_marked_content_dict_skips_its_strings(props):
    """A BDC property list is read as a dictionary whose strings are
    skipped whole: neither a hex string's '>' right before the closing
    '>>' nor a '>>' inside a literal string ends it."""
    content = props + b" BDC BT /F1 12 Tf 72 700 Td (Hi) Tj ET EMC"
    assert extract_pdf_pages(build_pdf([content])) == ["Hi"]


def test_widened_errors_stay_pdferror():
    good = build_pdf([page_content_stream(LINES)], flate=True)
    # unsupported filter name → subset boundary, not a crash
    # (LZW/ASCIIHex/ASCII85/RunLength graduated to supported in notch 3)
    with pytest.raises(PdfError, match="unsupported stream filter"):
        extract_pdf_pages(good.replace(b"/Filter /FlateDecode", b"/Filter /JBIG2Decode"))
    with pytest.raises(PdfError, match="unsupported stream filter"):
        extract_pdf_pages(
            good.replace(b"/Filter /FlateDecode", b"/Filter [/DCTDecode /FlateDecode]")
        )
    # flate bytes fed to the (now real) LZW decoder: an error row, not a crash
    with pytest.raises(PdfError):
        extract_pdf_pages(good.replace(b"/Filter /FlateDecode", b"/Filter /LZWDecode"))
    # page-tree cycle and unterminated constructs → PdfError
    single = build_pdf([page_content_stream(LINES)])
    with pytest.raises(PdfError, match="cycle"):
        extract_pdf_pages(single.replace(b"/Kids [3 0 R]", b"/Kids [2 0 R]"))
    with pytest.raises(PdfError, match="unterminated hex"):
        extract_pdf_pages(build_pdf([b"BT <48656C ET"]))
    with pytest.raises(PdfError, match="unterminated dictionary"):
        extract_pdf_pages(build_pdf([b"BT /Span << /A (b) BDC ET"]))


def test_multi_page_order_and_empty_page():
    pdf = build_pdf([page_content_stream(["p1"]), b"", page_content_stream(["p3"])])
    assert extract_pdf_pages(pdf) == ["p1", "", "p3"]


def test_shuffled_ops_reading_order():
    """Out-of-order emission must reconstruct top-to-bottom order (north rule)."""
    lines = [f"line {i}" for i in range(8)]
    pdf = build_pdf([page_content_stream(lines, style="shuffled")])
    assert extract_pdf_pages(pdf) == ["\n".join(lines)]


def test_same_line_x_order():
    """Two runs at one y join left-to-right regardless of emit order."""
    content = b"BT /F1 12 Tf 1 0 0 1 200 700 Tm (right) Tj 1 0 0 1 72 700 Tm (left ) Tj ET"
    pdf = build_pdf([content])
    assert extract_pdf_pages(pdf) == ["left right"]


def test_escapes_and_octal():
    content = rb"BT /F1 12 Tf 72 700 Td (a\(b\)c \\ d \101 e\n) Tj ET"
    pdf = build_pdf([content])
    # the escaped \n stays embedded in the run (normalization handles it later)
    assert extract_pdf_pages(pdf) == ["a(b)c \\ d A e\n"]


def test_errors_raise_pdferror():
    with pytest.raises(PdfError):
        extract_pdf_pages(b"%PDF-1.4\nno objects here")
    with pytest.raises(PdfError):
        extract_pdf_pages(b"not a pdf at all")


# ------------------------------------------------------- round-4 notch 2

NOTCH2_LINES = ["Hello world S", "Second line $ok"]


@pytest.mark.parametrize("objstm", [False, True])
@pytest.mark.parametrize("split", [False, True])
@pytest.mark.parametrize("style", ["td", "hex", "cid"])
def test_notch2_roundtrip_matrix(style, split, objstm):
    """Contents arrays, object streams, and CID/ToUnicode fonts — every
    combination roundtrips; the cid style proves the CMap is applied
    because wire codes differ from the Unicode they decode to."""
    pdf = build_pdf(
        [
            page_content_stream(NOTCH2_LINES, style=style),
            page_content_stream(["Page two here"], style=style),
        ],
        flate=True,
        cid_font=(style == "cid"),
        split_content=split,
        objstm=objstm,
    )
    if split:
        assert b"/Contents [" in pdf or objstm  # array refs present
    if objstm:
        assert pdf.startswith(b"%PDF-1.5") and b"/Type /ObjStm" in pdf
    assert extract_pdf_pages(pdf) == ["\n".join(NOTCH2_LINES), "Page two here"]


def test_cid_bfchar_and_array_range():
    """The bfchar entry (code 0x0001 → §) and the array-dst bfrange
    (0x180-0x182 → A/B/C) both decode; unmapped codes become U+FFFD."""
    pdf = build_pdf(
        [page_content_stream(["see § 42"], style="cid")], cid_font=True
    )
    assert extract_pdf_pages(pdf) == ["see § 42"]
    content = b"BT /F1 12 Tf 72 700 Td <018001810182FFFE> Tj ET"
    pdf2 = build_pdf([content], cid_font=True)
    assert extract_pdf_pages(pdf2) == ["ABC�"]


def test_cid_without_tf_keeps_latin1():
    """A show op before any Tf has no current font → frozen latin-1
    byte semantics (backward compat with notch-0/1 fixtures)."""
    content = b"BT 72 700 Td <48656C6C6F> Tj ET"
    pdf = build_pdf([content], cid_font=True)
    assert extract_pdf_pages(pdf) == ["Hello"]


def test_notch2_errors_stay_pdferror():
    import re

    good = build_pdf(
        [page_content_stream(NOTCH2_LINES, style="cid")],
        cid_font=True, objstm=True, split_content=True,
    )
    with pytest.raises(PdfError, match="ObjStm missing"):
        extract_pdf_pages(re.sub(rb"/N \d+", b"/Q 0", good))
    with pytest.raises(PdfError, match="code width"):
        # 5-byte CID string against a 2-byte codespace
        extract_pdf_pages(
            build_pdf([b"BT /F1 12 Tf 72 700 Td <0121012201> Tj ET"], cid_font=True)
        )
    with pytest.raises(PdfError, match="dangling ToUnicode"):
        extract_pdf_pages(
            re.sub(
                rb"/ToUnicode \d+ 0 R",
                b"/ToUnicode 999 0 R",
                build_pdf([page_content_stream(["x y z"], style="cid")], cid_font=True),
            )
        )


def test_contents_array_token_boundary():
    """A /Contents array's parts are separate decode units joined at a
    token boundary — text spanning the two parts reassembles."""
    from pdf_to_text_spark.core.pdfparse import extract_pdf_pages as ex

    pdf = build_pdf(
        [page_content_stream([f"line number {i:02d} padded out" for i in range(12)])],
        split_content=True,
    )
    assert b"/Contents [" in pdf
    assert ex(pdf) == ["\n".join(f"line number {i:02d} padded out" for i in range(12))]


# ------------------------------------------------------- round-4 notch 3

FILTER_CHAINS = [
    ["ASCIIHexDecode"],
    ["ASCII85Decode"],
    ["RunLengthDecode"],
    ["LZWDecode"],
    ["ASCII85Decode", "FlateDecode"],
    ["RunLengthDecode", "LZWDecode"],
]


@pytest.mark.parametrize("filt", FILTER_CHAINS, ids=["+".join(f) for f in FILTER_CHAINS])
def test_notch3_filter_chains_roundtrip(filt):
    """ASCIIHex/ASCII85/RunLength/LZW decode — alone and chained with
    FlateDecode/each other (decode order = listed order per §7.4)."""
    pdf = build_pdf([page_content_stream(LINES)], filters=filt)
    if len(filt) == 1:
        assert f"/Filter /{filt[0]}".encode() in pdf
    else:
        assert b"/Filter [" in pdf
    assert extract_pdf_pages(pdf) == ["\n".join(LINES)]


def test_notch3_codec_identity_property():
    """Seeded property test: decode(encode(x)) == x for every codec,
    over random and compressible payloads crossing the LZW 9→10→11→12
    bit width boundaries and the 4096-entry table-freeze region."""
    import random

    from pdf_to_text_spark.core.pdfgen import (
        ascii85_encode, ascii_hex_encode, lzw_encode, rle_encode,
    )
    from pdf_to_text_spark.core.pdfparse import (
        _ascii85_decode, _ascii_hex_decode, _lzw_decode, _rle_decode,
    )

    rng = random.Random(20260817)
    for _ in range(20):
        n = rng.choice([0, 1, 5, 300, 5000, 60000])
        data = (
            bytes(rng.randrange(256) for _ in range(n))
            if rng.random() < 0.5
            else bytes(rng.choice(b"abcd\x00\xff") for _ in range(n))
        )
        assert _lzw_decode(lzw_encode(data)) == data
        assert _ascii85_decode(ascii85_encode(data)) == data
        assert _rle_decode(rle_encode(data)) == data
        assert _ascii_hex_decode(ascii_hex_encode(data)) == data


def test_notch3_filter_errors():
    from pdf_to_text_spark.core.pdfparse import (
        _ascii85_decode, _lzw_decode, _rle_decode,
    )

    with pytest.raises(PdfError, match="ascii85"):
        _ascii85_decode(b"\x7f\x7f\x7f\x7f\x7f")  # > 'u', invalid
    with pytest.raises(PdfError, match="overrun"):
        _rle_decode(b"\x05ab")  # literal run longer than data
    with pytest.raises(PdfError, match="EOD"):
        _lzw_decode(b"\x80\x10")  # clear then truncation, no EOD
    # a DECLARED predictor over data that was never predictor-encoded is
    # malformed: the first "row tag" byte of real content is ≥ 5
    good = build_pdf([page_content_stream(LINES)], flate=True)
    bad = good.replace(
        b"/Filter /FlateDecode",
        b"/Filter /FlateDecode /DecodeParms << /Predictor 12 >>",
    )
    with pytest.raises(PdfError, match="predictor|filter tag"):
        extract_pdf_pages(bad)


# ------------------------------------------------- round-4 notch 4


@pytest.mark.parametrize("pred", [2, 12, 15])
def test_notch4_predictor_roundtrip(pred):
    pdf = build_pdf([page_content_stream(LINES)], predictor=pred, pred_columns=37)
    assert b"/DecodeParms" in pdf
    assert extract_pdf_pages(pdf) == ["\n".join(LINES)]


def test_notch4_predictor_on_filter_chain():
    # predictor attaches to the LAST filter in decode order; /DecodeParms
    # array form with a null placeholder for the transport filter
    pdf = build_pdf(
        [page_content_stream(LINES)],
        filters=["ASCII85Decode", "FlateDecode"],
        predictor=12,
        pred_columns=20,
    )
    assert b"/DecodeParms [null <<" in pdf
    assert extract_pdf_pages(pdf) == ["\n".join(LINES)]


def test_notch4_predictor_codec_identity_property():
    import random

    from pdf_to_text_spark.core.pdfgen import png_predict, tiff_predict
    from pdf_to_text_spark.core.pdfparse import _unpredict

    rng = random.Random(20260817)
    for _ in range(15):
        n = rng.choice([1, 7, 64, 500, 4096])
        cols = rng.choice([1, 3, 16, 64])
        data = bytes(rng.randrange(256) for _ in range(n))
        pad = b"\n" * (-n % cols)
        assert (
            _unpredict(png_predict(data, cols), {"Predictor": 12, "Columns": cols})
            == data + pad
        )
        assert (
            _unpredict(tiff_predict(data, cols), {"Predictor": 2, "Columns": cols})
            == data + pad
        )


def test_notch4_image_xobjects():
    import numpy as np

    from pdf_to_text_spark.core.jpegcodec import decode_jpeg, encode_jpeg
    from pdf_to_text_spark.core.pdfparse import extract_pdf_images

    g, w, h = 96, 24, 16  # even gray + quality 50 ⇒ exact DC recovery
    jpeg = encode_jpeg(w, h, 1, bytes([g]) * (w * h), quality=50)
    content = page_content_stream(LINES) + b"\nq 24 0 0 16 72 600 cm /Im0 Do Q"
    pdf = build_pdf([content], flate=True, images=[(w, h, jpeg)])
    # the Do/q/cm ops are invisible to text extraction
    assert extract_pdf_pages(pdf) == ["\n".join(LINES)]
    imgs = extract_pdf_images(pdf)
    assert len(imgs) == 1
    im = imgs[0]
    assert (im["width"], im["height"], im["codec"], im["colorspace"]) == (
        w, h, "jpeg", "DeviceGray",
    )
    dw, dh, ch, px = decode_jpeg(im["data"])
    arr = np.frombuffer(px, np.uint8)
    assert (dw, dh, ch) == (w, h, 1)
    assert arr.min() == arr.max() == g


def test_notch4_image_errors():
    from pdf_to_text_spark.core.pdfparse import extract_pdf_images

    jpeg = b"\xff\xd8fake"
    pdf = build_pdf([page_content_stream(LINES)], images=[(8, 8, jpeg)])
    # unsupported image codec is an honest boundary
    bad = pdf.replace(b"/Filter /DCTDecode", b"/Filter /JPXDecode")
    with pytest.raises(PdfError, match="JPXDecode"):
        extract_pdf_images(bad)
    # missing /Width is malformed
    bad2 = pdf.replace(b"/Width 8 ", b"")
    with pytest.raises(PdfError, match="Width"):
        extract_pdf_images(bad2)
    # non-PDF payload
    with pytest.raises(PdfError, match="magic"):
        extract_pdf_images(b"not a pdf")


# ------------------------------------------------- round-4 notch 5


@pytest.mark.parametrize("r", [2, 3])
def test_notch5_encrypted_roundtrip(r):
    """Standard security handler (RC4-40 R2 / RC4-128 R3), empty user
    password: generator and parser derive keys INDEPENDENTLY (pdfgen
    re-implements Algorithms 2/3/4/5), so a derivation bug cannot
    cancel out."""
    pdf = build_pdf([page_content_stream(LINES)], flate=True, encrypt=r)
    assert b"/Encrypt" in pdf and b"/Standard" in pdf
    assert extract_pdf_pages(pdf) == ["\n".join(LINES)]
    # ciphertext really differs from plaintext (the stream is not a no-op)
    clear = build_pdf([page_content_stream(LINES)], flate=True)
    assert pdf != clear


def _escaped_literal(data: bytes) -> bytes:
    """``data`` as the body of a §7.3.4.2 literal string: printable
    bytes as they are, ``(``, ``)`` and ``\\`` backslash-escaped, every
    other byte a three-digit octal escape, and a backslash-LF and a
    backslash-CRLF line continuation (which add no bytes) after the
    4th and the 12th byte."""
    out = b""
    for i, b in enumerate(data):
        if i in (4, 12):
            out += b"\\\n" if i == 4 else b"\\\r\n"
        if b in b"()\\":
            out += b"\\" + bytes([b])
        elif 0x20 <= b < 0x7F:
            out += bytes([b])
        else:
            out += b"\\%03o" % b
    return out


def test_literal_string_reads_every_escape():
    from pdf_to_text_spark.core.pdfparse import _literal_string

    lit = b"(" + _escaped_literal(bytes(range(256))) + b")"
    assert _literal_string(lit + b" (next)", 0) == (bytes(range(256)), len(lit))


@pytest.mark.parametrize("r", [2, 3, 4], ids=["rc4_40", "rc4_128", "aesv2"])
def test_encrypt_o_entry_as_escaped_literal(r):
    """An encryption dictionary's /O written as a literal string with
    escapes and line continuations opens like its hex form."""
    import re

    pdf = build_pdf([page_content_stream(LINES)], flate=True, encrypt=r)
    hexed = re.search(rb"/O <([0-9a-f]+)>", pdf)
    lit = _escaped_literal(bytes.fromhex(hexed.group(1).decode()))
    assert b"\\\n" in lit and b"\\\r\n" in lit
    literal_pdf = pdf.replace(hexed.group(0), b"/O (" + lit + b")")
    assert extract_pdf_pages(literal_pdf) == extract_pdf_pages(pdf) == ["\n".join(LINES)]


def test_notch5_encrypted_composes_with_all_notches():
    # encrypted + ObjStm + CID font + split contents + nested tree
    pages = [page_content_stream(LINES, style="cid") for _ in range(5)]
    pdf = build_pdf(
        pages, flate=True, cid_font=True, split_content=True, objstm=True,
        nested=True, encrypt=3,
    )
    assert extract_pdf_pages(pdf) == ["\n".join(LINES)] * 5


def test_notch5_encrypted_image_xobject():
    import numpy as np

    from pdf_to_text_spark.core.jpegcodec import decode_jpeg, encode_jpeg
    from pdf_to_text_spark.core.pdfparse import extract_pdf_images

    g, w, h = 72, 16, 8
    jpeg = encode_jpeg(w, h, 1, bytes([g]) * (w * h), quality=50)
    pdf = build_pdf(
        [page_content_stream(LINES)], flate=True, images=[(w, h, jpeg)],
        encrypt=2,
    )
    im = extract_pdf_images(pdf)[0]
    _, _, _, px = decode_jpeg(im["data"])
    assert np.frombuffer(px, np.uint8).mean() == g


def test_notch5_boundaries():
    from pdf_to_text_spark.core.pdfparse import extract_pdf_pages_safe

    pdf = build_pdf([page_content_stream(LINES)], flate=True, encrypt=3)
    # a real user password (≠ empty) fails /U verification honestly
    bad_u = pdf.replace(b"/U <", b"/U <ffff")
    pages, err = extract_pdf_pages_safe(bad_u)
    assert pages is None and "password" in err
    # AES-256 (/V 5, R6 — SHA-256 derivation) is the remaining boundary
    v5 = pdf.replace(b"/V 2 /R 3 /Length 128", b"/V 5 /R 6 /Length 256")
    pages, err = extract_pdf_pages_safe(v5)
    assert pages is None and "AES-256" in err
    # /V 4 without a recognizable crypt filter is malformed
    v4 = pdf.replace(b"/V 2 /R 3", b"/V 4 /R 4")
    pages, err = extract_pdf_pages_safe(v4)
    assert pages is None and "CFM" in err
    # non-Standard handlers are a disclosed boundary
    h = pdf.replace(b"/Filter /Standard", b"/Filter /Custom")
    pages, err = extract_pdf_pages_safe(h)
    assert pages is None and "handler" in err


def test_notch5_key_derivation_identity():
    """Cross-check the two independent derivations: pdfgen's
    std_handler_entries vs pdfparse's std_security_key/_compute_u must
    agree on the file key and /U for the same inputs."""
    from pdf_to_text_spark.core.pdfgen import std_handler_entries
    from pdf_to_text_spark.core.pdfparse import _compute_u, std_security_key

    for r, nbits in ((2, 40), (3, 128)):
        id0 = bytes(range(16))
        key, o, u = std_handler_entries(b"owner", r, nbits, -44, id0)
        key2 = std_security_key(o, -44, id0, r, nbits // 8)
        assert key2 == key
        sig = 32 if r == 2 else 16
        assert _compute_u(key2, id0, r)[:sig] == u[:sig]


# ------------------------------------------------- round-4 notch 6


def test_notch6_xref_stream_pure_15():
    """A pure PDF-1.5 file: ObjStm + cross-reference STREAM (§7.5.8),
    no classic table or trailer keyword anywhere; trailer entries live
    in the XRef stream dict, rows are /W [1 4 2] binary tuples under
    flate + PNG predictor 12 (the shape real writers emit)."""
    from pdf_to_text_spark.core.pdfgen import png_predict
    from pdf_to_text_spark.core.pdfparse import _unpredict
    import zlib

    pdf = build_pdf(
        [page_content_stream(LINES)], flate=True, objstm=True, xref_stream=True
    )
    assert b"trailer" not in pdf and b"/Type /XRef" in pdf
    assert pdf.startswith(b"%PDF-1.5")
    assert extract_pdf_pages(pdf) == ["\n".join(LINES)]
    # the XRef stream rows are real: decode them and check the row count
    import re

    m = re.search(
        rb"/Type /XRef /Size (\d+).*?/Length (\d+) >>\nstream\n", pdf, re.S
    )
    start = m.end()
    raw = zlib.decompress(pdf[start : start + int(m.group(2))])
    rows = _unpredict(raw, {"Predictor": 12, "Columns": 7})
    assert len(rows) % 7 == 0 and len(rows) // 7 == int(m.group(1))


def test_notch6_xref_stream_with_encryption():
    # §7.5.8.2: the XRef stream itself is never encrypted
    pdf = build_pdf(
        [page_content_stream(LINES)], flate=True, encrypt=3, xref_stream=True
    )
    assert extract_pdf_pages(pdf) == ["\n".join(LINES)]


def test_notch6_incremental_updates_latest_wins():
    """§7.5.6 incremental updates: appended sections redefine objects;
    the LATEST definition is authoritative (also how Acrobat renders a
    saved-over file). Chained twice to pin transitivity."""
    from pdf_to_text_spark.core.pdfgen import append_incremental, content_stream_obj

    base = build_pdf([page_content_stream(["original text page"])], flate=True)
    v2 = append_incremental(
        base, {4: content_stream_obj(page_content_stream(LINES), flate=True)}
    )
    v3 = append_incremental(
        v2, {4: content_stream_obj(page_content_stream(["third revision"]))}
    )
    assert extract_pdf_pages(base) == ["original text page"]
    assert extract_pdf_pages(v2) == ["\n".join(LINES)]
    assert extract_pdf_pages(v3) == ["third revision"]
    assert v2.count(b"/Prev") == 1 and v3.count(b"/Prev") == 2


# ------------------------------------------------- round-4 notch 7


def test_notch7_aes_fips_vectors():
    """The AES core is pinned to FIPS-197 appendix C.1 (AES-128) and
    C.3 (AES-256) — the public, implementation-independent oracle."""
    from pdf_to_text_spark.core.aescipher import decrypt_block, encrypt_block

    k = bytes.fromhex("000102030405060708090a0b0c0d0e0f")
    pt = bytes.fromhex("00112233445566778899aabbccddeeff")
    ct = encrypt_block(k, pt)
    assert ct.hex() == "69c4e0d86a7b0430d8cdb78070b4c55a"
    assert decrypt_block(k, ct) == pt
    k256 = bytes.fromhex(
        "000102030405060708090a0b0c0d0e0f101112131415161718191a1b1c1d1e1f"
    )
    assert encrypt_block(k256, pt).hex() == "8ea2b7ca516745bfeafc49904b496089"


def test_notch7_cbc_roundtrip_property():
    import random

    from pdf_to_text_spark.core.aescipher import cbc_decrypt, cbc_encrypt

    rng = random.Random(20260817)
    k = bytes(rng.randrange(256) for _ in range(16))
    for n in (0, 1, 15, 16, 17, 4096):
        data = bytes(rng.randrange(256) for _ in range(n))
        iv = bytes(rng.randrange(256) for _ in range(16))
        assert cbc_decrypt(k, iv, cbc_encrypt(k, iv, data)) == data


@pytest.mark.parametrize(
    "kw",
    [
        {},
        {"flate": True},
        {"flate": True, "objstm": True, "cid_font": True},
        {"filters": ["ASCII85Decode", "FlateDecode"]},
        {"flate": True, "xref_stream": True},
    ],
)
def test_notch7_aesv2_roundtrip_matrix(kw):
    """/V 4 crypt filters with /CFM /AESV2: IV-prefixed CBC payloads,
    per-object sAlT keys, /Length rewritten after decrypt — composing
    with every structural notch."""
    style = "cid" if kw.get("cid_font") else "td"
    pdf = build_pdf([page_content_stream(LINES, style=style)], encrypt=4, **kw)
    assert b"/AESV2" in pdf and b"/StmF /StdCF" in pdf
    assert extract_pdf_pages(pdf) == ["\n".join(LINES)]


def test_notch7_aes_encrypted_image():
    import numpy as np

    from pdf_to_text_spark.core.jpegcodec import decode_jpeg, encode_jpeg
    from pdf_to_text_spark.core.pdfparse import extract_pdf_images

    g, w, h = 110, 16, 8
    jpeg = encode_jpeg(w, h, 1, bytes([g]) * (w * h), quality=50)
    pdf = build_pdf(
        [page_content_stream(LINES)], flate=True, images=[(w, h, jpeg)], encrypt=4
    )
    im = extract_pdf_images(pdf)[0]
    _, _, _, px = decode_jpeg(im["data"])
    assert np.frombuffer(px, np.uint8).mean() == g


def test_notch7_xref_stream_never_encrypted():
    """§7.5.8.2: the XRef stream is exempt from encryption on BOTH
    sides — the generator builds it after the encrypt pass and the
    parser's decrypt loop skips /Type /XRef objects."""
    pdf = build_pdf(
        [page_content_stream(LINES)], flate=True, encrypt=4, xref_stream=True
    )
    assert extract_pdf_pages(pdf) == ["\n".join(LINES)]
    # RC4 + xref stream too
    pdf = build_pdf(
        [page_content_stream(LINES)], flate=True, encrypt=3, xref_stream=True
    )
    assert extract_pdf_pages(pdf) == ["\n".join(LINES)]


# ------------------------------------------------- round-4 notch 8


def test_notch8_aes256_roundtrip():
    """AES-256 (/V 5 /R 6, ISO 32000-2): hardened 2.B KDF, 48-byte /U,
    file key unwrapped from /UE, AESV3 streams keyed by the FILE key.
    One composed roundtrip (objstm + xref stream) keeps the suite's
    KDF cost bounded — the KDF is deliberately expensive by design
    (~0.4 s/call here), which is also why the R6 class is excluded
    from the per-doc fixture mix."""
    pdf = build_pdf(
        [page_content_stream(LINES)],
        flate=True, objstm=True, xref_stream=True, encrypt=6,
    )
    assert b"/AESV3" in pdf and b"/UE <" in pdf and b"/Perms <" in pdf
    assert extract_pdf_pages(pdf) == ["\n".join(LINES)]


def test_notch8_aes256_boundaries():
    from pdf_to_text_spark.core.pdfparse import extract_pdf_pages_safe

    pdf = build_pdf([page_content_stream(LINES)], encrypt=6)
    # wrong user password fails the 2.B validation hash honestly
    bad = pdf.replace(b"/U <", b"/U <ffff")
    pages, err = extract_pdf_pages_safe(bad)
    assert pages is None and "password" in err
    # an R6 file MISLABELED /R 5 fails the (different) R5 KDF check —
    # disclosed as a password error, never a mis-decrypt
    r5 = pdf.replace(b"/V 5 /R 6", b"/V 5 /R 5")
    pages, err = extract_pdf_pages_safe(r5)
    assert pages is None and "password" in err
    # unknown future revisions stay a disclosed boundary
    r7 = pdf.replace(b"/V 5 /R 6", b"/V 5 /R 7")
    pages, err = extract_pdf_pages_safe(r7)
    assert pages is None and "revision" in err


def test_r5_deprecated_aes256_roundtrip():
    """/R 5 (Adobe ExtensionLevel 3, Acrobat-9-era): single-SHA-256 KDF
    instead of 2.B; structure otherwise identical to /R 6. Round-5
    widening — closes a disclosed boundary."""
    from pdf_to_text_spark.core.pdfparse import extract_pdf_pages_safe

    pdf = build_pdf([page_content_stream(LINES)], flate=True, encrypt=5)
    assert b"/V 5 /R 5" in pdf and b"/AESV3" in pdf
    assert extract_pdf_pages(pdf) == ["\n".join(LINES)]
    # with a user password on the R5 KDF
    pw = b"acrobat9"
    pdfp = build_pdf([page_content_stream(LINES)], flate=True, encrypt=5, user_pw=pw)
    assert extract_pdf_pages(pdfp, password=pw) == ["\n".join(LINES)]
    pages, err = extract_pdf_pages_safe(pdfp)
    assert pages is None and "password" in err


def test_inline_image_skipped_in_content():
    """§8.9.7 BI/ID/EI inline images: the binary payload (which may
    contain bytes that look like operators, strings, or even 'EI'
    without delimiters) must not tokenize as garbage or fake text."""
    payload = bytes(range(256)) + b"(fake Tj) EInotEI \x00\xff" + b"EI"  # traps
    img = b"\nBI /W 4 /H 4 /BPC 8 /CS /G /F /AHx ID " + payload + b" EI\n"
    # image between two text blocks of the SAME page content stream
    content = page_content_stream(LINES) + img + b"q 1 0 0 1 0 0 cm Q"
    pdf = build_pdf([content], flate=True)
    assert extract_pdf_pages(pdf) == ["\n".join(LINES)]
    # missing EI is a clean PdfError, not a hang or garbage text
    bad = page_content_stream(LINES) + b"\nBI /W 2 ID \x01\x02\x03"
    with pytest.raises(PdfError, match="inline image"):
        extract_pdf_pages(build_pdf([bad]))


def test_notch8_serial_fast_path_identity():
    """The T-table serial encryptor is bit-identical to the numpy
    kernels (which are themselves FIPS-vector-pinned)."""
    import random

    from pdf_to_text_spark.core.aescipher import (
        _cbc_encrypt_serial,
        cbc_decrypt_nopad,
    )

    rng = random.Random(20260817)
    for klen in (16, 32):
        k = bytes(rng.randrange(256) for _ in range(klen))
        iv = bytes(rng.randrange(256) for _ in range(16))
        data = bytes(rng.randrange(256) for _ in range(320))
        assert cbc_decrypt_nopad(k, iv, _cbc_encrypt_serial(k, iv, data)) == data


# ---------------------------------------------------- notch 9: CCITT G4


def _g4_pack(bitmap, columns, black_is_1=False):
    """Reference packing of a 1=black bitmap into PDF 1-bpc samples."""
    rb = (columns + 7) // 8
    out = bytearray()
    for row in bitmap:
        rowb = bytearray(rb)
        for j in range(columns):
            bit = 1 if row[j] else 0
            if not black_is_1:
                bit ^= 1
            if bit:
                rowb[j >> 3] |= 0x80 >> (j & 7)
        out += rowb
    return bytes(out)


def test_notch9_g4_table_structure():
    """The shared MH run table (disclosed shared constant — see
    core/ccittfax.py docstring) is structurally spec-shaped: complete,
    prefix-free per decode space, widths in the T.4 ranges."""
    from pdf_to_text_spark.core import ccittfax as C

    assert sorted(C.WHITE_TERM) == list(range(64))
    assert sorted(C.BLACK_TERM) == list(range(64))
    assert sorted(C.WHITE_MAKEUP) == list(range(64, 1729, 64))
    assert sorted(C.BLACK_MAKEUP) == list(range(64, 1729, 64))
    assert sorted(C.EXT_MAKEUP) == list(range(1792, 2561, 64))

    def prefix_free(codes):
        codes = sorted(codes)
        for a, b in zip(codes, codes[1:]):
            assert not b.startswith(a), (a, b)

    white = list(C.WHITE_TERM.values()) + list(C.WHITE_MAKEUP.values()) + list(
        C.EXT_MAKEUP.values()
    )
    black = list(C.BLACK_TERM.values()) + list(C.BLACK_MAKEUP.values()) + list(
        C.EXT_MAKEUP.values()
    )
    assert len(set(white)) == len(white) and len(set(black)) == len(black)
    prefix_free(white)
    prefix_free(black)
    # mode-code space: V/H/P plus the EOL prefix '0000000'
    modes = list(C._VCODES.values()) + [C._PASS, C._HORIZ, "0000000"]
    assert len(set(modes)) == len(modes)
    prefix_free(modes)
    # spec width envelopes
    assert all(4 <= len(b) <= 8 for b in C.WHITE_TERM.values())
    assert all(2 <= len(b) <= 12 for b in C.BLACK_TERM.values())
    assert all(len(b) <= 13 for b in C.BLACK_MAKEUP.values())


@pytest.mark.parametrize("columns", [1, 7, 8, 17, 64, 200])
def test_notch9_g4_codec_roundtrip_patterns(columns):
    from pdf_to_text_spark.core.ccittfax import decode_g4, encode_g4

    pats = [
        [[0] * columns for _ in range(3)],                      # all white
        [[1] * columns for _ in range(3)],                      # all black
        [[(j // 2) % 2 for j in range(columns)]] * 4,           # stripes
        [[(i + j) % 2 for j in range(columns)] for i in range(5)],  # checker
        [[1 if j < i else 0 for j in range(columns)] for i in range(6)],
    ]
    for bm in pats:
        enc = encode_g4(bm, columns)
        for b1 in (False, True):
            assert decode_g4(enc, columns, rows=len(bm), black_is_1=b1) == _g4_pack(
                bm, columns, b1
            ), (columns, b1)
        # EOFB termination path (no /Rows)
        assert decode_g4(enc, columns) == _g4_pack(bm, columns, False)


def test_notch9_g4_long_runs_and_random():
    """Make-up codes incl. the shared 1792–2560 extensions and multi-
    make-up runs (> 2623), plus seeded random bitmaps."""
    import random

    from pdf_to_text_spark.core.ccittfax import decode_g4, encode_g4

    for columns in (1800, 2600, 3000):
        bm = [[0] * columns, [1] * columns]
        # a lone black pixel forces a horizontal long white run
        row = [0] * columns
        row[columns - 1] = 1
        bm.append(row)
        enc = encode_g4(bm, columns)
        assert decode_g4(enc, columns, rows=len(bm)) == _g4_pack(bm, columns)
    rng = random.Random(20260817)
    for trial in range(8):
        columns = rng.randrange(1, 300)
        rows = rng.randrange(1, 12)
        bm = [[rng.randrange(2) for _ in range(columns)] for _ in range(rows)]
        enc = encode_g4(bm, columns)
        assert decode_g4(enc, columns, rows=rows) == _g4_pack(bm, columns), trial


def test_notch9_g4_image_xobject_end_to_end():
    """Generator → /CCITTFaxDecode XObject → parser → codec: the
    decoded packed samples equal the source bitmap exactly."""
    from pdf_to_text_spark.core.ccittfax import encode_g4
    from pdf_to_text_spark.core.pdfparse import extract_pdf_images

    w, h = 40, 16
    bm = [[1 if i < 4 else 0 for _ in range(w)] for i in range(h)]  # black bar
    g4 = encode_g4(bm, w)
    content = page_content_stream(LINES) + f"\nq {w} 0 0 {h} 72 600 cm /Im0 Do Q".encode()
    pdf = build_pdf([content], flate=True, images=[(w, h, g4, "g4")])
    assert b"/CCITTFaxDecode" in pdf and b"/K -1" in pdf
    imgs = extract_pdf_images(pdf)
    assert len(imgs) == 1
    im = imgs[0]
    assert (im["codec"], im["bpc"], im["width"], im["height"]) == ("raw", 1, w, h)
    assert im["data"] == _g4_pack(bm, w)
    # text layer is untouched by the image object
    assert extract_pdf_pages(pdf) == ["\n".join(LINES)]


def test_notch9_g4_composes_with_encryption():
    from pdf_to_text_spark.core.ccittfax import encode_g4
    from pdf_to_text_spark.core.pdfparse import extract_pdf_images

    w, h = 24, 8
    bm = [[(i + j) % 2 for j in range(w)] for i in range(h)]
    pdf = build_pdf(
        [page_content_stream(LINES)],
        flate=True, encrypt=2, images=[(w, h, encode_g4(bm, w), "g4")],
    )
    im = extract_pdf_images(pdf)[0]
    assert im["codec"] == "raw" and im["data"] == _g4_pack(bm, w)


def test_notch9_boundaries():
    """The MQ-coded codecs stay clean PdfError rows (JPX/JBIG2 closed
    permanently — README rationale); a G4 payload mislabeled /K 4 is a
    clean PdfError (a T.6 stream has no EOL+tag line structure), not a
    crash or silent garbage."""
    from pdf_to_text_spark.core.ccittfax import encode_g4
    from pdf_to_text_spark.core.pdfparse import extract_pdf_images

    w, h = 16, 4
    g4 = encode_g4([[0] * w for _ in range(h)], w)
    pdf = build_pdf([page_content_stream(LINES)], images=[(w, h, g4, "g4")])
    mislabeled = pdf.replace(b"/K -1", b"/K 4")
    with pytest.raises(PdfError):
        extract_pdf_images(mislabeled)
    for codec in (b"/JPXDecode", b"/JBIG2Decode"):
        bad = pdf.replace(b"/CCITTFaxDecode", codec)
        with pytest.raises(PdfError, match="unsupported"):
            extract_pdf_images(bad)


@pytest.mark.parametrize("with_eol", [True, False])
def test_g3_1d_codec_roundtrip(with_eol):
    """/K 0 (T.4 one-dimensional MH): roundtrip across widths incl.
    non-byte-aligned, long runs, and both EOL conventions."""
    import random

    from pdf_to_text_spark.core.ccittfax import decode_g3_1d, encode_g3_1d

    rng = random.Random(20260818)
    for columns in (1, 7, 64, 200, 1800):
        pats = [
            [[0] * columns, [1] * columns],
            [[(i + j) % 2 for j in range(columns)] for i in range(3)],
            [[rng.randrange(2) for _ in range(columns)] for _ in range(4)],
        ]
        for bm in pats:
            enc = encode_g3_1d(bm, columns, with_eol=with_eol)
            for b1 in (False, True):
                assert decode_g3_1d(enc, columns, rows=len(bm), black_is_1=b1) == _g4_pack(
                    bm, columns, b1
                ), (columns, with_eol, b1)
            assert decode_g3_1d(enc, columns) == _g4_pack(bm, columns)


def test_g3_1d_image_xobject():
    from pdf_to_text_spark.core.ccittfax import encode_g3_1d
    from pdf_to_text_spark.core.pdfparse import extract_pdf_images

    w, h = 40, 6
    bm = [[1 if (i + j) % 3 == 0 else 0 for j in range(w)] for i in range(h)]
    pdf = build_pdf(
        [page_content_stream(LINES)],
        flate=True,
        images=[(w, h, encode_g3_1d(bm, w), "g3")],
    )
    assert b"/K 0" in pdf
    im = extract_pdf_images(pdf)[0]
    assert (im["codec"], im["bpc"]) == ("raw", 1)
    assert im["data"] == _g4_pack(bm, w)


@pytest.mark.parametrize("k", [1, 2, 4, 8])
def test_g3_2d_codec_roundtrip(k):
    """/K > 0 (T.4 mixed 1-D/2-D): roundtrip across widths incl.
    non-byte-aligned, for every anchor period k — k=1 degenerates to
    all-1-D lines, k=8 exercises long 2-D chains."""
    import random

    from pdf_to_text_spark.core.ccittfax import decode_g3_2d, encode_g3_2d

    rng = random.Random(20260818 + k)
    for columns in (1, 7, 64, 200, 1800):
        pats = [
            [[0] * columns, [1] * columns] * 3,
            [[(i + j) % 2 for j in range(columns)] for i in range(5)],
            [[rng.randrange(2) for _ in range(columns)] for _ in range(6)],
        ]
        for bm in pats:
            enc = encode_g3_2d(bm, columns, k=k)
            for b1 in (False, True):
                assert decode_g3_2d(enc, columns, rows=len(bm), black_is_1=b1) == _g4_pack(
                    bm, columns, b1
                ), (columns, k, b1)
            # rows omitted: the RTC terminator bounds the decode
            assert decode_g3_2d(enc, columns) == _g4_pack(bm, columns)


def test_g3_2d_matches_g4_samples():
    """The two 2-D regimes (T.6 and T.4 /K>0) produce byte-identical
    packed samples for the same bitmap — the shared line coder is
    self-consistent across framing conventions."""
    import random

    from pdf_to_text_spark.core.ccittfax import (
        decode_g3_2d,
        decode_g4,
        encode_g3_2d,
        encode_g4,
    )

    rng = random.Random(42)
    w = 97
    bm = [[rng.randrange(2) for _ in range(w)] for _ in range(9)]
    assert decode_g4(encode_g4(bm, w), w, rows=9) == decode_g3_2d(
        encode_g3_2d(bm, w, k=3), w, rows=9
    )


def test_g3_2d_image_xobject():
    from pdf_to_text_spark.core.ccittfax import encode_g3_2d
    from pdf_to_text_spark.core.pdfparse import extract_pdf_images

    w, h = 40, 8
    bm = [[1 if (i * j) % 5 == 0 else 0 for j in range(w)] for i in range(h)]
    pdf = build_pdf(
        [page_content_stream(LINES)],
        flate=True,
        images=[(w, h, encode_g3_2d(bm, w, k=4), "g3_2d")],
    )
    assert b"/K 4" in pdf
    im = extract_pdf_images(pdf)[0]
    assert (im["codec"], im["bpc"]) == ("raw", 1)
    assert im["data"] == _g4_pack(bm, w)


def test_g3_2d_first_line_must_be_1d():
    """A 2-D tag on the first line (no reference) is a clean error."""
    from pdf_to_text_spark.core.ccittfax import decode_g3_2d

    # EOL + tag 0 + V0, padded
    bits = "000000000001" + "0" + "1"
    bits += "0" * (-len(bits) % 8)
    data = bytes(int(bits[i : i + 8], 2) for i in range(0, len(bits), 8))
    with pytest.raises(PdfError, match="no 1-D reference"):
        decode_g3_2d(data, 16)


# ------------------------------------- round-5 item 6: user passwords


@pytest.mark.parametrize("r", [2, 3, 4, 5, 6])
def test_user_password_roundtrip_all_handlers(r):
    """Non-empty user password on all handlers (RC4-40, RC4-128,
    AES-128, AES-256): correct password decrypts, empty/wrong password
    stays a disclosed error row."""
    from pdf_to_text_spark.core.pdfparse import extract_pdf_pages_safe

    pw = b"s3cret pa55word"
    pdf = build_pdf(
        [page_content_stream(LINES)], flate=True, encrypt=r, user_pw=pw
    )
    assert extract_pdf_pages(pdf, password=pw) == ["\n".join(LINES)]
    assert extract_pdf_pages(pdf, password=pw.decode()) == ["\n".join(LINES)]
    pages, err = extract_pdf_pages_safe(pdf)  # empty password
    assert pages is None and "password" in err
    pages, err = extract_pdf_pages_safe(pdf, password=b"wrong")
    assert pages is None and err == "wrong password"
    # empty-password documents still open with no password argument
    open_pdf = build_pdf([page_content_stream(LINES)], flate=True, encrypt=r)
    assert extract_pdf_pages(open_pdf) == ["\n".join(LINES)]
    # ... and ignore a supplied password only if it matches; a stray
    # password against an empty-password file is a wrong password
    pages, err = extract_pdf_pages_safe(open_pdf, password=b"stray")
    assert pages is None and err == "wrong password"


def test_user_password_image_xobjects():
    from pdf_to_text_spark.core.ccittfax import encode_g4
    from pdf_to_text_spark.core.pdfparse import extract_pdf_images

    w, h = 16, 4
    bm = [[1] * w for _ in range(h)]
    pw = b"imgpw"
    pdf = build_pdf(
        [page_content_stream(LINES)],
        flate=True, encrypt=4, user_pw=pw,
        images=[(w, h, encode_g4(bm, w), "g4")],
    )
    with pytest.raises(PdfError, match="password"):
        extract_pdf_images(pdf)
    im = extract_pdf_images(pdf, password=pw)[0]
    assert im["data"] == _g4_pack(bm, w)


@pytest.mark.parametrize("r", [2, 3, 4, 5, 6])
def test_owner_password_authorizes_all_handlers(r):
    """§7.6.3.4 Algorithm 7 (legacy) / §7.6.4 /OE unwrap (AES-256): the
    OWNER password alone opens the document — the round-5 closure of
    the owner-password-only boundary. The user password still works,
    a wrong password is still a disclosed error row, and owner-auth
    also opens empty-user-password files."""
    from pdf_to_text_spark.core.pdfparse import extract_pdf_pages_safe

    user_pw, owner_pw = b"the user pw", b"owner-master-key"
    pdf = build_pdf(
        [page_content_stream(LINES)], flate=True, encrypt=r,
        user_pw=user_pw, owner_pw=owner_pw,
    )
    expect = ["\n".join(LINES)]
    assert extract_pdf_pages(pdf, password=owner_pw) == expect
    assert extract_pdf_pages(pdf, password=user_pw) == expect
    pages, err = extract_pdf_pages_safe(pdf, password=b"neither")
    assert pages is None and err == "wrong password"
    pages, err = extract_pdf_pages_safe(pdf)
    assert pages is None and "password" in err
    # owner password against an empty-USER-password file (the default
    # generator shape) also authorizes
    open_pdf = build_pdf(
        [page_content_stream(LINES)], flate=True, encrypt=r,
        owner_pw=owner_pw,
    )
    assert extract_pdf_pages(open_pdf) == expect  # empty user pw
    assert extract_pdf_pages(open_pdf, password=owner_pw) == expect


def test_inline_image_extraction():
    """BI/ID/EI images surface through extract_pdf_images (obj=0),
    sharing the one filter pipeline — AHx transport and CCF (G4) via
    the /DP abbreviation both decode."""
    from pdf_to_text_spark.core.ccittfax import encode_g4
    from pdf_to_text_spark.core.pdfparse import extract_pdf_images

    gray = bytes(range(12))  # 4x3 8-bpc
    ahx = gray.hex().encode() + b">"
    w, h = 10, 4
    bm = [[1 if j < i else 0 for j in range(w)] for i in range(h)]
    g4 = encode_g4(bm, w)
    content = (
        page_content_stream(LINES)
        + b"\nBI /W 4 /H 3 /BPC 8 /CS /G /F /AHx ID " + ahx + b" EI\n"
        + b"BI /W " + str(w).encode() + b" /H " + str(h).encode()
        + b" /BPC 1 /CS /G /F /CCF /DP << /K -1 /Columns "
        + str(w).encode() + b" /Rows " + str(h).encode()
        + b" /BlackIs1 false >> ID " + g4 + b" EI\n"
    )
    pdf = build_pdf([content], flate=True)
    imgs = extract_pdf_images(pdf)
    inline = [im for im in imgs if im["obj"] == 0]
    assert len(inline) == 2
    assert (inline[0]["width"], inline[0]["height"], inline[0]["bpc"]) == (4, 3, 8)
    assert inline[0]["data"] == gray and inline[0]["codec"] == "raw"
    assert inline[1]["data"] == _g4_pack(bm, w) and inline[1]["bpc"] == 1
    # the text layer is unaffected
    assert extract_pdf_pages(pdf) == ["\n".join(LINES)]


def test_inline_image_exact_span_and_payload():
    """The span of ``BI .. ID <data> EI`` is exact when the payload holds
    an ``EI`` without delimiters: ID starts where it is written, data one
    byte after it, EI at the delimited one; the extracted payload is the
    data bytes with nothing of EI in them."""
    from pdf_to_text_spark.core.pdfparse import _inline_image_span, extract_pdf_images

    payload = b"aEIbc"  # 5x1 8-bpc gray, an undelimited EI inside
    img = b"BI /W 5 /H 1 /BPC 8 /CS /G ID " + payload + b" EI\n"
    content = page_content_stream(LINES) + b"\n" + img
    id_start = content.index(b"ID ")
    data_start = id_start + 3
    ei = data_start + len(payload) + 1
    assert content[ei : ei + 2] == b"EI"
    bi_end = content.index(b"BI /W") + 2
    assert _inline_image_span(content, bi_end) == (id_start, data_start, ei)
    pdf = build_pdf([content], flate=True)
    (im,) = extract_pdf_images(pdf)
    assert (im["obj"], im["width"], im["height"], im["codec"]) == (0, 5, 1, "raw")
    assert im["data"] == payload
    assert extract_pdf_pages(pdf) == ["\n".join(LINES)]


def test_inline_scan_ignores_bi_in_text():
    """A page whose TEXT contains the standalone word 'BI' must not
    trip the inline-image scan in either the tokenizer or the image
    extractor (context-aware operator-position check)."""
    from pdf_to_text_spark.core.pdfparse import extract_pdf_images

    lines = ["BI is a word", "also (BI) here", "ID and EI too"]
    pdf = build_pdf([page_content_stream(lines)], flate=True)
    assert extract_pdf_pages(pdf) == ["\n".join(lines)]
    assert extract_pdf_images(pdf) == []


def test_inline_images_beside_bi_names():
    """A name ``/BI`` (a font selected with ``Tf``, an XObject painted
    with ``Do``) is not an inline image: the page's one real inline
    image is extracted and the text path reads the same page."""
    from pdf_to_text_spark.core.pdfparse import extract_pdf_images

    gray = bytes(range(12))  # 4x3 8-bpc
    content = (
        b"BI /W 4 /H 3 /BPC 8 /CS /G ID " + gray + b" EI\n"
        + b"BT /BI 12 Tf 72 720 Td (named font) Tj ET\nq 1 0 0 1 0 0 cm /BI Do Q\n"
    )
    pdf = build_pdf([content], flate=True)
    (im,) = extract_pdf_images(pdf)
    assert (im["obj"], im["width"], im["height"], im["data"]) == (0, 4, 3, gray)
    assert extract_pdf_pages(pdf) == ["named font"]


@pytest.mark.parametrize(
    "content",
    [
        b"BT (a) Tj ET <4G> Tj",
        b"BT (a) Tj ET BI /W 1 /H 1 EI",
        b"BT 5 Td ET",
        b"BT (a) Tj ET ] Tj",
    ],
    ids=["bad_hex", "inline_without_id", "missing_operand", "unopened_array"],
)
def test_rejected_content_stream_same_error_for_text_and_images(content):
    """Text and image extraction read a content stream with the one
    scanner, so a stream it rejects fails both with the same error."""
    from pdf_to_text_spark.core.pdfparse import extract_pdf_images

    pdf = build_pdf([content])
    with pytest.raises(Exception) as text_err:
        extract_pdf_pages(pdf)
    with pytest.raises(Exception) as image_err:
        extract_pdf_images(pdf)
    assert (type(image_err.value), str(image_err.value)) == (
        type(text_err.value),
        str(text_err.value),
    )


# ------------------------------------------------- round-5: /Encoding


def test_r5_encoding_winansi_name():
    """Bare-name /Encoding /WinAnsiEncoding: cp1252's 0x80-0x9F block
    (curly quotes, ellipsis) decodes to its Unicode, diverging from the
    frozen latin-1 default exactly where the encodings differ."""
    pdf = build_pdf(
        [page_content_stream(["\x93Hi\x94 \x85 caf\xe9"])],
        encoding=b"/WinAnsiEncoding",
    )
    assert extract_pdf_pages(pdf) == ["“Hi” … caf\xe9"]


def test_r5_encoding_macroman_name():
    pdf = build_pdf(
        [page_content_stream(["caf\x8e \xa5"])],  # 8E=eacute A5=bullet
        encoding=b"/MacRomanEncoding",
    )
    assert extract_pdf_pages(pdf) == ["caf\xe9 •"]


def test_r5_encoding_differences_inline_dict():
    """The TeX-shaped case: low codes remapped to f-ligatures, letter
    slots to accented glyphs, 0x93 to a named quote. Expected text is
    hand-written — the generator carries no glyph table."""
    enc = (
        b"<< /Type /Encoding /Differences "
        b"[1 /fi /fl 65 /Agrave /eacute 147 /quotedblleft] >>"
    )
    pdf = build_pdf([page_content_stream(["\x01nd \x02uid AB\x93"])], encoding=enc)
    assert extract_pdf_pages(pdf) == ["ﬁnd ﬂuid \xc0\xe9“"]


def test_r5_encoding_indirect_base_plus_differences_and_unknown_glyph():
    """Indirect /Encoding object, /BaseEncoding /WinAnsiEncoding under
    /Differences; uniXXXX names decode directly; unknown glyph names
    become U+FFFD (the unmapped-code convention)."""
    enc = (
        b"<< /Type /Encoding /BaseEncoding /WinAnsiEncoding "
        b"/Differences [65 /uni0394 /gXYZ] >>"
    )
    pdf = build_pdf(
        [page_content_stream(["AB\x93x"])], encoding=enc, encoding_indirect=True
    )
    assert extract_pdf_pages(pdf) == ["Δ�“x"]


def test_r5_encoding_absent_or_unknown_keeps_latin1():
    # no /Encoding at all: frozen byte semantics (goldens depend on it)
    pdf = build_pdf([page_content_stream(["caf\xe9 \x93"])])
    assert extract_pdf_pages(pdf) == ["caf\xe9 \x93"]
    # unknown name (e.g. a symbolic font's custom tag): same
    pdf2 = build_pdf([page_content_stream(["caf\xe9 \x93"])], encoding=b"/FooEncoding")
    assert extract_pdf_pages(pdf2) == ["caf\xe9 \x93"]


def test_r5_encoding_tounicode_precedence():
    """A font with BOTH /ToUnicode and /Encoding must use the CMap
    (PDF 32000 §9.10.2 extraction order)."""
    pdf = build_pdf(
        [page_content_stream(["Hi"], style="cid")],
        cid_font=True,  # emits /Encoding /Identity-H + /ToUnicode
    )
    assert extract_pdf_pages(pdf) == ["Hi"]


def test_r5_encoding_page_sep_injection_stripped():
    """A hostile /Differences mapping a code to uni0002 (the engine's
    internal page sentinel) must not survive into page text — the
    frozen page-level \\x02 strip runs after decoding."""
    enc = b"<< /Type /Encoding /Differences [65 /uni0002] >>"
    pdf = build_pdf([page_content_stream(["xAy"])], encoding=enc)
    assert extract_pdf_pages(pdf) == ["xy"]


def test_r5_encoding_composes_with_flate_objstm_and_encryption():
    enc = b"<< /Type /Encoding /Differences [65 /eacute] >>"
    text = ["cafA and AB"]
    want = ["caf\xe9 and \xe9B"]
    for kw in (
        {"flate": True},
        {"objstm": True},
        {"encrypt": 3},
        {"xref_stream": True},
    ):
        pdf = build_pdf([page_content_stream(text)], encoding=enc, **kw)
        assert extract_pdf_pages(pdf) == want, kw


def test_r5_encoding_malformed_differences_raises():
    # a name before any code is malformed per §9.6.6.1
    enc = b"<< /Type /Encoding /Differences [/eacute 65] >>"
    pdf = build_pdf([page_content_stream(["A"])], encoding=enc)
    with pytest.raises(PdfError):
        extract_pdf_pages(pdf)


# ------------------------------------- dictionary entries (§7.3.7-7.3.10)

WORDS = [f"line {i:02d} of the page" for i in range(40)]


def _with_objects(pdf: bytes, bodies: list[bytes]) -> tuple[bytes, list[int]]:
    """``pdf`` with ``bodies`` appended as new objects before its xref
    table, and their object numbers."""
    import re

    first = max(int(n) for n in re.findall(rb"(\d+) 0 obj", pdf)) + 1
    nums = list(range(first, first + len(bodies)))
    objs = b"".join(b"%d 0 obj\n%s\nendobj\n" % (n, b) for n, b in zip(nums, bodies))
    at = pdf.index(b"\nxref\n") + 1
    return pdf[:at] + objs + pdf[at:], nums


def _indirect_lengths(pdf: bytes) -> bytes:
    """``pdf`` with every stream's ``/Length N`` written as a reference
    to a new integer object holding N (§7.3.8.2)."""
    import re

    lengths = re.findall(rb"/Length (\d+)[^<>]*>>\nstream\n", pdf)
    assert lengths
    pdf, nums = _with_objects(pdf, lengths)
    refs = iter(nums)
    return re.sub(
        rb"/Length \d+(?=[^<>]*>>\nstream\n)", lambda m: b"/Length %d 0 R" % next(refs), pdf
    )


@pytest.mark.parametrize(
    "kw",
    [{}, {"flate": True}, {"filters": ["ASCII85Decode", "FlateDecode"]},
     {"filters": ["LZWDecode"]}, {"flate": True, "encrypt": 4},
     {"flate": True, "objstm": True, "cid_font": True}],
    ids=["identity", "flate", "ascii85_flate", "lzw", "aesv2", "objstm"],
)
def test_indirect_stream_length(kw):
    """A stream whose /Length is an indirect reference is read to the
    length the referenced object holds, on every filter chain, through
    AES decryption and inside an object-stream container."""
    style = "cid" if kw.get("cid_font") else "td"
    pdf = build_pdf([page_content_stream(WORDS, style=style)], **kw)
    assert extract_pdf_pages(_indirect_lengths(pdf)) == extract_pdf_pages(pdf) == ["\n".join(WORDS)]


def test_dangling_indirect_length_is_a_pdf_error():
    from pdf_to_text_spark.core.pdfparse import extract_pdf_pages_safe

    pdf = build_pdf([page_content_stream(WORDS)], flate=True)
    dangling = _indirect_lengths(pdf).replace(b"/Length ", b"/Length 99", 1)
    assert b"/Length 99" in dangling
    assert extract_pdf_pages_safe(dangling) == (None, "dangling Length ref")


def test_direct_font_dictionary():
    """A font written inside the page's /Font dictionary (no object of
    its own) is read with its /ToUnicode CMap."""
    import re

    pdf = build_pdf([page_content_stream(["Hello CID world"], style="cid")], cid_font=True)
    num = re.search(rb"/Font << /F1 (\d+) 0 R >>", pdf).group(1)
    font = re.search(rb"\n" + num + rb" 0 obj\n(<<.*?>>)\nendobj", pdf, re.S).group(1)
    direct = pdf.replace(b"/F1 " + num + b" 0 R", b"/F1 " + font)
    assert b"/Font << /F1 << /Type /Font" in direct
    assert extract_pdf_pages(direct) == ["Hello CID world"]


def test_compact_catalog_names_the_root_of_a_nested_tree():
    """``/Type/Catalog`` with no space is the catalog: its /Pages is the
    root even when an intermediate /Pages node comes first in the file."""
    import re

    pdf = build_pdf([page_content_stream([f"p{i}"]) for i in range(4)], nested=True)
    moved = b""
    for num in (1, 2):  # the catalog and the root /Pages go after the mids
        obj = re.search(rb"\n(%d 0 obj\n.*?\nendobj\n)" % num, pdf, re.S).group(1)
        pdf = pdf.replace(obj, b"")
        moved += obj
    at = pdf.index(b"\nxref\n") + 1
    pdf = pdf[:at] + moved.replace(b"/Type /Catalog", b"/Type/Catalog") + pdf[at:]
    assert pdf.index(b"/Type /Pages /Parent") < pdf.index(b"/Type/Catalog")
    assert extract_pdf_pages(pdf) == ["p0", "p1", "p2", "p3"]


@pytest.mark.parametrize("r", [2, 3, 4], ids=["rc4_40", "rc4_128", "aesv2"])
def test_encrypt_id_as_literal_string(r):
    """A trailer /ID written as literal strings gives the same file key
    as its hex form (§7.3.4.2; /ID feeds Algorithm 2)."""
    import re

    pdf = build_pdf([page_content_stream(LINES)], flate=True, encrypt=r)
    hexed = re.search(rb"/ID \[<([0-9a-f]+)> <[0-9a-f]+>\]", pdf)
    lit = b"(" + _escaped_literal(bytes.fromhex(hexed.group(1).decode())) + b")"
    literal_pdf = pdf.replace(hexed.group(0), b"/ID [" + lit + b" " + lit + b"]")
    assert extract_pdf_pages(literal_pdf) == ["\n".join(LINES)]


def test_crypt_filter_length_is_not_the_key_length():
    """The /Length of a /V 4 crypt filter (bytes) is not the
    encryption dictionary's own /Length (bits), whichever comes first."""
    pdf = build_pdf([page_content_stream(LINES)], flate=True, encrypt=4)
    moved = pdf.replace(b"/Length 128 /P", b"/P").replace(b"/StmF /StdCF", b"/StmF /StdCF /Length 128")
    assert moved.index(b"/Length 16") < moved.index(b"/Length 128")
    assert extract_pdf_pages(moved) == ["\n".join(LINES)]


def test_uncompressed_stream_holding_the_word_endobj():
    """An object ends after its stream payload: a page whose text says
    ``endobj`` is read whole, whether its /Length is direct or an
    indirect reference."""
    lines = ["the word endobj ends nothing", "endstream endobj either"]
    pdf = build_pdf([page_content_stream(lines)])
    assert extract_pdf_pages(pdf) == extract_pdf_pages(_indirect_lengths(pdf)) == ["\n".join(lines)]


def test_tounicode_cmap_is_parsed_once_per_document(monkeypatch):
    """A font object that three pages share is read, and its CMap
    parsed, once per document."""
    from pdf_to_text_spark.core import pdfparse

    calls = []
    parse = pdfparse.parse_tounicode
    monkeypatch.setattr(pdfparse, "parse_tounicode", lambda data: calls.append(1) or parse(data))
    pdf = build_pdf(
        [page_content_stream([f"page {i}"], style="cid") for i in range(3)], cid_font=True
    )
    assert extract_pdf_pages(pdf) == ["page 0", "page 1", "page 2"]
    assert len(calls) == 1


def test_stream_length_held_in_an_object_stream():
    """A stream's indirect /Length may be an object inside an object
    stream (§7.5.7 forbids that only for an object stream's own
    /Length): it is read once the object streams are expanded."""
    content = b"BT 72 700 Td (held) Tj ET"
    inner = b"6 0 %d" % len(content)
    objs = [
        b"<< /Type /Catalog /Pages 2 0 R >>",
        b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>",
        b"<< /Length 6 0 R >>\nstream\n" + content + b"\nendstream",
        b"<< /Type /ObjStm /N 1 /First 4 /Length %d >>\nstream\n%s\nendstream"
        % (len(inner), inner),
    ]
    pdf = b"%PDF-1.5\n" + b"".join(
        b"%d 0 obj\n%s\nendobj\n" % (i, body) for i, body in enumerate(objs, 1)
    )
    assert extract_pdf_pages(pdf) == ["held"]


def test_word_stream_inside_a_dictionary_is_no_stream_keyword():
    """A name ending a line with the word ``stream`` inside a font's
    dictionary neither ends the dictionary nor starts a payload."""
    pdf = build_pdf([page_content_stream(["Hello CID world"], style="cid")], cid_font=True)
    renamed = pdf.replace(b"/BaseFont /Synthetic ", b"/BaseFont /Mainstream\n")
    assert b"/Mainstream\n/Encoding" in renamed
    assert extract_pdf_pages(renamed) == ["Hello CID world"]


def test_unused_stream_that_cannot_be_cut_fails_no_document():
    """A stream whose /Length names no object fails only the page that
    reads it: an encrypted document holding one that no page uses reads
    whole."""
    pdf = build_pdf([page_content_stream(LINES)], flate=True, encrypt=3)
    broken, _ = _with_objects(pdf, [b"<< /Length 99 0 R >>\nstream\nxx\nendstream"])
    assert extract_pdf_pages(broken) == ["\n".join(LINES)]


def test_all_compact_dictionaries():
    """Dictionaries written with no white space around delimiters
    (``<</Type/Page/Contents 4 0 R>>``, the form many writers emit) read
    like the spaced ones, stream heads and trailer included."""
    import re

    pdf = build_pdf(
        [page_content_stream(NOTCH2_LINES, style="cid") for _ in range(3)],
        flate=True, cid_font=True, nested=True, split_content=True,
    )
    parts = re.split(rb"(stream\n.*?\nendstream)", pdf, flags=re.S)
    compact = b"".join(
        p if p.startswith(b"stream\n") else re.sub(rb"\s*(<<|>>|\[|\]|/)\s*", rb"\1", p)
        for p in parts
    )
    assert b"<</Type/Page/Parent" in compact and b">>stream\n" in compact
    assert extract_pdf_pages(compact) == extract_pdf_pages(pdf) == ["\n".join(NOTCH2_LINES)] * 3
