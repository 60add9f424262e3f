"""Deterministic PDF text extraction (pure Python, no dependencies).

The Spark-first replacement for the reference's per-image OCR hop
(``/root/reference/2_OpenCV_OCR/ocr_engine.py:13-102``): instead of
rasterize→Tesseract/Gemini, decode the PDF text objects directly and
reconstruct reading order by y-then-x sort — the deterministic
equivalent the reference itself prefers when a text layer exists
(``/root/reference/2_OpenCV_OCR/core_document_processing.py:71-79``).

Supported subset (defined by ``pdfgen``, SURVEY.md §7.3.2, widened
toward the reference's accept-any-upload behavior):
- content streams: Tj/TJ/' show operators with literal and hex strings,
  Td/TD/Tm/T*/TL positioning (translation-only matrices), inline
  dictionaries (skipped, e.g. BDC property lists);
- objects: one table (``_open_document``) holds each object split,
  its dictionary read and its stream payload cut once (one holding
  ``endobj`` too); a dictionary is read by its own top-level entries
  (``<</Type/Page>>`` spacing or none); these values may be indirect
  references: a stream's ``/Length`` (§7.3.8.2), ``/Kids``,
  ``/Contents`` and its parts, ``/Resources``, ``/Font``, each font and
  its ``/ToUnicode`` and ``/Encoding``, ``/XObject`` and ``/Encrypt``
  (any other entry, an image's ``/Width`` say, is read only direct);
- the filters of §7.4 as a ``/Filter`` name or array; recursive page
  trees (nested ``/Kids`` with cycle + depth guards);
- ``/Contents`` arrays (§7.7.3.3): the parts are decoded independently
  and joined with a newline (token boundaries are the emitter's);
- object streams (§7.5.7), expanded before the page-tree walk in
  revision order with the top-level definitions;
- ``/ToUnicode`` CMaps with ``Tf`` font tracking (§9.10.3), for fonts
  that are objects of their own or written directly in the page's
  ``/Font`` dictionary: ``begincodespacerange`` fixes the code width,
  ``beginbfchar`` and ``beginbfrange`` (increment and array forms)
  fill the map, unmapped codes become U+FFFD; a font with no CMap
  keeps the frozen latin-1 byte semantics (or its simple-font
  ``/Encoding``, §9.6.6).

Raises ``PdfError`` on malformed input; callers map that to an
``error`` column (row-level tolerance, ``main.py:77-78`` analog).
"""

from __future__ import annotations

import hashlib
import re
import unicodedata as _ud
import zlib
from typing import NamedTuple

from pdf_to_text_spark.core.mediacodec import png_unfilter_row

LINE_Y_TOL = 2.0  # runs within this many points of a line's y are one line
TJ_SPACE_KERN = -180.0  # TJ kerning beyond this inserts a word gap


class PdfError(ValueError):
    pass


# Decompression-bomb guard (round-4 advice): a small crafted stream from
# an untrusted web PDF must not expand to gigabytes inside an executor —
# row-level error tolerance protects correctness, not memory. Decoders
# raise PdfError past this cap, mapping bombs to the error column.
_MAX_DECODE_BYTES = 256 << 20

_OBJ_RE = re.compile(rb"(\d+)\s+\d+\s+obj\b", re.S)
_REF_RE = re.compile(rb"(\d+)\s+\d+\s+R")
_ENDSTREAM_RE = re.compile(rb"[ \t\r\n\f\x00]*endstream")


_NO_STREAM = "object has no stream with a /Length"


class PdfObject(NamedTuple):
    """One entry of the object table: an object split, and its
    dictionary read, once for every reader after ``_open_document``."""

    value: bytes  # the object's body before its ``stream`` keyword (all of it without one)
    head: dict[bytes, bytes]  # the top-level entries of ``value``, {} when not a dictionary
    # the raw stream payload, cut to its /Length; with ``fault`` set too,
    # the uncut rest of the body (its /Length names no top-level object)
    payload: bytes | None = None
    fault: str | None = _NO_STREAM  # the error reading the payload raises; None: it is cut


def _parse_objects(data: bytes) -> tuple[dict[int, PdfObject], dict[int, int]]:
    """The object table (object number → ``PdfObject``), plus object
    number → file offset of its WINNING (last) definition. Later
    definitions win — the saved-over-file semantics of incremental
    updates (§7.5.6); offsets let ObjStm expansion apply the same
    revision ordering (round-4 advice). Payloads are cut once every
    object is split, so an indirect /Length is known, and one holding
    ``endobj`` ends its object at the ``endobj`` after it; a stream that
    cannot be cut keeps its error in ``fault``, raised when it is read."""
    objs: dict[int, PdfObject] = {}
    pos: dict[int, int] = {}
    streams: dict[int, tuple[int, int]] = {}  # payload start, first endobj
    for m in _OBJ_RE.finditer(data):
        num, start = int(m.group(1)), m.end()
        end = data.find(b"endobj", start)
        if end == -1:
            raise PdfError(f"object {num}: missing endobj")
        body = data[start:end]
        value, at = _stream_split(body) if b"stream" in body else (body, None)
        objs[num] = PdfObject(value, _read_dict(value))
        pos[num] = m.start()
        streams.pop(num, None)
        if at is not None:
            streams[num] = (start + at, end)
    if not objs:
        raise PdfError("no objects found")
    for num, (at, end) in streams.items():
        obj = objs[num]
        try:
            n = _int(_resolve(objs, obj.head.get(b"Length"), "Length"))
        except PdfError as e:  # the /Length object may sit in an object stream
            objs[num] = obj._replace(payload=data[at:end], fault=str(e))
            continue
        if n is None or n < 0:
            continue
        if at + n > end and _ENDSTREAM_RE.match(data, at + n):
            end = data.find(b"endobj", at + n)  # the payload holds the word
            if end == -1:
                raise PdfError(f"object {num}: missing endobj")
        objs[num] = obj._replace(payload=data[at : min(at + n, end)], fault=None)
    return objs, pos


# §8.9.7 Tables 93 and 94: an inline image's abbreviated dictionary
# keys, and the abbreviated filter and colour-space names, which are
# read as their full forms wherever they occur
_ABBREVIATED_KEYS = {
    b"W": b"Width", b"H": b"Height", b"BPC": b"BitsPerComponent",
    b"CS": b"ColorSpace", b"F": b"Filter", b"DP": b"DecodeParms",
}
_ABBREVIATED_NAMES = {
    b"AHx": b"ASCIIHexDecode", b"A85": b"ASCII85Decode", b"LZW": b"LZWDecode",
    b"Fl": b"FlateDecode", b"RL": b"RunLengthDecode", b"CCF": b"CCITTFaxDecode",
    b"DCT": b"DCTDecode", b"G": b"DeviceGray", b"RGB": b"DeviceRGB",
    b"CMYK": b"DeviceCMYK",
}


def _filter_chain(head: dict[bytes, bytes]) -> list[bytes]:
    """The stream's filter names in application order — handles both the
    name form (``/Filter /FlateDecode``) and the array form
    (``/Filter [/FlateDecode]``, PDF 32000 §7.3.8)."""
    names = map(_name, _items(head.get(b"Filter")))
    return [_ABBREVIATED_NAMES.get(n, n) for n in names if n is not None]


_INT_PARMS = (b"Predictor", b"Columns", b"Colors", b"BitsPerComponent", b"K", b"Rows")


def _decode_parms(head: dict[bytes, bytes], n_filters: int) -> list[dict | None]:
    """Per-filter decode-parameter dicts from ``/DecodeParms`` — scalar
    dict form applies to the single filter; array form is index-aligned
    with the /Filter array, with ``null`` entries for filters that take
    none (§7.3.8.2)."""
    out: list[dict | None] = [None] * n_filters
    for i, item in enumerate(_items(head.get(b"DecodeParms"))[:n_filters]):
        d = _read_dict(item)
        parms = {k.decode(): n for k in _INT_PARMS if (n := _int(d.get(k))) is not None}
        if d.get(b"BlackIs1") in (b"true", b"false"):
            parms["BlackIs1"] = int(d[b"BlackIs1"] == b"true")
        out[i] = parms or None
    return out


# ------------------------------------------------- stream filters (§7.4)

_WS = b" \t\r\n\f\x00"
_WS_BYTES = frozenset(_WS)
_HEX_DIGITS_RE = re.compile(rb"[0-9A-Fa-f]*")


def _ascii_hex_decode(data: bytes) -> bytes:
    """§7.4.2 ASCIIHexDecode, and the one reader of hex strings
    (§7.3.4.3): hex pairs, whitespace ignored, '>' is EOD, odd length
    pads a zero nibble."""
    eod = data.find(b">")
    if eod != -1:
        data = data[:eod]
    hx = data.translate(None, _WS)
    if not _HEX_DIGITS_RE.fullmatch(hx):
        raise PdfError("bad ASCIIHex data")
    if len(hx) % 2:
        hx += b"0"
    return bytes.fromhex(hx.decode("ascii"))


def _ascii85_decode(data: bytes) -> bytes:
    """§7.4.3 ASCII85Decode: base-85 groups of 5 chars → 4 bytes, 'z'
    shorthand for a zero group, '~>' is EOD, partial final group legal."""
    if data.startswith(b"<~"):
        data = data[2:]
    eod = data.find(b"~>")
    if eod != -1:
        data = data[:eod]
    out = bytearray()
    group: list[int] = []
    for b in data:
        if b in _WS_BYTES:
            continue
        if b == 0x7A:  # 'z'
            if group:
                raise PdfError("ascii85 'z' inside a group")
            out += b"\x00\x00\x00\x00"
            continue
        if not 0x21 <= b <= 0x75:
            raise PdfError("bad ascii85 character")
        group.append(b - 33)
        if len(group) == 5:
            v = 0
            for g in group:
                v = v * 85 + g
            if v > 0xFFFFFFFF:
                raise PdfError("ascii85 group overflow")
            out += v.to_bytes(4, "big")
            group = []
    if group:
        if len(group) == 1:
            raise PdfError("ascii85 trailing single character")
        n = len(group)
        group += [84] * (5 - n)
        v = 0
        for g in group:
            v = v * 85 + g
        out += v.to_bytes(4, "big")[: n - 1]
    return bytes(out)


def _rle_decode(data: bytes) -> bytes:
    """§7.4.5 RunLengthDecode: length byte L — L<128 copies L+1 literal
    bytes, L>128 repeats the next byte 257-L times, 128 is EOD."""
    out = bytearray()
    i, n = 0, len(data)
    while i < n:
        L = data[i]
        i += 1
        if L == 128:
            return bytes(out)
        if L < 128:
            if i + L + 1 > n:
                raise PdfError("rle literal run overruns data")
            out += data[i : i + L + 1]
            i += L + 1
        else:
            if i >= n:
                raise PdfError("rle repeat run overruns data")
            out += data[i : i + 1] * (257 - L)
            i += 1
        if len(out) > _MAX_DECODE_BYTES:
            raise PdfError("rle output exceeds decode cap")
    return bytes(out)


def _lzw_decode(data: bytes) -> bytes:
    """§7.4.4 LZWDecode (EarlyChange=1, the default): MSB-first variable
    width codes 9→12 bits, 256=clear table, 257=EOD; the width bumps one
    code EARLY (when the next free code reaches 2^w - 1)."""
    out = bytearray()
    table: dict[int, bytes] = {i: bytes([i]) for i in range(256)}
    next_code, width = 258, 9
    prev: bytes | None = None
    bitbuf = bits = 0
    for byte in data:
        bitbuf = (bitbuf << 8) | byte
        bits += 8
        while bits >= width:
            code = (bitbuf >> (bits - width)) & ((1 << width) - 1)
            bits -= width
            if code == 256:
                table = {i: bytes([i]) for i in range(256)}
                next_code, width, prev = 258, 9, None
                continue
            if code == 257:
                return bytes(out)
            if prev is None:
                entry = table.get(code)
                if entry is None:
                    raise PdfError("bad LZW start code")
            elif code in table:
                entry = table[code]
                table[next_code] = prev + entry[:1]
                next_code += 1
            elif code == next_code:
                entry = prev + prev[:1]
                table[next_code] = entry
                next_code += 1
            else:
                raise PdfError("LZW code out of range")
            out += entry
            if len(out) > _MAX_DECODE_BYTES:
                raise PdfError("lzw output exceeds decode cap")
            prev = entry
            # EarlyChange=1, with the classic decoder lag: the decoder's
            # table is one entry behind the encoder's at read time, so
            # bump when next_code + 1 hits 2^w - 1
            if next_code + 1 >= (1 << width) - 1 and width < 12:
                width += 1
    raise PdfError("LZW stream missing EOD")


_FILTER_DECODERS = {
    b"ASCIIHexDecode": _ascii_hex_decode,
    b"ASCII85Decode": _ascii85_decode,
    b"RunLengthDecode": _rle_decode,
    b"LZWDecode": _lzw_decode,
}


# ------------------------------------------- object syntax (§7.3)

_DICT_DELIM_RE = re.compile(rb"<<|>>|[(<]")
_WSP = rb"[ \t\r\n\f\x00]"  # §7.2.3 white-space characters
_REGULAR = rb"[^ \t\r\n\f\x00()<>\[\]{}/%]"  # neither white space nor delimiter
_SIMPLE_VALUE = (  # an indirect reference, a name, a hex string, a number or a keyword
    rb"\d+" + _WSP + rb"+\d+" + _WSP + rb"+R(?!" + _REGULAR + rb")"
    + rb"|/" + _REGULAR + rb"*|<[^<>]*>|" + _REGULAR + rb"+"
)
# one token of object syntax after any white space: 1 ``<<``, 2 ``>>``,
# 3 ``[``, 4 ``]``, 5 a simple value, 6 any other byte (the ``(`` of a
# literal string, or a delimiter that starts no token)
_TOKEN_RE = re.compile(
    _WSP + rb"*(?:(<<)|(>>)|(\[)|(\])|(" + _SIMPLE_VALUE + rb")|(.))", re.S
)
# one dictionary entry — key, then a simple value (group 2) or the first
# byte of a dictionary, array or literal string, which _value_end reads
# (group 3) — or the end of the dictionary (group 4)
_ENTRY_RE = re.compile(
    _WSP + rb"*(?:/(" + _REGULAR + rb"*)" + _WSP + rb"*(?:(" + _SIMPLE_VALUE
    + rb")|(<<|[\[(]))|(>>))"
)


def _scan_dict(data: bytes, start: int) -> tuple[bytes, int]:
    """The one reader of a dictionary's extent (§7.3.7): (dict bytes
    incl. << >>, end index) of the balanced dictionary at ``start``
    ('<<'); ``_read_dict`` reads its entries. Literal and hex strings
    inside are skipped whole, so a ``>>`` in a string, or the ``>``
    that ends a hex string, never closes it."""
    depth, i = 0, start
    while m := _DICT_DELIM_RE.search(data, i):
        i = m.end()
        d = m.group()
        if d == b"<<":
            depth += 1
        elif d == b">>":
            depth -= 1
            if not depth:
                return data[start:i], i
        elif d == b"(":
            i = _literal_string(data, m.start())[1]
        else:  # hex string: skip to its '>'
            i = data.find(b">", i) + 1
            if not i:
                break
    raise PdfError("unterminated dictionary")


def _value_end(data: bytes, start: int) -> int:
    """The end of the value whose first byte is at ``start``: a
    dictionary, array or string is read whole, anything else is its one
    token."""
    c = data[start : start + 2]
    if c == b"<<":
        try:
            return _scan_dict(data, start)[1]
        except PdfError:  # a dictionary that never closes ends with data
            return len(data)
    if c[:1] == b"[":
        return _read_array(data, start)[1]
    if c[:1] == b"(":
        return _literal_string(data, start)[1]
    return _TOKEN_RE.match(data, start).end()


def _read_array(data: bytes, start: int) -> tuple[list[bytes], int]:
    """The one reader of arrays (§7.3.6): the raw bytes of each item of
    the array whose ``[`` is at ``start``, and the end index. A nested
    array is one item (its depth is counted, not recursed into);
    dictionaries and strings are read whole; an array that never closes
    ends with ``data``."""
    items: list[bytes] = []
    depth, i, item_start = 0, start, start
    while (m := _TOKEN_RE.match(data, i)) is not None:
        g = m.lastindex
        if g == 3:
            depth += 1
            if depth == 2:
                item_start = m.start(3)
            i = m.end()
        elif g == 4:
            depth -= 1
            i = m.end()
            if depth == 1:
                items.append(data[item_start:i])
            elif depth <= 0:
                return items, i
        else:
            i = m.end() if g == 5 else _value_end(data, m.start(g))
            if depth == 1:
                items.append(data[m.start(g) : i])
    return items, len(data)


def _read_dict(data: bytes | None, pos: int = 0) -> dict[bytes, bytes]:
    """The one reader of a dictionary's entries (§7.3.7): key (the name
    without its slash) → raw value bytes of each TOP-LEVEL entry of the
    dictionary whose ``<<`` is the first token at ``pos`` ({} when none
    starts there). A value is one token, an indirect reference
    ``N G R``, or a dictionary, array or string read whole, so no key
    inside a value is ever read as the dictionary's own. The first of
    two equal keys wins; a key with no value, and a value in key
    position, are skipped; a dictionary that never closes ends with
    ``data``."""
    m = None if data is None else _TOKEN_RE.match(data, pos)
    if m is None or m.lastindex != 1:
        return {}
    entries: dict[bytes, bytes] = {}
    i = m.end()
    while True:
        e = _ENTRY_RE.match(data, i)
        g = 0 if e is None else e.lastindex
        if g == 2:
            value, i = e.group(2), e.end()
        elif g == 3:
            i = _value_end(data, e.start(3))
            value = data[e.start(3) : i]
        elif g == 4:
            return entries
        elif (m := _TOKEN_RE.match(data, i)) is None:
            return entries
        else:
            i = _value_end(data, m.start(m.lastindex))
            continue
        entries.setdefault(e.group(1), value)


# typed accessors of a value read by _read_dict or _read_array, or of a
# whole object body; each returns None when the value is absent or of
# another type


def _array(v: bytes | None) -> list[bytes] | None:
    m = None if v is None else _TOKEN_RE.match(v)
    return None if m is None or m.lastindex != 3 else _read_array(v, m.start(3))[0]


def _items(v: bytes | None) -> list[bytes]:
    """The items of an array value, or the one value of any other (the
    "a name or an array" of /Filter, §7.3.8.2); [] when absent."""
    items = _array(v)
    return items if items is not None else [] if v is None else [v]


def _int(v: bytes | None) -> int | None:
    try:
        return int(v)
    except (TypeError, ValueError):
        return None


def _name(v: bytes | None) -> bytes | None:
    """A name value without its slash."""
    v = (v or b"").strip(_WS)
    return v[1:] if v[:1] == b"/" else None


def _string(v: bytes | None) -> bytes | None:
    """A literal or hex string value (§7.3.4), decoded."""
    v = (v or b"").strip(_WS)
    if v[:1] == b"(":
        return _literal_string(v, 0)[0]
    if v[:1] == b"<" and v[:2] != b"<<":
        return _ascii_hex_decode(v[1:])
    return None


def _ref(v: bytes | None) -> int | None:
    """The object number of an indirect reference ``N G R``."""
    m = None if v is None else _REF_RE.fullmatch(v)
    return None if m is None else int(m.group(1))


def _lookup(objs: dict[int, PdfObject], v: bytes | None, what: str) -> PdfObject | None:
    """The one resolver of indirect values (§7.3.10): the table entry of
    the object ``v`` references, None when ``v`` is direct; a reference
    to a missing object raises."""
    num = _ref(v)
    if num is None:
        return None
    if (obj := objs.get(num)) is None:
        raise PdfError(f"dangling {what} ref")
    return obj


def _resolve(objs: dict[int, PdfObject], v: bytes | None, what: str) -> bytes | None:
    """A value, direct or the value of the object it references."""
    return v if (obj := _lookup(objs, v, what)) is None else obj.value


def _dict(objs: dict[int, PdfObject], v: bytes | None, what: str) -> dict[bytes, bytes]:
    """The entries of a dictionary value, direct or the object it
    references ({} when absent or not a dictionary)."""
    return _read_dict(v) if (obj := _lookup(objs, v, what)) is None else obj.head


def _payload(objs: dict[int, PdfObject], obj: PdfObject) -> bytes:
    """The raw (undecoded) stream payload of a table entry; a stream
    that cannot be cut raises its error."""
    if obj.fault is None:
        return obj.payload
    if obj.payload is not None:  # its /Length object came from an object stream
        n = _int(_resolve(objs, obj.head.get(b"Length"), "Length"))
        if n is None or n < 0:
            raise PdfError(_NO_STREAM)
        return obj.payload[:n]
    raise PdfError(obj.fault)


def _stream(objs: dict[int, PdfObject], v: bytes | None, what: str) -> bytes:
    """The decoded payload of the stream ``v`` references."""
    obj = _lookup(objs, v, what) or PdfObject(v, {})  # a direct value is no stream
    return _apply_filters(obj.head, _payload(objs, obj))


# ------------------------------------------- predictors (§7.4.4.4)

def _unpredict(data: bytes, parms: dict) -> bytes:
    """Reverse a TIFF (Predictor 2) or PNG (10–15) predictor applied
    before the stream's compression filter (§7.4.4.4). PNG rows carry a
    per-row filter tag (0–4: None/Sub/Up/Average/Paeth) regardless of
    the declared predictor value; a short final row is tolerated (the
    spec sizes data exactly, repair-mode readers don't insist)."""
    pred = parms.get("Predictor", 1)
    if pred <= 1:
        return data
    colors = parms.get("Colors", 1)
    bpc = parms.get("BitsPerComponent", 8)
    columns = parms.get("Columns", 1)
    bpp = max(1, (colors * bpc + 7) // 8)
    rowlen = (colors * bpc * columns + 7) // 8
    if pred == 2:
        if bpc != 8:
            raise PdfError("TIFF predictor requires 8-bit components")
        # a TIFF row is a PNG row whose filter is Sub
        data = b"".join(b"\x01" + data[rs : rs + rowlen] for rs in range(0, len(data), rowlen))
    elif not 10 <= pred <= 15:
        raise PdfError(f"unsupported predictor {pred}")
    out = bytearray()
    prev = bytes(rowlen)
    i = 0
    while i < len(data):
        ft = data[i]
        row = bytearray(data[i + 1 : i + 1 + rowlen])
        i += 1 + len(row)
        if not png_unfilter_row(ft, row, prev, bpp):
            raise PdfError(f"bad PNG predictor filter tag {ft}")
        out += row
        prev = row
    return bytes(out)


def _stream_split(body: bytes) -> tuple[bytes, int | None]:
    """The one reader of the ``stream`` keyword (§7.3.8): an object
    body's value (the bytes before its keyword, all of them without
    one) and where in the body its stream payload starts, or None. The
    keyword follows the object's dictionary, so a name or string inside
    it that holds the word (``/BaseFont /Mainstream``) is not taken for
    it."""
    keyword = re.compile(rb"stream\r?\n")
    kw = keyword.search(body)
    m = _TOKEN_RE.match(body)
    if kw and m and m.lastindex == 1:
        try:
            kw = keyword.search(body, max(kw.start(), _scan_dict(body, m.start(1))[1]))
        except PdfError:  # the dictionary never closes: the first keyword ends it
            pass
    return (body, None) if kw is None else (body[: kw.start()], kw.end())


def _apply_filters(head: dict[bytes, bytes], data: bytes, n_filters: int | None = None) -> bytes:
    """Run the first ``n_filters`` (default: all) of the declared decode
    chain, with per-filter predictors, over a raw stream payload (image
    extraction stops before a DCTDecode). Array-form /DecodeParms is
    aligned to the whole /Filter array before the chain is cut."""
    chain = _filter_chain(head)
    for name, parm in list(zip(chain, _decode_parms(head, len(chain))))[:n_filters]:
        if name == b"FlateDecode":
            try:
                d = zlib.decompressobj()
                data = d.decompress(data, _MAX_DECODE_BYTES)
                if d.unconsumed_tail:
                    raise PdfError("flate output exceeds decode cap")
            except zlib.error as e:  # corrupt stream → row-level error
                raise PdfError(f"flate decode failed: {e}") from e
        elif name == b"CCITTFaxDecode":
            p = parm or {}
            k = p.get("K", 0)
            from pdf_to_text_spark.core.ccittfax import (
                decode_g3_1d,
                decode_g3_2d,
                decode_g4,
            )

            dec = decode_g4 if k < 0 else (decode_g3_1d if k == 0 else decode_g3_2d)
            data = dec(
                data,
                columns=p.get("Columns", 1728),
                rows=p.get("Rows"),
                black_is_1=bool(p.get("BlackIs1", 0)),
            )
            if len(data) > _MAX_DECODE_BYTES:
                raise PdfError("g4 output exceeds decode cap")
            continue  # parms consumed by the codec, not a predictor
        elif name in _FILTER_DECODERS:
            data = _FILTER_DECODERS[name](data)
        else:  # honest subset boundary: unknown filter = error column
            raise PdfError(f"unsupported stream filter /{name.decode('latin-1')}")
        if parm:
            data = _unpredict(data, parm)
    return data


# ------------------------- standard security handler (§7.6.3, RC4)

# §7.6.3.3 Table 21 padding string (32 bytes, spec-fixed constant)
_PAD = bytes(
    [0x28, 0xBF, 0x4E, 0x5E, 0x4E, 0x75, 0x8A, 0x41, 0x64, 0x00, 0x4E, 0x56,
     0xFF, 0xFA, 0x01, 0x08, 0x2E, 0x2E, 0x00, 0xB6, 0xD0, 0x68, 0x3E, 0x80,
     0x2F, 0x0C, 0xA9, 0xFE, 0x64, 0x53, 0x69, 0x7A]
)


def rc4(key: bytes, data: bytes) -> bytes:
    """Plain RC4 (symmetric; public algorithm). Pure python is fine at
    this layer: encrypted streams are decrypted once per object inside
    an Arrow-batched task, and the KSA/PRGA cost is linear and small
    next to inflate + text interpretation."""
    # key expanded once so the 256-step schedule avoids a len() +
    # modulo per iteration (r6; ~40% of the cipher on short payloads)
    kx = (key * (256 // len(key) + 1))[:256]
    S = list(range(256))
    j = 0
    for i in range(256):
        j = (j + S[i] + kx[i]) & 0xFF
        S[i], S[j] = S[j], S[i]
    out = bytearray(len(data))
    i = j = 0
    for k, c in enumerate(data):
        i = (i + 1) & 0xFF
        j = (j + S[i]) & 0xFF
        S[i], S[j] = S[j], S[i]
        out[k] = c ^ S[(S[i] + S[j]) & 0xFF]
    return bytes(out)


def _pw_pad(pw: bytes) -> bytes:
    return (pw + _PAD)[:32]


def std_security_key(
    o_entry: bytes, p: int, id0: bytes, r: int, key_len: int, user_pw: bytes = b""
) -> bytes:
    """§7.6.3.3 Algorithm 2: the file encryption key from the (empty by
    default) user password."""
    h = hashlib.md5(
        _pw_pad(user_pw) + o_entry[:32]
        + (p & 0xFFFFFFFF).to_bytes(4, "little") + id0
    ).digest()
    if r >= 3:
        for _ in range(50):
            h = hashlib.md5(h[:key_len]).digest()
    return h[:key_len]


def _compute_u(key: bytes, id0: bytes, r: int) -> bytes:
    """§7.6.3.4 Algorithm 4 (R2) / 5 (R3+): the expected /U entry for a
    given key — used to VERIFY the empty user password."""
    if r == 2:
        return rc4(key, _PAD)
    h = hashlib.md5(_PAD + id0).digest()
    u = rc4(key, h)
    for i in range(1, 20):
        u = rc4(bytes(b ^ i for b in key), u)
    return u  # first 16 bytes significant; /U pads to 32 arbitrarily


def _object_key(key: bytes, num: int, aes: bool) -> bytes:
    """§7.6.2 Algorithm 1: the per-object key of generation-0 object
    ``num``; for AESV2 the md5 also absorbs the constant ``sAlT``."""
    salt = b"sAlT" if aes else b""
    h = hashlib.md5(key + num.to_bytes(3, "little") + b"\0\0" + salt).digest()
    return h[: min(len(key) + 5, 16)]


def _enc_entry(enc: dict[bytes, bytes], key: bytes, read, default=None):
    """The ``read``-typed entry ``key`` of an encryption dictionary; a
    missing one is an error unless it has a ``default``."""
    v = read(enc.get(key))
    if v is None and default is None:
        raise PdfError(f"encrypt dict missing /{key.decode()}")
    return default if v is None else v


def _encryption_trailer(data: bytes, objs: dict[int, PdfObject]) -> dict[bytes, bytes] | None:
    """The entries of the trailer that names /Encrypt, or None.

    Only TRAILER dictionaries (classic ``trailer`` keyword) and XRef
    stream dictionaries may carry /Encrypt (§7.5.5, §7.5.8.2) —
    grepping the whole file would take the decrypt path on an
    unencrypted PDF whose uncompressed content stream merely contains
    the text ``/Encrypt N 0 R`` (round-4 advice)."""
    if b"/Encrypt" not in data:  # fast path: unencrypted documents
        return None
    for m in re.finditer(rb"trailer\b", data):
        trailer = _read_dict(data, m.end())
        if trailer.get(b"Encrypt") is not None:
            return trailer
    for obj in objs.values():
        if _name(obj.head.get(b"Type")) == b"XRef" and obj.head.get(b"Encrypt") is not None:
            return obj.head
    return None


def _decrypt_in_place(data: bytes, objs: dict[int, PdfObject], password: bytes = b"") -> None:
    """If the trailer names an /Encrypt dictionary, verify the supplied
    password (EMPTY by default — the dominant web shape) and decrypt
    every top-level stream payload in place (§7.6.2; objects inside
    object streams are NOT re-encrypted — the container stream was).
    Supported: the Standard security handler, /V 1 (RC4-40), /V 2
    (RC4-128), /V 4 (/CFM /AESV2 or /V2) and /V 5 /R 5-6 (AES-256).
    The one ``password`` argument is tried as the USER password first
    (§7.6.3 Algorithms 4/5) and then as the OWNER password (§7.6.3.4
    Algorithm 7 for the RC4/AES-128 handlers: the owner key decrypts
    /O back into the padded user password; §7.6.4 for AES-256: /O
    validation + /OE file-key unwrap) — matching how real readers
    prompt for "a password". A password that is neither raises
    PdfError — the honest boundary, mapped to the error column.
    Reference parity: fitz transparently opens empty-user-password
    files (``core_document_generator.py:122``); password prompts are
    out of scope there too."""
    trailer = _encryption_trailer(data, objs)
    if trailer is None:
        return
    enc_num = _ref(trailer[b"Encrypt"])
    enc = _dict(objs, trailer[b"Encrypt"], "Encrypt")
    if _name(enc.get(b"Filter")) != b"Standard":
        raise PdfError("unsupported security handler")
    v = _enc_entry(enc, b"V", _int, 0)
    r = _enc_entry(enc, b"R", _int)
    if v == 5:
        # §7.6.4 (ISO 32000-2) AES-256: /R 6 hardened hash (Algorithm
        # 2.B), 48-byte /U = hash || validation salt || key salt, file
        # key unwrapped from /UE; streams use the FILE key directly
        # (no per-object derivation), AES-256-CBC with IV prefix.
        # /R 5 is the deprecated Adobe ExtensionLevel-3 revision: same
        # structure, but the KDF is a single SHA-256(password || salt)
        # — no 2.B iteration (round-5 widening; real-world files from
        # Acrobat 9-era writers).
        if r not in (5, 6):
            raise PdfError(f"unsupported AES-256 revision /R {r}")
        from pdf_to_text_spark.core.aescipher import cbc_decrypt_nopad, pdf_hash_2b

        hfn = (
            pdf_hash_2b
            if r == 6
            else (lambda pw, salt, udata: hashlib.sha256(pw + salt + udata).digest())
        )
        u_entry = _enc_entry(enc, b"U", _string)
        if len(u_entry) < 48:
            raise PdfError("AES-256 /U entry too short")
        # /U (then /O, §7.6.4.4.10/11: the same supplied password may be
        # the OWNER password, with the full 48-byte /U absorbed as udata)
        # = hash || validation salt || key salt; /UE (/OE) wraps the file
        # key (round-5: closes the owner-password-only boundary)
        for name, udata in ((b"U", b""), (b"O", u_entry[:48])):
            entry = _enc_entry(enc, name, _string)
            if len(entry) >= 48 and hfn(password, entry[32:40], udata) == entry[:32]:
                wrapped = _enc_entry(enc, name + b"E", _string)
                if len(wrapped) < 32:
                    raise PdfError(f"AES-256 /{name.decode()}E entry too short")
                file_key = cbc_decrypt_nopad(
                    hfn(password, entry[40:48], udata), bytes(16), wrapped[:32]
                )
                _decrypt_streams(objs, enc_num, file_key, aes=True, per_object=False)
                return
        raise PdfError(
            "encrypted document requires a password"
            if not password else "wrong password"
        )
    aes = False
    if v == 4:
        # §7.6.5 crypt filters: the stream filter (/StmF, default
        # /Identity) names an entry of /CF; we support the universal
        # real-world shape /StdCF with /CFM /AESV2 (AES-128-CBC) or
        # /CFM /V2 (RC4 under the V4 framing)
        crypt_filters = _read_dict(enc.get(b"CF"))
        stm_filter = _read_dict(crypt_filters.get(_name(enc.get(b"StmF"))))
        method = _name(stm_filter.get(b"CFM"))
        if method is None:
            raise PdfError("encryption /V 4 without a /CFM crypt filter")
        if method == b"AESV2":
            aes = True
        elif method != b"V2":
            raise PdfError(
                f"unsupported crypt filter /CFM /{method.decode('latin-1')}"
            )
    elif v not in (1, 2):
        raise PdfError(f"unsupported encryption /V {v}")
    # the top-level /Length is in BITS (a crypt filter's own /Length, in
    # bytes, is not a top-level entry); /V 4 defaults to 128 bits when
    # it is absent (§7.6.1 Table 20)
    key_len = _enc_entry(enc, b"Length", _int, 128 if v == 4 else 40) // 8
    o_entry = _enc_entry(enc, b"O", _string)
    p = _enc_entry(enc, b"P", _int)
    ids = _array(trailer.get(b"ID"))
    id0 = (_string(ids[0]) if ids else None) or b""
    u_entry = _enc_entry(enc, b"U", _string)
    sig = 32 if r == 2 else 16

    def _user_key(user_pw: bytes) -> bytes | None:
        key = std_security_key(o_entry, p, id0, r, key_len, user_pw=user_pw)
        return key if _compute_u(key, id0, r)[:sig] == u_entry[:sig] else None

    key = _user_key(password)
    if key is None:
        # §7.6.3.4 Algorithm 7: the same supplied password may be the
        # OWNER password — its RC4 key (Algorithm 3 steps a-d) decrypts
        # /O back into the PADDED USER password, which must then pass
        # the normal /U check (round-5: closes the owner-password-only
        # boundary; Algorithm 3's KDF rehashes the FULL digest, unlike
        # Algorithm 2's first-klen-bytes rehash).
        h = hashlib.md5(_pw_pad(password)).digest()
        if r >= 3:
            for _ in range(50):
                h = hashlib.md5(h).digest()
        okey = h[:key_len]
        od = o_entry[:32]
        if r >= 3:
            for i in range(19, 0, -1):
                od = rc4(bytes(x ^ i for x in okey), od)
        key = _user_key(rc4(okey, od))
    if key is None:
        raise PdfError(
            "encrypted document requires a password"
            if not password else "wrong password"
        )
    _decrypt_streams(objs, enc_num, key, aes=aes, per_object=True)


def _decrypt_streams(
    objs: dict[int, PdfObject], enc_num: int, key: bytes, *, aes: bool, per_object: bool
) -> None:
    """Decrypt every top-level stream payload in the table. ``per_object``
    applies §7.6.2 Algorithm 1 key derivation (RC4/AESV2); AES-256
    (AESV3) uses the file key directly. XRef streams are exempt
    (§7.5.8.2); AES payloads are 16-byte IV || CBC ciphertext. A stream
    whose /Length is not known cannot be decrypted: it keeps its error
    and loses its uncut payload."""
    for num, obj in objs.items():
        if num == enc_num or obj.payload is None:
            continue
        if _name(obj.head.get(b"Type")) == b"XRef":
            continue  # §7.5.8.2: cross-reference streams are never encrypted
        if obj.fault is not None:
            objs[num] = obj._replace(payload=None)
        elif aes:
            from pdf_to_text_spark.core.aescipher import cbc_decrypt

            okey = _object_key(key, num, aes=True) if per_object else key
            if len(obj.payload) < 32:
                raise PdfError(f"object {num}: AES stream too short")
            try:
                plain = cbc_decrypt(okey, obj.payload[:16], obj.payload[16:])
            except ValueError as e:
                raise PdfError(f"object {num}: AES decrypt failed: {e}") from e
            objs[num] = obj._replace(payload=plain)
        else:
            objs[num] = obj._replace(payload=rc4(_object_key(key, num, aes=False), obj.payload))


def _unescape(raw: bytes) -> bytes:
    if 0x5C not in raw:  # r6 fast path: no backslash → identity
        return raw
    out = bytearray()
    i, n = 0, len(raw)
    while i < n:
        c = raw[i]
        if c != 0x5C:  # backslash
            out.append(c)
            i += 1
            continue
        i += 1
        if i >= n:
            break
        e = raw[i]
        if e in b"nrtbf":
            out.append({0x6E: 10, 0x72: 13, 0x74: 9, 0x62: 8, 0x66: 12}[e])
            i += 1
        elif e in b"()\\":
            out.append(e)
            i += 1
        elif 0x30 <= e <= 0x37:  # octal, up to 3 digits
            j = i
            while j < n and j - i < 3 and 0x30 <= raw[j] <= 0x37:
                j += 1
            out.append(int(raw[i:j], 8) & 0xFF)
            i = j
        elif e in (10, 13):  # line continuation
            i += 1
            if e == 13 and i < n and raw[i] == 10:
                i += 1
        else:
            out.append(e)
            i += 1
    return bytes(out)


# inside a literal string only escape pairs and parens move the depth
_STR_DELIM_RE = re.compile(rb"\\.|[()]", re.S)


def _literal_string(data: bytes, pos: int) -> tuple[bytes, int]:
    """The one reader of literal strings (§7.3.4.2): the unescaped bytes
    of the string whose ``(`` is at ``pos``, and the position after its
    closing ``)``. Nested parens count depth and a backslash escapes the
    byte after it; a string that never closes runs to the end of
    ``data``."""
    depth = 1
    for m in _STR_DELIM_RE.finditer(data, pos + 1):
        d = data[m.start()]
        if d == 0x28:
            depth += 1
        elif d == 0x29:
            depth -= 1
            if not depth:
                return _unescape(data[pos + 1 : m.start()]), m.end()
    return _unescape(data[pos + 1 :]), len(data)


_INLINE_ID_RE = re.compile(rb"\bID[\r\n ]")


# one alternation, ordered EXACTLY like the branch ladder of the
# reference tokenizer (tests/content_reference.py) so the scanner
# segments a stream as the reference does. Group 2 is possessive so a
# nested-paren or unterminated string fails in linear time; a
# backtracking group would try 2^n splits of the run before the paren
# (ReDoS). Group 10 takes any byte the others do not read, so finditer
# never searches ahead for the next token (from each ``(`` of
# ``(\(\(…`` that search re-read the rest of the stream: quadratic);
# ``_off_grammar_token`` reads what starts there
_SCAN_RE = re.compile(
    rb"([ \t\r\n\f\x00]+)"  # 1 whitespace run
    rb"|(\((?:[^\\()]++|\\.)*+\))"  # 2 literal string, no nested parens
    rb"|(<<)"  # 3 inline dictionary open
    rb"|(<[0-9A-Fa-f \t\r\n\f\x00]*>)"  # 4 hex string
    rb"|(\[)"  # 5
    rb"|(\])"  # 6
    rb"|(/[^\s()<>\[\]/]*)"  # 7 name
    rb"|([-+]?\d*\.?\d+)"  # 8 number
    rb"|([A-Za-z'\"*]+)"  # 9 operator
    rb"|(.)",  # 10 any other byte
    re.S,
)


def _off_grammar_token(content: bytes, pos: int) -> tuple[bytes, int]:
    """Read what starts at ``pos``, a byte only the catch-all group 10
    of ``_SCAN_RE`` matched. A literal string with nested parens, or one
    that never closes (its body then runs to EOF), returns its
    unescaped bytes and the position after it; a bad or unterminated
    hex string or any other byte raises."""
    c = content[pos]
    if c == 0x28:
        return _literal_string(content, pos)
    if c == 0x3C:  # not "<<" and not a valid hex string
        if content.find(b">", pos + 1) == -1:
            raise PdfError("unterminated hex string")
        raise PdfError("bad hex string")
    raise PdfError(f"bad content token at {pos}")


def _inline_image_span(content: bytes, after_bi: int) -> tuple[int, int, int]:
    """§8.9.7 inline image ``<pairs> ID <binary> EI`` after the BI
    operator ending at ``after_bi``: returns the start of ID, the start
    of the binary data and the start of EI. The binary payload is NOT
    token syntax — without this skip it would tokenize as garbage (or
    fake text). Data starts one whitespace byte after ID; EI must be
    delimiter-bounded on both sides."""
    idm = _INLINE_ID_RE.search(content, after_bi)
    if idm is None:
        raise PdfError("inline image missing ID")
    j = idm.end()
    while True:
        j = content.find(b"EI", j)
        if j == -1:
            raise PdfError("inline image missing EI")
        before = content[j - 1 : j]
        after = content[j + 2 : j + 3]
        if (
            before and before[0] in _WS_BYTES
            and (after == b"" or after[0] in _WS_BYTES)
        ):
            return idm.start(), idm.end(), j
        j += 2


# --------------------------------------------------------------- fonts/CMaps

_CMAP_HEX_RE = re.compile(rb"<([0-9A-Fa-f\s]*)>")


def _utf16be(data: bytes) -> str:
    if len(data) % 2:
        raise PdfError("CMap dst not UTF-16BE (odd length)")
    return data.decode("utf-16-be")


def _cmap_tokens(body: bytes):
    """Token stream inside a bfchar/bfrange section: hex strings and
    the brackets of the array-dst bfrange form; anything else skipped."""
    i, n = 0, len(body)
    while i < n:
        c = body[i : i + 1]
        if c == b"<":
            j = body.find(b">", i)
            if j == -1:
                raise PdfError("unterminated CMap hex string")
            yield ("hex", re.sub(rb"\s", b"", body[i + 1 : j]))
            i = j + 1
        elif c in (b"[", b"]"):
            yield (c.decode(), None)
            i += 1
        else:
            i += 1


def parse_tounicode(data: bytes) -> tuple[int, dict[int, str]]:
    """Decoded /ToUnicode stream → (code width in bytes, code→str map).

    Supports §9.10.3 CMaps: ``begincodespacerange`` (first range fixes
    the code width), ``beginbfchar`` pairs, ``beginbfrange`` in both
    the increment form (``<lo> <hi> <dstStart>`` — last code unit
    increments) and the array form (``<lo> <hi> [<d0> <d1> ...]``).
    """
    width = 1
    m = re.search(rb"begincodespacerange(.*?)endcodespacerange", data, re.S)
    if m:
        h = _CMAP_HEX_RE.search(m.group(1))
        if h:
            width = max(1, len(h.group(1).replace(b" ", b"")) // 2)
    mapping: dict[int, str] = {}
    for sec in re.finditer(rb"beginbfchar(.*?)endbfchar", data, re.S):
        toks = [t for t in _cmap_tokens(sec.group(1)) if t[0] == "hex"]
        if len(toks) % 2:
            raise PdfError("bfchar section has an odd token count")
        for (_, src), (_, dst) in zip(toks[0::2], toks[1::2]):
            mapping[int(src, 16)] = _utf16be(bytes.fromhex(dst.decode()))
    for sec in re.finditer(rb"beginbfrange(.*?)endbfrange", data, re.S):
        toks = list(_cmap_tokens(sec.group(1)))
        k = 0
        while k < len(toks):
            if toks[k][0] != "hex" or k + 2 >= len(toks):
                raise PdfError("malformed bfrange entry")
            lo, hi = int(toks[k][1], 16), int(toks[k + 1][1], 16)
            if hi < lo:
                raise PdfError("bfrange hi < lo")
            if toks[k + 2][0] == "[":
                k += 3
                code = lo
                while k < len(toks) and toks[k][0] == "hex":
                    mapping[code] = _utf16be(bytes.fromhex(toks[k][1].decode()))
                    code += 1
                    k += 1
                if k >= len(toks) or toks[k][0] != "]" or code != hi + 1:
                    raise PdfError("bfrange array dst count mismatch")
                k += 1
            else:
                dst_hex = toks[k + 2][1]
                dwidth = len(dst_hex) // 2
                base = int(dst_hex, 16)
                for c in range(lo, hi + 1):
                    mapping[c] = _utf16be(
                        (base + c - lo).to_bytes(dwidth, "big")
                    )
                k += 3
    return width, mapping


# ------------------------------------------------------------------
# Simple-font /Encoding (§9.6.6): /BaseEncoding + /Differences arrays.
# Precedence per §9.10.2: a /ToUnicode CMap always wins; /Encoding is
# consulted only when the font has none; a font with neither keeps the
# frozen latin-1 byte semantics (goldens bit-identical).

# Adobe Glyph List subset (public AGL 2.0): the names that occur in
# real-world /Differences arrays — Standard/WinAnsi symbolic names,
# the f-ligatures TeX's T1 encoding remaps, typographic punctuation,
# and the Latin-1/Latin-Extended accented set. Letters and digits are
# generated (AGL maps "a"→"a", "zero"→"0"). Unknown names decode to
# U+FFFD like unmapped CMap codes.
_AGL: dict[str, str] = {
    # ASCII punctuation, by its AGL name
    "space": " ", "exclam": "!", "quotedbl": '"', "numbersign": "#",
    "dollar": "$", "percent": "%", "ampersand": "&", "quotesingle": "'",
    "parenleft": "(", "parenright": ")", "asterisk": "*", "plus": "+",
    "comma": ",", "hyphen": "-", "period": ".", "slash": "/",
    "colon": ":", "semicolon": ";", "less": "<", "equal": "=",
    "greater": ">", "question": "?", "at": "@", "bracketleft": "[",
    "backslash": "\\", "bracketright": "]", "asciicircum": "^",
    "underscore": "_", "grave": "`", "braceleft": "{", "bar": "|",
    "braceright": "}", "asciitilde": "~",
    # f-ligatures (TeX T1 / OpenType smcp dumps remap these low)
    "fi": "ﬁ", "fl": "ﬂ", "ff": "ﬀ",
    "ffi": "ﬃ", "ffl": "ﬄ",
    # typographic punctuation / signs
    "emdash": "—", "endash": "–", "quoteleft": "‘",
    "quoteright": "’", "quotedblleft": "“",
    "quotedblright": "”", "quotesinglbase": "‚",
    "quotedblbase": "„", "bullet": "•", "ellipsis": "…",
    "dagger": "†", "daggerdbl": "‡", "perthousand": "‰",
    "guilsinglleft": "‹", "guilsinglright": "›",
    "guillemotleft": "«", "guillemotright": "»",
    "florin": "ƒ", "fraction": "⁄", "minus": "−",
    "multiply": "×", "divide": "÷", "plusminus": "±",
    "degree": "°", "trademark": "™", "copyright": "©",
    "registered": "®", "section": "§", "paragraph": "¶",
    "cent": "¢", "sterling": "£", "yen": "¥",
    "currency": "¤", "Euro": "€", "brokenbar": "¦",
    "dieresis": "¨", "acute": "´", "cedilla": "¸",
    "macron": "¯", "mu": "µ", "periodcentered": "·",
    "onequarter": "¼", "onehalf": "½",
    "threequarters": "¾", "onesuperior": "¹",
    "twosuperior": "²", "threesuperior": "³",
    "ordfeminine": "ª", "ordmasculine": "º",
    "logicalnot": "¬", "exclamdown": "¡",
    "questiondown": "¿", "circumflex": "ˆ", "tilde": "˜",
    "breve": "˘", "dotaccent": "˙", "ring": "˚",
    "ogonek": "˛", "hungarumlaut": "˝", "caron": "ˇ",
    "dotlessi": "ı",
    # Latin accented (AGL names are the Unicode names' legacy forms)
    "germandbls": "ß", "ae": "æ", "AE": "Æ",
    "oe": "œ", "OE": "Œ", "oslash": "ø",
    "Oslash": "Ø", "thorn": "þ", "Thorn": "Þ",
    "eth": "ð", "Eth": "Ð", "Scaron": "Š",
    "scaron": "š", "Zcaron": "Ž", "zcaron": "ž",
    "Ydieresis": "Ÿ",
}
# accented Latin letters: generate from Unicode names (AGL names are
# "<base><Accent>" e.g. eacute, Adieresis — exactly the Unicode name
# "LATIN SMALL LETTER E WITH ACUTE" re-spelled)
for _base in "AEIOUYaeiouy":
    for _acc, _ch in (
        ("grave", "̀"), ("acute", "́"), ("circumflex", "̂"),
        ("tilde", "̃"), ("dieresis", "̈"), ("ring", "̊"),
    ):
        _composed = _ud.normalize("NFC", _base + _ch)
        if len(_composed) == 1:
            _AGL.setdefault(_base + _acc, _composed)
for _base in "CcNn":
    _n = {"C": "Ç", "c": "ç", "N": "Ñ", "n": "ñ"}[_base]
    _AGL.setdefault(_base + ("cedilla" if _base in "Cc" else "tilde"), _n)
for _i, _d in enumerate(
    "zero one two three four five six seven eight nine".split()
):
    _AGL[_d] = str(_i)
for _c in "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ":
    _AGL[_c] = _c


def _glyph_char(name: str) -> str:
    """AGL name → character. ``uniXXXX`` / ``uXXXX[XX]`` decode
    directly (AGL §3 special names); unknown names → U+FFFD."""
    if re.fullmatch(r"uni[0-9A-Fa-f]{4}", name):
        return chr(int(name[3:], 16))
    if re.fullmatch(r"u[0-9A-Fa-f]{4,6}", name):
        cp = int(name[1:], 16)
        return chr(cp) if cp <= 0x10FFFF else "�"
    return _AGL.get(name, "�")


def _base_encoding_map(name: bytes | None) -> dict[int, str]:
    """Full 256-code map for a named base encoding. WinAnsi is cp1252
    (its five undefined codes → U+FFFD), MacRoman is the stdlib
    mac_roman codec; absent/unknown names keep the frozen latin-1
    identity so legacy fixtures are untouched."""
    codec = {b"WinAnsiEncoding": "cp1252", b"MacRomanEncoding": "mac_roman"}.get(
        name or b""
    )
    if codec is None:
        return {c: chr(c) for c in range(256)}
    out: dict[int, str] = {}
    for c in range(256):
        try:
            out[c] = bytes([c]).decode(codec)
        except UnicodeDecodeError:
            out[c] = "�"
    return out


def parse_encoding(enc: bytes) -> tuple[int, dict[int, str]] | None:
    """/Encoding value (a name, with or without its slash, or a
    dictionary) → (1, code→str map), or None when the value is not a
    recognized simple-font encoding (e.g. /Identity-H on a Type0 font —
    the CMap path owns those).

    §9.6.6.1: the map starts from /BaseEncoding (or the font's builtin
    — modeled as latin-1 identity, this subset's frozen default), then
    /Differences entries override: an integer sets the next code, each
    following name assigns that glyph to the code and increments."""
    enc = enc.strip(_WS)
    if not enc.startswith(b"<<"):
        # bare name form: /Encoding /WinAnsiEncoding
        name = _name(enc) or enc
        if name in (b"WinAnsiEncoding", b"MacRomanEncoding"):
            return 1, _base_encoding_map(name)
        return None
    d = _read_dict(enc)
    base = _name(d.get(b"BaseEncoding"))
    diffs = _array(d.get(b"Differences"))
    if diffs is None and base is None:
        return None  # dict carries neither key: nothing to apply
    mapping = _base_encoding_map(base)
    code = -1
    for item in diffs or ():
        if (n := _int(item)) is not None:
            code = n
        elif (glyph := _name(item)) is not None:
            if code < 0 or code > 255:
                raise PdfError("Differences name before a valid code")
            mapping[code] = _glyph_char(glyph.decode("latin-1"))
            code += 1
    return 1, mapping


def _decode_shown(raw: bytes, font: tuple[int, dict[int, str]] | None) -> str:
    """Show-string bytes → text via the current font's CMap; fonts
    without a /ToUnicode keep the frozen latin-1 byte semantics."""
    if font is None:
        return raw.decode("latin-1")
    width, mapping = font
    if width <= 1:
        return "".join(mapping.get(b, "�") for b in raw)
    if len(raw) % width:
        raise PdfError("show string not a multiple of the CMap code width")
    return "".join(
        mapping.get(int.from_bytes(raw[i : i + width], "big"), "�")
        for i in range(0, len(raw), width)
    )


def _page_fonts(
    objs: dict[int, PdfObject], res: dict[bytes, bytes], known: dict[bytes, tuple | None]
) -> dict[bytes, tuple[int, dict[int, str]] | None]:
    """Page resources → font-name → (width, cmap) | None map. The
    ``/Font`` dictionary, each font in it and its /Encoding may be
    direct or indirect. ``known`` holds the map of every font the
    document's earlier pages read, keyed by its value in ``/Font`` (its
    ``N G R``, or the dictionary written there), so a font is read, and
    its CMap parsed, once per document."""
    fonts: dict[bytes, tuple[int, dict[int, str]] | None] = {}
    for name, ref in _dict(objs, res.get(b"Font"), "font").items():
        if ref not in known:
            font = _dict(objs, ref, "font")
            tounicode, enc = font.get(b"ToUnicode"), font.get(b"Encoding")
            if _ref(tounicode) is not None:
                known[ref] = parse_tounicode(_stream(objs, tounicode, "ToUnicode"))
            else:
                # §9.10.2 fallback order: no ToUnicode → simple-font
                # /Encoding (round-5 widening); neither → frozen latin-1
                known[ref] = enc and parse_encoding(_resolve(objs, enc, "Encoding"))
        fonts[b"/" + name] = known[ref]
    return fonts


class ContentScan(NamedTuple):
    """What one pass of ``_scan_content`` reads from a content stream."""

    runs: list[tuple[float, float, str]]  # (y, x, text) per show operator
    inline: list[tuple[int, int, int, int]]  # (bi_end, id_start, data_start, ei)
    painted: list[bytes]  # the name operand of each Do, in paint order


def _scan_content(
    content: bytes,
    fonts: dict[bytes, tuple[int, dict[int, str]] | None] | None = None,
) -> ContentScan:
    """The one reader of content streams: interpret the text operators
    into (y, x, text) runs, and record the span of every inline image
    (``_inline_image_span``) and the ``/Name`` operand of every ``Do``
    in operator position.

    One loop fuses the regex scanner (``_SCAN_RE``, one C-level match
    per token) with the operator interpreter: no token list, no
    second dispatch pass. Operands go on ``stack`` and array items on
    ``arr_stack`` as ``(kind, value)`` pairs; an operator consumes the
    stack. A byte only the catch-all branch reads (a nested or
    unterminated string, a malformed token) goes through
    ``_off_grammar_token`` and the scan resumes after what it read.
    Strings, dictionaries and inline-image data are never read as
    operators, so a ``/Im0 Do`` or ``BI`` inside them paints nothing."""
    runs: list[tuple[float, float, str]] = []
    inline: list[tuple[int, int, int, int]] = []
    painted: list[bytes] = []
    x = y = 0.0
    leading = 0.0
    stack: list = []
    arr_stack: list[list] = []
    cur_font: tuple[int, dict[int, str]] | None = None
    pos, n = 0, len(content)
    scan = _SCAN_RE.finditer
    while pos < n:
        # every byte matches a branch, so the matches tile the stream;
        # a break means a skip moved pos and the scan restarts there
        for m in scan(content, pos):
            g = m.lastindex
            pos = m.end()
            if g == 1:  # whitespace
                continue
            if arr_stack:
                # inside [ … ]: build the literal exactly as the
                # tokenizer does (ops inside arrays become array items)
                if g == 5:
                    arr_stack.append([])
                elif g == 6:
                    items = arr_stack.pop()
                    if arr_stack:
                        arr_stack[-1].append(("arr", items))
                    else:
                        stack.append(("arr", items))
                elif g == 2:
                    arr_stack[-1].append(("str", _unescape(m.group(2)[1:-1])))
                elif g == 8:
                    arr_stack[-1].append(("num", float(m.group(8))))
                elif g == 7:
                    arr_stack[-1].append(("name", m.group(7)))
                elif g == 4:
                    arr_stack[-1].append(("str", _ascii_hex_decode(m.group(4)[1:])))
                elif g == 9:
                    opb = m.group(9)
                    if opb == b"BI":
                        inline.append((pos, *_inline_image_span(content, pos)))
                        pos = inline[-1][3] + 2
                        break
                    arr_stack[-1].append(("op", opb))
                elif g == 3:  # inline dict
                    pos = _scan_dict(content, m.start())[1]
                    break
                else:  # g == 10
                    tok, pos = _off_grammar_token(content, m.start())
                    arr_stack[-1].append(("str", tok))
                    break
                continue
            if g == 8:
                stack.append(("num", float(m.group(8))))
                continue
            if g == 9:
                val = m.group(9)
                if val == b"BT":
                    x = y = 0.0
                elif val == b"Td":
                    x += stack[-2][1]
                    y += stack[-1][1]
                elif val == b"TD":
                    leading = -stack[-1][1]
                    x += stack[-2][1]
                    y += stack[-1][1]
                elif val == b"Tm":
                    x, y = stack[-2][1], stack[-1][1]
                elif val == b"TL":
                    leading = stack[-1][1]
                elif val == b"T*":
                    y -= leading
                elif val == b"Tj":
                    runs.append((y, x, _decode_shown(stack[-1][1], cur_font)))
                elif val == b"'":
                    y -= leading
                    runs.append((y, x, _decode_shown(stack[-1][1], cur_font)))
                elif val == b"TJ":
                    runs.append((y, x, _tj_text(stack[-1][1], cur_font)))
                elif val == b"Tf":
                    if len(stack) >= 2 and stack[-2][0] == "name":
                        cur_font = (fonts or {}).get(stack[-2][1])
                elif val == b"Do":
                    if stack and stack[-1][0] == "name":
                        painted.append(stack[-1][1])
                elif val == b"BI":
                    inline.append((pos, *_inline_image_span(content, pos)))
                    pos = inline[-1][3] + 2
                    break
                # ET and anything else: no text-position effect
                stack.clear()
                continue
            if g == 2:
                stack.append(("str", _unescape(m.group(2)[1:-1])))
                continue
            if g == 7:
                stack.append(("name", m.group(7)))
                continue
            if g == 5:
                arr_stack.append([])
                continue
            if g == 6:
                raise IndexError("']' with no open array")
            if g == 4:
                stack.append(("str", _ascii_hex_decode(m.group(4)[1:])))
                continue
            if g == 3:  # inline dict
                pos = _scan_dict(content, m.start())[1]
                break
            # g == 10
            tok, pos = _off_grammar_token(content, m.start())
            stack.append(("str", tok))
            break
    return ContentScan(runs, inline, painted)


def _tj_text(items: list, cur_font) -> str:
    parts: list[str] = []
    for kind, val in items:
        if kind == "str":
            parts.append(_decode_shown(val, cur_font))
        elif kind == "num" and val <= TJ_SPACE_KERN:
            parts.append(" ")
    return "".join(parts)


def _runs_to_text(runs: list[tuple[float, float, str]]) -> str:
    """Reading-order reconstruction: group runs into lines by y
    (tolerance LINE_Y_TOL), order lines top-to-bottom, runs within a
    line left-to-right (the north-star y/x coordinate clustering)."""
    if not runs:
        return ""
    srt = sorted(runs, key=lambda r: (-r[0], r[1]))
    lines: list[list[tuple[float, float, str]]] = []
    cur_y: float | None = None
    for r in srt:
        if cur_y is None or abs(r[0] - cur_y) > LINE_Y_TOL:
            lines.append([r])
            cur_y = r[0]
        else:
            lines[-1].append(r)
    return "\n".join("".join(t for _, _, t in sorted(ln, key=lambda r: r[1])) for ln in lines)


_MAX_OBJSTM_N = 65536  # sanity cap: /N beyond this is a crafted header


def _expand_object_streams(objs: dict[int, PdfObject], obj_pos: dict[int, int]) -> None:
    """Add the objects of every /Type /ObjStm container to the table,
    each read once (an object stream holds no streams). The stream
    starts with N (objnum, offset) integer pairs; offsets are relative
    to /First (PDF 32000 §7.5.7). Precedence between an ObjStm-compressed
    definition and a top-level one of the same object number follows
    REVISION ORDER (round-4 advice): the definition whose byte position
    in the file is later wins — for inner objects that position is the
    CONTAINER ObjStm's — matching the later-definition-wins rule q60
    pins for incremental updates (an update that moves an object into
    an ObjStm supersedes the older top-level body, and vice versa)."""
    extra: dict[int, tuple[int, bytes]] = {}  # num -> (container_pos, body)
    for cnum, obj in list(objs.items()):
        if _name(obj.head.get(b"Type")) != b"ObjStm":
            continue
        n, first = _int(obj.head.get(b"N")), _int(obj.head.get(b"First"))
        if n is None or first is None or min(n, first) < 0:
            raise PdfError("ObjStm missing /N or /First")
        if n > _MAX_OBJSTM_N:
            raise PdfError("ObjStm /N exceeds sanity cap")
        data = _apply_filters(obj.head, _payload(objs, obj))
        header = data[:first].split()
        if len(header) < 2 * n:
            raise PdfError("ObjStm header shorter than /N pairs")
        try:
            pairs = [
                (int(header[2 * i]), int(header[2 * i + 1])) for i in range(n)
            ]
        except ValueError as e:
            raise PdfError("ObjStm header not integer pairs") from e
        cpos = obj_pos.get(cnum, -1)
        for i, (onum, off) in enumerate(pairs):
            end = first + pairs[i + 1][1] if i + 1 < n else len(data)
            if not first + off <= end <= len(data):
                raise PdfError("ObjStm offset out of range")
            prev = extra.get(onum)
            if prev is None or cpos >= prev[0]:
                extra[onum] = (cpos, data[first + off : end])
    for num, (cpos, body) in extra.items():
        if num not in objs or cpos > obj_pos.get(num, -1):
            objs[num] = PdfObject(body, _read_dict(body))


def _page_content(objs: dict[int, PdfObject], page: dict[bytes, bytes]) -> bytes | None:
    """Resolve a page's /Contents — one stream or an array of them,
    direct or indirect; array parts are decoded independently and joined
    with a newline (§7.7.3.3: the division between streams happens only
    at token boundaries)."""
    contents = page.get(b"Contents")
    if contents is None:
        return None
    parts = _array(_resolve(objs, contents, "contents"))
    if parts is None:  # one stream
        parts = [contents]
    return b"\n".join(_stream(objs, part, "contents") for part in parts)


_MAX_TREE_DEPTH = 64


def _open_document(data: bytes, password: bytes | str) -> dict[int, PdfObject]:
    """The object table of a PDF, decrypted with ``password`` (str is
    encoded UTF-8) and with its object streams expanded."""
    if not data.startswith(b"%PDF-"):
        raise PdfError("not a PDF (magic bytes)")
    if isinstance(password, str):
        password = password.encode("utf-8")
    objs, obj_pos = _parse_objects(data)
    _decrypt_in_place(data, objs, password)
    _expand_object_streams(objs, obj_pos)
    return objs


def _collect_leaf_pages(
    objs: dict[int, PdfObject], num: int, visited: set, depth: int
) -> list[dict[bytes, bytes]]:
    """Depth-first walk of a (possibly nested) page tree → the entries
    of each leaf page: /Pages nodes recurse into /Kids in order,
    anything else is a leaf page. Cycle and depth guards keep
    adversarial trees in the error column instead of hanging an
    executor."""
    if depth > _MAX_TREE_DEPTH:
        raise PdfError("page tree too deep")
    if num in visited:
        raise PdfError("page tree cycle")
    visited.add(num)
    if num not in objs:
        raise PdfError("dangling page ref")
    node = objs[num].head
    if _name(node.get(b"Type")) != b"Pages":
        return [node]
    kids = _array(_resolve(objs, node.get(b"Kids"), "Kids"))
    if kids is None:
        raise PdfError("no /Kids")
    leaves: list[dict[bytes, bytes]] = []
    for kid in kids:
        if (kid_num := _ref(kid)) is not None:
            leaves += _collect_leaf_pages(objs, kid_num, visited, depth + 1)
    return leaves


def extract_pdf_pages(
    data: bytes, password: bytes | str = b"", page_ocr=None
) -> list[str]:
    """bytes → ordered per-page text (1-based page order list).

    Page order is the depth-first /Kids order from the root /Pages node
    (nested intermediate /Pages nodes supported). Empty page text is
    legal and preserved (golden analog:
    ``/root/reference/3_Extracted_Texts/Synopsis/page_1.txt`` is 0 bytes).
    ``password``: user password for encrypted documents (empty default;
    str is encoded UTF-8); a wrong password is a PdfError.

    ``page_ocr`` (opt-in scanned-page fallback, round 5): a callable
    ``list[image-row dict] → str | None`` (``core.scanocr.
    ocr_scanned_images``) invoked ONLY when a page's text operators
    yield empty text AND the page paints image XObjects — the
    reference's scan route (``ocr_engine.py:13-102``) re-expressed over
    the engine's frozen raster. The text layer always wins; ``None``
    from the hook leaves the page empty (a decorative cover image is
    not an error); an UNSUPPORTED image codec on an OCR-candidate page
    (JPX/JBIG2) raises PdfError — the honest disclosed boundary.
    Default ``None`` is bit-identical to the frozen goldens.
    """
    objs = _open_document(data, password)
    root_num = _root_pages_num(objs)
    if root_num is None:
        raise PdfError("no /Pages object")
    texts: list[str] = []
    fonts: dict[bytes, tuple | None] = {}  # each font's map, read once
    for page in _collect_leaf_pages(objs, root_num, set(), 0):
        content = _page_content(objs, page)
        if content is None:
            texts.append("")
            continue
        res = _dict(objs, page.get(b"Resources"), "resources")
        scan = _scan_content(content, _page_fonts(objs, res, fonts))
        # frozen spec (SPEC item 2): \x02 is stripped from page text
        text = _runs_to_text(scan.runs).replace("\x02", "")
        if page_ocr is not None and not text:
            imgs = _page_painted_images(objs, res, scan.painted)
            if imgs:
                ocr_text = page_ocr(imgs)
                if ocr_text:
                    text = ocr_text.replace("\x02", "")
        texts.append(text)
    return texts


def extract_pdf_pages_safe(
    data: bytes, password: bytes | str = b"", page_ocr=None
) -> tuple[list[str] | None, str | None]:
    """Total version of ``extract_pdf_pages``: never raises.

    Row-level error tolerance (the reference catches ``Exception`` per
    file, ``/root/reference/2_OpenCV_OCR/main.py:77-78``): any exception
    from malformed-but-magic-valid input (missing operands, bad operand
    types, truncated objects) becomes an error string instead of killing
    the executor task — with deterministic task retries, an unguarded
    raise would make the whole job permanently unable to finish on that
    input. Returns ``(pages, None)`` or ``(None, error)``.
    """
    try:
        return extract_pdf_pages(data, password, page_ocr), None
    except Exception as e:  # noqa: BLE001 — row-level tolerance by design
        return None, pdf_error_text(e)


def pdf_error_text(e: Exception) -> str:
    """The error text of a rejected PDF: a ``PdfError``'s message, else
    ``unexpected:<class>`` (malformed-but-magic-valid input, e.g. an
    operator missing its operands)."""
    return str(e) if isinstance(e, PdfError) else f"unexpected:{type(e).__name__}"


def _image_row(obj: int, head: dict[bytes, bytes], raw: bytes) -> dict:
    """One ``extract_pdf_images`` row of the image whose dictionary
    entries are ``head`` and whose undecoded samples are ``raw``. A
    ``/DCTDecode`` last in the chain is left undone (``codec='jpeg'``,
    the JPEG bytes); any other chain decodes fully (``codec='raw'``)."""
    width, height = _int(head.get(b"Width")), _int(head.get(b"Height"))
    if width is None or height is None:
        raise PdfError(
            f"image object {obj}: missing /Width or /Height" if obj
            else "inline image missing /W or /H"
        )
    bpc = _int(head.get(b"BitsPerComponent"))
    colorspace = _name(head.get(b"ColorSpace")) or b"DeviceGray"
    chain = _filter_chain(head)
    codec = "jpeg" if chain[-1:] == [b"DCTDecode"] else "raw"
    return {
        "obj": obj,
        "width": width,
        "height": height,
        "bpc": 8 if bpc is None else bpc,
        "colorspace": _ABBREVIATED_NAMES.get(colorspace, colorspace).decode("latin-1"),
        "codec": codec,
        "data": _apply_filters(head, raw, len(chain) - (codec == "jpeg")),
    }


def _image_row_of(objs: dict[int, PdfObject], num: int) -> dict | None:
    """Object ``num`` → image row, or None when it is not a /Subtype
    /Image XObject. Shared by the document-wide image sweep and the
    scanned-page OCR fallback's painted-image lookup."""
    obj = objs[num]
    if _name(obj.head.get(b"Subtype")) != b"Image":
        return None
    return _image_row(num, obj.head, _payload(objs, obj))


def _inline_image_row(content: bytes, span: tuple[int, int, int, int]) -> dict:
    """The image row (obj=0) of one ``BI … ID <data> EI`` whose
    ``_scan_content`` span is ``span``. Its key/value run is read as a
    dictionary and the abbreviated keys of §8.9.7 Table 93 are expanded
    to their full forms, so the one filter pipeline (``_apply_filters``,
    incl. CCITT G4/G3-1D and predictor handling) serves XObjects and
    inline images alike."""
    bi_end, id_start, data_start, ei = span
    head = {
        _ABBREVIATED_KEYS.get(k, k): v
        for k, v in _read_dict(b"<<" + content[bi_end:id_start] + b">>").items()
    }
    # binary payload convention: one whitespace after ID, one before
    # EI — strip the trailing separator the span includes
    raw = content[data_start:ei]
    if raw[-1:] in (b" ", b"\r", b"\n", b"\t"):
        raw = raw[:-1]
    return _image_row(0, head, raw)


def _page_painted_images(
    objs: dict[int, PdfObject], res: dict[bytes, bytes], painted: list[bytes]
) -> list[dict]:
    """Image XObjects a page actually PAINTS (``painted``: the ``Do``
    operands ``_scan_content`` read from its content stream), as image
    rows in first-paint order — the candidate set for the scanned-page
    OCR fallback. ``res``: the page's /Resources entries; names painted
    but absent from /XObject, and non-image XObjects, are skipped."""
    xobjects = _dict(objs, res.get(b"XObject"), "XObject")
    nums = [_ref(xobjects.get(nm[1:])) for nm in dict.fromkeys(painted)]
    rows = [_image_row_of(objs, num) for num in nums if num in objs]
    return [row for row in rows if row is not None]


def extract_pdf_images(data: bytes, password: bytes | str = b"") -> list[dict]:
    """All ``/Subtype /Image`` XObjects in the document, in object-number
    order, then every inline image (§8.9.7 ``BI … ID <data> EI``) of the
    page content streams, in page and stream order (``obj=0`` marks
    the inline origin) → list of ``{"obj", "width", "height", "bpc",
    "colorspace", "codec", "data"}``.

    Inline images are found by ``_scan_content``, the one content-stream
    reader the text path uses (run without fonts), so a ``BI`` inside a
    string, a dictionary or a name such as ``/BI`` is never read as an
    image, and a content stream that reader rejects raises the same
    error ``extract_pdf_pages`` raises on it.

    ``/DCTDecode`` (embedded JPEG — the dominant real-world case, PDF
    32000 §7.4.8) must be last in the chain; any preceding transport
    filters (ASCII85/Hex) are applied and the JPEG bytes are returned
    undecoded with ``codec='jpeg'`` — pixel decode belongs to the media
    codec (``core/jpegcodec.py``), mirroring how the engine's other
    media columns stay opaque bytes until a decode operator runs.
    Fully-supported chains (Flate etc., with predictors) decode to raw
    samples with ``codec='raw'`` — including ``/CCITTFaxDecode`` in all
    three /K regimes (``core/ccittfax.py``), which decodes to packed
    1-bpc rows. Unsupported image codecs (JPXDecode, JBIG2Decode)
    raise ``PdfError`` — the honest boundary, mapped to the row's error
    column by callers.

    Reference parity: the reference rasterizes whole pages via fitz and
    never extracts embedded images (``core_document_processing.py``);
    this is the Spark-first generalization that feeds them to
    ``operators/multimodal.py`` as first-class binary columns.
    """
    objs = _open_document(data, password)
    rows = (_image_row_of(objs, num) for num in sorted(objs))
    out = [row for row in rows if row is not None]
    root = _root_pages_num(objs)
    if root is not None:
        for page in _collect_leaf_pages(objs, root, set(), 0):
            content = _page_content(objs, page)
            if content:
                out.extend(_inline_image_row(content, sp) for sp in _scan_content(content).inline)
    return out


def _root_pages_num(objs: dict[int, PdfObject]) -> int | None:
    """The root /Pages object number: the first catalog's /Pages, else
    (no catalog, or one without a /Pages ref) the first /Type /Pages
    node in file order."""
    for obj in objs.values():
        if _name(obj.head.get(b"Type")) == b"Catalog":
            if (root := _ref(obj.head.get(b"Pages"))) is not None:
                return root
            break
    return next((n for n, o in objs.items() if _name(o.head.get(b"Type")) == b"Pages"), None)
