"""Deterministic PDF text extraction (pure Python, no dependencies).

The Spark-first replacement for the reference's per-image OCR hop
(``/root/reference/2_OpenCV_OCR/ocr_engine.py:13-102``): instead of
rasterize→Tesseract/Gemini, decode the PDF text objects directly and
reconstruct reading order by y-then-x sort — the deterministic
equivalent the reference itself prefers when a text layer exists
(``/root/reference/2_OpenCV_OCR/core_document_processing.py:71-79``).

Supported subset (defined by ``pdfgen``, SURVEY.md §7.3.2, widened in
round 4 toward the reference's accept-any-upload behavior,
``core_document_generator.py:122``): Tj/TJ/' show operators with
literal AND hex strings (``<48656C6C6F> Tj``), Td/TD/Tm/T*/TL
positioning (translation-only matrices), FlateDecode or identity
content streams with ``/Filter`` given as a name OR a filter array
(``/Filter [/FlateDecode]``), recursive page trees (nested ``/Kids``
with cycle + depth guards), inline dictionaries in content streams
(skipped, e.g. BDC property lists).

Round-4 notch 2 (the three features that dominate real-world uploads
beyond notch 1):
- ``/Contents`` ARRAYS (``/Contents [4 0 R 9 0 R]``, PDF 32000
  §7.7.3.3): the parts are decoded independently and logically
  concatenated with a newline — token boundaries between parts are
  the emitter's responsibility, as in the spec.
- OBJECT STREAMS (``/Type /ObjStm``, §7.5.7): compressed containers
  holding non-stream objects (catalog, page dicts, fonts). Expanded
  eagerly before the page-tree walk; a top-level definition of the
  same object number wins (classic-xref precedence in hybrid files).
- ``/ToUnicode`` CMAPS with ``Tf`` font tracking (§9.10.3): show
  strings are decoded through the CURRENT font's CMap —
  ``begincodespacerange`` fixes the code width (1 or 2 bytes),
  ``beginbfchar`` pairs and ``beginbfrange`` (increment AND array
  dst forms) populate the map; unmapped codes become U+FFFD. Fonts
  without a CMap keep the frozen latin-1 byte semantics, so notch-0/1
  fixtures are bit-identical.

Raises ``PdfError`` on malformed input; callers map that to an
``error`` column (row-level tolerance, ``main.py:77-78`` analog).
"""

from __future__ import annotations

import re
import unicodedata as _ud
import zlib

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
_KIDS_RE = re.compile(rb"/Kids\s*\[([^\]]*)\]")
_REF_RE = re.compile(rb"(\d+)\s+\d+\s+R")
_CONTENTS_RE = re.compile(rb"/Contents\s+(\d+)\s+\d+\s+R")
_LENGTH_RE = re.compile(rb"/Length\s+(\d+)")


def _parse_objects(data: bytes) -> tuple[dict[int, bytes], dict[int, int]]:
    """Map object number → raw object body (dict + optional stream),
    plus object number → file offset of its WINNING (last) definition.
    Later definitions win — the saved-over-file semantics of
    incremental updates (§7.5.6); offsets let ObjStm expansion apply
    the same revision ordering (round-4 advice)."""
    objs: dict[int, bytes] = {}
    pos: dict[int, int] = {}
    for m in _OBJ_RE.finditer(data):
        num = int(m.group(1))
        end = data.find(b"endobj", m.end())
        if end == -1:
            raise PdfError(f"object {num}: missing endobj")
        objs[num] = data[m.end() : end]
        pos[num] = m.start()
    if not objs:
        raise PdfError("no objects found")
    return objs, pos


_FILTER_RE = re.compile(rb"/Filter\s*(\[[^\]]*\]|/[A-Za-z0-9]+)")
_FILTER_NAME_RE = re.compile(rb"/([A-Za-z0-9]+)")


def _filter_chain(head: bytes) -> list[bytes]:
    """The stream's filter names in application order — handles both the
    name form (``/Filter /FlateDecode``) and the array form
    (``/Filter [/FlateDecode]``, PDF 32000 §7.3.8)."""
    fm = _FILTER_RE.search(head)
    if fm is None:
        return []
    return _FILTER_NAME_RE.findall(fm.group(1))


# ------------------------------------------------- stream filters (§7.4)

_WS_SET = frozenset(b" \t\r\n\f\x00")


def _ascii_hex_decode(data: bytes) -> bytes:
    """§7.4.2 ASCIIHexDecode: hex pairs, whitespace ignored, '>' is EOD,
    odd length pads a zero nibble."""
    eod = data.find(b">")
    if eod != -1:
        data = data[:eod]
    hx = bytes(b for b in data if b not in _WS_SET)
    if not re.fullmatch(rb"[0-9A-Fa-f]*", hx):
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
        if b in _WS_SET:
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


# ------------------------------------------- predictors (§7.4.4.4)

_INT_PARM_RE = {
    k: re.compile(rb"/" + k + rb"\s+(-?\d+)")
    for k in (b"Predictor", b"Columns", b"Colors", b"BitsPerComponent", b"K", b"Rows")
}
_BLACKIS1_RE = re.compile(rb"/BlackIs1\s+(true|false)")


def _scan_dict(data: bytes, start: int) -> tuple[bytes, int]:
    """Return (dict bytes incl. << >>, end index); ``start`` at '<<'."""
    depth, i = 0, start
    while i < len(data) - 1:
        if data[i : i + 2] == b"<<":
            depth += 1
            i += 2
        elif data[i : i + 2] == b">>":
            depth -= 1
            i += 2
            if depth == 0:
                return data[start:i], i
        else:
            i += 1
    raise PdfError("unterminated dictionary")


def _decode_parms(head: bytes, n_filters: int) -> list[dict | None]:
    """Per-filter decode-parameter dicts from ``/DecodeParms`` (or the
    ``/DP`` abbreviation) — scalar dict form applies to the single
    filter; array form is index-aligned with the /Filter array, with
    ``null`` entries for filters that take none (§7.3.8.2)."""
    m = re.search(rb"/(?:DecodeParms|DP)\b", head)
    out: list[dict | None] = [None] * n_filters
    if m is None:
        return out
    i = m.end()
    while i < len(head) and head[i : i + 1] in b" \t\r\n":
        i += 1
    def parse_one(d: bytes) -> dict:
        out = {
            k.decode(): int(r.search(d).group(1))
            for k, r in _INT_PARM_RE.items()
            if r.search(d)
        }
        bm = _BLACKIS1_RE.search(d)
        if bm is not None:
            out["BlackIs1"] = 1 if bm.group(1) == b"true" else 0
        return out
    if head[i : i + 2] == b"<<":
        d, _ = _scan_dict(head, i)
        if n_filters:
            out[0] = parse_one(d)
        return out
    if head[i : i + 1] == b"[":
        idx = 0
        i += 1
        while i < len(head) and idx < n_filters:
            if head[i : i + 2] == b"<<":
                d, i = _scan_dict(head, i)
                out[idx] = parse_one(d)
                idx += 1
            elif head[i : i + 4] == b"null":
                idx += 1
                i += 4
            elif head[i : i + 1] == b"]":
                break
            else:
                i += 1
    return out


def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    return b if pb <= pc else c


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
        out = bytearray(data)
        for rs in range(0, len(out), rowlen):
            end = min(rs + rowlen, len(out))
            for i in range(rs + bpp, end):
                out[i] = (out[i] + out[i - bpp]) & 0xFF
        return bytes(out)
    if 10 <= pred <= 15:
        out = bytearray()
        prev = bytes(rowlen)
        i = 0
        while i < len(data):
            ft = data[i]
            row = bytearray(data[i + 1 : i + 1 + rowlen])
            i += 1 + len(row)
            if ft == 1:  # Sub
                for j in range(bpp, len(row)):
                    row[j] = (row[j] + row[j - bpp]) & 0xFF
            elif ft == 2:  # Up
                for j in range(len(row)):
                    row[j] = (row[j] + prev[j]) & 0xFF
            elif ft == 3:  # Average
                for j in range(len(row)):
                    left = row[j - bpp] if j >= bpp else 0
                    row[j] = (row[j] + (left + prev[j]) // 2) & 0xFF
            elif ft == 4:  # Paeth
                for j in range(len(row)):
                    left = row[j - bpp] if j >= bpp else 0
                    c = prev[j - bpp] if j >= bpp else 0
                    row[j] = (row[j] + _paeth(left, prev[j], c)) & 0xFF
            elif ft != 0:
                raise PdfError(f"bad PNG predictor filter tag {ft}")
            out += row
            prev = bytes(row)
        return bytes(out)
    raise PdfError(f"unsupported predictor {pred}")


def _raw_stream(body: bytes) -> tuple[bytes, bytes]:
    """(dict head, undecoded stream payload) of an object body."""
    sm = re.search(rb"stream\r?\n", body)
    if sm is None:
        raise PdfError("contents object has no stream")
    head = body[: sm.start()]
    lm = _LENGTH_RE.search(head)
    if lm is None:
        raise PdfError("stream missing /Length")
    start = sm.end()
    return head, body[start : start + int(lm.group(1))]


def _apply_filters(
    head: bytes,
    data: bytes,
    chain: list[bytes] | None = None,
    parms: list[dict | None] | None = None,
) -> bytes:
    """Run the declared decode chain (with per-filter predictors) over
    a raw stream payload. Callers that TRIM the chain (e.g. image
    extraction stopping before DCTDecode) must pass the matching
    ``parms`` slice — re-deriving alignment from the head against a
    shortened chain would apply array-form /DecodeParms to the wrong
    filter (round-4 advice)."""
    if chain is None:
        chain = _filter_chain(head)
    if parms is None:
        parms = _decode_parms(head, len(chain))
    if len(parms) != len(chain):
        raise PdfError("DecodeParms/Filter arity mismatch")
    for name, parm in zip(chain, parms):
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


def _stream_data(body: bytes) -> bytes:
    """Extract and decode the stream payload of an object body."""
    head, data = _raw_stream(body)
    return _apply_filters(head, data)


# ------------------------- standard security handler (§7.6.3, RC4)

# §7.6.3.3 Table 21 padding string (32 bytes, spec-fixed constant)
_PAD = bytes(
    [0x28, 0xBF, 0x4E, 0x5E, 0x4E, 0x75, 0x8A, 0x41, 0x64, 0x00, 0x4E, 0x56,
     0xFF, 0xFA, 0x01, 0x08, 0x2E, 0x2E, 0x00, 0xB6, 0xD0, 0x68, 0x3E, 0x80,
     0x2F, 0x0C, 0xA9, 0xFE, 0x64, 0x53, 0x69, 0x7A]
)
_ENCRYPT_REF_RE = re.compile(rb"/Encrypt\s+(\d+)\s+\d+\s+R")
_ID_RE = re.compile(rb"/ID\s*\[\s*<([0-9A-Fa-f]*)>")
_HEXSTR_RE = re.compile(rb"<([0-9A-Fa-f \r\n]*)>")


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
    import hashlib

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
    import hashlib

    if r == 2:
        return rc4(key, _PAD)
    h = hashlib.md5(_PAD + id0).digest()
    u = rc4(key, h)
    for i in range(1, 20):
        u = rc4(bytes(b ^ i for b in key), u)
    return u  # first 16 bytes significant; /U pads to 32 arbitrarily


def _object_key(key: bytes, num: int, gen: int = 0) -> bytes:
    """§7.6.2 Algorithm 1: per-object RC4 key."""
    import hashlib

    h = hashlib.md5(
        key + num.to_bytes(3, "little") + gen.to_bytes(2, "little")
    ).digest()
    return h[: min(len(key) + 5, 16)]


def _object_key_aes(key: bytes, num: int, gen: int = 0) -> bytes:
    """§7.6.2 Algorithm 1 for AESV2: the per-object md5 additionally
    absorbs the spec constant ``sAlT`` (0x73416C54)."""
    import hashlib

    h = hashlib.md5(
        key + num.to_bytes(3, "little") + gen.to_bytes(2, "little") + b"sAlT"
    ).digest()
    return h[: min(len(key) + 5, 16)]


def _int_entry(head: bytes, name: bytes, default: int | None = None) -> int:
    m = re.search(rb"/" + name + rb"\s+(-?\d+)", head)
    if m is None:
        if default is None:
            raise PdfError(f"encrypt dict missing /{name.decode()}")
        return default
    return int(m.group(1))


def _str_entry(body: bytes, name: bytes) -> bytes:
    """A string entry (/O or /U) in literal or hex form."""
    m = re.search(rb"/" + name + rb"\s*(\(|<)", body)
    if m is None:
        raise PdfError(f"encrypt dict missing /{name.decode()}")
    if m.group(1) == b"<":
        hm = _HEXSTR_RE.match(body, m.end() - 1)
        if hm is None:
            raise PdfError(f"bad hex string for /{name.decode()}")
        hx = re.sub(rb"\s", b"", hm.group(1))
        return bytes.fromhex(hx.decode("ascii"))
    # literal string with PDF escapes
    i = m.end()
    depth, out = 1, bytearray()
    while i < len(body) and depth:
        c = body[i]
        if c == 0x5C and i + 1 < len(body):  # backslash escape
            nxt = body[i + 1]
            esc = {0x6E: 10, 0x72: 13, 0x74: 9, 0x62: 8, 0x66: 12,
                   0x28: 40, 0x29: 41, 0x5C: 92}
            if nxt in esc:
                out.append(esc[nxt])
                i += 2
                continue
            if 0x30 <= nxt <= 0x37:  # octal
                oct_s = body[i + 1 : i + 4]
                k = 1
                while k < 3 and k < len(oct_s) and 0x30 <= oct_s[k] <= 0x37:
                    k += 1
                out.append(int(oct_s[:k], 8) & 0xFF)
                i += 1 + k
                continue
            out.append(nxt)
            i += 2
            continue
        if c == 0x28:
            depth += 1
        elif c == 0x29:
            depth -= 1
            if depth == 0:
                break
        out.append(c)
        i += 1
    return bytes(out)


def _encrypt_ref_num(data: bytes, objs: dict[int, bytes]) -> int | None:
    """Object number of the /Encrypt dictionary, or None.

    Only TRAILER dictionaries (classic ``trailer`` keyword) and XRef
    stream dictionary heads may carry /Encrypt (§7.5.5, §7.5.8.2) —
    grepping the whole file would take the decrypt path on an
    unencrypted PDF whose uncompressed content stream merely contains
    the text ``/Encrypt N 0 R`` (round-4 advice)."""
    if b"/Encrypt" not in data:  # fast path: unencrypted documents
        return None
    for m in re.finditer(rb"trailer\b", data):
        lt = data.find(b"<<", m.end(), m.end() + 64)
        if lt < 0:
            continue
        try:
            d, _ = _scan_dict(data, lt)
        except PdfError:
            continue
        em = _ENCRYPT_REF_RE.search(d)
        if em is not None:
            return int(em.group(1))
    for body in objs.values():
        head_end = body.find(b"stream")
        head = body if head_end < 0 else body[:head_end]
        if b"/XRef" in head and re.search(rb"/Type\s*/XRef\b", head):
            em = _ENCRYPT_REF_RE.search(head)
            if em is not None:
                return int(em.group(1))
    return None


def _decrypt_in_place(data: bytes, objs: dict[int, bytes], password: bytes = b"") -> None:
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
    enc_num = _encrypt_ref_num(data, objs)
    if enc_num is None:
        return
    enc = objs.get(enc_num)
    if enc is None:
        raise PdfError("trailer /Encrypt references a missing object")
    if b"/Standard" not in enc:
        raise PdfError("unsupported security handler")
    v = _int_entry(enc, b"V", 0)
    r = _int_entry(enc, b"R")
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
        import hashlib as _hl

        from pdf_to_text_spark.core.aescipher import cbc_decrypt_nopad, pdf_hash_2b

        hfn = (
            pdf_hash_2b
            if r == 6
            else (lambda pw, salt, udata: _hl.sha256(pw + salt + udata).digest())
        )
        u_entry = _str_entry(enc, b"U")
        if len(u_entry) < 48:
            raise PdfError("AES-256 /U entry too short")
        vsalt, ksalt = u_entry[32:40], u_entry[40:48]
        if hfn(password, vsalt, b"") == u_entry[:32]:
            ue = _str_entry(enc, b"UE")
            if len(ue) < 32:
                raise PdfError("AES-256 /UE entry too short")
            file_key = cbc_decrypt_nopad(hfn(password, ksalt, b""), bytes(16), ue[:32])
            _decrypt_streams(objs, enc_num, file_key, aes=True, per_object=False)
            return
        # §7.6.4.4.10/11: the same supplied password may be the OWNER
        # password — /O = hash || validation salt || key salt, with the
        # full 48-byte /U absorbed as udata; /OE wraps the same file key
        # (round-5: closes the owner-password-only boundary).
        o_entry = _str_entry(enc, b"O")
        if len(o_entry) >= 48 and hfn(
            password, o_entry[32:40], u_entry[:48]
        ) == o_entry[:32]:
            oe = _str_entry(enc, b"OE")
            if len(oe) < 32:
                raise PdfError("AES-256 /OE entry too short")
            file_key = cbc_decrypt_nopad(
                hfn(password, o_entry[40:48], u_entry[:48]), bytes(16), oe[:32]
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
        cfm = re.search(rb"/CFM\s*/(\w+)", enc)
        if cfm is None:
            raise PdfError("encryption /V 4 without a /CFM crypt filter")
        method = cfm.group(1)
        if method == b"AESV2":
            aes = True
        elif method != b"V2":
            raise PdfError(
                f"unsupported crypt filter /CFM /{method.decode('latin-1')}"
            )
    elif v not in (1, 2):
        raise PdfError(f"unsupported encryption /V {v}")
    # top-level /Length is in BITS; a /V 4 dict's /CF sub-dictionary may
    # carry its own /Length IN BYTES (e.g. /StdCF << /Length 16 >>) and
    # may precede the top-level entry — mask it out before matching so
    # the crypt-filter byte count is never parsed as bits (round-4
    # advice). /V 4 defaults to 128 bits when the top-level entry is
    # absent (§7.6.1 Table 20).
    enc_top = enc
    cfm_dict = re.search(rb"/CF\s*<<", enc)
    if cfm_dict is not None:
        try:
            d, end_i = _scan_dict(enc, cfm_dict.end() - 2)
            enc_top = enc[: cfm_dict.start()] + b" " * (end_i - cfm_dict.start()) + enc[end_i:]
        except PdfError:
            pass
    key_len = _int_entry(enc_top, b"Length", 128 if v == 4 else 40) // 8
    o_entry = _str_entry(enc, b"O")
    p = _int_entry(enc, b"P")
    idm = _ID_RE.search(data)
    id0 = bytes.fromhex(idm.group(1).decode("ascii")) if idm else b""
    u_entry = _str_entry(enc, b"U")
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
        import hashlib

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
    objs: dict[int, bytes], enc_num: int, key: bytes, *, aes: bool, per_object: bool
) -> None:
    """Decrypt every top-level stream payload in place. ``per_object``
    applies §7.6.2 Algorithm 1 key derivation (RC4/AESV2); AES-256
    (AESV3) uses the file key directly. XRef streams are exempt
    (§7.5.8.2); AES payloads are 16-byte IV || CBC ciphertext and the
    head's /Length is rewritten since the plaintext is shorter."""
    for num, body in objs.items():
        if num == enc_num:
            continue
        sm = re.search(rb"stream\r?\n", body)
        if sm is None:
            continue
        head = body[: sm.start()]
        if re.search(rb"/Type\s*/XRef\b", head):
            continue  # §7.5.8.2: cross-reference streams are never encrypted
        lm = _LENGTH_RE.search(head)
        if lm is None:
            continue
        start, ln = sm.end(), int(lm.group(1))
        payload = body[start : start + ln]
        if aes:
            from pdf_to_text_spark.core.aescipher import cbc_decrypt

            okey = _object_key_aes(key, num) if per_object else key
            if len(payload) < 32:
                raise PdfError(f"object {num}: AES stream too short")
            try:
                plain = cbc_decrypt(okey, payload[:16], payload[16:])
            except ValueError as e:
                raise PdfError(f"object {num}: AES decrypt failed: {e}") from e
            new_head = _LENGTH_RE.sub(
                b"/Length " + str(len(plain)).encode(), head, count=1
            )
            objs[num] = (
                new_head + body[sm.start() : start] + plain + body[start + ln :]
            )
        else:
            objs[num] = (
                body[:start] + rc4(_object_key(key, num), payload) + body[start + ln :]
            )


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


_NAME_RE = re.compile(rb"/[^\s()<>\[\]/]*")
_NUM_RE = re.compile(rb"[-+]?\d*\.?\d+")
_OP_RE = re.compile(rb"[A-Za-z'\"*]+")
_WS_BYTES = frozenset(b" \t\r\n\f\x00")
_WS_RUN_RE = re.compile(rb"[ \t\r\n\f\x00]+")
_STR_SPECIAL_RE = re.compile(rb"[\\()]")


class _FastBail(Exception):
    """Internal: the fast scanner met syntax it does not cover — retry
    the stream with the reference tokenizer."""


# one alternation, ordered EXACTLY like _tokenize_slow's branch ladder
# so the fused scanner segments a stream as the reference tokenizer does.
# Group 2 is possessive so a nested-paren or unterminated string fails in
# linear time and bails; a backtracking group would try 2^n splits of
# the run before the paren (ReDoS)
_SCAN_RE = re.compile(
    rb"([ \t\r\n\f\x00]+)"  # 1 whitespace run
    rb"|(\((?:[^\\()]++|\\.)*+\))"  # 2 literal string, no nested parens
    rb"|(<<)"  # 3 inline dictionary open
    rb"|(<[0-9A-Fa-f \t\r\n\f\x00]*>)"  # 4 hex string
    rb"|(\[)"  # 5
    rb"|(\])"  # 6
    rb"|(/[^\s()<>\[\]/]*)"  # 7 name
    rb"|([-+]?\d*\.?\d+)"  # 8 number
    rb"|([A-Za-z'\"*]+)",  # 9 operator
    re.S,
)


def _skip_inline_dict(content: bytes, j: int) -> int:
    """Skip a balanced ``<< … >>`` starting just after the opening
    ``<<`` at ``j``; returns the position after the closing ``>>``."""
    depth, n = 1, len(content)
    while j < n and depth:
        if content[j : j + 2] == b"<<":
            depth += 1
            j += 2
        elif content[j : j + 2] == b">>":
            depth -= 1
            j += 2
        else:
            j += 1
    if depth:
        raise PdfError("unterminated inline dictionary")
    return j


def _skip_inline_image(content: bytes, end_of_bi: int) -> int:
    """§8.9.7 inline image: skip ``<pairs> ID <binary> EI`` starting
    after the BI operator; returns the position after EI. The binary
    payload is NOT token syntax — without this skip it would tokenize
    as garbage (or fake text). Data starts one whitespace byte after
    ID; EI must be delimiter-bounded on both sides."""
    idm = re.compile(rb"\bID[\r\n ]").search(content, end_of_bi)
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
            break
        j += 2
    return j + 2


def _tokenize_slow(content: bytes):
    """Yield ('str', raw bytes) | ('num', f) | ('name', b) | ('op', b) | ('arr', list).

    String tokens stay RAW BYTES here — the byte→text decode depends on
    the current font's ToUnicode CMap, which only the interpreter
    (``_runs_from_content``) knows at show time.

    Positional matching throughout (no ``content[i:]`` slices) — the
    tokenizer must stay O(n) on multi-MB whale content streams.

    r6 hot-loop rework (the tokenizer was 45% of the whole extraction
    pipeline's CPU): whitespace runs skip via one regex match instead
    of one loop iteration per byte, and literal strings take a slice
    fast path when the next special byte is the closing paren (the
    overwhelmingly common case) instead of a per-character append loop.
    Token semantics are byte-identical; the per-character path remains
    for strings with escapes/nesting."""
    i, n = 0, len(content)
    arr_stack: list[list] = []

    def emit(tok):
        if arr_stack:
            arr_stack[-1].append(tok)
            return None
        return tok

    while i < n:
        if content[i] in _WS_BYTES:
            i = _WS_RUN_RE.match(content, i).end()
            continue
        c = content[i : i + 1]
        if c == b"(":
            m = _STR_SPECIAL_RE.search(content, i + 1)
            if m is None:
                # unterminated plain string: everything to EOF, as the
                # per-char loop would produce
                tok = emit(("str", content[i + 1 :]))
                if tok:
                    yield tok
                i = n
                continue
            if content[m.start()] == 0x29:  # plain string, no escapes
                tok = emit(("str", content[i + 1 : m.start()]))
                if tok:
                    yield tok
                i = m.start() + 1
                continue
            depth, j, buf = 1, i + 1, bytearray()
            while j < n and depth:
                ch = content[j]
                if ch == 0x5C:
                    buf += content[j : j + 2]
                    j += 2
                    continue
                if ch == 0x28:
                    depth += 1
                elif ch == 0x29:
                    depth -= 1
                    if depth == 0:
                        j += 1
                        break
                buf.append(ch)
                j += 1
            tok = emit(("str", _unescape(bytes(buf))))
            if tok:
                yield tok
            i = j
        elif c == b"<":
            if content[i + 1 : i + 2] == b"<":  # inline dict (e.g. BDC
                # property list): skip the balanced << ... >> — no text
                i = _skip_inline_dict(content, i + 2)
            else:  # hex string <48656C6C6F>; whitespace legal, odd pads 0
                j = content.find(b">", i + 1)
                if j == -1:
                    raise PdfError("unterminated hex string")
                hx = bytes(
                    b for b in content[i + 1 : j] if b not in _WS_BYTES
                )
                if not re.fullmatch(rb"[0-9A-Fa-f]*", hx):
                    raise PdfError("bad hex string")
                if len(hx) % 2:
                    hx += b"0"
                tok = emit(("str", bytes.fromhex(hx.decode("ascii"))))
                if tok:
                    yield tok
                i = j + 1
        elif c == b"[":
            arr_stack.append([])
            i += 1
        elif c == b"]":
            items = arr_stack.pop()
            tok = emit(("arr", items))
            if tok:
                yield tok
            i += 1
        elif c == b"/":
            m = _NAME_RE.match(content, i)
            tok = emit(("name", m.group(0)))
            if tok:
                yield tok
            i = m.end()
        else:
            m = _NUM_RE.match(content, i)
            if m and m.group(0):
                tok = emit(("num", float(m.group(0))))
                if tok:
                    yield tok
                i = m.end()
            else:
                m = _OP_RE.match(content, i)
                if not m:
                    raise PdfError(f"bad content token at {i}")
                if m.group(0) == b"BI":
                    i = _skip_inline_image(content, m.end())
                    continue
                tok = emit(("op", m.group(0)))
                if tok:
                    yield tok
                i = m.end()


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


_DIFF_RE = re.compile(rb"/Differences\s*\[(.*?)\]", re.S)
_BASEENC_RE = re.compile(rb"/BaseEncoding\s*/([A-Za-z][A-Za-z0-9]*)")
_DIFF_TOK_RE = re.compile(rb"(\d+)|/([^\s/\[\]<>()]+)")


def parse_encoding(enc: bytes) -> tuple[int, dict[int, str]] | None:
    """/Encoding value (name or dictionary body) → (1, code→str map),
    or None when the value is not a recognized simple-font encoding
    (e.g. /Identity-H on a Type0 font — the CMap path owns those).

    §9.6.6.1: the map starts from /BaseEncoding (or the font's builtin
    — modeled as latin-1 identity, this subset's frozen default), then
    /Differences entries override: an integer sets the next code, each
    following name assigns that glyph to the code and increments."""
    enc = enc.strip()
    if not enc.startswith(b"<<"):
        # bare name form: /Encoding /WinAnsiEncoding
        if enc in (b"WinAnsiEncoding", b"MacRomanEncoding"):
            return 1, _base_encoding_map(enc)
        return None
    bm = _BASEENC_RE.search(enc)
    mapping = _base_encoding_map(bm.group(1) if bm else None)
    dm = _DIFF_RE.search(enc)
    if dm is not None:
        code = -1
        for num, nm in _DIFF_TOK_RE.findall(dm.group(1)):
            if num:
                code = int(num)
            elif code < 0 or code > 255:
                raise PdfError("Differences name before a valid code")
            else:
                mapping[code] = _glyph_char(nm.decode("latin-1"))
                code += 1
    elif bm is None:
        return None  # dict carries neither key: nothing to apply
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


_RES_REF_RE = re.compile(rb"/Resources\s+(\d+)\s+\d+\s+R")
_FONT_DICT_RE = re.compile(rb"/Font\s*<<(.*?)>>", re.S)
_FONT_ENTRY_RE = re.compile(rb"/([^\s/<>\[\]()]+)\s+(\d+)\s+\d+\s+R")
_TOUNICODE_RE = re.compile(rb"/ToUnicode\s+(\d+)\s+\d+\s+R")
_ENC_REF_RE = re.compile(rb"/Encoding\s+(\d+)\s+\d+\s+R")
_ENC_NAME_RE = re.compile(rb"/Encoding\s*/([A-Za-z][A-Za-z0-9-]*)")
_ENC_DICT_RE = re.compile(rb"/Encoding\s*(?=<<)")


def _font_encoding(
    objs: dict[int, bytes], fbody: bytes
) -> tuple[int, dict[int, str]] | None:
    """Resolve a font dict's /Encoding entry (§9.6.6) in any of its
    three syntactic forms — bare name, indirect ref, inline dict —
    to a decode map, or None (keep frozen latin-1 semantics)."""
    rm = _ENC_REF_RE.search(fbody)
    if rm is not None:
        enc_obj = objs.get(int(rm.group(1)))
        if enc_obj is None:
            raise PdfError("dangling Encoding ref")
        return parse_encoding(enc_obj)
    dm = _ENC_DICT_RE.search(fbody)
    if dm is not None:
        d, _ = _scan_dict(fbody, dm.end())
        return parse_encoding(d)
    nm = _ENC_NAME_RE.search(fbody)
    if nm is not None:
        return parse_encoding(nm.group(1))
    return None


def _page_fonts(
    objs: dict[int, bytes], page_body: bytes
) -> dict[bytes, tuple[int, dict[int, str]] | None]:
    """Page dict → font-name → (width, cmap) | None map.

    ``/Resources`` may be inline or an indirect ref; the ``/Font``
    sub-dict in our subset holds only ``Name → obj R`` entries (no
    nested dicts), so a non-greedy ``<< ... >>`` match is exact.
    """
    rm = _RES_REF_RE.search(page_body)
    if rm is not None:
        res = objs.get(int(rm.group(1)))
        if res is None:
            raise PdfError("dangling resources ref")
    else:
        res = page_body
    fm = _FONT_DICT_RE.search(res)
    if fm is None:
        return {}
    fonts: dict[bytes, tuple[int, dict[int, str]] | None] = {}
    for em in _FONT_ENTRY_RE.finditer(fm.group(1)):
        fbody = objs.get(int(em.group(2)))
        if fbody is None:
            raise PdfError("dangling font ref")
        tm_ = _TOUNICODE_RE.search(fbody)
        if tm_ is None:
            # §9.10.2 fallback order: no ToUnicode → simple-font
            # /Encoding (round-5 widening); neither → frozen latin-1
            fonts[b"/" + em.group(1)] = _font_encoding(objs, fbody)
        else:
            cmap_obj = objs.get(int(tm_.group(1)))
            if cmap_obj is None:
                raise PdfError("dangling ToUnicode ref")
            fonts[b"/" + em.group(1)] = parse_tounicode(_stream_data(cmap_obj))
    return fonts


def _runs_from_content(
    content: bytes,
    fonts: dict[bytes, tuple[int, dict[int, str]] | None] | None = None,
) -> list[tuple[float, float, str]]:
    """Interpret text operators → (y, x, text) runs.

    r6: the common grammar runs through ``_runs_fast`` — the regex
    scanner and the operator interpreter fused into one loop (no token
    list, no second dispatch pass). Streams outside the scanner's
    grammar fall back to the reference tokenizer + this interpreter,
    so behavior (including error classes) is identical by
    construction."""
    try:
        return _runs_fast(content, fonts)
    except _FastBail:
        return _runs_interpret(_tokenize_slow(content), fonts)


def _runs_fast(
    content: bytes,
    fonts: dict[bytes, tuple[int, dict[int, str]] | None] | None,
) -> list[tuple[float, float, str]]:
    runs: list[tuple[float, float, str]] = []
    x = y = 0.0
    leading = 0.0
    stack: list = []
    arr_stack: list[list] = []
    cur_font: tuple[int, dict[int, str]] | None = None
    pos, n = 0, len(content)
    scan = _SCAN_RE.finditer
    while pos < n:
        restart = False
        for m in scan(content, pos):
            if m.start() != pos:
                raise _FastBail()
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
                    hx = bytes(b for b in m.group(4)[1:-1] if b not in _WS_BYTES)
                    if len(hx) % 2:
                        hx += b"0"
                    arr_stack[-1].append(("str", bytes.fromhex(hx.decode("ascii"))))
                elif g == 9:
                    opb = m.group(9)
                    if opb == b"BI":
                        pos = _skip_inline_image(content, pos)
                        restart = True
                        break
                    arr_stack[-1].append(("op", opb))
                else:  # g == 3 inline dict
                    pos = _skip_inline_dict(content, pos)
                    restart = True
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
                elif val == b"BI":
                    pos = _skip_inline_image(content, pos)
                    restart = True
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
                raise _FastBail()  # ']' with no open array
            if g == 4:
                hx = bytes(b for b in m.group(4)[1:-1] if b not in _WS_BYTES)
                if len(hx) % 2:
                    hx += b"0"
                stack.append(("str", bytes.fromhex(hx.decode("ascii"))))
                continue
            # g == 3 inline dict
            pos = _skip_inline_dict(content, pos)
            restart = True
            break
        else:
            if pos != n:
                raise _FastBail()
            break
        if restart:
            continue
    return runs


def _tj_text(items: list, cur_font) -> str:
    parts: list[str] = []
    for kind, val in items:
        if kind == "str":
            parts.append(_decode_shown(val, cur_font))
        elif kind == "num" and val <= TJ_SPACE_KERN:
            parts.append(" ")
    return "".join(parts)


def _runs_interpret(
    tokens,
    fonts: dict[bytes, tuple[int, dict[int, str]] | None] | None = None,
) -> list[tuple[float, float, str]]:
    """Reference interpreter over a token stream (fallback path)."""
    runs: list[tuple[float, float, str]] = []
    x = y = 0.0
    leading = 0.0
    stack: list = []
    cur_font: tuple[int, dict[int, str]] | None = None

    def tj_text(items: list) -> str:
        return _tj_text(items, cur_font)

    for tok in tokens:
        kind, val = tok
        if kind != "op":
            stack.append(tok)
            continue
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
            runs.append((y, x, tj_text(stack[-1][1])))
        elif val == b"Tf":
            # operands: font name, size — size has no effect in our
            # subset; the name selects the CMap for later show ops
            if len(stack) >= 2 and stack[-2][0] == "name":
                cur_font = (fonts or {}).get(stack[-2][1])
        # ET and anything else: no text-position effect in our subset
        stack.clear()
    return runs


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


_OBJSTM_RE = re.compile(rb"/Type\s*/ObjStm(?![A-Za-z])")
_OBJSTM_N_RE = re.compile(rb"/N\s+(\d+)")
_OBJSTM_FIRST_RE = re.compile(rb"/First\s+(\d+)")


_MAX_OBJSTM_N = 65536  # sanity cap: /N beyond this is a crafted header


def _expand_object_streams(objs: dict[int, bytes], obj_pos: dict[int, int]) -> None:
    """Unpack every /Type /ObjStm container into ``objs`` in place.

    The stream starts with N (objnum, offset) integer pairs; offsets
    are relative to /First (PDF 32000 §7.5.7). Precedence between an
    ObjStm-compressed definition and a top-level one of the same object
    number follows REVISION ORDER (round-4 advice): the definition
    whose byte position in the file is later wins — for inner objects
    that position is the CONTAINER ObjStm's — matching the
    later-definition-wins rule q60 pins for incremental updates (an
    update that moves an object into an ObjStm supersedes the older
    top-level body, and vice versa).
    """
    extra: dict[int, tuple[int, bytes]] = {}  # num -> (container_pos, body)
    for cnum, body in list(objs.items()):
        if _OBJSTM_RE.search(body) is None or b"stream" not in body:
            continue
        nm = _OBJSTM_N_RE.search(body)
        fm = _OBJSTM_FIRST_RE.search(body)
        if nm is None or fm is None:
            raise PdfError("ObjStm missing /N or /First")
        n, first = int(nm.group(1)), int(fm.group(1))
        if n > _MAX_OBJSTM_N:
            raise PdfError("ObjStm /N exceeds sanity cap")
        data = _stream_data(body)
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
            objs[num] = body


_CONTENTS_ARR_RE = re.compile(rb"/Contents\s*\[([^\]]*)\]")


def _page_content(objs: dict[int, bytes], page: bytes) -> bytes | None:
    """Resolve a page's /Contents — single ref or array of refs; array
    parts are decoded independently and joined with a newline (§7.7.3.3:
    the division between streams happens only at token boundaries)."""
    am = _CONTENTS_ARR_RE.search(page)
    if am is not None:
        nums = [int(m.group(1)) for m in _REF_RE.finditer(am.group(1))]
    else:
        cm = _CONTENTS_RE.search(page)
        if cm is None:
            return None
        nums = [int(cm.group(1))]
    parts: list[bytes] = []
    for num in nums:
        cobj = objs.get(num)
        if cobj is None:
            raise PdfError("dangling contents ref")
        parts.append(_stream_data(cobj))
    return b"\n".join(parts)


_TYPE_PAGES_RE = re.compile(rb"/Type\s*/Pages(?![A-Za-z])")
_ROOT_PAGES_RE = re.compile(rb"/Pages\s+(\d+)\s+\d+\s+R")
_MAX_TREE_DEPTH = 64


def _collect_leaf_pages(objs: dict[int, bytes], num: int, visited: set, depth: int) -> list[int]:
    """Depth-first walk of a (possibly nested) page tree: /Pages nodes
    recurse into /Kids in order, anything else is a leaf page. Cycle
    and depth guards keep adversarial trees in the error column instead
    of hanging an executor."""
    if depth > _MAX_TREE_DEPTH:
        raise PdfError("page tree too deep")
    if num in visited:
        raise PdfError("page tree cycle")
    visited.add(num)
    body = objs.get(num)
    if body is None:
        raise PdfError("dangling page ref")
    if _TYPE_PAGES_RE.search(body):
        km = _KIDS_RE.search(body)
        if km is None:
            raise PdfError("no /Kids")
        leaves: list[int] = []
        for rm in _REF_RE.finditer(km.group(1)):
            leaves += _collect_leaf_pages(objs, int(rm.group(1)), visited, depth + 1)
        return leaves
    return [num]


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
    if isinstance(password, str):
        password = password.encode("utf-8")
    if not data.startswith(b"%PDF-"):
        raise PdfError("not a PDF (magic bytes)")
    objs, obj_pos = _parse_objects(data)
    _decrypt_in_place(data, objs, password)
    _expand_object_streams(objs, obj_pos)
    # root: the Catalog's /Pages ref; fallback to the first /Type /Pages
    # object for catalog-less fragments
    root_num = _root_pages_num(objs)
    if root_num is None:
        raise PdfError("no /Pages object")
    texts: list[str] = []
    for pnum in _collect_leaf_pages(objs, root_num, set(), 0):
        page = objs[pnum]
        content = _page_content(objs, page)
        if content is None:
            texts.append("")
            continue
        fonts = _page_fonts(objs, page)
        # frozen spec: \x02 (the engine's internal page sentinel) is
        # stripped from page text — a PDF string could inject it via an
        # octal escape and would otherwise split one page into two in
        # the doc-level operator's PAGE_SEP join/split round-trip
        text = _runs_to_text(_runs_from_content(content, fonts)).replace("\x02", "")
        if page_ocr is not None and not text:
            imgs = _page_painted_images(objs, page, content)
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
    except PdfError as e:
        return None, str(e)
    except Exception as e:  # noqa: BLE001 — row-level tolerance by design
        return None, f"unexpected:{type(e).__name__}"


_IMG_INT_RE = {
    k: re.compile(rb"/" + k + rb"\s+(\d+)")
    for k in (b"Width", b"Height", b"BitsPerComponent")
}
_COLORSPACE_RE = re.compile(rb"/ColorSpace\s*/(\w+)")


def _image_row_from_body(num: int, body: bytes) -> dict | None:
    """Decoded object body → image row dict (the ``extract_pdf_images``
    row shape), or None when the object is not a /Subtype /Image
    XObject. Shared by the document-wide image sweep and the
    scanned-page OCR fallback's painted-image lookup."""
    sm = re.search(rb"stream\r?\n", body)
    head = body[: sm.start()] if sm else body
    if b"/Image" not in head or not re.search(rb"/Subtype\s*/Image\b", head):
        return None
    meta = {
        k.decode().lower(): int(r.search(head).group(1))
        for k, r in _IMG_INT_RE.items()
        if r.search(head)
    }
    if "width" not in meta or "height" not in meta:
        raise PdfError(f"image object {num}: missing /Width or /Height")
    cs = _COLORSPACE_RE.search(head)
    chain = _filter_chain(head)
    parms = _decode_parms(head, len(chain))
    _, raw = _raw_stream(body)
    if chain and chain[-1] == b"DCTDecode":
        # slice parms WITH the chain: array-form /DecodeParms is
        # index-aligned to the full /Filter array (round-4 advice)
        payload = _apply_filters(head, raw, chain=chain[:-1], parms=parms[:-1])
        codec = "jpeg"
    else:
        payload = _apply_filters(head, raw, chain=chain, parms=parms)
        codec = "raw"
    return {
        "obj": num,
        "width": meta["width"],
        "height": meta["height"],
        "bpc": meta.get("bitspercomponent", 8),
        "colorspace": cs.group(1).decode() if cs else "DeviceGray",
        "codec": codec,
        "data": payload,
    }


_XOBJ_DICT_RE = re.compile(rb"/XObject\s*<<(.*?)>>", re.S)
_DO_RE = re.compile(rb"/([^\s/<>\[\]()]+)\s+Do(?![A-Za-z])")


def _page_painted_images(
    objs: dict[int, bytes], page_body: bytes, content: bytes
) -> list[dict]:
    """Image XObjects a page actually PAINTS (``/Name Do`` in its
    decoded content stream), as image rows in first-paint order — the
    candidate set for the scanned-page OCR fallback. Resources may be
    inline or an indirect ref (same resolution as ``_page_fonts``);
    names painted but absent from /XObject, and non-image XObjects,
    are skipped."""
    rm = _RES_REF_RE.search(page_body)
    if rm is not None:
        res = objs.get(int(rm.group(1)))
        if res is None:
            raise PdfError("dangling resources ref")
    else:
        res = page_body
    xm = _XOBJ_DICT_RE.search(res)
    if xm is None:
        return []
    names = {m.group(1): int(m.group(2)) for m in _FONT_ENTRY_RE.finditer(xm.group(1))}
    rows: list[dict] = []
    seen: set[bytes] = set()
    for dm in _DO_RE.finditer(content):
        nm = dm.group(1)
        if nm in seen:
            continue
        seen.add(nm)
        num = names.get(nm)
        body = objs.get(num) if num is not None else None
        if body is None:
            continue
        row = _image_row_from_body(num, body)
        if row is not None:
            rows.append(row)
    return rows


def extract_pdf_images(data: bytes, password: bytes | str = b"") -> list[dict]:
    """All ``/Subtype /Image`` XObjects in the document → list of
    ``{"obj", "width", "height", "bpc", "colorspace", "codec", "data"}``
    in object-number order.

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
    if not data.startswith(b"%PDF-"):
        raise PdfError("not a PDF (magic bytes)")
    if isinstance(password, str):
        password = password.encode("utf-8")
    objs, obj_pos = _parse_objects(data)
    _decrypt_in_place(data, objs, password)
    _expand_object_streams(objs, obj_pos)
    out: list[dict] = []
    for num in sorted(objs):
        row = _image_row_from_body(num, objs[num])
        if row is not None:
            out.append(row)
    # inline images (§8.9.7 BI/ID/EI) from page content streams, in
    # page order after all XObjects; obj=0 marks the inline origin
    root = _root_pages_num(objs)
    if root is not None:
        for pnum in _collect_leaf_pages(objs, root, set(), 0):
            content = _page_content(objs, objs[pnum])
            if content:
                out.extend(_inline_images(content))
    return out


# §8.9.7 Table 93: inline-image dictionary key + value abbreviations
_BI_DELIMS = frozenset(b" \t\r\n\f\x00()<>[]{}/%")
_BI_INT_RE = {
    "width": re.compile(rb"/(?:W|Width)\s+(\d+)"),
    "height": re.compile(rb"/(?:H|Height)\s+(\d+)"),
    "bpc": re.compile(rb"/(?:BPC|BitsPerComponent)\s+(\d+)"),
}
_BI_CS_RE = re.compile(rb"/(?:CS|ColorSpace)\s*/(\w+)")
_BI_F_RE = re.compile(rb"/(?:F|Filter)\s*(\[[^\]]*\]|/[A-Za-z0-9]+)")
_BI_CS_MAP = {b"G": "DeviceGray", b"RGB": "DeviceRGB", b"CMYK": "DeviceCMYK"}
_BI_F_MAP = {
    b"AHx": b"ASCIIHexDecode", b"A85": b"ASCII85Decode", b"LZW": b"LZWDecode",
    b"Fl": b"FlateDecode", b"RL": b"RunLengthDecode", b"CCF": b"CCITTFaxDecode",
    b"DCT": b"DCTDecode",
}


def _inline_images(content: bytes) -> list[dict]:
    """All BI/ID/EI inline images in one decoded content stream, in
    stream order — same row shape as the XObject path (obj=0). The
    abbreviated dict keys/values of §8.9.7 Table 93/94 are expanded to
    their full forms so the ONE filter pipeline (``_apply_filters``,
    incl. CCITT G4/G3-1D and predictor handling) serves both paths.
    The scan is CONTEXT-AWARE — string literals, dictionaries and hex
    strings are skipped, and BI must sit in operator position — so a
    page whose TEXT contains the word "BI" never false-positives."""
    out: list[dict] = []
    i, n = 0, len(content)
    while i < n:
        c = content[i]
        if c == 0x28:  # ( string — skip with escapes + nesting
            depth, j = 1, i + 1
            while j < n and depth:
                ch = content[j]
                if ch == 0x5C:
                    j += 2
                    continue
                if ch == 0x28:
                    depth += 1
                elif ch == 0x29:
                    depth -= 1
                j += 1
            i = j
            continue
        if c == 0x3C:  # < : dict or hex string — skip
            if content[i + 1 : i + 2] == b"<":
                depth, j = 1, i + 2
                while j < n and depth:
                    if content[j : j + 2] == b"<<":
                        depth += 1
                        j += 2
                    elif content[j : j + 2] == b">>":
                        depth -= 1
                        j += 2
                    else:
                        j += 1
                i = j
            else:
                j = content.find(b">", i + 1)
                i = n if j == -1 else j + 1
            continue
        if not (
            content[i : i + 2] == b"BI"
            and (i == 0 or content[i - 1] in _BI_DELIMS)
            and (i + 2 >= n or content[i + 2] in _BI_DELIMS)
        ):
            i += 1
            continue
        idm = re.compile(rb"\bID[\r\n ]").search(content, i + 2)
        if idm is None:
            raise PdfError("inline image missing ID")
        head = content[i + 2 : idm.start()]
        j = idm.end()
        while True:
            j = content.find(b"EI", j)
            if j == -1:
                raise PdfError("inline image missing EI")
            before = content[j - 1 : j]
            after = content[j + 2 : j + 3]
            if before and before[0] in _WS_BYTES and (after == b"" or after[0] in _WS_BYTES):
                break
            j += 2
        raw = content[idm.end() : j]
        i = j + 2
        meta = {
            k: int(r.search(head).group(1))
            for k, r in _BI_INT_RE.items()
            if r.search(head)
        }
        if "width" not in meta or "height" not in meta:
            raise PdfError("inline image missing /W or /H")
        fm = _BI_F_RE.search(head)
        chain = [
            _BI_F_MAP.get(n, n) for n in _FILTER_NAME_RE.findall(fm.group(1))
        ] if fm else []
        # binary payload convention: one whitespace after ID, one before
        # EI — strip the trailing separator our scan included
        if raw[-1:] in (b" ", b"\r", b"\n", b"\t"):
            raw = raw[:-1]
        parms = _decode_parms(head, len(chain))
        if chain and chain[-1] == b"DCTDecode":
            payload = _apply_filters(head, raw, chain=chain[:-1], parms=parms[:-1])
            codec = "jpeg"
        else:
            payload = _apply_filters(head, raw, chain=chain, parms=parms)
            codec = "raw"
        csm = _BI_CS_RE.search(head)
        cs = csm.group(1) if csm else b"G"
        out.append(
            {
                "obj": 0,
                "width": meta["width"],
                "height": meta["height"],
                "bpc": meta.get("bpc", 8),
                "colorspace": _BI_CS_MAP.get(cs, cs.decode()),
                "codec": codec,
                "data": payload,
            }
        )
    return out


def _root_pages_num(objs: dict[int, bytes]) -> int | None:
    """The root /Pages object number (Catalog-first, fallback scan)."""
    for _, b in objs.items():
        if b"/Type /Catalog" in b:
            rm = _ROOT_PAGES_RE.search(b)
            if rm:
                return int(rm.group(1))
            break
    return next(
        (n_ for n_, b in objs.items()
         if b.lstrip().startswith(b"<<") and _TYPE_PAGES_RE.search(b)),
        None,
    )
