"""Baseline JPEG codec (ITU-T T.81 subset), pure Python + numpy.

Upgrades the multimodal tier's JPEG path from "deterministic fake" to
REAL (`/root/reference` reads JPEGs via cv2/PIL, e.g.
``2_OpenCV_OCR/utils_list_images.py:5``; this container ships neither,
so the codec is implemented from the public spec):

- **decoder**: baseline sequential DCT (SOF0, incl. multi-scan) AND
  progressive DCT (SOF2, full Annex G: spectral selection + successive
  approximation, coefficient-domain accumulation) — segment walk,
  DQT/DHT/DRI honored, Huffman entropy decode with byte unstuffing and
  restart markers, dequantize → IDCT (numpy), grayscale or YCbCr with
  ANY sampling factors (nearest-neighbor upsample), JFIF YCbCr→RGB.
  Arithmetic-coded (SOF9/SOF10) / lossless / 12-bit raise ``MediaError``
  — honest subset, same row-level-tolerance contract as ``decode_png``.
  Arithmetic coding is PERMANENTLY out of scope (round-5 decision):
  the QM-coder state table cannot be externally validated in this
  offline container, and a shared-constant encoder/decoder pair would
  prove only self-consistency — the opposite of the repo's
  independent-sides rule; it is also rare in the wild (most decoders
  never shipped it for patent-era reasons). The boundary is pinned by
  tests/test_mediacodec.py (SOF9 → clean MediaError).
- **encoder**: minimal baseline writer so fixtures are self-generated
  (no external data): grayscale or RGB (4:4:4), Annex-K quant tables
  scaled by the libjpeg quality formula, one DC + one AC Huffman table
  shared by all components.

Pixel contract matches ``mediacodec.decode_png``: (width, height,
channels, row-major channel-interleaved bytes).
"""

from __future__ import annotations

import struct

import numpy as np

from pdf_to_text_spark.core.mediacodec import MediaError

# ---------------------------------------------------------------- constants

ZIGZAG = [
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
]

# Annex K.1/K.2 quantization tables (natural order)
QUANT_LUM = [
    16, 11, 10, 16, 24, 40, 51, 61, 12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56, 14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77, 24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101, 72, 92, 95, 98, 112, 100, 103, 99,
]

# Annex K.3 standard luminance Huffman specs (BITS, HUFFVAL)
DC_BITS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
DC_VALS = list(range(12))
AC_BITS = [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D]
AC_VALS = [
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41, 0x06,
    0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xA1, 0x08,
    0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24, 0x33, 0x62, 0x72,
    0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A, 0x25, 0x26, 0x27, 0x28,
    0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39, 0x3A, 0x43, 0x44, 0x45,
    0x46, 0x47, 0x48, 0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
    0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75,
    0x76, 0x77, 0x78, 0x79, 0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
    0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3,
    0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6,
    0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
    0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1, 0xE2,
    0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2, 0xF3, 0xF4,
    0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
]

# 8x8 DCT-II basis: C[u, x] = a(u) cos((2x+1)u pi / 16)
_C = np.zeros((8, 8))
for _u in range(8):
    _a = np.sqrt(0.125) if _u == 0 else np.sqrt(0.25)
    for _x in range(8):
        _C[_u, _x] = _a * np.cos((2 * _x + 1) * _u * np.pi / 16)


def _canonical_codes(bits: list[int], vals: list[int]) -> dict[tuple[int, int], int]:
    """(code_length, code) → symbol, per T.81 Annex C code assignment."""
    table: dict[tuple[int, int], int] = {}
    code, k = 0, 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            table[(length, code)] = vals[k]
            code += 1
            k += 1
        code <<= 1
    return table


# ------------------------------------------------------------------ decoder


class _BitReader:
    """Entropy-segment bit reader with 0xFF00 unstuffing; stops at any
    non-RST marker (leaves ``self.marker`` set)."""

    def __init__(self, data: bytes, pos: int):
        self.data, self.pos = data, pos
        self.bitbuf, self.nbits = 0, 0
        self.marker: int | None = None

    def _fill(self) -> None:
        d = self.data
        if self.pos >= len(d):
            raise MediaError("truncated entropy data")
        b = d[self.pos]
        if b == 0xFF:
            nxt = d[self.pos + 1] if self.pos + 1 < len(d) else None
            if nxt == 0x00:
                self.pos += 2
            elif nxt is not None and 0xD0 <= nxt <= 0xD7:  # RSTn
                self.marker = nxt
                raise _Restart()
            else:
                self.marker = nxt
                raise MediaError("marker inside entropy data")
        else:
            self.pos += 1
        self.bitbuf = (self.bitbuf << 8) | b
        self.nbits += 8

    def bit(self) -> int:
        if self.nbits == 0:
            self._fill()
        self.nbits -= 1
        return (self.bitbuf >> self.nbits) & 1

    def receive(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.bit()
        return v

    def consume_restart(self) -> None:
        """Skip to just past the next RST marker and realign."""
        d = self.data
        while self.pos + 1 < len(d):
            if d[self.pos] == 0xFF and 0xD0 <= d[self.pos + 1] <= 0xD7:
                self.pos += 2
                self.bitbuf, self.nbits, self.marker = 0, 0, None
                return
            self.pos += 1
        raise MediaError("missing restart marker")


class _Restart(Exception):
    pass


def _decode_symbol(br: _BitReader, table: dict[tuple[int, int], int]) -> int:
    code, length = 0, 0
    while length < 16:
        code = (code << 1) | br.bit()
        length += 1
        sym = table.get((length, code))
        if sym is not None:
            return sym
    raise MediaError("bad huffman code")


def _extend(v: int, s: int) -> int:
    return v - ((1 << s) - 1) if s > 0 and v < (1 << (s - 1)) else v


def _skip_fill(data: bytes, pos: int) -> int:
    """Advance ``pos`` past optional 0xFF fill bytes so ``pos`` points
    at the final 0xFF of a marker (T.81 B.1.1.2 allows any number of
    fill bytes before a marker code)."""
    while pos + 1 < len(data) and data[pos] == 0xFF and data[pos + 1] == 0xFF:
        pos += 1
    return pos


def decode_jpeg(data: bytes) -> tuple[int, int, int, bytes]:
    """JPEG bytes → (width, height, channels, row-major channel-
    interleaved pixel bytes). channels = 1 (grayscale) or 3 (RGB after
    JFIF YCbCr conversion). Supports baseline sequential (SOF0/1,
    interleaved or the legal one-scan-per-component layout) AND
    progressive (SOF2: spectral selection + successive approximation,
    DC/AC first + refinement scans, EOB runs — T.81 Annex G). Decode is
    coefficient-domain: every scan accumulates into per-component
    coefficient arrays; dequant + IDCT happen once, vectorized, at EOI.
    Raises MediaError on malformed/unsupported (arithmetic, lossless,
    hierarchical, >8-bit)."""
    if data[:2] != b"\xff\xd8":
        raise MediaError("not a jpeg")
    pos = 2
    qtables: dict[int, np.ndarray] = {}
    htables: dict[tuple[int, int], dict] = {}  # (class, id) -> code table
    frame = None
    coefs: list[np.ndarray] = []  # per component: (by, bx, 64) zigzag-order ints
    dc_seen: list[bool] = []
    ac_seen: list[bool] = []
    restart_interval = 0
    while pos + 2 <= len(data):
        pos = _skip_fill(data, pos)
        if data[pos] != 0xFF:
            raise MediaError("bad marker alignment")
        marker = data[pos + 1]
        if marker == 0xD9:  # EOI
            break
        if marker == 0x01 or 0xD0 <= marker <= 0xD7:  # TEM / stray RST: no length
            pos += 2
            continue
        if pos + 4 > len(data):
            raise MediaError("truncated segment")
        (seglen,) = struct.unpack(">H", data[pos + 2 : pos + 4])
        body = data[pos + 4 : pos + 2 + seglen]
        if len(body) != seglen - 2:
            raise MediaError("truncated segment")
        if marker == 0xDB:  # DQT
            p = 0
            while p < len(body):
                pq, tq = body[p] >> 4, body[p] & 15
                if pq != 0:
                    raise MediaError("16-bit quant tables unsupported")
                t = np.zeros(64)
                for i in range(64):
                    t[ZIGZAG[i]] = body[p + 1 + i]
                qtables[tq] = t.reshape(8, 8)
                p += 65
        elif marker == 0xC4:  # DHT (progressive streams redefine between scans)
            p = 0
            while p < len(body):
                tc, th = body[p] >> 4, body[p] & 15
                bits = list(body[p + 1 : p + 17])
                n = sum(bits)
                vals = list(body[p + 17 : p + 17 + n])
                htables[(tc, th)] = _canonical_codes(bits, vals)
                p += 17 + n
        elif marker in (0xC0, 0xC1, 0xC2):  # SOF0/1 sequential, SOF2 progressive
            if frame is not None:
                raise MediaError("multiple frames unsupported")
            prec, h, w, nc = body[0], *struct.unpack(">HH", body[1:5]), body[5]
            if prec != 8:
                raise MediaError("only 8-bit precision supported")
            if w == 0 or h == 0 or nc == 0:
                raise MediaError("empty frame")
            comps = []
            for i in range(nc):
                cid, hv, tq = body[6 + 3 * i : 9 + 3 * i]
                comps.append({"id": cid, "h": hv >> 4, "v": hv & 15, "tq": tq})
            if any(c["h"] < 1 or c["v"] < 1 for c in comps):
                raise MediaError("bad sampling factors")
            frame = {"w": w, "h": h, "comps": comps, "progressive": marker == 0xC2}
            hmax = max(c["h"] for c in comps)
            vmax = max(c["v"] for c in comps)
            frame["mcus_x"] = -(-w // (8 * hmax))
            frame["mcus_y"] = -(-h // (8 * vmax))
            frame["hmax"], frame["vmax"] = hmax, vmax
            for c in comps:
                coefs.append(
                    np.zeros(
                        (frame["mcus_y"] * c["v"], frame["mcus_x"] * c["h"], 64),
                        dtype=np.int32,
                    )
                )
                dc_seen.append(False)
                ac_seen.append(False)
        elif marker in (0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            raise MediaError("non-baseline jpeg (lossless/arithmetic/hierarchical) unsupported")
        elif marker == 0xDD:  # DRI
            (restart_interval,) = struct.unpack(">H", body[:2])
        elif marker == 0xDA:  # SOS — decode one scan, continue the walk after it
            if frame is None:
                raise MediaError("SOS before SOF")
            ns = body[0]
            if len(body) < 1 + 2 * ns + 3:
                raise MediaError("truncated SOS header")
            scan_comps = []  # (component index, dc table id, ac table id)
            by_id = {c["id"]: i for i, c in enumerate(frame["comps"])}
            for i in range(ns):
                cs, tt = body[1 + 2 * i], body[2 + 2 * i]
                if cs not in by_id:
                    raise MediaError("scan references unknown component")
                scan_comps.append((by_id[cs], tt >> 4, tt & 15))
            ss, se, a = body[1 + 2 * ns], body[2 + 2 * ns], body[3 + 2 * ns]
            ah, al = a >> 4, a & 15
            pos = _decode_scan_pass(
                data, pos + 2 + seglen, frame, scan_comps, ss, se, ah, al,
                qtables, htables, restart_interval, coefs, dc_seen, ac_seen,
            )
            continue
        pos += 2 + seglen
    if frame is None:
        raise MediaError("no SOF header")
    if not all(dc_seen):
        raise MediaError("incomplete scans: component missing DC data")
    if not frame["progressive"] and not all(ac_seen):
        raise MediaError("incomplete scans: component missing AC data")
    return _reconstruct(frame, coefs, qtables)


def _next_marker(data: bytes, pos: int) -> int:
    """Position of the next real marker (0xFF + non-stuffing, non-RST
    code) at/after ``pos`` — used to resume the segment walk after a
    scan's entropy data."""
    n = len(data)
    while pos + 1 < n:
        if data[pos] == 0xFF and data[pos + 1] != 0x00:
            if 0xD0 <= data[pos + 1] <= 0xD7 or data[pos + 1] == 0xFF:
                pos += 2 if data[pos + 1] != 0xFF else 1
                continue
            return pos
        pos += 1
    raise MediaError("truncated entropy data (no trailing marker)")


def _decode_scan_pass(
    data, pos, frame, scan_comps, ss, se, ah, al,
    qtables, htables, dri, coefs, dc_seen, ac_seen,
):
    """Entropy-decode ONE scan into the coefficient arrays and return
    the stream position of the next marker. Dispatches per the frame
    mode and scan header: sequential full-band, progressive DC
    first/refine, progressive AC first/refine."""
    comps = frame["comps"]
    progressive = frame["progressive"]
    ns = len(scan_comps)
    if se > 63 or ss > se:
        raise MediaError("bad spectral selection")
    if progressive:
        if ss == 0 and se != 0:
            raise MediaError("progressive DC scan must have Se=0")
        if ss > 0 and ns != 1:
            raise MediaError("progressive AC scan must be single-component")
        if ah not in range(14) or al not in range(14):
            raise MediaError("bad successive approximation")
        is_dc = ss == 0
    else:
        if ah or al:
            raise MediaError("successive approximation in sequential frame")
        is_dc = True  # sequential scans always carry DC
    # table + quant presence checks up front (row-level contract:
    # MediaError, never KeyError). DC refinement scans need no table.
    needs_dc = (not progressive) or (is_dc and ah == 0)
    needs_ac = (not progressive) or not is_dc
    for ci, td, ta in scan_comps:
        if qtables.get(comps[ci]["tq"]) is None:
            raise MediaError("missing quant table")
        if needs_dc and htables.get((0, td)) is None:
            raise MediaError("missing huffman table")
        if needs_ac and htables.get((1, ta)) is None:
            raise MediaError("missing huffman table")

    br = _BitReader(data, pos)
    pred = [0] * len(comps)
    state = {"eobrun": 0}

    def block_at(ci, by, bx):
        return coefs[ci][by, bx]

    def decode_unit(ci, td, ta, by, bx):
        blk = block_at(ci, by, bx)
        if not progressive:
            _seq_block(br, htables[(0, td)], htables[(1, ta)], blk, pred, ci)
        elif is_dc and ah == 0:
            _dc_first(br, htables[(0, td)], blk, pred, ci, al)
        elif is_dc:
            blk[0] |= br.bit() << al
        elif ah == 0:
            _ac_first(br, htables[(1, ta)], blk, ss, se, al, state)
        else:
            _ac_refine(br, htables[(1, ta)], blk, ss, se, al, state)

    try:
        if ns > 1:  # interleaved MCU order
            mcu = 0
            for my in range(frame["mcus_y"]):
                for mx in range(frame["mcus_x"]):
                    if dri and mcu and mcu % dri == 0:
                        br.consume_restart()
                        pred = [0] * len(comps)
                        state["eobrun"] = 0
                    for ci, td, ta in scan_comps:
                        c = comps[ci]
                        for by in range(c["v"]):
                            for bx in range(c["h"]):
                                decode_unit(ci, td, ta, my * c["v"] + by, mx * c["h"] + bx)
                    mcu += 1
        else:  # non-interleaved: the component's own block grid
            ci, td, ta = scan_comps[0]
            c = comps[ci]
            cw = -(-frame["w"] * c["h"] // frame["hmax"])
            chh = -(-frame["h"] * c["v"] // frame["vmax"])
            bw_, bh_ = -(-cw // 8), -(-chh // 8)
            unit = 0
            for by in range(bh_):
                for bx in range(bw_):
                    if dri and unit and unit % dri == 0:
                        br.consume_restart()
                        pred = [0] * len(comps)
                        state["eobrun"] = 0
                    decode_unit(ci, td, ta, by, bx)
                    unit += 1
    except _Restart as e:  # RST outside an expected boundary = corrupt
        raise MediaError("unexpected restart marker") from e

    for ci, _td, _ta in scan_comps:
        if not progressive:
            dc_seen[ci] = True
            ac_seen[ci] = True
        elif is_dc:
            dc_seen[ci] = True
        else:
            ac_seen[ci] = True
    return _next_marker(data, br.pos)


def _seq_block(br, dc_t, ac_t, blk, pred, ci) -> None:
    """Sequential full-band block decode (zigzag-order storage)."""
    s = _decode_symbol(br, dc_t)
    diff = _extend(br.receive(s), s)
    pred[ci] += diff
    blk[0] = pred[ci]
    k = 0
    while k < 63:
        rs = _decode_symbol(br, ac_t)
        r, s = rs >> 4, rs & 15
        if s == 0:
            if rs == 0xF0:
                k += 16
                continue
            break  # EOB
        k += r + 1
        if k > 63:
            raise MediaError("ac index overflow")
        blk[k] = _extend(br.receive(s), s)


def _dc_first(br, dc_t, blk, pred, ci, al) -> None:
    s = _decode_symbol(br, dc_t)
    diff = _extend(br.receive(s), s)
    pred[ci] += diff
    blk[0] = pred[ci] << al


def _ac_first(br, ac_t, blk, ss, se, al, state) -> None:
    """Progressive AC first scan (T.81 G.1.2.2): spectral band ss..se,
    magnitudes scaled by 2^al, EOB-run coding across blocks."""
    if state["eobrun"] > 0:
        state["eobrun"] -= 1
        return
    k = ss
    while k <= se:
        rs = _decode_symbol(br, ac_t)
        r, s = rs >> 4, rs & 15
        if s == 0:
            if r != 15:  # EOBn: run of (1<<r)+extra blocks ending here
                state["eobrun"] = (1 << r) - 1
                if r:
                    state["eobrun"] += br.receive(r)
                return
            k += 16  # ZRL
            continue
        k += r
        if k > se:
            raise MediaError("ac index overflow")
        blk[k] = _extend(br.receive(s), s) << al
        k += 1


def _ac_refine(br, ac_t, blk, ss, se, al, state) -> None:
    """Progressive AC refinement scan (T.81 G.1.2.3): one correction
    bit per already-nonzero coefficient, newly-significant coefficients
    arrive as ±2^al; EOB runs cover blocks with no new nonzeros."""
    p1, m1 = 1 << al, -1 << al
    k = ss
    if state["eobrun"] == 0:
        while k <= se:
            rs = _decode_symbol(br, ac_t)
            r, s = rs >> 4, rs & 15
            val = 0
            if s == 0:
                if r != 15:  # EOBn begins — current block finishes below
                    state["eobrun"] = 1 << r
                    if r:
                        state["eobrun"] += br.receive(r)
                    break
                # ZRL: skip 16 zero-history positions (corrections en route)
            else:
                if s != 1:
                    raise MediaError("bad refinement magnitude")
                val = p1 if br.bit() else m1
            while k <= se:
                if blk[k] != 0:
                    if br.bit() and (blk[k] & p1) == 0:
                        blk[k] += p1 if blk[k] >= 0 else m1
                else:
                    if r == 0:
                        break
                    r -= 1
                k += 1
            if val and k <= se:
                blk[k] = val
            k += 1
    if state["eobrun"] > 0:
        while k <= se:  # append correction bits through the band's end
            if blk[k] != 0:
                if br.bit() and (blk[k] & p1) == 0:
                    blk[k] += p1 if blk[k] >= 0 else m1
            k += 1
        state["eobrun"] -= 1


def _reconstruct(frame, coefs, qtables) -> tuple[int, int, int, bytes]:
    """Coefficient arrays → pixels: dezigzag, dequantize, batched IDCT
    (one einsum per component — no per-block Python), upsample, color
    convert. Shared by the sequential and progressive paths."""
    w, h, comps = frame["w"], frame["h"], frame["comps"]
    hmax, vmax = frame["hmax"], frame["vmax"]
    zz = np.array(ZIGZAG)
    full = []
    for c, blocks in zip(comps, coefs):
        q = qtables.get(c["tq"])
        if q is None:
            raise MediaError("missing quant table")
        by, bx = blocks.shape[:2]
        natural = np.zeros_like(blocks, dtype=np.float64)
        natural[:, :, zz] = blocks
        b = natural.reshape(by, bx, 8, 8) * q
        px = np.einsum("ij,yxjk,kl->yxil", _C.T, b, _C, optimize=True) + 128.0
        p = px.transpose(0, 2, 1, 3).reshape(by * 8, bx * 8)
        ry, rx = vmax // c["v"], hmax // c["h"]
        if ry > 1 or rx > 1:
            p = np.repeat(np.repeat(p, ry, axis=0), rx, axis=1)
        full.append(p[:h, :w])
    if len(comps) == 1:
        out = np.clip(np.round(full[0]), 0, 255).astype(np.uint8)
        return w, h, 1, out.tobytes()
    if len(comps) != 3:
        raise MediaError(f"unsupported component count {len(comps)}")
    y, cb, cr = full
    r = y + 1.402 * (cr - 128.0)
    g = y - 0.344136 * (cb - 128.0) - 0.714136 * (cr - 128.0)
    b = y + 1.772 * (cb - 128.0)
    rgb = np.stack([r, g, b], axis=-1)
    return w, h, 3, np.clip(np.round(rgb), 0, 255).astype(np.uint8).tobytes()


# ------------------------------------------------------------------ encoder


class _BitWriter:
    def __init__(self):
        self.out = bytearray()
        self.acc, self.nacc = 0, 0

    def write(self, value: int, nbits: int) -> None:
        for i in range(nbits - 1, -1, -1):
            self.acc = (self.acc << 1) | ((value >> i) & 1)
            self.nacc += 1
            if self.nacc == 8:
                self.out.append(self.acc)
                if self.acc == 0xFF:
                    self.out.append(0x00)  # byte stuffing
                self.acc, self.nacc = 0, 0

    def flush(self) -> None:
        if self.nacc:
            self.acc = (self.acc << (8 - self.nacc)) | ((1 << (8 - self.nacc)) - 1)
            self.out.append(self.acc)
            if self.acc == 0xFF:
                self.out.append(0x00)
            self.acc, self.nacc = 0, 0


def _encode_codes(bits: list[int], vals: list[int]) -> dict[int, tuple[int, int]]:
    """symbol → (code, length)."""
    table = {}
    code, k = 0, 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            table[vals[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return table


def _size_cat(v: int) -> int:
    return 0 if v == 0 else int(abs(v)).bit_length()


def _scaled_quant(quality: int) -> np.ndarray:
    quality = min(100, max(1, quality))
    scale = 5000 // quality if quality < 50 else 200 - 2 * quality
    t = np.array(QUANT_LUM, dtype=np.int64)
    t = np.clip((t * scale + 50) // 100, 1, 255)
    return t.reshape(8, 8).astype(float)


def encode_jpeg(
    w: int, h: int, channels: int, pixels: bytes, quality: int = 90,
    interleaved: bool = True,
) -> bytes:
    """Minimal baseline encoder: grayscale (1ch) or RGB (3ch, coded as
    YCbCr 4:4:4). One quant table (Annex-K luminance scaled by the
    libjpeg quality formula) and one DC+AC Huffman table pair shared by
    all components — a valid simplification the decoder round-trips.
    ``interleaved=False`` emits the equally-legal one-scan-per-component
    layout (T.81 B.2.3 allows any partition of components into scans) —
    the fixture for the decoder's multi-scan baseline path."""
    if channels not in (1, 3):
        raise MediaError(f"unsupported channel count {channels}")
    arr = np.frombuffer(pixels, dtype=np.uint8).astype(float).reshape(h, w, channels)
    if channels == 3:
        r, g, b = arr[..., 0], arr[..., 1], arr[..., 2]
        y = 0.299 * r + 0.587 * g + 0.114 * b
        cb = 128.0 - 0.168736 * r - 0.331264 * g + 0.5 * b
        cr = 128.0 + 0.5 * r - 0.418688 * g - 0.081312 * b
        planes = [y, cb, cr]
    else:
        planes = [arr[..., 0]]
    # pad to block multiples by edge replication
    ph, pw = -(-h // 8) * 8, -(-w // 8) * 8
    planes = [np.pad(p, ((0, ph - h), (0, pw - w)), mode="edge") for p in planes]

    q = _scaled_quant(quality)
    dc_codes = _encode_codes(DC_BITS, DC_VALS)
    ac_codes = _encode_codes(AC_BITS, AC_VALS)

    def encode_block(bw: _BitWriter, p: np.ndarray, by: int, bx: int, pred: list, ci: int):
        block = p[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] - 128.0
        coef = _C @ block @ _C.T
        qc = np.round(coef / q).astype(int)
        zz = [int(qc.flat[ZIGZAG[i]]) for i in range(64)]
        diff = zz[0] - pred[ci]
        pred[ci] = zz[0]
        s = _size_cat(diff)
        code, ln = dc_codes[s]
        bw.write(code, ln)
        if s:
            bw.write(diff if diff >= 0 else diff + (1 << s) - 1, s)
        run = 0
        last_nz = max((i for i in range(1, 64) if zz[i]), default=0)
        for i in range(1, last_nz + 1):
            v = zz[i]
            if v == 0:
                run += 1
                continue
            while run > 15:
                code, ln = ac_codes[0xF0]
                bw.write(code, ln)
                run -= 16
            s = _size_cat(v)
            code, ln = ac_codes[(run << 4) | s]
            bw.write(code, ln)
            bw.write(v if v >= 0 else v + (1 << s) - 1, s)
            run = 0
        if last_nz < 63:
            code, ln = ac_codes[0x00]  # EOB
            bw.write(code, ln)

    def seg(marker: int, body: bytes) -> bytes:
        return bytes([0xFF, marker]) + struct.pack(">H", len(body) + 2) + body

    scans: list[bytes] = []
    if interleaved:
        bw = _BitWriter()
        pred = [0] * channels
        for by in range(ph // 8):
            for bx in range(pw // 8):
                for ci, p in enumerate(planes):
                    encode_block(bw, p, by, bx, pred, ci)
        bw.flush()
        sos = (
            bytes([channels])
            + b"".join(bytes([i + 1, 0x00]) for i in range(channels))
            + bytes([0, 63, 0])
        )
        scans.append(seg(0xDA, sos) + bytes(bw.out))
    else:  # one sequential scan per component (legal multi-scan baseline)
        for ci, p in enumerate(planes):
            bw = _BitWriter()
            pred = [0] * channels
            for by in range(ph // 8):
                for bx in range(pw // 8):
                    encode_block(bw, p, by, bx, pred, ci)
            bw.flush()
            sos = bytes([1, ci + 1, 0x00, 0, 63, 0])
            scans.append(seg(0xDA, sos) + bytes(bw.out))

    qz = bytes([0]) + bytes(int(q.flat[ZIGZAG[i]]) for i in range(64))
    sof_comps = b"".join(bytes([i + 1, 0x11, 0]) for i in range(channels))
    sof = bytes([8]) + struct.pack(">HH", h, w) + bytes([channels]) + sof_comps
    dht = (
        bytes([0x00]) + bytes(DC_BITS) + bytes(DC_VALS)
    )
    dht2 = bytes([0x10]) + bytes(AC_BITS) + bytes(AC_VALS)
    return (
        b"\xff\xd8"
        + seg(0xDB, qz)
        + seg(0xC0, sof)
        + seg(0xC4, dht)
        + seg(0xC4, dht2)
        + b"".join(scans)
        + b"\xff\xd9"
    )


# --------------------------------------------------- progressive encoder

# A flat canonical Huffman table covering every symbol 0x00-0xFF — the
# Annex-K baseline tables lack the EOBn symbols (0x10, 0x20, ...) that
# only occur in progressive scans, and a fixture encoder has no reason
# to Huffman-optimize. 255 symbols at 8 bits + 0xFF at 9 bits keeps the
# all-ones code unassigned per Annex C.
_FLAT_BITS = [0, 0, 0, 0, 0, 0, 0, 255, 1, 0, 0, 0, 0, 0, 0, 0]
_FLAT_VALS = list(range(255)) + [255]
_MAX_CORR_BITS = 1000  # flush buffered refinement bits before overflow


def _quantized_zigzag(planes: list[np.ndarray], q: np.ndarray) -> list[np.ndarray]:
    """Block-padded planes → per-component (bh, bw, 64) quantized
    coefficients in ZIGZAG order (vectorized forward DCT)."""
    zz = np.array(ZIGZAG)
    out = []
    for p in planes:
        bh, bwd = p.shape[0] // 8, p.shape[1] // 8
        b = p.reshape(bh, 8, bwd, 8).transpose(0, 2, 1, 3) - 128.0
        coef = np.einsum("ij,yxjk,kl->yxil", _C, b, _C.T, optimize=True)
        qc = np.round(coef / q).astype(np.int32)
        out.append(qc.reshape(bh, bwd, 64)[:, :, zz])
    return out


def _emit_coef_bits(bw: _BitWriter, v: int, s: int) -> None:
    bw.write(v if v >= 0 else v + (1 << s) - 1, s)


class _EobRun:
    """EOB-run + buffered-correction-bit state for one progressive AC
    scan (T.81 G.1.2.2/G.1.2.3 encoder side)."""

    def __init__(self, bw: _BitWriter, codes: dict):
        self.bw, self.codes = bw, codes
        self.run = 0
        self.bits: list[int] = []

    def flush(self) -> None:
        if self.run:
            n = self.run.bit_length() - 1
            code, ln = self.codes[n << 4]
            self.bw.write(code, ln)
            if n:
                self.bw.write(self.run - (1 << n), n)
            self.run = 0
        for b in self.bits:
            self.bw.write(b, 1)
        self.bits = []


def _emit_ac_first(bw, codes, blocks, ss, se, al) -> None:
    """AC first scan for one component band: magnitudes shifted right
    by ``al`` (toward zero), zero runs + EOB-run coding."""
    eob = _EobRun(bw, codes)
    for by in range(blocks.shape[0]):
        for bx in range(blocks.shape[1]):
            blk = blocks[by, bx]
            ts = [
                (int(v) >> al) if v >= 0 else -((-int(v)) >> al)
                for v in blk[ss : se + 1]
            ]
            if not any(ts):
                eob.run += 1
                if eob.run == 0x7FFF:
                    eob.flush()
                continue
            eob.flush()
            r = 0
            for t in ts:
                if t == 0:
                    r += 1
                    continue
                while r > 15:
                    code, ln = codes[0xF0]
                    bw.write(code, ln)
                    r -= 16
                s = _size_cat(t)
                code, ln = codes[(r << 4) | s]
                bw.write(code, ln)
                _emit_coef_bits(bw, t, s)
                r = 0
            if r > 0:
                eob.run += 1
    eob.flush()


def _emit_ac_refine(bw, codes, blocks, ss, se, al) -> None:
    """AC refinement scan: one correction bit per previously-nonzero
    coefficient, newly-significant values as (run, 1)+sign symbols,
    correction bits buffered and flushed after each emitted symbol /
    EOB run (mirror of the decoder's read order)."""
    eob = _EobRun(bw, codes)
    for by in range(blocks.shape[0]):
        for bx in range(blocks.shape[1]):
            blk = blocks[by, bx]
            absv = [abs(int(v)) >> al for v in blk[ss : se + 1]]
            last_new = max((i for i, t in enumerate(absv) if t == 1), default=-1)
            r = 0
            br_bits: list[int] = []
            for i, t in enumerate(absv):
                if t == 0:
                    r += 1
                    continue
                while r > 15 and i <= last_new:
                    eob.flush()
                    code, ln = codes[0xF0]
                    bw.write(code, ln)
                    r -= 16
                    for b in br_bits:
                        bw.write(b, 1)
                    br_bits = []
                if t > 1:  # history-nonzero: correction bit only
                    br_bits.append(t & 1)
                    continue
                eob.flush()
                code, ln = codes[(r << 4) | 1]
                bw.write(code, ln)
                bw.write(1 if blk[ss + i] >= 0 else 0, 1)
                for b in br_bits:
                    bw.write(b, 1)
                br_bits = []
                r = 0
            if r > 0 or br_bits:
                eob.run += 1
                eob.bits.extend(br_bits)
                if eob.run == 0x7FFF or len(eob.bits) > _MAX_CORR_BITS:
                    eob.flush()
    eob.flush()


def encode_jpeg_progressive(
    w: int, h: int, channels: int, pixels: bytes, quality: int = 90
) -> bytes:
    """Progressive (SOF2) writer exercising the full Annex-G surface so
    progressive-decode fixtures stay self-generated: DC first (Al=1) +
    DC refine, per-component AC spectral bands (1-5, 6-63) at Al=2 with
    two refinement passes down to Al=0, EOB-run coding throughout.
    Quantized coefficients are identical to ``encode_jpeg``'s at the
    same quality, so progressive and baseline encodings of one image
    decode to bit-identical pixels (pinned by test)."""
    if channels not in (1, 3):
        raise MediaError(f"unsupported channel count {channels}")
    arr = np.frombuffer(pixels, dtype=np.uint8).astype(float).reshape(h, w, channels)
    if channels == 3:
        r, g, b = arr[..., 0], arr[..., 1], arr[..., 2]
        planes = [
            0.299 * r + 0.587 * g + 0.114 * b,
            128.0 - 0.168736 * r - 0.331264 * g + 0.5 * b,
            128.0 + 0.5 * r - 0.418688 * g - 0.081312 * b,
        ]
    else:
        planes = [arr[..., 0]]
    ph, pw = -(-h // 8) * 8, -(-w // 8) * 8
    planes = [np.pad(p, ((0, ph - h), (0, pw - w)), mode="edge") for p in planes]
    q = _scaled_quant(quality)
    comps = _quantized_zigzag(planes, q)  # (bh, bw, 64) zigzag each
    bh, bwd = comps[0].shape[:2]
    codes = _encode_codes(_FLAT_BITS, _FLAT_VALS)

    def seg(marker: int, body: bytes) -> bytes:
        return bytes([0xFF, marker]) + struct.pack(">H", len(body) + 2) + body

    def sos(comp_specs: list[tuple[int, int]], ss, se, ah, al) -> bytes:
        body = bytes([len(comp_specs)])
        for cid, tda in comp_specs:
            body += bytes([cid, tda])
        return seg(0xDA, body + bytes([ss, se, (ah << 4) | al]))

    out = bytearray(b"\xff\xd8")
    out += seg(0xDB, bytes([0]) + bytes(int(q.flat[ZIGZAG[i]]) for i in range(64)))
    sof_comps = b"".join(bytes([i + 1, 0x11, 0]) for i in range(channels))
    out += seg(0xC2, bytes([8]) + struct.pack(">HH", h, w) + bytes([channels]) + sof_comps)
    out += seg(0xC4, bytes([0x01]) + bytes(_FLAT_BITS) + bytes(_FLAT_VALS))
    out += seg(0xC4, bytes([0x11]) + bytes(_FLAT_BITS) + bytes(_FLAT_VALS))

    # scan 1: DC first, interleaved, Al=1 (arithmetic shift keeps sign)
    out += sos([(i + 1, 0x10) for i in range(channels)], 0, 0, 0, 1)
    bw = _BitWriter()
    pred = [0] * channels
    for by in range(bh):
        for bx in range(bwd):
            for ci in range(channels):
                v = int(comps[ci][by, bx, 0]) >> 1
                diff = v - pred[ci]
                pred[ci] = v
                s = _size_cat(diff)
                code, ln = codes[s]
                bw.write(code, ln)
                if s:
                    _emit_coef_bits(bw, diff, s)
    bw.flush()
    out += bw.out

    # scan 2: DC refine (Ah=1, Al=0) — one raw LSB per block
    out += sos([(i + 1, 0x00) for i in range(channels)], 0, 0, 1, 0)
    bw = _BitWriter()
    for by in range(bh):
        for bx in range(bwd):
            for ci in range(channels):
                bw.write(int(comps[ci][by, bx, 0]) & 1, 1)
    bw.flush()
    out += bw.out

    # AC scans per component: two spectral bands, first at Al=2 then
    # refinements Ah=2->Al=1 and Ah=1->Al=0
    bands = [(1, 5), (6, 63)]
    for ci in range(channels):
        for ss, se in bands:
            out += sos([(ci + 1, 0x01)], ss, se, 0, 2)
            bw = _BitWriter()
            _emit_ac_first(bw, codes, comps[ci], ss, se, 2)
            bw.flush()
            out += bw.out
    for ah, al in ((2, 1), (1, 0)):
        for ci in range(channels):
            for ss, se in bands:
                out += sos([(ci + 1, 0x01)], ss, se, ah, al)
                bw = _BitWriter()
                _emit_ac_refine(bw, codes, comps[ci], ss, se, al)
                bw.flush()
                out += bw.out
    out += b"\xff\xd9"
    return bytes(out)
