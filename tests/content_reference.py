"""Reference content-stream tokenizer and text-operator interpreter.

The differential oracle for ``pdfparse._scan_content``, the fused
scanner that is the only production reader of content streams:
``_tokenize_slow`` reads a content stream with a per-token branch
ladder and ``_runs_interpret`` dispatches the operators over its token
stream, as two separate passes. It keeps its own inline-image skip, so
the scanner's ``_inline_image_span`` is checked too. Tests compare the
two implementations' outcome (the runs, inline-image spans and ``Do``
operands, or the ``PdfError`` message, or the exception class) stream
by stream; see ``mismatches``. This module is not collected by pytest.
"""

from __future__ import annotations

import re

from pdf_to_text_spark.core import pdfparse
from pdf_to_text_spark.core.pdfparse import (
    PdfError,
    _WS_BYTES,
    _decode_shown,
    _scan_dict,
    _tj_text,
    _unescape,
)

_NAME_RE = re.compile(rb"/[^\s()<>\[\]/]*")
_NUM_RE = re.compile(rb"[-+]?\d*\.?\d+")
_OP_RE = re.compile(rb"[A-Za-z'\"*]+")
_WS_RUN_RE = re.compile(rb"[ \t\r\n\f\x00]+")
_STR_SPECIAL_RE = re.compile(rb"[\\()]")


def _inline_image(content: bytes, end_of_bi: int) -> tuple[int, int, int, int]:
    """§8.9.7 inline image ``<pairs> ID <binary> EI`` starting after the
    BI operator: returns its span, ``(end_of_bi, start of ID, start of
    the binary data, start of EI)``. The binary payload is NOT token
    syntax — without this skip it would tokenize as garbage (or fake
    text). Data starts one whitespace byte after ID; EI must be
    delimiter-bounded on both sides."""
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
    return end_of_bi, idm.start(), idm.end(), j


def _tokenize_slow(content: bytes, inline: list):
    """Yield ('str', raw bytes) | ('num', f) | ('name', b) | ('op', b) | ('arr', list),
    appending the span of each inline image it skips to ``inline``.

    String tokens stay RAW BYTES here — the byte→text decode depends on
    the current font's ToUnicode CMap, which only the interpreter
    knows at show time.

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
                i = _scan_dict(content, i)[1]
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
                    inline.append(_inline_image(content, m.end()))
                    i = inline[-1][3] + 2
                    continue
                tok = emit(("op", m.group(0)))
                if tok:
                    yield tok
                i = m.end()


def _runs_interpret(
    tokens,
    fonts: dict[bytes, tuple[int, dict[int, str]] | None] | None = None,
) -> tuple[list[tuple[float, float, str]], list[bytes]]:
    """Reference interpreter over a token stream: the text runs, and
    the name operand of each ``Do``."""
    runs: list[tuple[float, float, str]] = []
    painted: list[bytes] = []
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
        elif val == b"Do":
            if stack and stack[-1][0] == "name":
                painted.append(stack[-1][1])
        # ET and anything else: no text-position effect in our subset
        stack.clear()
    return runs, painted


def reference_scan(content: bytes, fonts=None) -> pdfparse.ContentScan:
    """``content`` read by the reference tokenizer + interpreter."""
    inline: list[tuple[int, int, int, int]] = []
    runs, painted = _runs_interpret(_tokenize_slow(content, inline), fonts)
    return pdfparse.ContentScan(runs, inline, painted)


def outcome(fn, content: bytes, fonts=None):
    """What ``fn(content, fonts)`` produces, in a comparable form: its
    scan (runs, inline-image spans and ``Do`` operands), the message of
    the ``PdfError`` it raises, or the class name of any other
    exception (the ``unexpected:<class>`` error column)."""
    try:
        return ("scan", fn(content, fonts))
    except PdfError as e:
        return ("PdfError", str(e))
    except Exception as e:  # noqa: BLE001 — the class is the outcome
        return ("exception", type(e).__name__)


def mismatches(cases) -> list[bytes]:
    """The head of each ``(content, fonts)`` case on which
    ``pdfparse._scan_content`` and the reference differ in outcome: in
    the runs, the inline-image spans or the ``Do`` operands."""
    return [
        content[:80]
        for content, fonts in cases
        if outcome(pdfparse._scan_content, content, fonts)
        != outcome(reference_scan, content, fonts)
    ]
