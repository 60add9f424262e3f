"""Frozen text-normalization spec v1 — pure-Python (oracle) side.

The Catalyst twin lives in ``functions/text.py`` (same regexes, same
order); tests assert byte-identity between the two on adversarial
fixtures. Semantics derive from the reference's deterministic cleaners:
de-hyphenation ``/root/reference/5_NLP/nlp/normalize.py:13-14``,
blank-line collapse + per-line strip
``/root/reference/2_OpenCV_OCR/core_document_processing.py:185-194``.

Portability rule: NO bare ``\\s`` in any shared regex — Java's ``\\s``
is ASCII-only while Python's is Unicode-aware. Explicit classes only.
"""

from __future__ import annotations

import re
import unicodedata

# horizontal whitespace (no \n) and all whitespace — literal chars so the
# identical class text can be handed to Java's regex engine
WS_H = " \t\r\f\x0b "
WS_A = WS_H + "\n"
CLS_H = f"[{WS_H}]"
CLS_A = f"[{WS_A}]"

RE_DEHYPH = f"-{CLS_H}*\n{CLS_A}*"      # inform-\n ation → information (F5)
RE_HCOLLAPSE = f"{CLS_H}+"               # runs of horizontal ws → one space
RE_LINETRIM = " *\n *"                   # strip around newlines
RE_BLANKS = "\n{3,}"                     # ≥2 blank lines → one (F3)
RE_LSTRIP = f"^{CLS_A}+"
# a true end-of-input anchor in both engines: Java's ``$`` also matches
# before a final U+0085/U+2028/U+2029, so Spark would strip whitespace
# that Python keeps
RE_RSTRIP = f"{CLS_A}+(?![\\s\\S])"
TEXT_LAYER_MIN_CHARS = 250  # P3 routing: a sufficient text layer is longer

_steps = [
    (re.compile(RE_DEHYPH), ""),
    (re.compile(RE_HCOLLAPSE), " "),
    (re.compile(RE_LINETRIM), "\n"),
    (re.compile(RE_BLANKS), "\n\n"),
    (re.compile(RE_LSTRIP), ""),
    (re.compile(RE_RSTRIP), ""),
]


def normalize_extracted(s: str) -> str:
    """The golden-path normalization chain (idempotent; property-tested)."""
    for rx, repl in _steps:
        s = rx.sub(repl, s)
    return s


# ---- reference cleaner twins (SURVEY.md §2.4), oracle side ----------------

RE_MEANINGFUL = re.compile(r"[ \t\n\r\f\x0b ]+")


def meaningful_len(s: str) -> int:
    """F1: length excluding whitespace (core_document_processing.py:73)."""
    return len(RE_MEANINGFUL.sub("", s))


RE_CHARSET = re.compile(r"[^A-Za-z0-9.,!?;:'\"\- \t\n\r\f\x0b]")


def charset_clean(s: str) -> str:
    """F2: OCR charset clean (ocr_engine.py:30-33)."""
    return RE_CHARSET.sub("", s).strip()


RE_NONASCII = re.compile(r"[^\x00-\x7f]+")
RE_URL = re.compile(r"http[^ \t\n]+|www[^ \t\n]+")
RE_EMAIL = re.compile(r"[^ \t\n]+@[^ \t\n]+")
RE_REPPUNCT = re.compile(r"([!?.,]){2,}")
RE_SPECIALS = re.compile(r"[^a-zA-Z0-9 \t\n.?!]")
RE_SPACES = re.compile(r"[ \t\n\r\f\x0b]+")


def deep_clean(s: str) -> str:
    """F7: the reference's deep cleaner (5_NLP/nlp/cleaning.py:9-34):
    non-ASCII → space, URLs/emails stripped, repeated punctuation
    collapsed, special chars → space, whitespace collapse + trim."""
    s = RE_NONASCII.sub(" ", s)
    s = RE_URL.sub("", s)
    s = RE_EMAIL.sub("", s)
    s = RE_REPPUNCT.sub(r"\1", s)
    s = RE_SPECIALS.sub(" ", s)
    return RE_SPACES.sub(" ", s).strip()


def nfkc_lower(s: str) -> str:
    """F4: unicode NFKC + lowercase (5_NLP/nlp/normalize.py:8-11)."""
    return unicodedata.normalize("NFKC", s).lower()


def text_layer_sufficient(text: str | None) -> bool:
    """P3 routing predicate: digital text layer is sufficient when its
    whitespace-free length exceeds ``TEXT_LAYER_MIN_CHARS``
    (core_document_processing.py:71-83 variant, pinned per SURVEY §7.3.4)."""
    return text is not None and meaningful_len(text) > TEXT_LAYER_MIN_CHARS
