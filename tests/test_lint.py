"""Engine-wide lint (SURVEY §7.3.5): no per-row Python in the hot path —
no row-at-a-time ``F.udf``/``@udf``, no ``rdd.`` usage, no ``collect()``
inside engine operators (driver-side loops) — and no public function
that only tests call."""

from __future__ import annotations

import ast
import inspect
import re
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PKG = ROOT / "pdf_to_text_spark"

# Public functions with no caller outside tests, each kept for the
# contract its tests pin.
CONTRACT_ONLY = {
    "extract_pdf_page_table": "K1 per-page sink, the golden_pages byte-identity contract",
    "run_incremental_extraction": "§2.8 availableNow incremental extraction: batch resume "
    "skips committed buckets, so rows appended to them later are never extracted",
    "stream_dedup_urls": "§2.8 streaming stateful dedup (applyInPandasWithState)",
    "stream_windowed_counts": "§2.8 watermarked windows with pinned late-data semantics",
    "build_training_corpus": "training-data tier: extract → stats → dedup in one job",
    "scan_document_dir": "S1/S2/P1: the reference's PDF-folder ingest",
    "pptx_package_from_template": "K5 template reuse",
    "generate_planes": "the plane-sizing path lsh_near_dup_pairs' under-planed error names",
    "encode_jpeg_progressive": "the progressive (SOF2) writer the JPEG decoder is checked against",
    "ocr_expected": "the raster→OCR fixpoint the q29 oracle and the scanned fixtures encode",
    "decrypt_block": "the FIPS-197 decryption vector of the AES core",
}


def _sources():
    for p in PKG.rglob("*.py"):
        yield p, p.read_text()


def test_no_row_at_a_time_udf():
    for p, src in _sources():
        assert "@F.udf" not in src and "F.udf(" not in src, p


def test_no_rdd_in_engine():
    for p, src in _sources():
        assert re.search(r"\brdd\b", src) is None, p


def test_no_collect_in_operators():
    """collect() is allowed only in plans/ (tiny lineage rows) — never
    in operators/functions (would be a driver-side data loop)."""
    for p, src in _sources():
        if "/plans/" in str(p) or "/core/" in str(p):
            continue
        assert ".collect()" not in src, p


def _caller_sources():
    yield from PKG.rglob("*.py")
    yield from (ROOT / "jobs").rglob("*.py")
    yield ROOT / "__spark_entry__.py"
    yield from ROOT.glob("bench*.py")
    yield from (p for p in (ROOT / "perfbench").rglob("*.py") if "tests" not in p.relative_to(ROOT).parts)
    yield from (ROOT / "tools").rglob("*.py")


def _public_defs():
    for p in PKG.rglob("*.py"):
        for node in ast.parse(p.read_text()).body:
            if isinstance(node, ast.FunctionDef) and not node.name.startswith("_"):
                yield node.name, p


def _referenced_names():
    """Names used as code (``Name``/``Attribute`` nodes, so docstrings,
    comments and import lines do not count) in the non-test sources; a
    function's references to itself do not count."""
    used = set()
    for p in _caller_sources():
        tree = ast.parse(p.read_text())
        own = {}
        for node in tree.body:
            if isinstance(node, ast.FunctionDef):
                own.update((id(n), node.name) for n in ast.walk(node))
        for n in ast.walk(tree):
            name = n.id if isinstance(n, ast.Name) else getattr(n, "attr", None)
            if name and own.get(id(n)) != name:
                used.add(name)
    return used


def test_public_functions_have_a_non_test_caller():
    """Every public top-level function in the package is called from the
    package, ``jobs/``, ``__spark_entry__.py``, ``bench*.py``,
    ``perfbench/`` or ``tools/``, or is listed in CONTRACT_ONLY with its
    contract. A listed function that gains a caller leaves the list."""
    used = _referenced_names()
    defs = dict(_public_defs())
    orphans = sorted(
        f"{p.relative_to(ROOT)}::{n}" for n, p in defs.items() if n not in used | CONTRACT_ONLY.keys()
    )
    assert not orphans, f"public functions only tests call: {orphans}"
    stale = sorted(n for n in CONTRACT_ONLY if n not in defs or n in used)
    assert not stale, f"CONTRACT_ONLY entries that are gone or now have a caller: {stale}"


def test_size_decisions_read_the_one_probe():
    """Every size-driven plan choice reads ``core.sizing.plan_bytes``: no
    other file lists input files, stats them or reads Catalyst
    statistics, and the operators whose plan the probe picks take no
    option that overrides it."""
    for p in [*PKG.rglob("*.py"), ROOT / "__spark_entry__.py"]:
        if p == PKG / "core" / "sizing.py":
            continue
        src = p.read_text()
        for pat in (r"\.inputFiles\(", r"\bgetsize\(", r"\.stats\(\)"):
            assert re.search(pat, src) is None, (p, pat)
    from pdf_to_text_spark.operators.dedup import ngram_jaccard_pairs
    from pdf_to_text_spark.plans.components import connected_components

    for fn in (ngram_jaccard_pairs, connected_components):
        params = set(inspect.signature(fn).parameters)
        assert not params & {"strategy", "broadcast_labels"}, (fn.__name__, params)


def test_import_machinery_is_touched_in_one_place():
    """Only the package ``__init__`` (its zip-directory stamp check)
    names ``zipimport`` or ``invalidate_caches``."""
    for p, src in _sources():
        if p == PKG / "__init__.py":
            continue
        assert re.search(r"\bzipimport\b|\binvalidate_caches\b", src) is None, p


def _pdfparse_hits(hit) -> dict[str, list[int]]:
    """Line numbers of the ``core/pdfparse.py`` AST nodes ``hit``
    accepts, keyed by the top-level function that holds them ('' for
    module level)."""
    tree = ast.parse((PKG / "core" / "pdfparse.py").read_text())
    owner = {}
    for f in tree.body:
        if isinstance(f, ast.FunctionDef):
            owner.update((id(n), f.name) for n in ast.walk(f))
    hits: dict[str, list[int]] = {}
    for n in ast.walk(tree):
        if hit(n):
            hits.setdefault(owner.get(id(n), ""), []).append(n.lineno)
    return hits


def _bytes_literal(node, accept) -> bool:
    return isinstance(node, ast.Constant) and isinstance(node.value, bytes) and accept(node.value)


def test_content_stream_operators_are_read_in_one_function():
    """In ``core/pdfparse.py`` the operator literals ``b"BI"`` and
    ``b"Do"`` appear only inside ``_scan_content``, the one reader of
    content streams, so no second reader grows back beside it."""
    for op in (b"BI", b"Do"):
        hits = _pdfparse_hits(lambda n: _bytes_literal(n, lambda v: v == op))
        assert list(hits) == ["_scan_content"], f"{op!r} read at {hits}"


# Bytes literals in ``core/pdfparse.py`` that name a dictionary key
# (``/`` then a letter), each with the reason it is not a second reader
# of dictionary entries beside ``_read_dict``.
PDF_KEY_LITERALS = {
    b"/Encrypt": "whole-file fast path: a document that never names /Encrypt "
    "skips the trailer search",
}


# Substring tests (``b"word" in body``) in ``core/pdfparse.py`` of a
# bytes literal that names a key or keyword, each with the reason it is
# not a second, approximate reader of an object beside the object table.
PDF_SUBSTRING_TESTS = {
    b"/Encrypt": "whole-file fast path (PDF_KEY_LITERALS)",
    b"stream": "the table builder asks _stream_split for the keyword only in "
    "a body that holds the word",
}


def _substring_test(words):
    """A predicate on AST nodes: an ``in`` or ``not in`` test whose left
    operand is a bytes literal in ``words`` (a bare word, or a name)."""
    return lambda n: (
        isinstance(n, ast.Compare) and isinstance(n.ops[0], (ast.In, ast.NotIn))
        and _bytes_literal(n.left, lambda v: re.fullmatch(rb"/?[A-Za-z]+", v) and words(v))
    )


_RE_CALLS = {"compile", "search", "match", "fullmatch", "finditer", "findall", "sub", "split"}


def _regex_names_a_key():
    r"""A predicate on ``core/pdfparse.py`` AST nodes: a ``re`` call
    whose pattern is built at run time (it uses a name that is not a
    module-level constant, as ``rb"/" + name`` does) or whose bytes
    literals, module-level constants followed, hold a key of three or
    more letters that the module reads with ``.get`` (as
    ``rb"Length\s+(\d+)"`` does)."""
    tree = ast.parse((PKG / "core" / "pdfparse.py").read_text())
    consts = {
        t.id: a.value
        for a in tree.body if isinstance(a, ast.Assign)
        for t in a.targets if isinstance(t, ast.Name)
    }
    keys = {
        n.args[0].value
        for n in ast.walk(tree)
        if isinstance(n, ast.Call) and isinstance(n.func, ast.Attribute)
        and n.func.attr == "get" and n.args
        and _bytes_literal(n.args[0], lambda v: len(v) >= 3)
    }

    def literals(expr) -> list[bytes] | None:  # None: built at run time
        out = []
        for n in ast.walk(expr):
            if isinstance(n, ast.Name):
                if (sub := literals(consts[n.id]) if n.id in consts else None) is None:
                    return None
                out += sub
            elif _bytes_literal(n, lambda v: True):
                out.append(n.value)
        return out

    def hit(n) -> bool:
        if not (
            isinstance(n, ast.Call) and isinstance(n.func, ast.Attribute)
            and isinstance(n.func.value, ast.Name) and n.func.value.id == "re"
            and n.func.attr in _RE_CALLS and n.args
        ):
            return False
        lits = literals(n.args[0])
        return lits is None or any(k in v for k in keys for v in lits)

    return hit


def test_pdf_syntax_elements_are_read_in_one_function():
    """In ``core/pdfparse.py`` each object-syntax element has one reader:
    ``bytes.fromhex`` runs only in ``_ascii_hex_decode`` (hex strings)
    and ``parse_tounicode`` (CMap code units), the ``stream`` keyword
    with its end of line is searched only in ``_stream_split``, which
    only the object-table builder ``_parse_objects`` calls, and that
    once per object, only ``_literal_string`` walks a literal string's
    delimiters, no bytes literal names a dictionary key (a ``/Length``
    regex, say) but those ``PDF_KEY_LITERALS`` allows, no regex is built
    at run time or names a key the module reads
    (``_regex_names_a_key``), and no ``b"Image" in body`` substring
    test guesses at a key but those ``PDF_SUBSTRING_TESTS`` allows:
    every ``/Key value`` lookup goes through ``_read_dict``, and every
    object is read through the table."""
    rules = {
        "fromhex": (
            lambda n: isinstance(n, ast.Attribute) and n.attr == "fromhex",
            ["_ascii_hex_decode", "parse_tounicode"],
        ),
        "stream keyword": (
            lambda n: _bytes_literal(n, lambda v: v.startswith(b"stream") and v != b"stream"),
            ["_stream_split"],
        ),
        "stream split": (
            lambda n: isinstance(n, ast.Call) and getattr(n.func, "id", None) == "_stream_split",
            ["_parse_objects"],
        ),
        "substring test": (_substring_test(lambda v: v not in PDF_SUBSTRING_TESTS), []),
        "stream substring test": (_substring_test(lambda v: v == b"stream"), ["_parse_objects"]),
        "dictionary key": (
            lambda n: _bytes_literal(
                n, lambda v: re.search(rb"/[A-Za-z]", v) and v not in PDF_KEY_LITERALS
            ),
            [],
        ),
        "regex over dictionary keys": (_regex_names_a_key(), []),
        "literal-string delimiters": (
            lambda n: isinstance(n, ast.Name) and n.id == "_STR_DELIM_RE",
            ["", "_literal_string"],
        ),
    }
    for what, (hit, readers) in rules.items():
        hits = _pdfparse_hits(hit)
        assert sorted(hits) == readers, f"{what} read at {hits}"
    splits = _pdfparse_hits(rules["stream split"][0])
    assert len(splits["_parse_objects"]) == 1, f"_stream_split called at {splits}"
