"""Benchmark inputs: the three workloads' corpora and their goldens.

Each corpus is generated from the seed by ``pdf_to_text_spark.fixtures``
and its goldens by the sequential oracle ``fixtures.oracle_extract``.
Both are cached under the checkout, keyed by workload, rows, seed and
``fixtures.MIX_TAG``. A SHA-256 digest of the generated rows (url, html,
text) is recorded with the cache and compared on every run against rows
generated afresh, so a generator change shows up as a new input (and a
rebuilt cache), never as a speed-up measured on stale data.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
from dataclasses import dataclass

import pyarrow.parquet as pq

from pdf_to_text_spark import fixtures

HTML_CLASSES = (
    "html_article",
    "html_article_textlayer",
    "html_menu",
    "html_messy",
    "html_empty",
    "nonenglish",
)


@dataclass(frozen=True)
class Workload:
    name: str
    classes: list | None  # None = fixtures.ROW_CLASSES (the bench.py mix)
    rows: int
    resume: bool  # pre-seed the even buckets and run with resume=True


def _weights(classes: list | None) -> int:
    return sum(w for _, w in (classes or fixtures.ROW_CLASSES))


_PDF = [(c, w) for c, w in fixtures.ROW_CLASSES if c.startswith("pdf")]
_HTML = [(c, w) for c, w in fixtures.ROW_CLASSES if c in HTML_CLASSES]

# Row counts are whole cycles of each weight-expanded class list, so
# every seed gets the same number of rows of each class (the seed moves
# content and order, never the mix).
WORKLOADS = {
    w.name: w
    for w in (
        Workload("extract_pdf", _PDF, 10 * _weights(_PDF), resume=False),
        Workload("extract_html", _HTML, 20 * _weights(_HTML), resume=False),
        Workload("resume_half", None, 10 * _weights(None), resume=True),
    )
}


def digest_rows(rows: list[dict]) -> str:
    """SHA-256 over each row's url, html and text, length-prefixed so no
    two different row lists hash the same byte stream."""
    h = hashlib.sha256()
    for r in rows:
        for v in (r["url"].encode(), r["html"], r["text"]):
            if v is None:
                h.update(b"\xff")
            else:
                b = v.encode() if isinstance(v, str) else bytes(v)
                h.update(len(b).to_bytes(8, "little"))
                h.update(b)
    return h.hexdigest()


def file_sha256(path: str) -> str:
    h = hashlib.sha256()
    with open(path, "rb") as f:
        for block in iter(lambda: f.read(1 << 20), b""):
            h.update(block)
    return h.hexdigest()


@dataclass
class Corpus:
    dir: str
    rows: list[dict]  # generated rows (url, html, text, cls, ...)
    golden: dict[str, tuple]  # url -> (extracted_text, error, route)
    digest: str
    reused: bool

    @property
    def pages(self) -> str:
        return os.path.join(self.dir, "pages.parquet")


def read_golden(path: str) -> dict[str, tuple]:
    t = pq.read_table(path, columns=["url", "extracted_text", "error", "route"]).to_pydict()
    return {
        u: (x, e, r)
        for u, x, e, r in zip(t["url"], t["extracted_text"], t["error"], t["route"])
    }


def prepare(cache_root: str, workload: Workload, seed: int) -> Corpus:
    """Generate (or reuse) the workload's corpus and goldens for ``seed``."""
    rows = fixtures.make_corpus(workload.rows, seed, classes=workload.classes)
    digest = digest_rows(rows)
    d = os.path.join(
        cache_root, f"{workload.name}-r{workload.rows}-s{seed}-{fixtures.MIX_TAG}"
    )
    meta_path = os.path.join(d, "meta.json")
    pages = os.path.join(d, "pages.parquet")
    golden = os.path.join(d, "golden_extracted.parquet")
    try:
        with open(meta_path) as f:
            meta = json.load(f)
        reused = (
            meta["digest"] == digest
            and meta["pages_sha256"] == file_sha256(pages)
            and meta["golden_sha256"] == file_sha256(golden)
        )
    except (OSError, ValueError, KeyError):
        reused = False
    if not reused:
        shutil.rmtree(d, ignore_errors=True)
        fixtures.write_corpus(d, workload.rows, seed, classes=workload.classes)
        written = pq.read_table(pages, columns=["url", "html", "text"]).to_pylist()
        if digest_rows(written) != digest:
            raise RuntimeError(f"{pages}: written rows differ from the generated rows")
        tmp = meta_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(
                {
                    "workload": workload.name,
                    "rows": workload.rows,
                    "seed": seed,
                    "mix_tag": fixtures.MIX_TAG,
                    "digest": digest,
                    "pages_sha256": file_sha256(pages),
                    "golden_sha256": file_sha256(golden),
                },
                f,
            )
        os.replace(tmp, meta_path)
    return Corpus(d, rows, read_golden(golden), digest, reused)
