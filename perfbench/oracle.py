"""The oracle gate: the engine's written output against the goldens.

Every url of the corpus must appear exactly once in the output, with
``extracted_text``, ``error`` and ``route`` equal to the sequential
oracle's. Anything else is a failed row.
"""

from __future__ import annotations

import pyarrow.dataset as ds

COLUMNS = ("url", "extracted_text", "error", "route")


def read_output(extracted_dir: str, columns=COLUMNS) -> dict[str, list]:
    """The written ``extracted`` table (hive-partitioned by bucket)."""
    return ds.dataset(extracted_dir, format="parquet", partitioning="hive").to_table(
        columns=list(columns)
    ).to_pydict()


def mismatches(out: dict[str, list], golden: dict[str, tuple]) -> list[str]:
    """Urls that are missing, duplicated, unexpected or differ from the
    golden ``(extracted_text, error, route)``; sorted."""
    bad: set[str] = set()
    seen: set[str] = set()
    for u, x, e, r in zip(out["url"], out["extracted_text"], out["error"], out["route"]):
        if u in seen or golden.get(u) != (x, e, r):
            bad.add(u)
        seen.add(u)
    bad.update(u for u in golden if u not in seen)
    return sorted(bad)


def table_rows(out: dict[str, list]) -> set[tuple]:
    """The output as a set of row tuples, for comparing two runs."""
    return set(zip(*(out[c] for c in out)))
