"""Cache-lifetime discipline for library operators (VERDICT r3 item 7).

Several operators cache an intermediate frame that feeds both sides of
a self-join (LSH signatures, shingle tables, normalized vectors). The
RETURNED plan reads that cache lazily, so the operator itself cannot
unpersist — but in a long-lived session (notebook, streaming driver,
multi-query job) orphaned caches accumulate storage memory until
executors start evicting.

The registry makes the lifetime explicit without changing operator
signatures: operators register their internal caches here; a pipeline
takes :func:`mark_caches` before a phase and calls
:func:`release_caches_since` after its terminal action
(``plans/corpus_pipeline.py`` does). At 100 TB these intermediates are
materialized scratch tables, not caches — the registry is the local
analog of dropping the scratch dataset when the job finishes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

_LIVE: list[DataFrame] = []


def register_cache(df: DataFrame) -> DataFrame:
    """``df.cache()`` + track the handle for a later bulk release."""
    df = df.cache()
    _LIVE.append(df)
    return df


def mark_caches() -> int:
    """Snapshot the registry position; pair with
    :func:`release_caches_since` to release only what a pipeline phase
    registered."""
    return len(_LIVE)


def release_caches_since(mark: int) -> int:
    """Unpersist every cache registered after ``mark``; returns the
    count released."""
    n = len(_LIVE) - mark
    for df in _LIVE[mark:]:
        try:
            df.unpersist()
        except Exception:  # noqa: BLE001
            pass
    del _LIVE[mark:]
    return max(0, n)
