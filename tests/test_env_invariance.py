"""Environment-insensitivity guard for the harness queries (VERDICT r3
item 8): the driver's correctness gate runs in an environment we don't
control (its own session timezone, parallelism, engine build). Any
query whose output depends on session config would pass locally and
fail there — q06 was red for three rounds on exactly such a gap. This
pins the two cheapest config axes: session timezone and shuffle
partitioning."""

from __future__ import annotations

import hashlib
import os

import pytest

import __spark_entry__ as E

SF = "/root/testdata/sf0.001"


def _value_hash(df) -> str:
    cols = df.columns
    order = sorted(range(len(cols)), key=lambda i: cols[i])

    def norm(v):
        if v is None:
            return "∅"
        if isinstance(v, float):
            if v == int(v) and abs(v) < 1e15:
                return str(int(v))
            return f"{v:.9g}"
        return str(v)

    lines = sorted("|".join(norm(r[i]) for i in order) for r in df.collect())
    h = hashlib.sha256()
    for ln in lines:
        h.update(ln.encode())
        h.update(b"\n")
    return h.hexdigest()


@pytest.mark.skipif(not os.path.isdir(SF), reason="driver testdata absent")
@pytest.mark.parametrize("qname", ["q04_events_hourly", "q06_sessionize"])
def test_timezone_and_partitioning_invariance(spark, qname):
    """Identical output hash under (UTC, 32 shuffle partitions) and
    (America/Los_Angeles, 7 shuffle partitions) — the timestamp-heavy
    queries must be pure functions of the data, not the session."""
    fn = E.queries()[qname]
    conf = spark.conf
    base_tz = conf.get("spark.sql.session.timeZone")
    base_sp = conf.get("spark.sql.shuffle.partitions")
    try:
        conf.set("spark.sql.session.timeZone", "UTC")
        conf.set("spark.sql.shuffle.partitions", "32")
        h_utc = _value_hash(fn(spark, SF))
        conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
        conf.set("spark.sql.shuffle.partitions", "7")
        h_la = _value_hash(fn(spark, SF))
    finally:
        conf.set("spark.sql.session.timeZone", base_tz)
        conf.set("spark.sql.shuffle.partitions", base_sp)
    assert h_utc == h_la


@pytest.mark.parametrize(
    "cores, mem_kb, heap",
    [(4, 8 * 1024 * 1024, "4g"), (4, 64 * 1024 * 1024, "8g"), (32, 256 * 1024 * 1024, "48g")],
)
def test_default_heap_is_bounded_by_ram(monkeypatch, cores, mem_kb, heap):
    """The 8 GB heap floor applies before the half-of-RAM cap, so a
    small host never gets a heap it cannot back with memory."""
    import io

    from pdf_to_text_spark import session

    monkeypatch.setattr(session.os, "cpu_count", lambda: cores)
    monkeypatch.setattr(
        session, "open", lambda *_a, **_k: io.StringIO(f"MemTotal: {mem_kb} kB\n"), raising=False
    )
    assert session._default_heap() == heap
