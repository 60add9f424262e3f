"""Tests of the benchmark's own helpers; none starts Spark.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os

import pytest

from perfbench import oracle, procs, stages
from perfbench.inputs import digest_rows
from perfbench.run import percentile, seed_template
from perfbench.spans import covered, with_self_time


def _fake_proc(root, pid, ppid, ticks, cmd=b"", hwm_kb=0, comm="p"):
    d = root / str(pid)
    d.mkdir()
    u, s, cu, cs = ticks
    # fields 3.. after "(comm) ": state ppid pgrp session tty tpgid flags
    # minflt cminflt majflt cmajflt utime stime cutime cstime ...
    rest = f"S {ppid} 1 1 0 -1 0 0 0 0 0 {u} {s} {cu} {cs} 20 0 1 0"
    (d / "stat").write_text(f"{pid} ({comm}) {rest}\n")
    (d / "cmdline").write_bytes(cmd)
    (d / "status").write_text(f"Name:\tp\nVmHWM:\t{hwm_kb} kB\n")


@pytest.fixture
def fake_proc(tmp_path):
    _fake_proc(tmp_path, 100, 1, (100, 50, 0, 0), b"python3\0perfbench/run.py")
    _fake_proc(tmp_path, 200, 100, (1000, 200, 0, 0), b"/usr/bin/java\0-cp", 2048 * 1024)
    # the daemon has reaped one finished worker: its CPU sits in cutime/cstime
    _fake_proc(tmp_path, 300, 200, (10, 5, 300, 20), b"python3\0-m\0pyspark.daemon", 60 * 1024)
    _fake_proc(
        tmp_path, 301, 300, (400, 40, 0, 0), b"python3\0-m\0pyspark.daemon", 250 * 1024,
        comm="weird (name) x",
    )
    _fake_proc(tmp_path, 400, 1, (9999, 0, 0, 0), b"python3\0-m\0pyspark.daemon", 999 * 1024)
    (tmp_path / "self").mkdir()  # non-numeric entries are skipped
    return tmp_path


def test_tree_walk_stays_under_the_root(fake_proc):
    snap = procs.snapshot(str(fake_proc))
    assert procs.descendants(100, snap) == {100, 200, 300, 301}
    assert procs.descendants(300, snap) == {300, 301}
    assert procs.descendants(12345, snap) == set()


def test_comm_with_spaces_and_parens_parses(fake_proc):
    p = procs.read_proc(301, str(fake_proc))
    assert (p.ppid, p.cpu_ticks) == (300, 440)
    assert procs.read_proc(999, str(fake_proc)) is None


def test_tree_sample_sums_cpu_and_reads_peaks(fake_proc):
    t = procs.sample_tree(100, str(fake_proc))
    assert t.cpu_s == pytest.approx((150 + 1200 + 335 + 440) / procs.CLK_TCK)
    # workers = daemon (with its reaped child) + live worker; pid 400 is
    # a daemon outside the tree and must not count
    assert t.worker_cpu_s == pytest.approx((335 + 440) / procs.CLK_TCK)
    assert t.worker_hwm_mb == 250.0
    assert t.jvm_hwm_mb == 2048.0


def test_digest_is_stable_and_sees_every_field():
    rows = [
        {"url": "u1", "html": b"<p>a</p>", "text": None},
        {"url": "u2", "html": b"%PDF-1.4", "text": "t"},
    ]
    d = digest_rows(rows)
    assert d == digest_rows([dict(r) for r in rows])
    assert d != digest_rows([rows[0], {**rows[1], "html": b"%PDF-1.5"}])
    assert d != digest_rows([rows[0], {**rows[1], "text": None}])
    assert d != digest_rows(rows[::-1])
    # no field-boundary ambiguity
    a = [{"url": "ab", "html": b"c", "text": ""}]
    b = [{"url": "a", "html": b"bc", "text": ""}]
    assert digest_rows(a) != digest_rows(b)
    # None and empty are different inputs
    assert digest_rows([{"url": "u", "html": b"", "text": None}]) != digest_rows(
        [{"url": "u", "html": b"", "text": ""}]
    )


def _out(rows):
    return {c: [r[i] for r in rows] for i, c in enumerate(oracle.COLUMNS)}


GOLDEN = {
    "u1": ("text one", None, "html"),
    "u2": (None, "pdf:encrypted", "pdf"),
    "u3": ("layer", None, "text_layer"),
}


def test_oracle_accepts_exact_output():
    rows = [(u, *g) for u, g in GOLDEN.items()]
    assert oracle.mismatches(_out(rows), GOLDEN) == []
    assert oracle.mismatches(_out(rows[::-1]), GOLDEN) == []


def test_oracle_flags_missing_extra_duplicate_and_differing_rows():
    good = [(u, *g) for u, g in GOLDEN.items()]
    assert oracle.mismatches(_out(good[:2]), GOLDEN) == ["u3"]
    assert oracle.mismatches(_out(good + [("u9", "x", None, "html")]), GOLDEN) == ["u9"]
    assert oracle.mismatches(_out(good + [good[0]]), GOLDEN) == ["u1"]
    for i, field in ((1, "text one "), (2, "html:err"), (3, "pdf")):
        row = list(good[0])
        row[i] = field
        assert oracle.mismatches(_out([tuple(row)] + good[1:]), GOLDEN) == ["u1"]


def _stage(sid, t0, t1, **kw):
    base = {
        "id": sid, "attempt": 0, "submit": t0, "complete": t1, "tasks": 1, "task_ms": [10],
        "input_bytes": 0, "input_records": 0, "output_bytes": 0, "shuffle_read_bytes": 0,
        "shuffle_write_bytes": 0, "gc_ms": 0, "spill_bytes": 0,
    }
    return {**base, **kw}


def _job(jid, t0, t1, ids):
    return {"id": jid, "submit": t0, "complete": t1, "stage_ids": ids}


def test_stage_attribution_of_an_output_colocated_pass():
    # the shape of a run_extraction pass under AQE: schema read, one scan
    # stage per repartition branch, the UDF stage, the write stage, then
    # partition listing and the lineage aggregate
    jobs = [
        _job(0, 0.0, 0.1, [0]),
        _job(1, 0.7, 0.8, [1]),
        _job(2, 0.7, 0.8, [2]),
        _job(3, 0.8, 3.7, [3, 4, 5]),  # 3 and 4 are AQE-skipped re-references
        _job(4, 3.8, 6.7, [6, 7, 8, 9]),
        _job(5, 6.8, 7.4, [10]),
        _job(6, 7.6, 7.9, [11]),
    ]
    st = [
        _stage(0, 0.0, 0.1),
        _stage(1, 0.7, 0.8, input_records=410, shuffle_write_bytes=3000),
        _stage(2, 0.7, 0.8, input_records=410),
        _stage(5, 0.8, 3.7, tasks=6, task_ms=[100, 100, 100, 100, 400, 50],
               shuffle_read_bytes=3000, shuffle_write_bytes=2700),
        _stage(9, 3.8, 6.7, tasks=64, shuffle_read_bytes=2700, output_bytes=2000),
        _stage(10, 6.8, 7.4, tasks=64),
        _stage(11, 7.6, 7.9, tasks=2, input_records=410, shuffle_write_bytes=16),
    ]
    rows = stages.attribute(jobs, st)
    assert [(r["stage"], r["job"], r["layer"]) for r in rows] == [
        (0, 0, stages.PLAN),
        (1, 1, stages.SCAN),
        (2, 2, stages.SCAN),
        (5, 3, stages.EXTRACT),
        (9, 4, stages.WRITE),
        (10, 5, stages.LINEAGE),
        (11, 6, stages.LINEAGE),
    ]
    assert stages.wall([st[1], st[2]]) == pytest.approx(0.1)
    assert stages.wall([]) == 0.0
    assert stages.task_skew([st[3]]) == pytest.approx(4.0)
    assert stages.task_skew([]) == 0.0


def test_self_time_subtracts_the_union_of_children():
    spans = [
        {"id": 0, "name": "pass", "start": 0.0, "end": 10.0, "parent": None},
        {"id": 1, "name": "job", "start": 1.0, "end": 4.0, "parent": 0},
        {"id": 2, "name": "job", "start": 3.0, "end": 6.0, "parent": 0},  # overlaps 1
        {"id": 3, "name": "stage", "start": 1.0, "end": 2.0, "parent": 1},
        {"id": 4, "name": "late", "start": 9.0, "end": 12.0, "parent": 0},  # clipped
    ]
    self_s = {s["id"]: s["self_s"] for s in with_self_time(spans)}
    assert self_s == pytest.approx({0: 10 - 5 - 1, 1: 2.0, 2: 3.0, 3: 1.0, 4: 3.0})
    assert covered([], 0.0, 1.0) == 0.0


def test_percentile_is_nearest_rank():
    assert percentile([], 50) == 0.0
    assert percentile([5.0], 99) == 5.0
    assert percentile([float(i) for i in range(1, 101)], 50) == 50.0
    assert percentile([float(i) for i in range(1, 101)], 99) == 99.0
    assert percentile([3.0, 1.0, 2.0], 50) == 2.0


def test_seed_template_keeps_even_buckets_committed(tmp_path):
    full = tmp_path / "full"
    for b in range(64):
        d = full / "extracted" / f"bucket={b}"
        d.mkdir(parents=True)
        (d / "part-0.parquet").write_bytes(b"x")
    (full / "_manifest").mkdir()
    lines = [json.dumps({"run_id": "r", "bucket": b, "status": "committed"}) for b in range(64)]
    (full / "_manifest" / "r.json").write_text("\n".join(lines) + "\n")

    pending = seed_template(str(full), str(tmp_path / "tpl"))
    assert pending == list(range(1, 64, 2))
    kept = sorted(int(n.split("=")[1]) for n in os.listdir(tmp_path / "tpl" / "extracted"))
    assert kept == list(range(0, 64, 2))
    from pdf_to_text_spark.plans.pipeline import committed_buckets

    assert committed_buckets(str(tmp_path / "tpl")) == set(range(0, 64, 2))
