"""Extraction benchmark: ``plans.pipeline.run_extraction`` at ``local[2]``.

    python3 perfbench/run.py --workload extract_pdf --seed 1 --seconds 12 --trace 0

Run from the repository root. Workloads: ``extract_pdf``,
``extract_html``, ``resume_half`` (see perfbench/README.md).

``--trace 0`` starts a session, runs four warm-up passes (``setup_s``),
then timed passes until ``--seconds`` have passed, and reports the
end-to-end metrics as medians over the timed passes. ``--trace 1``
is a separate run that reports the per-layer metrics and writes a span
file. Every pass's output is checked against the sequential oracle; the
last stdout line is the JSON result, and the exit code is 1 when any row
is missing or differs.

Everything the benchmark writes goes under ``.perfbench/`` in the
checkout: the corpus cache, a per-run scratch directory (Spark local
dirs, JVM and Python temp files, pass outputs; removed at exit) and the
span files.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:  # run as a script: perfbench/ is sys.path[0]
    sys.path.insert(0, ROOT)

# modules that need no pdf_to_text_spark; the ones that do are imported
# after main() has checked the package is there
from perfbench import oracle, procs, stages  # noqa: E402
from perfbench.spans import Spans  # noqa: E402

WORK = os.path.join(ROOT, ".perfbench")
# Half the 4 vCPUs the benchmark was tuned on: at local[4] the JVM, its GC
# threads, the Python workers and the harness fight over the cores, and
# pass time varied 16-20 s where local[2] held 33.5-36 s (README.md).
CORES = 2
N_BUCKETS = 64  # run_extraction's default
# Tree CPU per pass keeps falling for ~4 passes after the first (JIT
# compilation of the plan, ~12 -> ~9 s on extract_html); timing those
# passes made cpu_ms_per_doc depend on how many fit in the window.
WARM_UP_PASSES = 4
ROUTES = ("text_layer", "pdf", "html", "error")


def confine(scratch: str) -> None:
    """Point every temp and spill location of the JVM and the Python
    workers inside ``scratch``, and put the checkout on the workers'
    PYTHONPATH. Must run before the JVM starts."""
    for sub in ("tmp", "local", "warehouse"):
        os.makedirs(os.path.join(scratch, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(scratch, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(scratch, "local")
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(scratch, "warehouse")
    # spark-submit's launcher JVM would otherwise write /tmp/hsperfdata_*
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)


def start_session(scratch: str):
    from pdf_to_text_spark.session import get_spark

    return get_spark(
        app_name="perfbench",
        cores=CORES,
        shuffle_partitions=CORES,
        extra_conf={
            "spark.local.dir": os.path.join(scratch, "local"),
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={os.path.join(scratch, 'tmp')} -XX:-UsePerfData"
            ),
        },
    )


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and so its Python workers) to end."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def seed_template(full_out: str, template: str) -> list[int]:
    """A resumable output dir holding the even buckets of a full run,
    committed in its manifest; returns the pending (odd) buckets."""
    keep = set(range(0, N_BUCKETS, 2))
    src = os.path.join(full_out, "extracted")
    dst = os.path.join(template, "extracted")
    os.makedirs(dst)
    for name in os.listdir(src):
        if name.startswith("bucket=") and int(name.split("=", 1)[1]) in keep:
            shutil.copytree(os.path.join(src, name), os.path.join(dst, name))
    mdir = os.path.join(template, "_manifest")
    os.makedirs(mdir)
    for name in os.listdir(os.path.join(full_out, "_manifest")):
        with open(os.path.join(full_out, "_manifest", name)) as f:
            lines = [ln for ln in f if json.loads(ln)["bucket"] in keep]
        with open(os.path.join(mdir, name), "w") as f:
            f.writelines(lines)
    return sorted(set(range(N_BUCKETS)) - keep)


class Bench:
    """One benchmark invocation: corpus, session, passes and checks."""

    def __init__(self, workload, corpus, scratch: str):
        self.workload = workload
        self.corpus = corpus
        self.scratch = scratch
        self.out = os.path.join(scratch, "out")
        self.template: str | None = None
        self.pending: list[int] | None = None  # None = every bucket
        self.full_rows: set | None = None
        self.failed = 0
        self.attempted = 0

    def run_pass(self, spark) -> dict:
        from pdf_to_text_spark.plans.pipeline import run_extraction

        shutil.rmtree(self.out, ignore_errors=True)
        if self.template:
            shutil.copytree(self.template, self.out)
        steal0, busy0 = procs.machine_ticks()
        s0 = procs.sample_tree()
        t0 = time.perf_counter()
        start = time.time()
        summary = run_extraction(spark, self.corpus.pages, self.out)
        wall = time.perf_counter() - t0
        end = time.time()
        s1 = procs.sample_tree()
        steal1, busy1 = procs.machine_ticks()
        p = {
            "start": start,
            "end": end,
            "wall_s": wall,
            "docs": summary["rows"],
            "cpu_s": s1.cpu_s - s0.cpu_s,
            "worker_cpu_s": s1.worker_cpu_s - s0.worker_cpu_s,
            "worker_hwm_mb": s1.worker_hwm_mb,
            "jvm_hwm_mb": s1.jvm_hwm_mb,
            "steal": (steal1 - steal0) / max(busy1 - busy0, 1),
            "load1": procs.load1(),
        }
        p["mismatches"] = self.check()
        return p

    def check(self) -> int:
        """Oracle gate on the whole output table; for a resumed pass the
        table must also equal the full run's."""
        cols = oracle.COLUMNS + ("bytes_in",)
        out = oracle.read_output(os.path.join(self.out, "extracted"), cols)
        bad = set(oracle.mismatches(out, self.corpus.golden))
        rows = oracle.table_rows(out)
        if self.full_rows is None:
            self.full_rows = rows
        elif rows != self.full_rows:
            bad.update(r[0] for r in rows ^ self.full_rows)
        self.attempted += len(self.corpus.golden)
        self.failed += len(bad)
        for u in sorted(bad)[:5]:
            print(f"perfbench: oracle mismatch {u}", file=sys.stderr)
        return len(bad)

    def warm_up(self, spark) -> list[dict]:
        """The warm-up passes. The first is a full run, whose output also
        seeds the resumable template of ``resume_half``; the rest run the
        measured plan while the JVM is still compiling it."""
        first = self.run_pass(spark)
        if self.workload.resume:
            self.template = os.path.join(self.scratch, "template")
            self.pending = seed_template(self.out, self.template)
        return [first] + [self.run_pass(spark) for _ in range(WARM_UP_PASSES - 1)]


def measure(bench: Bench, seconds: int) -> dict:
    t0 = time.perf_counter()
    spark = start_session(bench.scratch)
    try:
        # the session start plus the warm-up passes' own walls: the
        # harness's oracle checks between them are not set-up
        setup_s = time.perf_counter() - t0
        warm = bench.warm_up(spark)
        setup_s += sum(p["wall_s"] for p in warm)
        passes = []
        deadline = time.perf_counter() + seconds
        while not passes or time.perf_counter() < deadline:
            passes.append(bench.run_pass(spark))
    finally:
        stop_session(spark)
    return {
        "metrics": {
            "docs_per_s": (statistics.median(p["docs"] / p["wall_s"] for p in passes), "docs/s"),
            "cpu_ms_per_doc": (
                statistics.median(1000.0 * p["cpu_s"] / p["docs"] for p in passes),
                "ms",
            ),
            "setup_s": (setup_s, "s"),
            "worker_peak_rss_mb": (max(p["worker_hwm_mb"] for p in passes), "MB"),
        },
        "context": {"warm_up": warm, "passes": passes},
    }


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile; 0 for no values."""
    if not values:
        return 0.0
    v = sorted(values)
    return v[max(0, math.ceil(q / 100.0 * len(v)) - 1)]


def trace(bench: Bench, span_path: str) -> dict:
    """The per-layer run: warm-up, one untraced and one traced pass, the
    noop prefixes and the single-threaded core kernels."""
    from perfbench import prefixes

    sp = Spans()
    m: dict[str, tuple[float, str]] = {}
    t0 = time.time()
    spark = start_session(bench.scratch)
    try:
        t1 = time.time()
        warm = bench.warm_up(spark)
        setup = sp.add("setup", t0, warm[-1]["end"], None)
        sp.add("session.start", t0, t1, setup)
        for i, p in enumerate(warm):
            sp.add(f"pass.warm_up.{i}", p["start"], p["end"], setup)
        m["session.start_s"] = (t1 - t0, "s")

        sc = spark.sparkContext
        untraced = bench.run_pass(spark)
        sp.add("pass.untraced", untraced["start"], untraced["end"], None)
        group = "perfbench.pass"
        sc.setJobGroup(group, "traced run_extraction pass")
        traced = bench.run_pass(spark)
        layer_rows = pass_layers(sc, group, bench, traced, sp, m)
        m["trace.overhead_s"] = (traced["wall_s"] - untraced["wall_s"], "s")

        walls = {}
        for name, df in prefixes.build(spark, bench.corpus.pages, N_BUCKETS, bench.pending):
            sc.setJobGroup(f"perfbench.prefix.{name}", f"noop prefix {name}")
            with sp.span(f"prefix.{name}") as pid:
                prefixes.run_noop(df)
            walls[name] = sp.duration(pid)
        m["operators.extract.arrow_ms_per_doc"] = (
            1000.0 * (walls["arrow"] - walls["repartition"]) / traced["docs"],
            "ms",
        )
        m["functions.text.normalize_s"] = (walls["normalize"] - walls["parse"], "s")
        m["jvm.peak_rss_mb"] = (procs.sample_tree().jvm_hwm_mb, "MB")
    finally:
        stop_session(spark)
    kernel_layers(bench.corpus, sp, m)
    sp.write(span_path)
    return {
        "metrics": m,
        "context": {
            "stage_layers": layer_rows,
            "prefix_wall_s": walls,
            "passes": {"warm_up": warm, "untraced": untraced, "traced": traced},
            "spans": os.path.relpath(span_path, ROOT),
        },
    }


def pass_layers(sc, group: str, bench: Bench, traced: dict, sp, m: dict) -> list[dict]:
    """Per-layer metrics of the traced pass from the status store, its
    output and its process-tree sample; returns the stage-to-layer rows."""
    jobs, stage_rows = stages.read_group(sc, group)
    layer_rows = stages.attribute(jobs, stage_rows)
    layer_of = {r["stage"]: r["layer"] for r in layer_rows}
    pass_id = sp.add("pass.traced", traced["start"], traced["end"], None)
    job_span = {j["id"]: sp.add(f"job.{j['id']}", j["submit"], j["complete"], pass_id) for j in jobs}
    for r, s in zip(layer_rows, sorted(stage_rows, key=lambda s: s["id"])):
        sp.add(f"stage.{s['id']}.{r['layer']}", s["submit"], s["complete"], job_span[r["job"]])

    def of(layer):
        return [s for s in stage_rows if layer_of[s["id"]] == layer]

    scan, ext, write = of(stages.SCAN), of(stages.EXTRACT), of(stages.WRITE)
    docs = traced["docs"]
    scanned = sum(s["input_records"] for s in scan)
    write_end = max(s["complete"] for s in write)
    m["plans.pipeline.scan_s"] = (stages.wall(scan), "s")
    m["plans.pipeline.scan_tasks"] = (sum(s["tasks"] for s in scan), "count")
    m["plans.pipeline.shuffle_in_bytes"] = (sum(s["shuffle_write_bytes"] for s in scan), "bytes")
    m["operators.extract.stage_s"] = (stages.wall(ext), "s")
    m["operators.extract.tasks"] = (sum(s["tasks"] for s in ext), "count")
    m["operators.extract.task_skew"] = (stages.task_skew(ext), "ratio")
    m["operators.extract.python_cpu_ms_per_doc"] = (1000.0 * traced["worker_cpu_s"] / docs, "ms")
    m["plans.pipeline.shuffle_out_bytes"] = (sum(s["shuffle_write_bytes"] for s in ext), "bytes")
    m["plans.pipeline.write_s"] = (stages.wall(write), "s")
    m["plans.pipeline.output_bytes"] = (sum(s["output_bytes"] for s in write), "bytes")
    m["plans.pipeline.lineage_s"] = (traced["end"] - write_end, "s")
    m["plans.pipeline.resume_rows_scanned"] = (scanned, "count")
    m["plans.pipeline.resume_rows_extracted"] = (docs, "count")
    m["plans.pipeline.resume_useful_ratio"] = (docs / scanned, "ratio")
    m["jvm.gc_s"] = (sum(s["gc_ms"] for s in stage_rows) / 1000.0, "s")
    m["jvm.spill_bytes"] = (sum(s["spill_bytes"] for s in stage_rows), "bytes")
    m["occupancy"] = (traced["cpu_s"] / (traced["wall_s"] * CORES), "ratio")

    out_dir = os.path.join(bench.out, "extracted")
    pending = set(range(N_BUCKETS) if bench.pending is None else bench.pending)
    m["plans.pipeline.write_files"] = (
        sum(
            f.startswith("part-")
            for b in pending
            for f in os.listdir(os.path.join(out_dir, f"bucket={b}"))
        ),
        "count",
    )
    out = oracle.read_output(out_dir, ("route", "extract_ms", "bucket"))
    for route in ROUTES:
        ms = [
            x
            for r, x, b in zip(out["route"], out["extract_ms"], out["bucket"])
            if r == route and b in pending
        ]
        m[f"parse_ms.p50.{route}"] = (percentile(ms, 50), "ms")
        m[f"parse_ms.p99.{route}"] = (percentile(ms, 99), "ms")
    return layer_rows


def kernel_layers(corpus, sp, m: dict) -> None:
    """Single-threaded in-process timing of the core parsers over the
    corpus rows the oracle routes to them; 0 where a workload has none."""
    from pdf_to_text_spark.core.htmlextract import extract_main_content_bytes
    from pdf_to_text_spark.core.pdfparse import extract_pdf_pages_safe

    for route, fn, key in (
        ("pdf", extract_pdf_pages_safe, "core.pdfparse"),
        ("html", extract_main_content_bytes, "core.htmlextract"),
    ):
        payloads = [r["html"] for r in corpus.rows if corpus.golden[r["url"]][2] == route]
        secs = 0.0
        if payloads:
            with sp.span(f"kernel.{key}") as kid:
                for b in payloads:
                    fn(b)
            secs = sp.duration(kid)
        m[f"{key}.ms_per_doc"] = (1000.0 * secs / len(payloads) if payloads else 0.0, "ms")
        if key == "core.pdfparse":
            mb = sum(len(b) for b in payloads) / 1e6
            m["core.pdfparse.ms_per_mb"] = (1000.0 * secs / mb if mb else 0.0, "ms/MB")


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "pdf_to_text_spark")):
        print(f"perfbench: no pdf_to_text_spark package under {ROOT}", file=sys.stderr)
        return 2
    from perfbench import inputs

    if args.workload not in inputs.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    workload = inputs.WORKLOADS[args.workload]
    corpus = inputs.prepare(os.path.join(WORK, "cache"), workload, args.seed)
    scratch = os.path.join(WORK, f"run-{os.getpid()}")
    confine(scratch)
    bench = Bench(workload, corpus, scratch)
    try:
        if args.trace:
            os.makedirs(os.path.join(WORK, "trace"), exist_ok=True)
            span_path = os.path.join(WORK, "trace", f"spans-{workload.name}-s{args.seed}.json")
            result = trace(bench, span_path)
        else:
            result = measure(bench, args.seconds)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)

    failed_frac = bench.failed / bench.attempted
    print(
        json.dumps(
            {
                "workload": workload.name,
                "seed": args.seed,
                "rows": workload.rows,
                "input_digest": corpus.digest,
                "input_reused": corpus.reused,
                "failed_frac": {"value": failed_frac, "unit": "ratio"},
                **result["context"],
            }
        )
    )
    print(
        json.dumps(
            {
                "correct": bench.failed == 0,
                "attempted": bench.attempted,
                "failed": bench.failed,
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in result["metrics"].items()},
            }
        )
    )
    return 0 if bench.failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
