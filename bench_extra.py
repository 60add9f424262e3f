"""Extra benchmark harness for optimization work (guide §1.4).

NOT part of the driver contract — ``bench.py`` is frozen for
measurement. This tool isolates individual declared queries with the
noop sink, captures ``explain("formatted")`` plans, and times stages so
optimizations are driven by numbers rather than guesses.

Usage::

    python bench_extra.py --sf /root/testdata/sf1.0 --queries q33_ngram_jaccard
    python bench_extra.py --sf /root/testdata/sf0.1 --all --repeats 3
    python bench_extra.py --sf /root/testdata/sf1.0 --queries q33_ngram_jaccard --plan plans/r06/q33_before.txt
    python bench_extra.py --task-floor --cores 2 --repeats 5
    python bench_extra.py --parse --workload resume_half --seed 41 --repeats 12

``--task-floor`` measures the fixed cost of a Python task: an empty
6-partition stage through the extraction UDF, timed per task from
Spark's status store after two warm-up runs (the first starts the
workers, the second is their first task with the package imported).

``--parse`` runs no Spark: it times ``extract_pdf_pages_safe`` over the
rows of a perfbench workload's fixture corpus that the oracle routes to
``pdf``, in process CPU time, once per repeat, and prints the row count
and the min/median ms.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

import __spark_entry__ as E  # noqa: E402

from pdf_to_text_spark.core.caching import mark_caches, release_caches_since  # noqa: E402
from pdf_to_text_spark.session import get_spark  # noqa: E402

SCRATCH = os.environ.get(
    "SPARK_GRAFT_SCRATCH", "/dev/shm" if os.path.isdir("/dev/shm") else "/tmp"
)


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def task_floor(spark, repeats: int) -> dict:
    """Min and median task ms of an empty 6-partition pandas-UDF stage
    that calls ``parse_any_udf``, pooled over ``repeats`` warm runs."""
    from pyspark.sql import functions as F

    from pdf_to_text_spark.operators.extract import parse_any_udf
    from perfbench.stages import read_group

    sc = spark.sparkContext
    df = (
        spark.range(0, 6, 1, 6)
        .filter(F.col("id") < 0)
        .select(parse_any_udf(F.lit(None).cast("binary"), F.lit(None).cast("string")))
    )
    task_ms = []
    for i in range(2 + repeats):
        group = f"task-floor-{i}"
        sc.setJobGroup(group, group)
        noop(df)
        if i >= 2:
            task_ms += [t for s in read_group(sc, group)[1] for t in s["task_ms"]]
    return {
        "min_ms": min(task_ms),
        "median_ms": statistics.median(task_ms),
        "tasks": len(task_ms),
        "repeats": repeats,
        "load1": os.getloadavg()[0],
    }


def parse_cpu(workload: str, seed: int, repeats: int) -> dict:
    """Min and median process-CPU ms of one ``extract_pdf_pages_safe``
    pass over the PDF rows of ``workload``'s corpus for ``seed``, over
    ``repeats`` passes. The rows are those the oracle routes to ``pdf``,
    the set ``perfbench/run.py::kernel_layers`` times for
    ``core.pdfparse.ms_per_doc``; that metric is this pass's wall time
    divided by the row count, taken once inside a benchmark run."""
    from pdf_to_text_spark.core.pdfparse import extract_pdf_pages_safe
    from pdf_to_text_spark.fixtures import make_corpus, oracle_extract
    from perfbench.inputs import WORKLOADS

    w = WORKLOADS[workload]
    pdfs = [
        r["html"] for r in make_corpus(w.rows, seed, classes=w.classes)
        if oracle_extract(r["html"], r["text"])[2] == "pdf"
    ]
    cpu_ms = []
    for _ in range(repeats):
        t0 = time.process_time()
        for data in pdfs:
            extract_pdf_pages_safe(data)
        cpu_ms.append(round((time.process_time() - t0) * 1000, 1))
    return {
        "workload": workload,
        "seed": seed,
        "pdf_rows": len(pdfs),
        "min_ms": min(cpu_ms),
        "median_ms": statistics.median(cpu_ms),
        "samples_ms": cpu_ms,
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--queries", nargs="*", default=None)
    ap.add_argument("--all", action="store_true")
    ap.add_argument("--repeats", type=int, default=1)
    ap.add_argument("--plan", default=None, help="write explain('formatted') to this file")
    ap.add_argument("--cores", type=int, default=int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
    ap.add_argument(
        "--bench-materialize",
        action="store_true",
        help="materialize like bench.py (count + xxhash64 collect) instead of the noop sink",
    )
    ap.add_argument(
        "--task-floor",
        action="store_true",
        help="time the tasks of an empty pandas-UDF stage (at least 5 repeats) instead of queries",
    )
    ap.add_argument(
        "--parse",
        action="store_true",
        help="time extract_pdf_pages_safe over a workload's PDF rows (no Spark)",
    )
    ap.add_argument("--workload", default="resume_half", help="perfbench workload for --parse")
    ap.add_argument("--seed", type=int, default=41, help="corpus seed for --parse")
    args = ap.parse_args()
    if args.parse:
        print(json.dumps(parse_cpu(args.workload, args.seed, args.repeats)))
        return

    spark = get_spark(
        app_name="bench-extra",
        cores=args.cores,
        shuffle_partitions=args.cores,
        extra_conf={"spark.local.dir": f"{SCRATCH}/sg_spark_local_{os.getpid()}"},
    )
    if args.task_floor:
        print(json.dumps({"cores": args.cores, "task_floor": task_floor(spark, max(5, args.repeats))}))
        spark.stop()
        return
    qs = E.queries()
    names = list(qs) if args.all else (args.queries or [])
    out: dict[str, dict] = {}
    for name in names:
        fn = qs[name]
        # every query runs between mark_caches and release_caches_since,
        # so the caches its operators register do not outlive it
        if args.plan:
            mark = mark_caches()
            df = fn(spark, args.sf)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
            os.makedirs(os.path.dirname(args.plan) or ".", exist_ok=True)
            with open(args.plan, "w") as f:
                f.write(plan)
            release_caches_since(mark)
        samples = []
        for _ in range(args.repeats):
            spark.sparkContext.setJobDescription(name)
            mark = mark_caches()
            t0 = time.perf_counter()
            df = fn(spark, args.sf)
            if args.bench_materialize:
                from pyspark.sql import functions as F

                df.select(
                    F.count("*").alias("n"),
                    F.sum(
                        F.xxhash64(*[F.col(c) for c in df.columns]).cast("decimal(38,0)")
                    ).alias("h"),
                ).collect()
            else:
                noop(df)
            samples.append(round(time.perf_counter() - t0, 3))
            release_caches_since(mark)
        out[name] = {
            "median": round(statistics.median(samples), 3),
            "min": min(samples),
            "samples": samples,
        }
        print(f"{name}: {out[name]}", file=sys.stderr)
    print(json.dumps({"sf": args.sf, "cores": args.cores, "results": out}))
    spark.stop()


if __name__ == "__main__":
    main()
