"""The production extraction job (north rule, end-to-end).

``run_extraction(spark, in_path, out_dir, ...)``:

1. bucket every url deterministically: ``bucket = pmod(xxhash64(url), n_buckets)``
   — the unit of commit, resume and output partitioning;
2. **resume**: buckets listed in ``out_dir/_manifest`` are complete from
   a previous run and are filtered out (partition pruning makes the
   re-scan cheap; output is keyed by url so re-running is idempotent);
   a resume at another ``n_buckets`` than the committed one is refused;
3. **skew handling**: one ``repartitionById`` places every row by a url
   hash seeded apart from the bucket's: small rows into ``n_partitions``
   tasks, whale rows (html bytes above ``WHALE_BYTES``) into
   ``max(2, n_partitions // 2)`` tasks after them — a single 200-page PDF
   never serializes a task of small rows behind it (north rule skew
   clause), and the input is scanned once;
4. extraction (``operators.extract.extract_documents`` — one UDF pass,
   shuffle-free), then a hash repartition of the extracted rows on the
   output bucket into ``min(n_buckets, n_partitions)`` tasks: each bucket
   lands in exactly one task (one file per bucket), and the write runs
   one task per slot rather than one per bucket;
5. write results parquet partitioned by bucket with dynamic partition
   overwrite (re-runs replace exactly the buckets they recompute);
6. **lineage**: per-output-partition metrics rows
   ``(run_id, partition_id, doc_count, bytes_in, extract_ms)`` appended
   to ``out_dir/metrics`` (north-star metrics table), aggregated from a
   read-back of the written output with the plan's own schema (no footer
   opened for inference) and a bucket-directory listing job of at most
   ``n_partitions`` tasks;
7. **manifest**: after the write action succeeds, one JSON line per
   completed bucket in ``out_dir/_manifest/`` — checkpointed
   partition-completion (north rule), written only after commit so a
   mid-job kill leaves the bucket uncommitted and it is redone whole.

At 100 TB: n_buckets scales to ~#cores×4 of the cluster; everything
here is per-bucket-parallel with one scan and two shuffles (the input
placement and the output-bucket repartition), no driver-side collect of
data rows (only the tiny per-bucket/metric aggregates, O(n_buckets)).
"""

from __future__ import annotations

import json
import os
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pdf_to_text_spark.core.sizing import WHALE_BYTES
from pdf_to_text_spark.operators.extract import extract_documents


def bucket_of(url_col, n_buckets: int):
    return F.pmod(F.xxhash64(url_col), F.lit(n_buckets)).cast("int")


def committed_buckets(out_dir: str, n_buckets: int | None = None) -> set[int]:
    """The buckets ``out_dir/_manifest`` lists as committed. A committed
    line naming another ``n_buckets`` raises ``ValueError``: its buckets
    hash other urls. A line without the count is read as before."""
    mdir = os.path.join(out_dir, "_manifest")
    done: set[int] = set()
    if not os.path.isdir(mdir):
        return done
    for name in os.listdir(mdir):
        if name.endswith(".json"):
            with open(os.path.join(mdir, name)) as f:
                for line in f:
                    rec = json.loads(line)
                    if rec.get("status") != "committed":
                        continue
                    if n_buckets is not None and rec.get("n_buckets", n_buckets) != n_buckets:
                        raise ValueError(f"{out_dir} is committed at {rec['n_buckets']} buckets")
                    done.add(int(rec["bucket"]))
    return done


def _write_manifest(out_dir: str, run_id: str, buckets: list[int], n_buckets: int) -> None:
    mdir = os.path.join(out_dir, "_manifest")
    os.makedirs(mdir, exist_ok=True)
    path = os.path.join(mdir, f"{run_id}.json")
    tmp = path + ".tmp"
    now = time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime())
    with open(tmp, "w") as f:
        for b in sorted(buckets):
            rec = {"run_id": run_id, "bucket": b, "n_buckets": n_buckets, "status": "committed"}
            f.write(json.dumps({**rec, "committed_at": now}) + "\n")
    os.replace(tmp, path)  # atomic: manifest appears whole or not at all


def _write_metrics(out_dir: str, run_id: str, mrows) -> None:
    """Append the per-partition lineage rows (O(n_buckets), tiny) as one
    parquet file written driver-side with pyarrow — a Spark write of a
    64-row frame costs seconds of committer overhead for no benefit."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    mdir = os.path.join(out_dir, "metrics")
    os.makedirs(mdir, exist_ok=True)
    table = pa.Table.from_pylist(
        [
            {
                "run_id": run_id,
                "partition_id": int(r["partition_id"]),
                "doc_count": int(r["doc_count"]),
                "bytes_in": int(r["bytes_in"] or 0),
                "extract_ms": int(r["extract_ms"] or 0),
            }
            for r in mrows
        ],
        schema=pa.schema(
            [
                ("run_id", pa.string()),
                ("partition_id", pa.int32()),
                ("doc_count", pa.int64()),
                ("bytes_in", pa.int64()),
                ("extract_ms", pa.int64()),
            ]
        ),
    )
    pq.write_table(table, os.path.join(mdir, f"metrics-{run_id}.parquet"))


def size_aware_repartition(df: DataFrame, n_partitions: int) -> DataFrame:
    """Whale-aware input placement in one exchange (SURVEY §7.1 M4).

    Small rows (``html`` up to ``WHALE_BYTES``, or null) hash into
    partitions ``[0, n)``, whales into the ``max(2, n // 2)`` after them:
    AQE cannot split one oversized *row*, so a whale never shares a task
    with small rows. The hash is not ``bucket_of``'s, else a resume with
    only odd buckets pending would leave the even partitions empty.
    """
    n_whale = max(2, n_partitions // 2)
    spread = F.xxhash64("url", F.lit(0x5A17))
    pid = F.when(
        F.octet_length("html") > WHALE_BYTES, n_partitions + F.pmod(spread, F.lit(n_whale))
    ).otherwise(F.pmod(spread, F.lit(n_partitions)))
    return df.repartitionById(n_partitions + n_whale, pid.cast("int"))


def run_extraction(
    spark: SparkSession,
    in_path: str,
    out_dir: str,
    *,
    n_buckets: int = 64,
    n_partitions: int | None = None,
    resume: bool = True,
    ocr_scanned: bool = False,
) -> dict:
    """Run the extraction job; returns a small summary dict.

    ``ocr_scanned`` enables the opt-in scanned-page OCR fallback
    (SPEC v1.2 item 4; default OFF = frozen-spec output)."""
    run_id = uuid.uuid4().hex[:12]
    n_partitions = n_partitions or spark.sparkContext.defaultParallelism * 2

    # project the shuffle payload down to what extraction consumes —
    # every other column would ride the explicit repartition for nothing
    pages = spark.read.parquet(in_path).select("url", "html", "text")
    pages = pages.withColumn("bucket", bucket_of(F.col("url"), n_buckets))

    done = committed_buckets(out_dir, n_buckets) if resume else set()
    all_buckets = set(range(n_buckets))
    pending = sorted(all_buckets - done)
    if not pending:
        return {"run_id": run_id, "buckets_done": len(done), "buckets_run": 0, "rows": 0}
    if done:
        pages = pages.filter(F.col("bucket").isin(pending))

    staged = size_aware_repartition(pages, n_partitions)
    # re-derive bucket after extraction (a projection — rows never move),
    # then hash-partition on it: every bucket lands in exactly one task,
    # so the write stays at one file per bucket, never O(n_tasks ×
    # n_buckets) — the small-file explosion is the classic 100 TB killer.
    # One task per slot, not per bucket: at ~1 ms of work per row, the
    # fixed cost of n_buckets mostly-tiny write tasks (empty ones on
    # resume) outweighs the rows they write; a cluster with more slots
    # than buckets still gets one task per bucket.
    result = (
        extract_documents(staged, ocr_scanned=ocr_scanned)
        .withColumn("bucket", bucket_of(F.col("url"), n_buckets))
        .repartition(min(n_buckets, n_partitions), "bucket")
    )

    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    # listing the bucket directories back (more than Spark's threshold of
    # 32) launches a job of one task per directory; bound it to the slots
    spark.conf.set("spark.sql.sources.parallelPartitionDiscovery.parallelism", n_partitions)
    out_path = os.path.join(out_dir, "extracted")
    result.write.partitionBy("bucket").mode("overwrite").parquet(out_path)

    # lineage from the WRITTEN output (single extraction pass, no
    # persist): a columnar read of 3 small columns — the text and html
    # bytes are never re-read (column pruning), and the plan's own schema
    # means no footer is opened to infer one. partition_id == bucket: the
    # bucket IS the physical output partition.
    mrows = (
        spark.read.schema(result.schema)
        .parquet(out_path)
        .filter(F.col("bucket").isin(pending))
        .groupBy(F.col("bucket").alias("partition_id"))
        .agg(
            F.count("*").alias("doc_count"),
            F.sum("bytes_in").alias("bytes_in"),
            F.sum("extract_ms").cast("long").alias("extract_ms"),
        )
        .collect()
    )
    n_rows = sum(r["doc_count"] for r in mrows)
    _write_metrics(out_dir, run_id, mrows)

    _write_manifest(out_dir, run_id, pending, n_buckets)
    return {
        "run_id": run_id,
        "buckets_done": len(done),
        "buckets_run": len(pending),
        "rows": n_rows,
    }
