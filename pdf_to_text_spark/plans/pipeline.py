"""The production extraction job (north rule, end-to-end).

``run_extraction(spark, in_path, out_dir, ...)``:

1. bucket every url deterministically: ``bucket = pmod(xxhash64(url), n_buckets)``
   — the unit of commit, resume and output partitioning;
2. **resume**: buckets listed in ``out_dir/_manifest`` are complete from
   a previous run and are filtered out (partition pruning makes the
   re-scan cheap; output is keyed by url so re-running is idempotent);
3. **skew handling**: whale rows (html bytes above ``whale_bytes``) are
   split off and repartitioned one-per-task, small rows get a salted
   ``repartition(n, url, salt)`` — a single 200-page PDF never
   serializes a whole task behind it (north rule skew clause);
4. extraction (``operators.extract.extract_documents`` — one UDF pass,
   shuffle-free), then a repartition of the extracted rows on the
   output bucket so each bucket is written by one task;
5. write results parquet partitioned by bucket with dynamic partition
   overwrite (re-runs replace exactly the buckets they recompute);
6. **lineage**: per-output-partition metrics rows
   ``(run_id, partition_id, doc_count, bytes_in, extract_ms)`` appended
   to ``out_dir/metrics`` (north-star metrics table);
7. **manifest**: after the write action succeeds, one JSON line per
   completed bucket in ``out_dir/_manifest/`` — checkpointed
   partition-completion (north rule), written only after commit so a
   mid-job kill leaves the bucket uncommitted and it is redone whole.

At 100 TB: n_buckets scales to ~#cores×4 of the cluster; everything
here is per-bucket-parallel with two shuffles (the input and output-bucket
repartition), no driver-side collect of data rows (only the tiny
per-bucket/metric aggregates, O(n_buckets)).
"""

from __future__ import annotations

import json
import os
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pdf_to_text_spark.operators.extract import extract_documents

DEFAULT_WHALE_BYTES = 1 << 20  # 1 MiB: above this a row is a "whale"
_SALT_MOD = 8  # salt values per url-hash slot of the input shuffle


def bucket_of(url_col, n_buckets: int):
    return F.pmod(F.xxhash64(url_col), F.lit(n_buckets)).cast("int")


def committed_buckets(out_dir: str) -> set[int]:
    mdir = os.path.join(out_dir, "_manifest")
    done: set[int] = set()
    if not os.path.isdir(mdir):
        return done
    for name in os.listdir(mdir):
        if name.endswith(".json"):
            with open(os.path.join(mdir, name)) as f:
                for line in f:
                    rec = json.loads(line)
                    if rec.get("status") == "committed":
                        done.add(int(rec["bucket"]))
    return done


def _write_manifest(out_dir: str, run_id: str, buckets: list[int]) -> None:
    mdir = os.path.join(out_dir, "_manifest")
    os.makedirs(mdir, exist_ok=True)
    path = os.path.join(mdir, f"{run_id}.json")
    tmp = path + ".tmp"
    now = time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime())
    with open(tmp, "w") as f:
        for b in sorted(buckets):
            f.write(
                json.dumps(
                    {"run_id": run_id, "bucket": b, "status": "committed", "committed_at": now}
                )
                + "\n"
            )
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


def size_aware_repartition(
    df: DataFrame,
    n_partitions: int,
    whale_bytes: int = DEFAULT_WHALE_BYTES,
) -> DataFrame:
    """Salted repartition with whale isolation (SURVEY §7.1 M4).

    Small rows: hash-shuffle on (url, salt) so many small docs pack
    evenly. Whales (``html`` above ``whale_bytes``): one row per task via
    round-robin ``repartition()`` on a whale-only frame — AQE cannot
    split a single oversized *row*, so we place whales explicitly.
    """
    is_whale = F.octet_length("html") > F.lit(whale_bytes)
    salt = F.pmod(F.xxhash64("url", F.lit(0x5A17)), F.lit(_SALT_MOD))
    small = df.filter(~is_whale | is_whale.isNull()).repartition(
        n_partitions, F.col("url"), salt
    )
    whales = df.filter(is_whale).repartition(max(2, n_partitions // 2))
    return small.unionByName(whales)


def run_extraction(
    spark: SparkSession,
    in_path: str,
    out_dir: str,
    *,
    n_buckets: int = 64,
    n_partitions: int | None = None,
    whale_bytes: int = DEFAULT_WHALE_BYTES,
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

    done = committed_buckets(out_dir) if resume else set()
    all_buckets = set(range(n_buckets))
    pending = sorted(all_buckets - done)
    if not pending:
        return {"run_id": run_id, "buckets_done": len(done), "buckets_run": 0, "rows": 0}
    if done:
        pages = pages.filter(F.col("bucket").isin(pending))

    staged = size_aware_repartition(pages, n_partitions, whale_bytes=whale_bytes)
    # re-derive bucket after extraction (a projection — rows never move),
    # then co-locate each bucket in one task: the write stays at
    # O(n_buckets) files, never O(n_tasks × n_buckets) — the small-file
    # explosion is the classic 100 TB killer (measured 5× pipeline cost
    # at bench scale without co-location)
    result = (
        extract_documents(staged, ocr_scanned=ocr_scanned)
        .withColumn("bucket", bucket_of(F.col("url"), n_buckets))
        .repartition(n_buckets, "bucket")
    )

    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    out_path = os.path.join(out_dir, "extracted")
    result.write.partitionBy("bucket").mode("overwrite").parquet(out_path)

    # lineage from the WRITTEN output (single extraction pass, no
    # persist): a columnar read of 3 small columns — the text and html
    # bytes are never re-read (column pruning). partition_id == bucket:
    # the bucket IS the physical output partition.
    mrows = (
        spark.read.parquet(out_path)
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

    _write_manifest(out_dir, run_id, pending)
    return {
        "run_id": run_id,
        "buckets_done": len(done),
        "buckets_run": len(pending),
        "rows": n_rows,
    }
