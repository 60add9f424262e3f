"""Production entry point (north rule ship shape):

    zip -qr engine.zip pdf_to_text_spark
    spark-submit --master <cluster> --py-files engine.zip \
        jobs/extract_job.py --in <pages.parquet path> --out <out_dir> \
        [--buckets 4096] [--partitions N] [--no-resume] [--ocr-scanned]

Reads the Common-Crawl-style pages table once, places its rows with one
whale-aware input exchange (small rows and whale rows in separate
tasks), runs the routed extraction, writes bucket-partitioned results +
lineage metrics + completion manifests; re-running after a failure
resumes from the last committed bucket.

Every subpackage a worker imports from ``engine.zip`` is one more
zipimporter next to those of ``pyspark.zip`` and the Spark jar. pyspark
invalidates the import caches before every task, and on CPython
3.10–3.12 each zipimporter then re-reads its whole archive directory;
importing the package makes a reused worker re-read an archive only when
the archive changed.
"""

from __future__ import annotations

import argparse
import json

from pyspark.sql import SparkSession

from pdf_to_text_spark.plans.pipeline import run_extraction
from pdf_to_text_spark.session import ARROW_BATCH_CONF


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--in", dest="in_path", required=True)
    ap.add_argument("--out", dest="out_dir", required=True)
    ap.add_argument("--buckets", type=int, default=4096)
    ap.add_argument("--partitions", type=int, default=None)
    ap.add_argument("--no-resume", action="store_true")
    ap.add_argument(
        "--ocr-scanned", action="store_true",
        help="opt-in scanned-page OCR fallback (SPEC v1.2 item 4)",
    )
    args = ap.parse_args()

    spark = (
        SparkSession.builder.appName("pdf_to_text_spark.extract")
        .config("spark.sql.adaptive.enabled", "true")
        .config(map=ARROW_BATCH_CONF)
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("WARN")
    summary = run_extraction(
        spark,
        args.in_path,
        args.out_dir,
        n_buckets=args.buckets,
        n_partitions=args.partitions,
        resume=not args.no_resume,
        ocr_scanned=args.ocr_scanned,
    )
    print(json.dumps(summary))
    spark.stop()


if __name__ == "__main__":
    main()
