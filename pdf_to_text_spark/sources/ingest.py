"""Ingest source: build the pages table from a document folder (SURVEY §2.1).

The reference walks directories one file at a time
(``main.py:28-35``, ``convert_pdfs_pymupdf.py:38``); the Spark-native
equivalent is a declarative scan that parallelizes and prunes for free.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def scan_document_dir(
    spark: SparkSession,
    path: str,
    glob: str = "*.{pdf,html,htm}",
    recursive: bool = True,
) -> DataFrame:
    """S1/S2: recursive file scan → pages-table rows.

    ``binaryFile`` gives (path, modificationTime, length, content);
    at scale prefer many medium files per directory — the driver lists
    files in parallel but tiny-file floods still hurt any FS."""
    df = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", glob)
        .option("recursiveFileLookup", str(recursive).lower())
        .load(path)
    )
    return df.select(
        F.col("path").alias("url"),
        F.col("modificationTime").alias("warc_ts"),
        F.col("content").alias("html"),
        F.lit(None).cast("string").alias("text"),
        F.lit(None).cast("string").alias("lang"),
    )

