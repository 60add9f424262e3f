"""Cumulative noop-sink prefixes of ``run_extraction``'s plan.

Each prefix adds one layer to the one before it, built from the same
public functions ``run_extraction`` composes (default ``colocate="output"``
path): scan → +salted repartition → +identity Arrow round trip → +fused
parse UDF → +Catalyst normalize. The wall of each prefix minus the one
before it is that layer's share of a pass, the split of "Accelerating
Python UDFs in Vectorized Query Execution" (CIDR 2022) between Arrow
transfer and the UDF body.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pdf_to_text_spark.operators.extract import extract_documents_fused, parse_any_udf
from pdf_to_text_spark.plans.pipeline import bucket_of, size_aware_repartition


def _identity(batches):
    yield from batches


def build(
    spark: SparkSession, pages_path: str, n_buckets: int, pending: list[int] | None
) -> list[tuple[str, DataFrame]]:
    """The prefixes in order; ``pending`` restricts to those buckets as a
    resumed run does (None = every bucket)."""
    pages = spark.read.parquet(pages_path).select("url", "html", "text")
    pages = pages.withColumn("bucket", bucket_of(F.col("url"), n_buckets))
    if pending is not None:
        pages = pages.filter(F.col("bucket").isin(pending))
    staged = size_aware_repartition(pages, spark.sparkContext.defaultParallelism * 2)
    return [
        ("scan", pages),
        ("repartition", staged),
        ("arrow", staged.mapInArrow(_identity, staged.schema)),
        ("parse", staged.select("url", parse_any_udf("html", "text").alias("r"))),
        ("normalize", extract_documents_fused(staged)),
    ]


def run_noop(df: DataFrame) -> None:
    df.write.format("noop").mode("overwrite").save()
