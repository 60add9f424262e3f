"""Pipeline tests: lineage, manifests, idempotent resume (north rule)."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from pdf_to_text_spark.plans.pipeline import (
    committed_buckets,
    run_extraction,
    size_aware_repartition,
)


def _read_sorted(spark, out):
    return (
        spark.read.parquet(os.path.join(out, "extracted"))
        .select("url", "extracted_text", "error", "route")
        .orderBy("url")
        .collect()
    )


def test_full_run_matches_golden(spark, corpus_dir, golden_extracted, tmp_path):
    out = str(tmp_path / "out")
    summary = run_extraction(spark, f"{corpus_dir}/pages.parquet", out, n_buckets=16)
    assert summary["buckets_run"] == 16
    got = spark.read.parquet(os.path.join(out, "extracted"))
    j = got.alias("g").join(golden_extracted.alias("o"), "url", "full_outer")
    assert (
        j.filter(~F.col("g.extracted_text").eqNullSafe(F.col("o.extracted_text"))).count() == 0
    )
    # lineage table exists, covers every doc, has real timings
    m = spark.read.parquet(os.path.join(out, "metrics"))
    assert set(m.columns) == {"run_id", "partition_id", "doc_count", "bytes_in", "extract_ms"}
    assert m.agg(F.sum("doc_count")).collect()[0][0] == golden_extracted.count()
    assert m.agg(F.sum("extract_ms")).collect()[0][0] >= 0
    # manifest committed all buckets
    assert committed_buckets(out) == set(range(16))


def test_resume_equals_fresh(spark, corpus_dir, tmp_path):
    """Kill-after-k-buckets then resume must be byte-identical to a
    single fresh run (SURVEY §5.2.4)."""
    fresh_out = str(tmp_path / "fresh")
    run_extraction(spark, f"{corpus_dir}/pages.parquet", fresh_out, n_buckets=8)

    resumed_out = str(tmp_path / "resumed")
    # simulate a run that died after committing buckets {0..2}: run only
    # those rows, manifest them, then resume normally
    pages = spark.read.parquet(f"{corpus_dir}/pages.parquet")
    part = pages.filter(F.pmod(F.xxhash64("url"), F.lit(8)).cast("int") < 3)
    pdir = str(tmp_path / "partial_input")
    part.write.parquet(pdir)
    s1 = run_extraction(spark, pdir, resumed_out, n_buckets=8, resume=False)
    assert s1["buckets_run"] == 8  # writes manifest for what it saw
    # now pretend only 0..2 committed (rewrite manifest accordingly)
    import json

    mdir = os.path.join(resumed_out, "_manifest")
    for f_ in os.listdir(mdir):
        os.remove(os.path.join(mdir, f_))
    with open(os.path.join(mdir, "crashrun.json"), "w") as fh:
        for b in (0, 1, 2):
            fh.write(json.dumps({"run_id": "crash", "bucket": b, "status": "committed"}) + "\n")

    s2 = run_extraction(spark, f"{corpus_dir}/pages.parquet", resumed_out, n_buckets=8)
    assert s2["buckets_done"] == 3 and s2["buckets_run"] == 5

    assert _read_sorted(spark, resumed_out) == _read_sorted(spark, fresh_out)

    # third run: everything committed → no-op
    s3 = run_extraction(spark, f"{corpus_dir}/pages.parquet", resumed_out, n_buckets=8)
    assert s3["buckets_run"] == 0


def test_size_aware_repartition_isolates_whales(spark, pages_df):
    df = size_aware_repartition(pages_df, 8, whale_bytes=50_000)
    n_whales = pages_df.filter(F.octet_length("html") > 50_000).count()
    assert n_whales >= 1
    # whales spread across partitions: no partition holds 2+ whales
    per_part = (
        df.filter(F.octet_length("html") > 50_000)
        .groupBy(F.spark_partition_id().alias("pid"))
        .count()
    )
    assert per_part.filter(F.col("count") > 1).count() == 0
    # no rows lost or duplicated
    assert df.count() == pages_df.count()


def test_colocate_modes_byte_identical(spark, corpus_dir, golden_extracted, tmp_path):
    """Output-side bucket co-location keeps the rows byte-identical to
    the goldens and the write at O(n_buckets) files."""
    out = str(tmp_path / "co_output")
    run_extraction(spark, f"{corpus_dir}/pages.parquet", out, n_buckets=8, resume=False)
    nf = sum(1 for _, _, fs in os.walk(f"{out}/extracted") for x in fs if x.endswith(".parquet"))
    assert nf <= 8 + 4  # n_buckets + a few whale-task files
    got = spark.read.parquet(f"{out}/extracted")
    j = got.alias("a").join(golden_extracted.alias("b"), "url", "full_outer")
    diff = j.filter(
        ~F.col("a.extracted_text").eqNullSafe(F.col("b.extracted_text"))
        | ~F.col("a.error").eqNullSafe(F.col("b.error"))
    )
    assert diff.count() == 0
