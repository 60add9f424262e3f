"""Pipeline tests: lineage, manifests, idempotent resume (north rule)."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from pdf_to_text_spark.plans.pipeline import (
    WHALE_BYTES,
    bucket_of,
    committed_buckets,
    run_extraction,
    size_aware_repartition,
)


def _part_files(out) -> dict[str, list[str]]:
    """Part files of the written output, per ``bucket=`` directory."""
    root = os.path.join(out, "extracted")
    return {
        d: [f for f in os.listdir(os.path.join(root, d)) if f.endswith(".parquet")]
        for d in os.listdir(root)
        if d.startswith("bucket=")
    }


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
    # ... and reconciles per bucket with the rows written there
    written = got.groupBy("bucket").agg(F.count("*").alias("n"), F.sum("bytes_in").alias("b"))
    assert {r["partition_id"]: (r["doc_count"], r["bytes_in"]) for r in m.collect()} == {
        r["bucket"]: (r["n"], r["b"]) for r in written.collect()
    }
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
    # the resumed run's lineage lists exactly the buckets it recomputed
    m2 = spark.read.parquet(os.path.join(resumed_out, "metrics")).filter(
        F.col("run_id") == s2["run_id"]
    )
    assert sorted(r["partition_id"] for r in m2.collect()) == [3, 4, 5, 6, 7]

    assert _read_sorted(spark, resumed_out) == _read_sorted(spark, fresh_out)

    # third run: everything committed → no-op
    s3 = run_extraction(spark, f"{corpus_dir}/pages.parquet", resumed_out, n_buckets=8)
    assert s3["buckets_run"] == 0


def test_resume_at_another_bucket_count_is_refused(spark, corpus_dir, tmp_path):
    """A resume must hash urls into the buckets that were committed: at
    another count it would skip rows never committed and write second
    copies of rows already written, so it raises before writing."""
    import json

    import pytest

    out = str(tmp_path / "out")
    run_extraction(spark, f"{corpus_dir}/pages.parquet", out, n_buckets=16)
    mdir = os.path.join(out, "_manifest")
    lines = [json.loads(ln) for f_ in os.listdir(mdir) for ln in open(os.path.join(mdir, f_))]
    assert {rec["n_buckets"] for rec in lines} == {16}
    before = _part_files(out)
    with pytest.raises(ValueError, match="committed at 16 buckets"):
        run_extraction(spark, f"{corpus_dir}/pages.parquet", out, n_buckets=32)
    assert _part_files(out) == before
    resumed = run_extraction(spark, f"{corpus_dir}/pages.parquet", out, n_buckets=16)
    assert resumed["buckets_run"] == 0


def test_size_aware_repartition_isolates_whales(spark):
    """Small rows (a null ``html`` among them) land only in partitions
    ``[0, n)``, whales only in the ``n_whale`` partitions after them,
    and no row is lost or duplicated."""
    n, n_whale = 4, 2
    rows = [(f"https://s.example/{i}", bytearray(b"<p>%d</p>" % i), None) for i in range(40)]
    rows.append(("https://s.example/null", None, "text layer"))
    rows += [
        (f"https://w.example/{i}", bytearray(b"%" * (WHALE_BYTES + 1 + i)), None)
        for i in range(3)
    ]
    df = spark.createDataFrame(rows, "url string, html binary, text string")
    placed = (
        size_aware_repartition(df, n)
        .select(
            "url",
            F.spark_partition_id().alias("pid"),
            (F.octet_length("html") > WHALE_BYTES).alias("whale"),
        )
        .collect()
    )
    assert sorted(r["url"] for r in placed) == sorted(r[0] for r in rows)
    whale_pids = {r["pid"] for r in placed if r["whale"]}
    small_pids = {r["pid"] for r in placed if not r["whale"]}
    assert len([r for r in placed if r["whale"]]) == 3
    assert whale_pids <= set(range(n, n + n_whale)), whale_pids
    assert small_pids <= set(range(n)), small_pids
    assert next(r["pid"] for r in placed if r["url"].endswith("/null")) < n


def test_size_aware_repartition_spreads_resumed_buckets(spark, pages_df):
    """A resume with only the odd buckets pending still fills every
    small-row partition: the placement hash is not ``bucket_of``'s."""
    odd = pages_df.filter(bucket_of(F.col("url"), 64) % 2 == 1)
    counts = (
        size_aware_repartition(odd, 4)
        .groupBy(F.spark_partition_id().alias("pid"))
        .count()
        .collect()
    )
    assert {r["pid"] for r in counts} == {0, 1, 2, 3}, counts


def test_colocate_modes_byte_identical(spark, corpus_dir, golden_extracted, tmp_path):
    """Output-side bucket co-location keeps the rows byte-identical to
    the goldens and the write at one file per bucket."""
    out = str(tmp_path / "co_output")
    run_extraction(spark, f"{corpus_dir}/pages.parquet", out, n_buckets=8, resume=False)
    # whales ride the same output shuffle: exactly one file per bucket
    files = _part_files(out)
    assert files and all(len(fs) == 1 for fs in files.values()), files
    got = spark.read.parquet(f"{out}/extracted")
    j = got.alias("a").join(golden_extracted.alias("b"), "url", "full_outer")
    diff = j.filter(
        ~F.col("a.extracted_text").eqNullSafe(F.col("b.extracted_text"))
        | ~F.col("a.error").eqNullSafe(F.col("b.error"))
    )
    assert diff.count() == 0


def test_write_tail_sized_to_slots(spark, corpus_dir, tmp_path):
    """No stage of a pass runs a task per bucket: the output shuffle has
    one task per slot and the bucket-directory listing job is bounded
    by the slots too; each bucket is still exactly one file."""
    n_buckets, n_partitions = 64, 4
    out = str(tmp_path / "out")
    sc = spark.sparkContext
    group = "test_write_tail_sized_to_slots"
    sc.setJobGroup(group, "one run_extraction pass")
    try:
        run_extraction(
            spark,
            f"{corpus_dir}/pages.parquet",
            out,
            n_buckets=n_buckets,
            n_partitions=n_partitions,
            resume=False,
        )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    tracker = sc.statusTracker()
    tasks = {
        sid: tracker.getStageInfo(sid).numTasks
        for jid in tracker.getJobIdsForGroup(group)
        for sid in tracker.getJobInfo(jid).stageIds
        if tracker.getStageInfo(sid) is not None
    }
    assert tasks and max(tasks.values()) < n_buckets, tasks
    files = _part_files(out)
    assert len(files) > 32  # enough directories for Spark to list them in a job
    assert all(len(fs) == 1 and fs[0].startswith("part-") for fs in files.values()), files
