"""Dedup + similarity operator semantics (known-answer tests)."""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import functions as F

from pdf_to_text_spark.core.caching import mark_caches, release_caches_since
from pdf_to_text_spark.operators import dedup as D
from pdf_to_text_spark.operators import similarity as S

DOCS = [
    (1, "the quick brown fox jumps over the lazy dog near the river bank today"),
    (2, "the quick brown fox jumps over the lazy dog near the river bank today"),  # exact dup of 1
    (3, "the quick brown fox jumps over the lazy dog near the river bank tonight"),  # near-dup
    (4, "completely different content about spark partitions and shuffle behavior"),
    (5, ""),
]


def _docs(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


# ------------------------------------------- q33 jaccard kernel (pyarrow only)

_KERNEL_DOCS = pa.list_(pa.struct([("i", pa.int64()), ("s", pa.list_(pa.int64()))]))


def _kernel_corpus(base: int) -> list[dict]:
    return [
        {"i": base * 10 + j, "s": sorted({(j + t) % 7 + base for t in range(4)})}
        for j in range(5)
    ]


def _kernel_batch(rows: list[tuple[int, list[dict]]]) -> pa.RecordBatch:
    return pa.RecordBatch.from_arrays(
        [pa.array([r[0] for r in rows], pa.int32()), pa.array([r[1] for r in rows], _KERNEL_DOCS)],
        names=["slice", "docs"],
    )


def _kernel_pairs(batch: pa.RecordBatch) -> list[tuple]:
    kernel = D._jaccard_count_kernel(2, 0.3, pa.int64())
    return [tuple(r.values()) for out in kernel([batch]) for r in out.to_pylist()]


_KERNEL_ROWS = [(0, _kernel_corpus(0)), (1, _kernel_corpus(3))]


def test_jaccard_kernel_multi_row_batch():
    """A batch of two (slice, corpus) rows gives the pairs of each row's
    own 1-row batch: list offsets index the whole child array, so every
    row but the first sits at a nonzero offset into it."""
    singles = [_kernel_pairs(_kernel_batch([row])) for row in _KERNEL_ROWS]
    assert all(singles)
    assert _kernel_pairs(_kernel_batch(_KERNEL_ROWS)) == singles[0] + singles[1]


def test_jaccard_kernel_sliced_batch():
    """A 1-row slice of a larger batch gives that row's own pairs."""
    batch = _kernel_batch(_KERNEL_ROWS)
    for k, row in enumerate(_KERNEL_ROWS):
        assert _kernel_pairs(batch.slice(k, 1)) == _kernel_pairs(_kernel_batch([row]))


def test_exact_dedup(spark):
    out = {r["keep_id"]: r["n_dupes"] for r in D.exact_dedup(_docs(spark)).collect()}
    assert out[1] == 2  # doc 2 collapsed into doc 1
    assert out[3] == 1 and out[4] == 1


def test_minhash_identical_signatures_for_dups(spark):
    sigs = {r["doc_id"]: tuple(r[f"sig_{k}"] for k in range(8)) for r in
            D.minhash_signatures(_docs(spark), num_hashes=8).collect()}
    assert sigs[1] == sigs[2]  # exact dups → identical signatures
    assert sigs[1] != sigs[4]
    # near-dup shares most minhashes
    shared = sum(a == b for a, b in zip(sigs[1], sigs[3]))
    assert shared >= 4


def test_lsh_finds_dup_pair(spark):
    pairs = {(r["id_a"], r["id_b"]): r["n_bands"] for r in
             D.minhash_lsh_pairs(_docs(spark), num_hashes=8, bands=4).collect()}
    assert (1, 2) in pairs and pairs[(1, 2)] == 4  # all bands collide
    assert (1, 4) not in pairs and (2, 4) not in pairs


def test_ngram_jaccard(spark):
    pairs = {(r["id_a"], r["id_b"]): r["jaccard"] for r in
             D.ngram_jaccard_pairs(_docs(spark), threshold=0.5).collect()}
    assert pairs[(1, 2)] == 1.0
    assert 0.5 <= pairs[(1, 3)] < 1.0
    assert (1, 4) not in pairs


def test_simhash_close_for_near_dups(spark):
    sh = {r["doc_id"]: r["simhash"] for r in D.simhash_table(_docs(spark)).collect()}
    assert sh[1] == sh[2]
    def hamming(a, b):
        return bin(a ^ b).count("1")
    assert hamming(sh[1], sh[3]) < hamming(sh[1], sh[4])


def test_brute_force_topk_exact(spark):
    rows = [(1, [1.0, 0.0]), (2, [0.9, 0.1]), (3, [0.0, 1.0]), (4, [-1.0, 0.0])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = S.brute_force_topk(df, [1.0, 0.0], k=2).collect()
    assert [r["vec_id"] for r in got] == [1, 2]
    assert got[0]["score"] == 1.0


def test_lsh_topk_subset_of_bruteforce(spark):
    rows = [(i, [float((i * 7 + j) % 5 - 2) for j in range(4)]) for i in range(30)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    planes = [[1.0, -1.0, 1.0, -1.0], [1.0, 1.0, -1.0, -1.0]]
    q = [1.0, 0.5, -0.5, -1.0]
    brute = {r["vec_id"]: r["score"] for r in S.brute_force_topk(df, q, k=30).collect()}
    lsh = S.lsh_topk(df, q, planes, k=30).collect()
    assert len(lsh) > 0
    for r in lsh:  # scores must agree with the exact computation
        assert abs(brute[r["vec_id"]] - r["score"]) < 1e-9


def test_pairwise_topk_per_label(spark):
    rows = [(1, 0, [1.0, 0.0]), (2, 0, [1.0, 0.01]), (3, 0, [0.0, 1.0]), (4, 1, [1.0, 1.0])]
    df = spark.createDataFrame(rows, "vec_id long, label int, embedding array<float>")
    got = S.pairwise_topk_per_label(df, k=1).collect()
    by_label = {r["label"]: (r["id_a"], r["id_b"]) for r in got}
    assert by_label[0] == (1, 2)  # the near-identical pair ranks first
    assert 1 not in by_label or by_label.get(1) is None or True  # label 1 has no pair
    assert len([r for r in got if r["label"] == 1]) == 0


def test_zero_norm_vectors_pair_with_nothing(spark):
    """An all-zero embedding has no direction: neither near-dup operator
    pairs it with anything (a NaN score would pass any threshold, since
    Spark orders NaN above every number), and neither raises (ANSI
    divide-by-zero). Ids 4 and 5 are zero vectors of the planes' width,
    6 is an off-width zero vector (the kernel's per-row path)."""
    rows = [
        (1, 0, [1.0, 1.0]),
        (2, 0, [1.0, 0.99]),
        (3, 0, [-1.0, -1.0]),
        (4, 0, [0.0, 0.0]),
        (5, 0, [0.0, 0.0]),
        (6, 0, [0.0, 0.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, label int, embedding array<float>")
    zero = {4, 5, 6}
    mark = mark_caches()
    lsh = S.lsh_near_dup_pairs(df, [[1.0, 1.0]], threshold=0.9).collect()
    assert release_caches_since(mark) == 1
    assert [(r["id_a"], r["id_b"]) for r in lsh] == [(1, 2)], lsh
    top = S.pairwise_topk_per_label(df, k=10).collect()
    assert {(r["id_a"], r["id_b"]) for r in top} == {(1, 2), (1, 3), (2, 3)}, top
    assert not any({r["id_a"], r["id_b"]} & zero for r in lsh + top)


# ------------------------------------------------- hot-key caps (scale guard)


def _boilerplate_corpus(spark):
    """40 docs sharing one boilerplate sentence (a hot shingle cluster)
    plus unique tails; 2 genuine near-dups with no boilerplate."""
    boiler = "all rights reserved terms of service apply here"
    rows = [(i, f"{boiler} unique tail {i} alpha beta gamma delta {i}") for i in range(40)]
    rows += [
        (100, "spark shuffles hash partitions across the cluster nodes evenly"),
        (101, "spark shuffles hash partitions across the cluster nodes fairly"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_jaccard_df_cap_prunes_hot_shingles(spark):
    docs = _boilerplate_corpus(spark)
    uncapped = D.ngram_jaccard_pairs(docs, threshold=0.2, max_df=None)
    capped = D.ngram_jaccard_pairs(docs, threshold=0.2, max_df=10)
    # boilerplate-driven candidate pairs vanish under the cap…
    boiler_pairs = capped.filter(F.col("id_a") < 100).count()
    assert boiler_pairs < uncapped.filter(F.col("id_a") < 100).count()
    # …while the genuine near-dup pair (no hot shingles) survives intact
    keep = capped.filter((F.col("id_a") == 100) & (F.col("id_b") == 101))
    assert keep.count() == 1


def test_lsh_bucket_cap_drops_degenerate_cluster(spark):
    # 30 identical docs → one bucket of 30 per band → C(30,2) pairs uncapped
    rows = [(i, "identical boilerplate page body repeated verbatim") for i in range(30)]
    rows += [
        (100, "the quick brown fox jumps over the lazy dog near the river bank today"),
        (101, "the quick brown fox jumps over the lazy dog near the river bank today"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    uncapped = D.minhash_lsh_pairs(docs, num_hashes=8, bands=4, max_bucket=None)
    capped = D.minhash_lsh_pairs(docs, num_hashes=8, bands=4, max_bucket=10)
    assert uncapped.filter(F.col("id_a") < 100).count() == 30 * 29 // 2
    # the degenerate cluster's buckets (30 > cap) are skipped whole…
    assert capped.filter(F.col("id_a") < 100).count() == 0
    # …but the small dup pair's buckets (size 2) still collide
    assert capped.filter((F.col("id_a") == 100) & (F.col("id_b") == 101)).count() == 1


def test_lsh_near_dup_pairs_hot_bucket_cap(spark):
    """q42's scale path: near-dup blocking by sign-LSH bucket, with the
    dedup tier's hot-key discipline — a degenerate bucket (here:
    identical vectors, all landing together) above max_bucket is
    dropped WHOLE via broadcast anti-join, not joined quadratically."""
    from pdf_to_text_spark.operators.similarity import lsh_near_dup_pairs

    planes = [[1.0] * 4, [1.0, -1.0, 1.0, -1.0]]
    hot = [(i, [1.0, 1.0, 1.0, 1.0]) for i in range(20)]       # one bucket, identical
    cool = [(100, [-1.0, -0.9, -1.0, -1.1]), (101, [-1.0, -1.0, -1.0, -1.0])]
    df = spark.createDataFrame(hot + cool, "vec_id long, embedding array<float>")

    uncapped = lsh_near_dup_pairs(df, planes, threshold=0.9, max_bucket=None)
    assert uncapped.count() == 20 * 19 // 2 + 1  # hot pairs + the cool pair

    capped = lsh_near_dup_pairs(df, planes, threshold=0.9, max_bucket=10)
    rows = capped.collect()
    assert [(r["id_a"], r["id_b"]) for r in rows] == [(100, 101)]  # hot bucket gone
    plan = capped._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan


def test_lsh_near_dup_plane_sizing(spark):
    """Round-2 verdict item 4: the plane count must be sized so the
    EXPECTED bucket (n/2^p) stays under max_bucket — under-planed LSH at
    crawl scale saturates every bucket and the hot-bucket cap silently
    drops the whole corpus. The sizing rule is now enforced (raise, not
    empty output) and auto-derivable via min_planes/generate_planes."""
    import hashlib

    import pytest

    from pdf_to_text_spark.operators.similarity import (
        generate_planes,
        lsh_near_dup_pairs,
        min_planes,
    )

    # 120 vectors = 60 deterministic pseudo-random points, each duplicated
    # (identical twins share any bucket and score cosine 1.0)
    def vec(i):
        return [
            (hashlib.md5(f"v{i}:{j}".encode()).digest()[0] - 127.5) / 128.0
            for j in range(8)
        ]

    rows = [(2 * i + half, vec(i)) for i in range(60) for half in (0, 1)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    # sizing rule arithmetic
    assert min_planes(120, 10) == 4            # 2^4 = 16 ≥ 120/10
    assert min_planes(10**8, 500) == 18        # crawl scale: q49's 4 planes way off
    assert min_planes(100, 1000) == 1          # cap bigger than corpus → any planes

    # under-planed + cap + known corpus size → refuse up front
    two = generate_planes(2, 8)
    with pytest.raises(ValueError, match="min_planes"):
        lsh_near_dup_pairs(df, two, threshold=0.99, max_bucket=10, n_docs=120)

    # auto-sized planes: the same corpus/cap yields non-empty output
    sized = generate_planes(min_planes(120, 10), 8)
    pairs = lsh_near_dup_pairs(df, sized, threshold=0.99, max_bucket=10, n_docs=120)
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert got, "sized planes must not yield an empty corpus"
    # at least one twin pair (exact dup, cosine 1.0) survives the cap
    assert any(a % 2 == 0 and b == a + 1 for a, b in got)
    # planes are deterministic across calls
    assert generate_planes(3, 8) == generate_planes(3, 8)


def test_oracle_gate_releases_operator_caches(spark):
    """``tools/check_oracle.collect_query`` runs each query between
    ``mark_caches`` and ``release_caches_since``: after q32, q33 and q32
    again the registry is back at its mark and no cached RDD is left."""
    import os

    import __spark_entry__ as E
    from pdf_to_text_spark.core import caching
    from tools.check_oracle import collect_query

    sf = os.path.join(os.path.dirname(E.SF0001), "sf0.01")
    qs = E.queries()
    jsc = spark.sparkContext._jsc
    mark, baseline = mark_caches(), jsc.getPersistentRDDs().size()
    for name in ("q32_minhash_lsh_pairs", "q33_ngram_jaccard", "q32_minhash_lsh_pairs"):
        _, rows = collect_query(spark, qs[name], sf)
        assert rows, name
    assert len(caching._LIVE) == mark
    assert jsc.getPersistentRDDs().size() == baseline
