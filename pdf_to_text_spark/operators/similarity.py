"""Similarity search over embedding columns (task brief).

Brute-force cosine top-k as the exact baseline, and an LSH-bucketed
variant (random-hyperplane signs) as the scale path. Both stay in
Catalyst: dot products via ``F.aggregate``/``F.zip_with`` over
array<float> — no UDF, vectorized JVM-side.

At 100 TB: brute force is a full scan per query (fine for batch scoring
of a handful of probes — it's one projection, no shuffle); the LSH
variant turns ANN into an equi-join on a small bucket key so a
1000-executor cluster prunes ~(1 - 1/2^bits) of the candidates.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pdf_to_text_spark.core.caching import register_cache


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


# r6 measured NEGATIVE result, recorded so it is not retried: unrolling
# these dots into fixed-width getItem chains (64 scalar multiply-adds
# per dot) was 8x SLOWER on the bucket-pair scoring path (39.4 s vs
# 4.7 s at sf1.0) and no better anywhere else — the wide expression
# trees defeat whole-stage codegen (generated method size), and the
# interpreted-fallback evaluation re-walks the giant tree per row. The
# aggregate/zip_with forms stay.


def brute_force_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact cosine top-k vs one query vector. Output:
    (id, score) — score rounded to 6dp for oracle-hash stability.
    Plan: scan → project(cosine) → TakeOrderedAndProject (no full sort)."""
    q = F.lit(query_vec).cast("array<double>")
    v = F.col(vec_col).cast("array<double>")
    return (
        df.select(F.col(id_col), F.round(cosine(v, q), 6).alias("score"))
        .orderBy(F.desc("score"), F.col(id_col))
        .limit(k)
    )


def hyperplane_bucket(vec: Column, planes: list[list[float]]) -> Column:
    """Sign-LSH bucket id: bit i = (vec · plane_i) > 0."""
    bucket = F.lit(0)
    for i, p in enumerate(planes):
        d = dot(vec.cast("array<double>"), F.lit(p).cast("array<double>"))
        bucket = bucket + F.when(d > 0, F.lit(1 << i)).otherwise(0)
    return bucket


def lsh_topk(
    df: DataFrame,
    query_vec: list[float],
    planes: list[list[float]],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """ANN top-k: score only rows whose sign-LSH bucket matches the
    query's. Approximate (LSH recall), deterministic given planes."""
    qb_val = 0
    for i, p in enumerate(planes):
        s = sum(a * b for a, b in zip(query_vec, p))
        if s > 0:
            qb_val |= 1 << i
    q = F.lit(query_vec).cast("array<double>")
    v = F.col(vec_col).cast("array<double>")
    return (
        df.withColumn("bucket", hyperplane_bucket(F.col(vec_col), planes))
        .filter(F.col("bucket") == F.lit(qb_val))
        .select(F.col(id_col), F.round(cosine(v, q), 6).alias("score"))
        .orderBy(F.desc("score"), F.col(id_col))
        .limit(k)
    )


def ivf_assign(vec: Column, centroids: list[list[float]]) -> Column:
    """IVF coarse quantizer: cell = argmax_i dot(vec, centroid_i), ties
    to the lowest index (array_position returns the FIRST match). With
    deterministic centroid literals the assignment is reproducible on
    any engine — the DuckDB oracle replays it exactly."""
    v = vec.cast("array<double>")
    dots = F.array(*[dot(v, F.lit(c).cast("array<double>")) for c in centroids])
    return F.array_position(dots, F.array_max(dots)) - 1


def ivf_topk(
    df: DataFrame,
    query_vec: list[float],
    centroids: list[list[float]],
    nprobe: int = 2,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """ANN top-k, IVF-style (the task brief's alternative to LSH): score
    only rows whose coarse cell is among the query's ``nprobe`` nearest
    cells. At 100 TB the cell is a partition/cluster key, so the probe
    filter becomes partition pruning — the scan itself skips
    (n_cells − nprobe)/n_cells of the data; here it is a predicate on a
    projected column (same semantics, single-node layout)."""
    scores = [
        (sum(a * b for a, b in zip(query_vec, c)), i) for i, c in enumerate(centroids)
    ]
    probe_cells = [i for _, i in sorted(scores, key=lambda t: (-t[0], t[1]))[:nprobe]]
    q = F.lit(query_vec).cast("array<double>")
    v = F.col(vec_col).cast("array<double>")
    return (
        df.withColumn("cell", ivf_assign(F.col(vec_col), centroids))
        .filter(F.col("cell").isin(probe_cells))
        .select(F.col(id_col), F.round(cosine(v, q), 6).alias("score"))
        .orderBy(F.desc("score"), F.col(id_col))
        .limit(k)
    )


def min_planes(n_docs: int, max_bucket: int) -> int:
    """Plane-count sizing rule for sign-LSH blocking: with p planes the
    corpus spreads over 2^p buckets, so the EXPECTED bucket size is
    n/2^p — the hot-bucket cap only works if that expectation is below
    ``max_bucket``, i.e. ``2^p ≥ n_docs / max_bucket``. Under-sized
    planes at crawl scale mean EVERY bucket exceeds the cap and the cap
    drops the whole corpus (silent empty output — round-2 verdict item
    4). Returns the smallest p satisfying the rule (≥1)."""
    import math

    if n_docs <= 0 or max_bucket <= 0:
        return 1
    return max(1, math.ceil(math.log2(max(n_docs / max_bucket, 1.0))))


def generate_planes(n_planes: int, dim: int, seed: int = 0) -> list[list[float]]:
    """Deterministic ±1 random hyperplanes (Charikar sign-LSH). The
    component stream is md5-derived so planes are reproducible across
    processes/engines without an RNG: component j of plane i = +1 iff
    the low bit of md5(f"{seed}:{i}:{j}")'s first byte is 0."""
    import hashlib

    return [
        [
            1.0 if hashlib.md5(f"{seed}:{i}:{j}".encode()).digest()[0] & 1 == 0 else -1.0
            for j in range(dim)
        ]
        for i in range(n_planes)
    ]


def _bucket_norm_projection(
    df: DataFrame, planes: list[list[float]], vec_col: str, id_col: str
) -> DataFrame:
    """(id, bucket, _vn) via a numpy ``mapInArrow`` kernel — see the
    call site in ``lsh_near_dup_pairs`` for the exactness argument."""
    from pyspark.sql import types as T

    id_type = df.schema[id_col].dataType
    out_schema = T.StructType(
        [
            T.StructField(id_col, id_type),
            T.StructField("bucket", T.IntegerType()),
            T.StructField("_vn", T.ArrayType(T.DoubleType())),
        ]
    )
    p = len(planes[0]) if planes else 0
    pl = [[float(x) for x in row] for row in planes]

    def kernel(it):
        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc

        for rb in it:
            n = rb.num_rows
            if n == 0:
                continue
            ids = rb.column(0)
            vl = rb.column(1)
            # offsets are absolute indices into the (unsliced) child
            # values array pyarrow returns from .values
            off = np.asarray(vl.offsets, dtype=np.int64)
            widths = off[1:] - off[:-1]
            vals = vl.values.to_numpy(zero_copy_only=False).astype(np.float64)
            nulls = pc.is_null(vl).to_numpy(zero_copy_only=False)
            buckets = np.zeros(n, dtype=np.int64)
            vn_out: list = [None] * n
            ok = (~nulls) & (widths == p)
            rows = np.flatnonzero(ok)
            if len(rows):
                idx = off[rows][:, None] + np.arange(p)[None, :]
                X = vals[idx]
                b = np.zeros(len(rows), dtype=np.int64)
                for i, plane in enumerate(pl):
                    d = np.zeros(len(rows))
                    for j in range(p):  # sequential over dims = exact fold order
                        d += X[:, j] * plane[j]
                    b += np.where(d > 0, 1 << i, 0)
                buckets[rows] = b
                s = np.zeros(len(rows))
                for j in range(p):
                    s += X[:, j] * X[:, j]
                nrm = np.sqrt(s)
                nz = nrm != 0
                vn_rows = (X[nz] / nrm[nz, None]).tolist()
                for k, r in enumerate(rows[nz]):
                    vn_out[r] = vn_rows[k]
            # odd rows: null vec → vn None; off-width → bucket 0 (the
            # zip_with null-padding poisons every dot), vn from own width.
            # Zero-norm → vn None on both paths: NULL scores fail the
            # threshold, where NaN (ordered above every number) passed.
            for r in np.flatnonzero(~ok):
                if nulls[r]:
                    continue
                row = vals[off[r] : off[r + 1]]
                s = 0.0
                for x in row:
                    s += x * x
                if s != 0:
                    nrm = s**0.5
                    vn_out[r] = [x / nrm for x in row]
            yield pa.RecordBatch.from_arrays(
                [
                    ids,
                    pa.array(buckets, type=pa.int32()),
                    pa.array(vn_out, type=pa.list_(pa.float64())),
                ],
                names=[id_col, "bucket", "_vn"],
            )

    src = df.select(F.col(id_col), F.col(vec_col).cast("array<double>").alias("_v"))
    return src.mapInArrow(kernel, out_schema)


def lsh_near_dup_pairs(
    df: DataFrame,
    planes: list[list[float]],
    threshold: float = 0.9,
    max_bucket: int | None = None,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_docs: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-dup at scale: the blocking key is a
    sign-LSH bucket, not a label — the global self-join becomes an
    equi-join on the bucket id, pruning ~(1 − 1/2^bits) of candidate
    pairs (the scale path ``pairwise_topk_per_label``'s docstring
    points to). ``max_bucket`` is the same hot-key cap the dedup tier
    applies (a degenerate bucket — e.g. all-zero embeddings — would be
    quadratic): oversized buckets are dropped whole via a BROADCAST
    anti-join, never shuffled. Output: (bucket, id_a, id_b, score ≥
    threshold).

    Sizing: the cap and the plane count must be sized TOGETHER — see
    ``min_planes``. Pass ``n_docs`` (an exact or approximate corpus
    count) to enforce the rule up front; an under-planed corpus where
    the expected bucket exceeds ``max_bucket`` raises instead of
    silently emptying the output. Use ``generate_planes(min_planes(n,
    max_bucket), dim)`` to auto-size."""
    if max_bucket is not None and n_docs is not None:
        need = min_planes(n_docs, max_bucket)
        if len(planes) < need:
            raise ValueError(
                f"{len(planes)} planes give 2^{len(planes)} buckets for {n_docs} docs — "
                f"expected bucket size {n_docs / (1 << len(planes)):.0f} exceeds "
                f"max_bucket={max_bucket}, so the hot-bucket cap would drop the whole "
                f"corpus. Need ≥ {need} planes (2^p ≥ n_docs/max_bucket); see "
                "min_planes()/generate_planes()."
            )
    # bucket assignment (|planes| dot products/row) is the expensive
    # projection; it feeds THREE consumers (hot-list groupBy + both
    # join sides), so compute it once: project, L2-normalize (one dot
    # per PAIR downstream instead of dot+2 norms — the embed-tier
    # lesson), and cache. At 100 TB this frame is a materialized
    # bucketed intermediate table, not a cache.
    # r6: the projection runs as a numpy mapInArrow kernel — the
    # interpreted higher-order exprs (|planes|·dim + 2·dim dispatches
    # per row) were ~40% of the whole query. The kernel accumulates
    # STRICTLY SEQUENTIALLY over dimensions (one vectorized add per
    # dim, rows in parallel), which reproduces Catalyst's left-to-right
    # ((0.0 + p0) + p1)… fold bit-for-bit — no BLAS reassociation —
    # so bucket signs and normalized components are identical. Null /
    # off-width vectors reproduce the expression semantics in-kernel
    # (zip_with null-padding poisons every dot → bucket 0; vn from the
    # row's own width).
    with_b = register_cache(_bucket_norm_projection(df, planes, vec_col, id_col))
    if max_bucket is not None:
        hot = (
            with_b.groupBy("bucket")
            .agg(F.count("*").alias("n"))
            .filter(F.col("n") > max_bucket)
            .select("bucket")
        )
        with_b = with_b.join(F.broadcast(hot), "bucket", "left_anti")
    a = with_b.select("bucket", F.col(id_col).alias("id_a"), F.col("_vn").alias("va"))
    b = with_b.select("bucket", F.col(id_col).alias("id_b"), F.col("_vn").alias("vb"))
    return (
        a.join(b, ["bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "bucket", "id_a", "id_b",
            F.round(dot(F.col("va"), F.col("vb")), 6).alias("score"),
        )
        .filter(F.col("score") >= threshold)
    )


def pairwise_topk_per_label(
    df: DataFrame,
    k: int = 3,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    label_col: str = "label",
) -> DataFrame:
    """Embedding-cosine near-dup (task brief): within each label group,
    top-k most similar pairs. The label acts as the blocking key —
    the self-join is per-group, not global (at scale the blocker is an
    LSH bucket instead). Vectors are L2-normalized ONCE per row before
    the join, so each pair costs a single dot product (cosine() would
    re-traverse both arrays twice more per pair for the norms).
    Output: (label, id_a, id_b, score, rn)."""
    from pyspark.sql import Window as W

    v = F.col(vec_col).cast("array<double>")
    norm = df.select(F.col(label_col).alias("label"), F.col(id_col).alias("_id"), v.alias("_v"))
    # drop zero-norm rows before the divide (ANSI x / 0 raises), as centrality does
    norm = norm.withColumn(
        "_n", F.sqrt(F.aggregate(F.col("_v"), F.lit(0.0), lambda acc, x: acc + x * x))
    ).filter(~F.col("_n").eqNullSafe(0.0)).select(
        "label", "_id", F.transform(F.col("_v"), lambda x: x / F.col("_n")).alias("_vn")
    )
    a = norm.select("label", F.col("_id").alias("id_a"), F.col("_vn").alias("va"))
    b = norm.select("label", F.col("_id").alias("id_b"), F.col("_vn").alias("vb"))
    pairs = a.join(b, ["label"]).filter(F.col("id_a") < F.col("id_b"))
    scored = pairs.select(
        "label",
        "id_a",
        "id_b",
        F.round(dot(F.col("va"), F.col("vb")), 6).alias("score"),
    )
    w = W.partitionBy("label").orderBy(F.desc("score"), "id_a", "id_b")
    return scored.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= k)
