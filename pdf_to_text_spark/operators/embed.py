"""Text→vector embedder (SURVEY M9) — model-inference-shaped operator
so the similarity tier runs end-to-end from raw text.

The reference embeds sentences with MiniLM
(``/root/reference/5_NLP/nlp/summarizer_extractive.py:11-18``,
model at ``5_NLP/nlp/models/miniLM/``). This container ships no model
weights, so the default encoder is a deterministic FEATURE-HASH
projection — but the operator has the exact shape of a production
inference UDF: an Arrow-batched pandas UDF whose per-executor state
(here a token→(bucket, sign) memo; in production the loaded model)
initializes once per worker, consumes a text batch, and emits
``array<double>``. Swapping in a real model is replacing
``_embed_batch``'s body with ``model.encode(batch)`` — the Spark
plumbing (batch shape, output schema, executor-singleton init) is
identical, which is the point: at 100 TB the embedding happens INSIDE
the job, not as a precomputed side table.

Portability: the hash family is md5 (bit-identical in Python's hashlib,
Spark ``F.md5`` and DuckDB ``md5``), so the DuckDB oracle reproduces
every vector exactly — the embedder is hash-CHECKED end to end, not
just rows-checked. Frozen spec per token w (lowercase ``[a-z0-9]+``
runs, multiplicity kept):

    h      = int(md5(w)[:8 hex], 16)          # 32-bit
    bucket = h % dim
    sign   = +1 if (h >> 31) & 1 == 0 else −1
    v[bucket] += sign
"""

from __future__ import annotations

import hashlib
import re

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql import Window as W

from pdf_to_text_spark.core import sizing
from pdf_to_text_spark.core.caching import register_cache

EMBED_DIM = 16

_TOKEN_RE = re.compile(r"[^a-z0-9]+")

# executor-singleton state (the "loaded model" analog): token hashes
# repeat heavily across documents, so memoizing the md5 per token turns
# it into a dict hit for all but the first occurrence. The memo stores
# the RAW 32-bit hash, not (bucket, sign): bucket = h % dim depends on
# dim, and Spark reuses Python workers across jobs, so a dim-keyed
# value would leak one embedding dimension into the next call's vectors
_memo: dict[str, int] = {}


def _bucket_sign(w: str, dim: int) -> tuple[int, float]:
    h = _memo.get(w)
    if h is None:
        h = int(hashlib.md5(w.encode()).hexdigest()[:8], 16)
        if len(_memo) < 1_000_000:  # bound executor memory
            _memo[w] = h
    return h % dim, 1.0 if (h >> 31) & 1 == 0 else -1.0


def _embed_one(text: str | None, dim: int) -> list[float]:
    v = [0.0] * dim
    if text:
        for w in _TOKEN_RE.split(text.lower()):
            if w:
                b, s = _bucket_sign(w, dim)
                v[b] += s
    return v


def embed_text_udf(dim: int = EMBED_DIM, model_fn=None):
    """Arrow-batched text→vector UDF (the M9 inference slot).

    ``model_fn`` is the formal swap-in point for a real encoder: a
    picklable callable ``list[str | None] -> sequence of list[float]``
    (batch in, batch out — exactly ``model.encode(batch)``'s shape).
    It runs INSIDE the Arrow batch on the executor; heavyweight models
    should lazy-init per worker behind a module-level singleton, the
    same pattern the default's token-hash memo uses. Default: the
    deterministic md5 feature-hash documented in the module docstring
    (DuckDB-reproducible, so q46 stays hash-checked).
    """

    @F.pandas_udf(T.ArrayType(T.DoubleType()))
    def _embed_batch(s: pd.Series) -> pd.Series:
        if model_fn is not None:
            return pd.Series(list(model_fn(s.tolist())), index=s.index)
        return s.map(lambda t: _embed_one(t, dim))

    return _embed_batch


def with_embedding(
    df: DataFrame,
    text_col: str = "text",
    out_col: str = "embedding",
    dim: int = EMBED_DIM,
    model_fn=None,
) -> DataFrame:
    """Append an embedding column. Scale: embarrassingly parallel
    projection — no shuffle; Arrow batches bound per-worker memory."""
    return df.withColumn(out_col, embed_text_udf(dim, model_fn)(F.col(text_col)))


def _sq_norm(v: Column) -> Column:
    return F.aggregate(v, F.lit(0.0), lambda acc, x: acc + x * x)


def centrality_topk_from_text(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    group_col: str = "source",
    k: int = 3,
    dim: int = EMBED_DIM,
    model_fn=None,
) -> DataFrame:
    """The reference's extractive-summarizer chain run from RAW TEXT
    (prepare → embed → cosine matrix → row-sum → top-k,
    ``summarizer_extractive.py:25-39``), distributed: embed (no
    shuffle) → within-group self-join (group = blocking key) → exact
    decimal-summed centrality → rank window. Zero-vector rows (no
    tokens survive hashing) are excluded before pairing — a 0/0 cosine
    is NaN and not portable. Output: (group, id, centrality, rn).
    """
    e = with_embedding(df, text_col, "v", dim, model_fn).select(group_col, id_col, "v")
    e = e.filter(_sq_norm(F.col("v")) > 0)
    # L2-normalize ONCE per doc so each pair costs a single dot product
    # — cosine(va, vb) recomputes both norms per pair, i.e. 3 array
    # traversals × O(pairs) instead of O(docs). norm is projected as its
    # own column first: an expression referenced inside a transform
    # lambda re-evaluates PER ELEMENT (measured 32× blowup elsewhere).
    # r6: the normalized vector is UNPACKED into ``dim`` scalar columns.
    # Catalyst higher-order functions (zip_with/aggregate) are
    # interpreted per element, so the O(pairs) dot product was paying
    # interpreter dispatch 2·dim times per pair; a chain of scalar
    # multiply-adds over unpacked columns is whole-stage-codegen'd.
    # The op sequence is bit-identical: same per-element division, same
    # left-to-right ((0.0 + p0) + p1) + … addition order.
    # the unpacked path requires vectors of exactly ``dim`` components;
    # the default md5 embedder guarantees that, but an injected
    # ``model_fn`` may emit any width — keep the array dot for it.
    unpack = model_fn is None
    e = e.withColumn("_n", F.sqrt(_sq_norm(F.col("v"))))
    if unpack:
        e = e.select(
            group_col,
            id_col,
            *[(F.col("v").getItem(i) / F.col("_n")).alias(f"vn_{i}") for i in range(dim)],
        )
    else:
        e = e.select(
            group_col,
            id_col,
            F.transform(F.col("v"), lambda x: x / F.col("_n")).alias("vn_arr"),
        )
    # both sides of the self-join read this frame: cache so the embed
    # UDF evaluates once per doc, not once per join side (at production
    # scale the embedding table is a materialized intermediate instead).
    # Not unpersisted here — the returned plan reads it lazily; it is
    # registered with ``core.caching`` for the caller's release.
    e = register_cache(e)
    if unpack:
        a_cols = [F.col(f"vn_{i}").alias(f"va_{i}") for i in range(dim)]
        b_cols = [F.col(f"vn_{i}").alias(f"vb_{i}") for i in range(dim)]
    else:
        a_cols = [F.col("vn_arr").alias("va")]
        b_cols = [F.col("vn_arr").alias("vb")]
    a = e.select(F.col(group_col).alias("grp"), F.col(id_col).alias("id_a"), *a_cols)
    b = e.select(F.col(group_col).alias("grp"), F.col(id_col).alias("id_b"), *b_cols)
    # broadcast the build side up to BROADCAST_MAX_BYTES: the join key
    # is the (low-cardinality) blocking group, so a shuffle join
    # collapses to ≤ n_groups busy partitions while the join OUTPUT is
    # quadratic per group; a broadcast keeps the streamed side's full
    # parallelism. Above it a plain join keeps the vectors off the driver.
    # each UNORDERED pair is computed once (id_a < id_b) and its decimal
    # addend credited to both endpoints: dot(va, vb) and dot(vb, va) are
    # bit-identical (IEEE multiplication commutes and the addition order
    # over i is the same), and the decimal sum is exact, so summing the
    # same addend multiset per endpoint reproduces the two-sided join's
    # result while halving the join output, the dot products and the
    # double→decimal casts.
    n_bytes = sizing.plan_bytes(b)
    if n_bytes is not None and n_bytes <= sizing.BROADCAST_MAX_BYTES:
        b = F.broadcast(b)
    pairs = a.join(b, ["grp"]).filter(F.col("id_a") < F.col("id_b"))
    if unpack:
        prod = F.lit(0.0)
        for i in range(dim):
            prod = prod + F.col(f"va_{i}") * F.col(f"vb_{i}")
    else:
        from pdf_to_text_spark.operators.similarity import dot

        prod = dot(F.col("va"), F.col("vb"))
    scored = pairs.select(
        "grp", "id_a", "id_b", prod.cast("decimal(28,12)").alias("d")
    )  # bind d as an attribute so the dot evaluates once per pair
    contrib = scored.select(
        "grp",
        F.explode(
            F.array(
                F.struct(F.col("id_a").alias("id"), F.col("d")),
                F.struct(F.col("id_b").alias("id"), F.col("d")),
            )
        ).alias("e"),
    ).select("grp", F.col("e.id").alias("id_a"), F.col("e.d").alias("d"))
    cent = contrib.groupBy("grp", "id_a").agg(
        # decimal addends: order-independent rounded sum (oracle parity)
        F.round(F.sum("d"), 6).cast("double").alias("centrality")
    )
    w = W.partitionBy("grp").orderBy(F.desc("centrality"), F.asc("id_a"))
    return (
        cent.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select(
            F.col("grp").alias(group_col),
            F.col("id_a").alias(id_col),
            "centrality",
            "rn",
        )
    )
