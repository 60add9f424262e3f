"""One size probe and its thresholds for every size-driven plan choice.
The probe is Catalyst's own estimate for the optimized plan: it lists
no files, starts no job, and follows a frame through projections,
filters, repartitions and checkpoints."""

from __future__ import annotations

from pyspark.sql import DataFrame

# ``__spark_entry__._par``: below this a round-robin spread costs more
# than the single-core stage it parallelizes (q14: 1.2 s unspread vs
# 1.9 s spread at sf0.1; 11.4 s vs 1.3 s at sf1.0)
SPREAD_MIN_BYTES = 4 << 20
# md5/minhash-per-shingle stages repay it sooner (q31 at sf0.1: 0.68 s
# spread vs 1.6 s unspread)
SPREAD_MIN_BYTES_HASHING = 256 << 10
# ``dedup.ngram_jaccard_pairs``: a kernel worker's peak RSS measured
# ~118 MiB + ~25 B per input byte (q33 at sf0.01 and sf0.1): ~0.9 GiB here
KERNEL_MAX_BYTES = 32 << 20
# explicit broadcast hints (q46, connected components): q52's label
# table probes at ~31 B/row, so a 5M-node graph still broadcasts
BROADCAST_MAX_BYTES = 160 << 20
# extraction (``plans.pipeline``): html above this is a whale row
WHALE_BYTES = 1 << 20


def plan_bytes(df: DataFrame) -> int | None:
    """Catalyst's optimized-plan ``sizeInBytes`` for ``df``, or ``None``
    when it cannot size the plan (it then reports
    ``spark.sql.defaultSizeInBytes``, Long.MaxValue); callers then take
    the distributed path. The estimate is a Scala ``BigInt`` (a join's
    is a product that can overflow a long), so it crosses as a string."""
    size = int(str(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()))
    return None if size >= (1 << 63) - 1 else size
