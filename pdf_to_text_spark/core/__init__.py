"""Pure-Python deterministic extraction core (no Spark imports outside
the cache registry and the size probe, ``caching`` and ``sizing``).

These modules ARE the frozen extraction spec (SURVEY.md §5.2): the
sequential golden oracle and the Arrow-batched pandas UDFs both call
them, so per-url extracted text is byte-identical by construction.
"""
