"""Structured Streaming surface (SURVEY §2.8 — optional extension).

The reference is purely batch; the north rule's resume story is the
manifest mechanism in plans/pipeline.py. This module adds the
incremental-crawl capability: the batch path's one extraction operator
(``operators.extract.extract_documents``) runs unchanged under
``readStream`` with ``trigger(availableNow=True)`` — checkpointed,
exactly-once per file, so a recurring crawl drop-off is picked up
incrementally with zero code divergence from the batch path.
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from pdf_to_text_spark.operators.extract import extract_documents


def run_incremental_extraction(
    spark: SparkSession,
    in_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    schema: str = "url string, warc_ts timestamp, html binary, text string, lang string",
) -> None:
    """Process any parquet files in ``in_dir`` not yet seen by this
    checkpoint, extract, append results. Returns after draining
    (availableNow) — cron-friendly incremental batch."""
    stream = (
        spark.readStream.schema(schema)
        .format("parquet")
        .option("maxFilesPerTrigger", 64)
        .load(in_dir)
    )
    extracted = extract_documents(stream)
    q = (
        extracted.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def stream_dedup_urls(
    pages_stream,
    key_col: str = "url",
):
    """Custom stateful operator (task brief: applyInPandasWithState):
    exactly-once url dedup ACROSS micro-batches — a recurring crawl
    drop-off often re-ships documents; each url's row is emitted only
    the first time it is ever seen.

    State layout — one state row PER URL, value = a boolean presence
    flag. Per-batch state I/O is therefore O(urls in the batch): only
    first-seen keys write state, repeat keys do one point read, and
    untouched history is never deserialized. (The round-1 design keyed
    state by a 1024-way hash-group and packed every seen url of the
    group into ONE concatenated string, re-sorting and rewriting the
    whole history each micro-batch — O(total-urls) per batch, and a
    multi-MB single state VALUE that RocksDB cannot page. Scale-killer,
    replaced.) At 10^12 docs the store backs onto RocksDB
    (``spark.sql.streaming.stateStore.providerClass``), which is built
    for many tiny keys; the operator code is unchanged.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def emit_first(key, pdfs, state: GroupState):
        if state.exists:
            for _ in pdfs:  # drain the iterator, emit nothing
                pass
            return
        first = None
        for pdf in pdfs:
            if first is None and len(pdf) > 0:
                first = pdf.iloc[[0]]
        state.update((True,))
        if first is not None:
            yield first

    out_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in pages_stream.schema.fields
    )
    return pages_stream.groupBy(key_col).applyInPandasWithState(
        emit_first,
        outputStructType=out_schema,
        stateStructType="seen boolean",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def stream_windowed_counts(
    spark,
    src_dir: str,
    out_dir: str,
    checkpoint: str,
    schema: str,
    window: str = "1 hour",
    late: str = "30 minutes",
):
    """Watermarked streaming window aggregation (task brief: watermarks
    + windowed aggs for late data). Event-time tumbling windows over a
    parquet-file stream; rows later than the watermark delay are
    DROPPED, rows late-but-within-delay still land in their window;
    append mode emits each window once, when the watermark passes its
    end. ``availableNow`` + checkpoint → incremental batch runs (the
    watermark advances across runs like across micro-batches)."""
    ev = spark.readStream.schema(schema).parquet(src_dir)
    agg = (
        ev.withWatermark("ts", late)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n")
    )
    q = (
        agg.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


def windowed_event_counts(events_df, window: str = "1 hour"):
    """Tumbling event-time window aggregation (engine capability check
    against the driver's ``events`` table; watermark applies only under
    a streaming source)."""
    return (
        events_df.groupBy(F.window("ts", window).alias("w"), "event_type")
        # decimal addends: order-independent sum (see __spark_entry__._dsum)
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum(F.col("value").cast("decimal(28,6)")), 4)
            .cast("double")
            .alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n",
            "sum_value",
        )
    )
