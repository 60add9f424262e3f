"""Physical-plan audits (scale discipline — the 100 TB questions).

These assert properties of the *plan*, not the output: column pruning
reaching the scan, predicate pushdown, shuffle count, broadcast joins.
A regression here means a 100× scale-up silently gets slower.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F

from pdf_to_text_spark.core import sizing
from pdf_to_text_spark.core.caching import mark_caches, release_caches_since
from pdf_to_text_spark.operators.extract import extract_documents, extract_pdf_page_table
from pdf_to_text_spark.plans.pipeline import size_aware_repartition


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_extraction_is_shuffle_free(pages_df):
    """Doc-level extraction is one pass: scan → one Arrow UDF →
    project, no shuffle. Exactly one parquet scan and one
    ``ArrowEvalPython`` node, so a multi-branch union (one scan and one
    UDF per route) cannot come back unnoticed."""
    plan = _plan(extract_documents(pages_df))
    assert "Exchange" not in plan
    assert plan.count("FileScan parquet") == 1, plan
    assert plan.count("ArrowEvalPython") == 1, plan


def test_extraction_input_is_one_scan_one_exchange(pages_df):
    """The whale-aware input placement adds exactly one exchange and no
    second scan: a filter/union split of the input (one scan and one UDF
    per branch) cannot come back unnoticed."""
    plan = _plan(extract_documents(size_aware_repartition(pages_df, 4)))
    assert plan.count("FileScan parquet") == 1, plan
    assert plan.count("Exchange") == 1, plan
    assert plan.count("ArrowEvalPython") == 1, plan


def test_page_table_is_one_udf_pass(pages_df):
    """The per-page table reuses the doc operator's parse UDF: one scan,
    one ``ArrowEvalPython``, no shuffle — a second PDF-only UDF cannot
    come back unnoticed."""
    plan = _plan(extract_pdf_page_table(pages_df))
    assert "Exchange" not in plan
    assert plan.count("FileScan parquet") == 1, plan
    assert plan.count("ArrowEvalPython") == 1, plan
    assert "parse_any_udf" in plan, plan


def test_filter_pushdown_reaches_scan(pages_df):
    plan = _plan(pages_df.select("url", "lang").filter(F.col("lang") == "en"))
    assert "PushedFilters: [IsNotNull(lang), EqualTo(lang,en)]" in plan


def test_small_dim_join_broadcasts(spark):
    """Catalyst must pick a broadcast join for a small dim (AQE or
    static) — the q02 join shape."""
    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    n = spark.read.parquet("/root/testdata/sf0.001/nation.parquet")
    j = li.join(F.broadcast(n), li.l_suppkey % 25 == n.n_nationkey)
    assert "BroadcastHashJoin" in _plan(j)


def test_topk_uses_take_ordered(spark):
    """orderBy+limit must compile to TakeOrderedAndProject, not a full
    global sort (O3 at scale)."""
    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    from pdf_to_text_spark.operators.similarity import brute_force_topk

    plan = _plan(brute_force_topk(e, [1.0] * 64, k=10))
    assert "TakeOrderedAndProject" in plan


def test_hot_key_caps_use_broadcast_anti_join(spark):
    """The dedup hot-key caps must prune via a BROADCAST anti-join (the
    hot list is tiny by construction) — a shuffled anti-join would add a
    full shuffle of the shingle/band table at 100 TB."""
    from pdf_to_text_spark.operators.dedup import minhash_lsh_pairs, ngram_jaccard_pairs

    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma doc {i} words here") for i in range(20)],
        "doc_id long, text string",
    )
    for df in (
        ngram_jaccard_pairs(docs, threshold=0.2, max_df=5),
        minhash_lsh_pairs(docs, num_hashes=8, bands=4, max_bucket=5),
    ):
        plan = _plan(df)
        assert "BroadcastHashJoin" in plan and "LeftAnti" in plan, plan


def test_embed_centrality_caches_vectors(spark):
    """Both sides of the q46 self-join must read the cached vector frame
    (one embed-UDF evaluation per doc, not one per join side)."""
    from pdf_to_text_spark.operators.embed import centrality_topk_from_text

    docs = spark.createDataFrame(
        [("g", i, f"some words {i} alpha") for i in range(10)],
        "source string, doc_id long, text string",
    )
    plan = _plan(centrality_topk_from_text(docs))
    assert plan.count("InMemoryTableScan") >= 2, plan


def _assert_no_key_exchange(name: str, plan: str) -> None:
    """Sinks are per-row projections: no KEY-based shuffle is allowed.
    The one permitted Exchange is ``__spark_entry__._par``'s round-robin
    spread of the documents table, planned when the size probe puts it
    at or above ``SPREAD_MIN_BYTES`` (it never is at sf0.001): it moves
    input bytes once and partitions by NOTHING, so hash/range
    partitioning must still never appear."""
    for line in plan.splitlines():
        if "Exchange" in line:
            assert "RoundRobinPartitioning" in line, (name, line, plan)


def test_oracle_sql_is_frozen():
    """``oracle_sql()`` is the correctness gate every query is checked
    against, so its text is frozen: a refactor of the query side must
    leave it byte-identical and declare the same 56 names."""
    import hashlib
    import json

    import __spark_entry__ as E

    oracle = E.oracle_sql()
    digest = hashlib.sha256(json.dumps(oracle, sort_keys=True).encode()).hexdigest()
    assert digest == "0b6ae9a712fdbf16476c7ca2ab656c7466a84653efcdbe5ed3ac1583317d5857"
    assert set(E.queries()) == set(oracle)
    assert len(oracle) == 56


def test_sink_queries_are_shuffle_free(spark):
    """The artifact sinks (PDF/DOCX/PPTX-slides/raster-OCR/topic-route)
    are per-row projections — at 100 TB they must compile to
    scan → (round-robin split) → project (+ explode) with zero
    key-based Exchanges."""
    import __spark_entry__ as E

    qs = E.queries()
    for name in (
        "q26_topic_route",
        "q27_pdf_sink",
        "q28_docx_xml",
        "q29_raster_ocr",
        "q48_pptx_slides",
    ):
        plan = _plan(qs[name](spark, "/root/testdata/sf0.001"))
        _assert_no_key_exchange(name, plan)


def test_new_sink_queries_are_shuffle_free(spark):
    """Round-3/4 sinks: chart parts (q50), image-placeholder DOCX
    (q51), and every query on the two PDF-roundtrip frames (q55–q62)
    are per-row projections — zero key-based Exchanges."""
    import __spark_entry__ as E

    qs = E.queries()
    for name in (
        "q50_chart_xml",
        "q51_image_placeholder",
        "q55_pdf_widened_roundtrip",
        "q56_pdf_notch2_roundtrip",
        "q57_pdf_filter_chain_roundtrip",
        "q58_pdf_embedded_image",
        "q59_pdf_encrypted_roundtrip",
        "q60_pdf_modern_structure_roundtrip",
        "q61_pdf_aes_roundtrip",
        "q62_pdf_g4_image",
    ):
        plan = _plan(qs[name](spark, "/root/testdata/sf0.001"))
        _assert_no_key_exchange(name, plan)


def test_connected_components_round_plan_is_bounded(spark):
    """The CC iteration must localCheckpoint each round: the round-N
    label plan references round N−1 three times, so an un-truncated
    lineage doubles per round (exponential optimizer cost; a
    diameter-7 chain OOMed the driver on plan stringification before
    the fix). Guard: the final plan of a diameter-6 graph stays small
    and contains no nested per-round join pyramid."""
    from pdf_to_text_spark.plans.components import connected_components

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(6)], "id_a long, id_b long"
    )
    out = connected_components(pairs)
    plan = _plan(out)
    # a checkpointed final table compiles to a scan of existing RDD
    # blocks, not a join tree over all rounds
    assert "Scan ExistingRDD" in plan, plan
    assert plan.count("SortMergeJoin") + plan.count("BroadcastHashJoin") == 0, plan


def test_bucketed_tables_join_and_agg_without_shuffle(spark):
    """100 TB discipline: two tables bucketed+sorted on the join key
    join WITHOUT any Exchange (sort-merge over co-located buckets) and
    aggregate on the bucket key shuffle-free. This is the engine's
    co-location answer for repeated big-big joins — bucket once, join
    many times (cf. extraction's bucketed output)."""
    a = spark.range(0, 2000).selectExpr("id % 97 as k", "id as va")
    b = spark.range(0, 2000).selectExpr("id % 97 as k", "id * 2 as vb")
    for name, df in (("sg_buck_a", a), ("sg_buck_b", b)):
        df.write.mode("overwrite").bucketBy(8, "k").sortBy("k").saveAsTable(name)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    try:
        # force the big-big path: without this a small side would
        # broadcast and hide what bucketing buys
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        j = spark.table("sg_buck_a").join(spark.table("sg_buck_b"), "k")
        plan = _plan(j)
        assert "SortMergeJoin" in plan, plan
        assert "Exchange" not in plan, plan
        assert j.count() > 0

        agg = spark.table("sg_buck_a").groupBy("k").count()
        assert "Exchange" not in _plan(agg), _plan(agg)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("drop table if exists sg_buck_a")
        spark.sql("drop table if exists sg_buck_b")


def test_plan_bytes_starts_no_job(spark):
    """The size probe reads Catalyst's estimate: sizing a join of two
    scans runs no Spark job."""
    import __spark_entry__ as E

    li = spark.read.parquet(f"{E.SF0001}/lineitem.parquet")
    o = spark.read.parquet(f"{E.SF0001}/orders.parquet")
    df = li.join(o, li.l_orderkey == o.o_orderkey).filter(F.col("l_quantity") > 10)
    tracker = spark.sparkContext.statusTracker()
    before = max(tracker.getJobIdsForGroup(None), default=-1)
    assert sizing.plan_bytes(df) > 0
    assert max(tracker.getJobIdsForGroup(None), default=-1) == before


def test_par_spreads_at_or_above_its_threshold(spark):
    """``_par`` plans a round-robin spread of the documents table exactly
    when the probe's size reaches ``min_bytes``."""
    import __spark_entry__ as E

    n = sizing.plan_bytes(spark.read.parquet(f"{E.SF0001}/documents.parquet"))
    assert "RoundRobinPartitioning" in _plan(E._par(spark, E.SF0001, n))
    assert "Exchange" not in _plan(E._par(spark, E.SF0001, n + 1))


def _with_small_broadcasts(spark, monkeypatch, max_bytes):
    """Set ``BROADCAST_MAX_BYTES``; below the input size also turn off
    Catalyst's own size-based broadcast, which would pick the same tiny
    side the hint no longer names."""
    monkeypatch.setattr(sizing, "BROADCAST_MAX_BYTES", max_bytes)
    if max_bytes < 0:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")


def test_q46_broadcast_follows_the_size_probe(spark, monkeypatch):
    """Above ``BROADCAST_MAX_BYTES`` the centrality pair join plans no
    broadcast and returns the same rows."""
    from pdf_to_text_spark.operators.embed import centrality_topk_from_text

    # from pandas: a local relation, which Catalyst can size
    docs = spark.createDataFrame(
        pd.DataFrame(
            [("g", i, f"some words {i} alpha") for i in range(10)],
            columns=["source", "doc_id", "text"],
        )
    )
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    mark = mark_caches()
    try:
        got = {}
        for max_bytes in (sizing.BROADCAST_MAX_BYTES, -1):
            _with_small_broadcasts(spark, monkeypatch, max_bytes)
            out = centrality_topk_from_text(docs)
            got[max_bytes] = ("BroadcastExchange" in _plan(out), sorted(out.collect()))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        release_caches_since(mark)
    (b_big, rows_big), (b_small, rows_small) = got.values()
    assert b_big and not b_small
    assert rows_big == rows_small and rows_big


def test_components_broadcast_follows_the_size_probe(spark, monkeypatch):
    """Above ``BROADCAST_MAX_BYTES`` no connected-components round plans
    a broadcast join of the label table, and the components are the
    same. The rounds run inside the call, so their plans are read from
    the SQL executions it recorded."""
    from pdf_to_text_spark.plans.components import connected_components

    store = spark._jsparkSession.sharedState().statusStore()

    def executions():
        spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
        it = store.executionsList().iterator()
        while it.hasNext():
            yield it.next()

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(6)] + [(10, 11)], "id_a long, id_b long"
    )
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    got = {}
    try:
        for max_bytes in (sizing.BROADCAST_MAX_BYTES, -1):
            _with_small_broadcasts(spark, monkeypatch, max_bytes)
            last = max((e.executionId() for e in executions()), default=-1)
            rows = sorted(connected_components(pairs).collect())
            plans = [e.physicalPlanDescription() for e in executions() if e.executionId() > last]
            got[max_bytes] = (
                sum("BroadcastHashJoin" in p for p in plans),
                sum("SortMergeJoin" in p for p in plans),
                rows,
            )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    (bhj_big, _, rows_big), (bhj_small, smj_small, rows_small) = got.values()
    assert bhj_big > 0 and bhj_small == 0 and smj_small > 0
    assert rows_big == rows_small
    assert {r["component"] for r in rows_big} == {0, 10}
