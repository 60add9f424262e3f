"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)``     — flagship extraction pipeline over sf0.001.
``queries()``        — one entry per implemented operator (SURVEY.md §2).
``oracle_sql()``     — DuckDB twins (same column names, portable
                       regex/hash semantics: RE2-safe patterns, md5,
                       explicit 'g' flags, rounded doubles).
"""

from __future__ import annotations

import unicodedata
from collections.abc import Callable

import pandas as pd

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from pdf_to_text_spark.core import sizing
from pdf_to_text_spark.core.textnorm import CLS_A
from pdf_to_text_spark.functions import text as X
from pdf_to_text_spark.functions.pdfsink import text_to_pdf
from pdf_to_text_spark.operators import dedup as D
from pdf_to_text_spark.operators import similarity as S
from pdf_to_text_spark.operators import textstats as TS
from pdf_to_text_spark.operators.extract import extract_documents, reassemble_documents
from pdf_to_text_spark.streaming.stream import windowed_event_counts

SF0001 = "/root/testdata/sf0.001"

# deterministic ANN probe: all-ones query vector (dim 64)
QVEC = [1.0] * 64
# deterministic LSH hyperplanes: plane i, component j = +1 if (i*7+j*13)%5<2 else -1
PLANES = [[1.0 if (i * 7 + j * 13) % 5 < 2 else -1.0 for j in range(64)] for i in range(4)]
# deterministic IVF centroids (8 cells): component j of centroid i
CENTROIDS = [[((i * 5 + j * 11) % 7 - 3) / 3.0 for j in range(64)] for i in range(8)]


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _par(spark: SparkSession, sf: str, min_bytes: int = sizing.SPREAD_MIN_BYTES) -> DataFrame:
    """The ``documents`` table, spread round-robin over every core unless
    the size probe puts it below ``min_bytes``. The sf tables are
    single-row-group parquet files, which Spark reads in ONE task however
    many cores exist (q29: 10.8 s in one task vs 3.4 s spread at
    local[32]); inputs of thousands of files spread by themselves."""
    d = _t(spark, sf, "documents")
    n_bytes = sizing.plan_bytes(d)
    if n_bytes is not None and n_bytes < min_bytes:
        return d
    return d.repartition(spark.sparkContext.defaultParallelism)


def _dsum(c: Column, scale: int, prec: str = "decimal(28,6)") -> Column:
    """Order-independent rounded sum: double addition is NOT associative,
    so a double-sum rounded near a boundary can differ between Spark's
    partition order and DuckDB's scan order (driver gate flagged q06 this
    way in round 1). Casting each addend to decimal makes the sum exact →
    identical on any engine/partitioning; the oracle twin is
    ``round(sum(x::decimal(28,6)), s)::double`` (rounding verified
    identical: both engines round decimals half-away-from-zero)."""
    return F.round(F.sum(c.cast(prec)), scale).cast("double")


# --------------------------------------------------------------------- entry


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: wrap sf0.001 documents as an HTML pages table, run the
    full routed extraction engine, and emit per-doc analytics."""
    docs = _t(spark, SF0001, "documents")
    pages = docs.select(
        F.concat(F.lit("https://t/"), F.col("doc_id").cast("string")).alias("url"),
        F.lit(None).cast("timestamp").alias("warc_ts"),
        F.encode(
            F.concat(F.lit("<html><body><article><p>"), F.col("text"), F.lit("</p></article></body></html>")),
            "UTF-8",
        ).alias("html"),
        F.lit(None).cast("string").alias("text"),
        F.col("lang"),
    )
    extracted = extract_documents(pages)
    return extracted.select(
        "url",
        "route",
        X.meaningful_len(F.col("extracted_text")).alias("mlen"),
        TS.token_count_ws(F.col("extracted_text")).alias("n_tokens"),
        TS.quality_score(F.col("extracted_text")).alias("quality"),
    )


# ------------------------------------------------------------------- queries


def _q01_pricing(spark, sf):
    li = _t(spark, sf, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("2002-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            _dsum(F.col("l_quantity"), 2).alias("sum_qty"),
            _dsum(F.col("l_extendedprice"), 2).alias("sum_base"),
            _dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 2).alias("sum_disc"),
            F.count("*").alias("n_rows"),
        )
    )


def _q02_revenue_by_nation(spark, sf):
    li, o, c, n = (_t(spark, sf, t) for t in ("lineitem", "orders", "customer", "nation"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            _dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 2).alias("revenue"),
            F.countDistinct("o_orderkey").alias("n_orders"),
        )
    )


def _q03_top_orders(spark, sf):
    o = _t(spark, sf, "orders")
    w = W.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("o_custkey", "o_orderkey", F.round("o_totalprice", 2).alias("price"), "rn")
    )


def _q04_events_hourly(spark, sf):
    ev = _t(spark, sf, "events")
    return windowed_event_counts(ev, "1 hour")


def _q05_set_ops(spark, sf):
    o = _t(spark, sf, "events")
    clickers = o.filter(F.col("event_type") == "click").select("user_id")
    erring = o.filter(F.col("event_type") == "error").select("user_id")
    both = clickers.intersect(erring).agg(F.count("*").alias("n")).select(
        F.lit("both").alias("grp"), "n"
    )
    only_click = (
        clickers.distinct()
        .exceptAll(erring.distinct())
        .agg(F.count("*").alias("n"))
        .select(F.lit("click_only").alias("grp"), "n")
    )
    return both.unionByName(only_click)


def _q06_sessionize(spark, sf):
    """Sessionization: a new session starts after a >30 min gap —
    lag window + running sum (classic event-stream shape)."""
    ev = _t(spark, sf, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    # exact integer microseconds on both engines (unix_micros / epoch_us);
    # seconds-cast would truncate in Spark but keep fractions in DuckDB
    us = F.unix_micros(F.col("ts").cast("timestamp"))  # ts is NTZ; session tz is UTC
    gap = us - F.lag(us).over(w)
    with_new = ev.withColumn(
        "new_s", F.when(gap.isNull() | (gap > 1800 * 1_000_000), 1).otherwise(0)
    )
    sess = with_new.withColumn(
        "session_no", F.sum("new_s").over(w.rowsBetween(W.unboundedPreceding, 0))
    )
    # INTEGER-NATIVE output only. Rounds 1-3 of the driver gate flagged a
    # hash mismatch here that never reproduced locally (bit-identical at
    # local[8]/local[32] × sf0.01/sf0.1, every round). q04 passes while
    # summing the SAME `value` doubles through the SAME decimal cast, so
    # the last engine-version-sensitive element was the decimal
    # multiply/round path — removed entirely. Every output column is now a
    # pure function of int64 inputs (event_id, epoch micros), immune to any
    # float/decimal engine divergence. min/max event_id double as a
    # diagnostic: if the gate is STILL red, the first differing session is
    # identifiable from the driver's own artifact.
    return sess.groupBy("user_id", "session_no").agg(
        F.count("*").alias("n_events"),
        F.min("event_id").alias("first_event_id"),
        F.max("event_id").alias("last_event_id"),
    )


def _q07_pivot_status(spark, sf):
    """Pivot orders: order count per priority × status (manual CASE
    pivot so the DuckDB twin is portable)."""
    o = _t(spark, sf, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.sum(F.when(F.col("o_orderstatus") == "F", 1).otherwise(0)).alias("n_f"),
        F.sum(F.when(F.col("o_orderstatus") == "O", 1).otherwise(0)).alias("n_o"),
        F.sum(F.when(F.col("o_orderstatus") == "P", 1).otherwise(0)).alias("n_p"),
    )


def _q08_rollup(spark, sf):
    """Grouping sets: rollup subtotals over returnflag × linestatus."""
    li = _t(spark, sf, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.count("*").alias("n"),
        _dsum(F.col("l_quantity"), 2).alias("qty"),
    )


def _q10_meaningful_len(spark, sf):
    d = _t(spark, sf, "documents")
    return d.select("doc_id", X.meaningful_len(F.col("text")).alias("mlen"))


def _q11_charset_clean(spark, sf):
    # measured at sf1.0: the charset regex is light enough that the
    # _par shuffle costs more than the single-task compute (1.5s vs
    # 3.0s) — the one documents query where the guard loses
    d = _t(spark, sf, "documents")
    return d.select("doc_id", X.charset_clean(F.col("text")).alias("cleaned"))


def _q12_deep_clean(spark, sf):
    d = _par(spark, sf)
    return d.select("doc_id", X.deep_clean(F.col("text")).alias("cleaned"))


def _q13_normalize(spark, sf):
    d = _par(spark, sf)
    return d.select("doc_id", X.normalize_extracted(F.col("text")).alias("norm"))


# the driver corpus has no terminal punctuation; derive a punctuated
# column deterministically (literal replace — identical in Java/RE2) so
# the sentence operators exercise real rows
def _punctuated(c):
    return F.regexp_replace(c, "table", "table.")


def _md_src() -> Column:
    """Deterministic markdown synthesized from a document row ('# doc
    <id>' heading + one '- ' bullet per sentence) — the shared input of
    every blueprint-derived query (q22/q25/q28/q48); its DuckDB twin is
    the shared `md` CTE. One definition so engine and oracle can't
    drift per-query."""
    return F.concat(
        F.lit("# doc "), F.col("doc_id").cast("string"), F.lit("\n"),
        F.regexp_replace(_punctuated(F.col("text")), r"\. ", ".\n- "),
    )


def _q14_sentences(spark, sf):
    d = _par(spark, sf)
    return d.select(
        "doc_id", F.explode(X.sentences_strict(_punctuated(F.col("text")))).alias("sentence")
    )


def _q15_sentence_topk(spark, sf):
    d = _par(spark, sf)
    s = d.select(
        "doc_id", F.explode(X.sentences_strict(_punctuated(F.col("text")))).alias("sentence")
    )
    w = W.partitionBy("doc_id").orderBy(F.desc(F.length("sentence")), F.asc("sentence"))
    return (
        s.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("doc_id", "sentence", "rn")
    )


def _q16_route_counts(spark, sf):
    d = _t(spark, sf, "documents")
    return d.groupBy(X.text_layer_sufficient(F.col("text")).alias("sufficient")).agg(
        F.count("*").alias("n")
    )


def _q17_reassembly_lex(spark, sf):
    d = _t(spark, sf, "documents")
    part = F.concat(
        F.lit("\n\n---- doc_"), F.col("doc_id").cast("string"), F.lit(" ----\n\n"),
        F.substring("text", 1, 40),
    )
    key = F.concat(F.lit("doc_"), F.col("doc_id").cast("string"))
    return reassemble_documents(
        d, "source", key, part, "\n" + "=" * 50 + "\n"
    ).withColumnRenamed("combined_text", "combined")


def _q18_chunk_concat(spark, sf):
    d = _t(spark, sf, "documents")
    chunk = F.floor(F.col("doc_id") / 5).cast("long").alias("chunk_id")
    key = F.lpad(F.col("doc_id").cast("string"), 9, "0")
    return reassemble_documents(
        d, chunk, key, F.substring("text", 1, 30), "\n\n---\n\n"
    ).withColumnRenamed("combined_text", "chunk_text")


def _q19_line_paging(spark, sf):
    from pdf_to_text_spark.operators.blueprint import paginate_slides

    d = _par(spark, sf)
    s = d.select(
        "doc_id", F.posexplode(X.sentences_strict(_punctuated(F.col("text")))).alias("pos", "s")
    )
    return (
        paginate_slides(s, "pos")
        .groupBy("doc_id", F.col("slide_no").alias("page_no"))
        .agg(F.count("*").alias("n_lines"))
    )


def _q20_text_stats(spark, sf):
    d = _par(spark, sf)
    return TS.with_text_stats(d, "text").select(
        "doc_id", "n_len", "n_tokens", "n_subtokens", "stop_ratio", "punct_ratio",
        "lang_guess", "quality", "fp",
    )


def _q21_lang_counts(spark, sf):
    d = _par(spark, sf)
    return d.groupBy(TS.lang_id(F.col("text")).alias("lang_guess")).agg(F.count("*").alias("n"))


def _q30_exact_dedup(spark, sf):
    return D.exact_dedup(_t(spark, sf, "documents"))


def _q31_minhash_sigs(spark, sf):
    return D.minhash_signatures(_par(spark, sf, sizing.SPREAD_MIN_BYTES_HASHING), num_hashes=8)


def _q32_lsh_pairs(spark, sf):
    return D.minhash_lsh_pairs(
        _par(spark, sf, sizing.SPREAD_MIN_BYTES_HASHING), num_hashes=8, bands=4, max_bucket=200
    )


def _q33_ngram_jaccard(spark, sf):
    return D.ngram_jaccard_pairs(
        _par(spark, sf, sizing.SPREAD_MIN_BYTES_HASHING), threshold=0.3, max_df=1000
    )


def _q34_simhash(spark, sf):
    return D.simhash_table(_par(spark, sf, sizing.SPREAD_MIN_BYTES_HASHING))


def _q52_near_dup_components(spark, sf):
    """Transitive near-dup clustering: connected components (iterated
    min-label propagation, ``plans/components.py``) over the q32 LSH
    candidate pairs — the standard crawl-dedup semantics, one survivor
    per cluster. Iterative with a driver-side convergence probe, yet
    fully SQL-checkable: the oracle computes the same closure with a
    recursive CTE."""
    from pdf_to_text_spark.plans.components import connected_components

    pairs = D.minhash_lsh_pairs(
        _par(spark, sf, sizing.SPREAD_MIN_BYTES_HASHING), num_hashes=8, bands=4, max_bucket=200
    )
    return connected_components(pairs)


def _q40_ann_bruteforce(spark, sf):
    return S.brute_force_topk(_t(spark, sf, "embeddings"), QVEC, k=10)


def _q41_ann_lsh(spark, sf):
    return S.lsh_topk(_t(spark, sf, "embeddings"), QVEC, PLANES, k=10)


def _q47_ann_ivf(spark, sf):
    """ANN top-k via IVF coarse quantization (nprobe=2 of 8 cells) —
    the brief's scale path where the cell is a partition key."""
    return S.ivf_topk(_t(spark, sf, "embeddings"), QVEC, CENTROIDS, nprobe=2, k=10)


def _q42_pairwise_label(spark, sf):
    e = _t(spark, sf, "embeddings").filter(F.col("vec_id") < 120)
    return S.pairwise_topk_per_label(e, k=3)


def _q49_lsh_near_dup(spark, sf):
    """Embedding near-dup with a sign-LSH blocking key instead of the
    label (the scale path q42's docstring points to), including the
    hot-bucket cap the dedup tier uses. Plane sizing: 4 planes = 16
    buckets satisfies ``S.min_planes(n, 500)`` up to n = 8000 docs —
    fine for every driver sf (sf0.1 ships 2000 embeddings); at crawl
    scale callers derive the count via ``generate_planes(min_planes(n,
    cap), dim)`` and the operator raises when under-planed (pinned by
    test_lsh_near_dup_plane_sizing)."""
    e = _t(spark, sf, "embeddings")
    return S.lsh_near_dup_pairs(e, PLANES, threshold=0.3, max_bucket=500, n_docs=2000)


def _q43_centrality_topk(spark, sf):
    """Extractive-summarizer analog (SURVEY J1/O3/M9): per label,
    centrality = Σ cosine to the other members; top-3 most central."""
    e = _t(spark, sf, "embeddings").filter(F.col("vec_id") < 120)
    a = e.select("label", F.col("vec_id").alias("id_a"), F.col("embedding").cast("array<double>").alias("va"))
    b = e.select("label", F.col("vec_id").alias("id_b"), F.col("embedding").cast("array<double>").alias("vb"))
    pairs = a.join(b, ["label"]).filter(F.col("id_a") != F.col("id_b"))
    cent = pairs.groupBy("label", "id_a").agg(
        _dsum(S.cosine(F.col("va"), F.col("vb")), 6, "decimal(28,12)").alias("centrality")
    )
    w = W.partitionBy("label").orderBy(F.desc("centrality"), F.asc("id_a"))
    return (
        cent.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("label", F.col("id_a").alias("vec_id"), "centrality", "rn")
    )


def _q44_stopword_removal(spark, sf):
    from pdf_to_text_spark.functions.udfs import remove_stopwords

    d = _par(spark, sf)
    return d.select("doc_id", remove_stopwords(F.col("text")).alias("kept"))


def _q22_blueprint(spark, sf):
    """Deterministic restructure (M7/M10 analog): synthesize markdown
    from each doc (heading + bullet per sentence), build the blueprint
    and read it back through its JSON form (F13), explode to (doc_id,
    slide_no, title, n_points) — all flat scalars, so the DuckDB twin
    replays the same split/trim steps."""
    from pdf_to_text_spark.operators.blueprint import blueprint_json_roundtrip

    d = _t(spark, sf, "documents").select("doc_id", _md_src().alias("md"))
    bp = blueprint_json_roundtrip(d, "md").select(
        "doc_id", F.posexplode("blueprint").alias("slide_no", "slide")
    )
    return bp.select(
        "doc_id", "slide_no", F.col("slide.title").alias("title"),
        F.size("slide.content").alias("n_points"),
    )


# NFKC probe suffix: chars with non-trivial NFKC folds (Ⅻ→XII, ㎏→kg,
# ﬁ→fi, Ａ→A, ②→2) so the UDF's real normalization is exercised while
# the oracle twin stays SQL-expressible (DuckDB has no NFKC): the text
# part is projected to ASCII (where NFKC is the identity), the probe's
# expected fold is computed once in Python and pinned as a SQL literal.
NFKC_PROBE = " Ⅻ ㎏ ﬁ Ａ ②"


def _q45_nfkc(spark, sf):
    """F4 NFKC+lower (Arrow pandas UDF) with a hash-checkable oracle."""
    from pdf_to_text_spark.functions.udfs import nfkc_lower

    d = _t(spark, sf, "documents")
    ascii_only = F.regexp_replace(F.col("text"), r"[^\x00-\x7F]+", " ")
    return d.select(
        "doc_id", nfkc_lower(F.concat(ascii_only, F.lit(NFKC_PROBE))).alias("norm")
    )


def _chart_src() -> Column:
    """Deterministic chart string per doc (with malformed points
    exercising the 0.0-on-failure and no-colon-skip rules) — the shared
    input of q23 (parse) and q50 (parse → chart part XML); its DuckDB
    twin is the shared ``src`` CTE."""
    return F.concat(
        F.lit("Report "), F.col("doc_id").cast("string"),
        F.lit(", series_"), (F.col("doc_id") % 3).cast("string"),
        F.lit(", Q1: $"), (F.col("doc_id") % 97).cast("string"), F.lit(".5"),
        F.lit(", Q2:"), F.substring(F.col("text"), 1, 2),
        F.lit(", Q3 : 7 USD, malformed part, Q4:1.2.3"),
    )


def _q23_chart_parse(spark, sf):
    """F11 chart-string parse: parse the synthesized chart string,
    explode points to flat rows."""
    d = _t(spark, sf, "documents")
    p = d.select("doc_id", X.parse_chart_string(_chart_src()).alias("ch"))
    return p.select(
        "doc_id",
        F.col("ch.title").alias("title"),
        F.col("ch.series").alias("series"),
        F.posexplode("ch.points").alias("pos", "pt"),
    ).select(
        "doc_id", "title", "series", "pos",
        F.col("pt.category").alias("category"),
        F.col("pt.value").alias("value"),
    )


def _q25_markdown_report(spark, sf):
    """K6 markdown sink: blueprint → report string (the reference's
    create_markdown_report), composed on q22's deterministic blueprint."""
    from pdf_to_text_spark.operators.blueprint import blueprint_to_markdown, text_to_blueprint

    d = _t(spark, sf, "documents")
    md_src = _md_src()
    return d.select(
        "doc_id", blueprint_to_markdown(text_to_blueprint(md_src)).alias("report")
    )


def _q28_docx_xml(spark, sf):
    """K4 DOCX sink, document part: q22's deterministic blueprint →
    WordprocessingML document.xml (reference create_docx semantics:
    Heading1/Heading2 titles, List Bullet points, page break between
    slides, core_document_generator.py:380-413). The zip container
    (`functions.udfs.docx_package`) is pinned by pytest roundtrip —
    CRC32 isn't SQL-expressible, the XML is."""
    from pdf_to_text_spark.operators.blueprint import blueprint_to_docx_xml, text_to_blueprint

    d = _par(spark, sf)
    md_src = _md_src()
    return d.select(
        "doc_id", blueprint_to_docx_xml(text_to_blueprint(md_src)).alias("docx_xml")
    )


def _q29_raster_ocr(spark, sf):
    """M2 + real M4: text → rasterized PNG page (deterministic font,
    real pixels) → glyph OCR back to text. The oracle computes the
    raster→OCR fixpoint (ASCII-project, clip to the 64x48 grid,
    rstrip) directly, so the whole render/decode loop is hash-checked
    through actual pixel data."""
    from pdf_to_text_spark.operators.multimodal import ocr_pages, rasterize_col

    d = _par(spark, sf)
    pages = d.select("doc_id", rasterize_col(F.col("text")).alias("page_png"))
    return ocr_pages(pages).select("doc_id", F.col("ocr_text").alias("recovered"))


def _q48_pptx_slides(spark, sf):
    """K5 PPTX sink (basic variant), slide part: blueprint →
    PresentationML slide XML per slide, first slide on the title
    layout (O4). Container packaging (`functions.pptxsink.
    pptx_package_with_charts`, null charts for a text-only deck) is
    pinned by pytest (zip/rels/content-type consistency); the XML
    itself is hash-checked here."""
    from pdf_to_text_spark.functions.pptxsink import blueprint_to_slide_xml
    from pdf_to_text_spark.operators.blueprint import text_to_blueprint

    d = _par(spark, sf)
    md_src = _md_src()
    return d.select(
        "doc_id",
        F.posexplode(blueprint_to_slide_xml(text_to_blueprint(md_src))).alias(
            "slide_no", "slide_xml"
        ),
    )


def _q51_image_placeholder(spark, sf):
    """F10 end-to-end (the last F-function without a driver gate):
    markdown bullets carrying [Image of X] tags → blueprint → DOCX
    document XML where tagged lines are REPLACED by the reference's
    🖼️ [PROMPT: X] placeholder paragraph
    (core_document_processing.py:348-357) — case-insensitive match,
    topic stripped, tag-free lines untouched. The oracle hand-computes
    the expected XML from doc_id, so the whole extract→render chain is
    hash-checked."""
    from pdf_to_text_spark.operators.blueprint import blueprint_to_docx_xml, text_to_blueprint

    d = _par(spark, sf)
    md = F.concat(
        F.lit("# doc "), F.col("doc_id").cast("string"),
        F.lit("\n- intro point\n- [Image of pipeline "),
        (F.col("doc_id") % 7).cast("string"),
        F.lit(" ]\n- see [IMAGE OF spark shuffle] diagram\n- closing point"),
    )
    return d.select("doc_id", blueprint_to_docx_xml(text_to_blueprint(md)).alias("docx_xml"))


def _q50_chart_xml(spark, sf):
    """K5 chart part: parsed chart string → clustered-column
    ``c:chartSpace`` DrawingML part (the reference's python-pptx
    ``add_chart`` data path, pptx_designer.py:131-172). The XML is
    pure Catalyst so the whole chart-data pipeline — parse, point
    explode, str/numCache assembly — is hash-checked; the OPC wiring
    (per-slide rels + content-type override) is pinned by
    tests/test_pptxsink.py."""
    from pdf_to_text_spark.functions.pptxsink import chart_to_chart_xml

    d = _par(spark, sf)
    return d.select(
        "doc_id", chart_to_chart_xml(X.parse_chart_string(_chart_src())).alias("chart_xml")
    )


def _q54_themed_slides(spark, sf):
    """K5 themed variant: the same deterministic blueprint as q48
    rendered with the reference's 'Professional' theme — title/body
    runs carry font/size/color run properties and every slide gets the
    theme's bottom-bar design shape (pptx_designer.py:14-50, 59-70,
    72-102). Hash-checked against a DuckDB replay of the themed
    template."""
    from pdf_to_text_spark.functions.pptxsink import blueprint_to_slide_xml
    from pdf_to_text_spark.operators.blueprint import text_to_blueprint

    d = _par(spark, sf)
    return d.select(
        "doc_id",
        F.posexplode(
            blueprint_to_slide_xml(text_to_blueprint(_md_src()), theme_name="Professional")
        ).alias("slide_no", "slide_xml"),
    )


def _q53_chart_routed_deck(spark, sf):
    """K5 chart ROUTING (reference create_pptx_with_style loop,
    pptx_designer.py:218-231): a deck whose second section carries a
    '[CHART: ...]' content line; the router must make slide 0 a text
    slide (null chart) and slide 1 a chart slide with a real
    c:chartSpace part. The oracle hand-computes the expected routing
    AND the full chart part from doc_id — an independent derivation,
    not a replay."""
    from pdf_to_text_spark.functions.pptxsink import blueprint_to_pptx_parts
    from pdf_to_text_spark.operators.blueprint import text_to_blueprint

    d = _par(spark, sf)
    cs = F.concat(
        F.lit("Report "), F.col("doc_id").cast("string"),
        F.lit(", series_"), (F.col("doc_id") % 3).cast("string"),
        F.lit(", Q1: $"), (F.col("doc_id") % 97).cast("string"), F.lit(".5, Q2: 7"),
    )
    md = F.concat(
        F.lit("# doc "), F.col("doc_id").cast("string"),
        F.lit("\n- alpha point\n# Chart slide\n- [CHART: "), cs, F.lit("]\n- dropped context"),
    )
    parts = blueprint_to_pptx_parts(text_to_blueprint(md))
    return d.select(
        "doc_id", F.posexplode(parts["charts"]).alias("slide_no", "chart_xml")
    ).withColumn("is_chart", F.col("chart_xml").isNotNull())


def _q46_embed_centrality(spark, sf):
    """M9 end-to-end: raw text → feature-hash embedder (Arrow pandas
    UDF, md5-portable) → per-source cosine centrality → top-3. The
    DuckDB twin rebuilds the identical vectors in SQL, so the inference
    chain is hash-checked."""
    from pdf_to_text_spark.operators.embed import centrality_topk_from_text

    d = _par(spark, sf)
    return centrality_topk_from_text(d, "text", "doc_id", "source", k=3, dim=16)


def _q24_filename_ops(spark, sf):
    """F14 filename scalar helpers over a synthesized path column."""
    d = _t(spark, sf, "documents")
    path = F.concat(
        F.lit("/data/in/"), F.col("source"), F.lit("/doc_"),
        F.col("doc_id").cast("string"), F.lit(".PDF"),
    )
    return d.select(
        "doc_id",
        X.file_ext(path).alias("ext"),
        X.file_stem(path).alias("stem"),
        X.rel_path(path, "/data/in").alias("rel"),
        X.title_from_stem(X.file_stem(path)).alias("title"),
    )


def _q26_topic_route(spark, sf):
    """P8 topic-vs-text heuristic as a named op: word count < 10 →
    topic (title to expand), else body text
    (core_document_generator.py:270-274)."""
    d = _t(spark, sf, "documents")
    first_line = F.split(F.col("text"), "\n", 2).getItem(0)
    return d.select(
        "doc_id",
        X.token_count(first_line).alias("n_words"),
        X.is_topic(first_line).alias("is_topic"),
    )


def _q27_pdf_sink(spark, sf):
    """K3 PDF sink: text → complete single-page PDF, pure Catalyst
    (reference exports via FPDF/reportlab, ppt_formation.py:51-60,
    final_output_generator.py:11-19). The DuckDB twin rebuilds the
    byte-exact document — xref offsets included — so the sink is
    hash-checked; tests additionally pin writer→parser roundtrip."""
    d = _par(spark, sf)
    # build the (large) PDF expression tree once; derive n_bytes from
    # the materialized column in a second projection
    p = d.select("doc_id", text_to_pdf(F.col("text")).alias("pdf"))
    return p.select("doc_id", F.length("pdf").cast("long").alias("n_bytes"), "pdf")


def _rows(s: str, n: int, w: int, at: int = 0) -> list[str]:
    """``n`` consecutive ``w``-char lines of ``s``, starting at ``at``."""
    return [s[at + i * w : at + (i + 1) * w] for i in range(n)]


def _pdf_pages_query(spark, sf, make_pdfs, key: Column | None = None) -> DataFrame:
    """The PDF-roundtrip page frame (q55–q57, q59–q61): each doc's text,
    sanitized to printable ASCII so the layout is SQL-replicable, goes
    through ``make_pdfs(s)``; every PDF it returns is parsed back by the
    engine's parser (``core/pdfparse.py``), the page texts concatenated
    in order, one row per page. ``key`` is the column the 0-based
    ``pos`` maps to (default: 1-based ``page_no``). ``make_pdfs`` is a
    closure, so cloudpickle ships it to the workers by value; the
    workers import ``_rows`` from this file, as they import the
    package."""
    d = _par(spark, sf)

    @F.pandas_udf("array<string>")
    def roundtrip(texts: pd.Series) -> pd.Series:
        import re as _re

        from pdf_to_text_spark.core.pdfparse import extract_pdf_pages

        def rt(t):
            s = _re.sub(r"[^ -~]", "", t or "")
            return [p for pdf in make_pdfs(s) for p in extract_pdf_pages(pdf)]

        return texts.map(rt)

    if key is None:
        key = (F.col("pos") + 1).cast("int").alias("page_no")
    return d.select("doc_id", F.posexplode(roundtrip(F.col("text")))).select(
        "doc_id", key, F.col("col").alias("page_text")
    )


def _pdf_images_query(spark, sf, make_pdf) -> DataFrame:
    """The embedded-image frame (q58, q62): ``make_pdf(s)`` builds one
    PDF per doc from its printable-ASCII-sanitized text, and the REAL
    extraction operator (``operators/multimodal.pdf_embedded_images``)
    reads its images back as ``(doc_id, image_no, width, height,
    mean_luma)``."""
    from pdf_to_text_spark.operators.multimodal import pdf_embedded_images

    d = _par(spark, sf)

    @F.pandas_udf("binary")
    def doc_pdf(texts: pd.Series) -> pd.Series:
        import re as _re

        return texts.map(lambda t: make_pdf(_re.sub(r"[^ -~]", "", t or "")))

    pdfs = d.select(F.col("doc_id").cast("string").alias("doc_key"), doc_pdf("text").alias("pdf"))
    out = pdf_embedded_images(pdfs, bin_col="pdf", id_col="doc_key")
    return out.select(
        F.col("url").cast("bigint").alias("doc_id"),
        "image_no",
        "width",
        "height",
        "mean_luma",
    )


def _q55_pdf_widened_roundtrip(spark, sf):
    """Round-4 widened PDF subset, end-to-end through REAL bytes: each
    doc's text (sanitized to printable ASCII so the layout is SQL-
    replicable) is laid out as 2 pages x 2 lines of 40 chars, built
    into a complete PDF exercising every new feature at once — nested
    page tree (recursive /Kids), ``/Filter [/FlateDecode]`` array form,
    hex-string ``Tj`` show ops, inline BDC property dict — then parsed
    back by the engine's PDF parser (``core/pdfparse.py``) and emitted
    one row per page. The oracle recomputes the expected page text
    directly with SQL string ops; a hash match proves the generator→
    parser loop is byte-faithful on every doc. Reference parity: accepts
    uploads beyond the single-level fixture shape
    (``core_document_generator.py:122`` ``fitz.open(stream=...)``)."""

    def make(s):
        from pdf_to_text_spark.core.pdfgen import build_pdf, page_content_stream

        lines = _rows(s, 4, 40)
        pages = [page_content_stream(lines[i : i + 2], style="hex") for i in (0, 2)]
        return [build_pdf(pages, filter_array=True, nested=True)]

    return _pdf_pages_query(spark, sf, make)


def _q56_pdf_notch2_roundtrip(spark, sf):
    """Round-4 notch-2 PDF subset through REAL bytes: each doc's text
    (printable-ASCII sanitized) laid out as 2 pages x 3 lines of 30
    chars, built into a PDF exercising the three notch-2 features at
    once — a /Type0 /Identity-H font with a /ToUnicode CMap (2-byte
    CID hex show strings whose wire codes differ from the Unicode they
    decode to), /Contents ARRAYS (each page's stream split into two
    objects at a token boundary), and a /Type /ObjStm container holding
    every non-stream object (catalog, page tree, pages, font) — then
    parsed back by ``core/pdfparse.py``, one row per page. The oracle
    recomputes expected page text with SQL string ops; a hash match
    proves generator→CMap→parser is byte-faithful per doc. Reference
    parity: modern real-world uploads (PDF 1.5+ compressed xref,
    Identity-H text) accepted by ``core_document_generator.py:122``."""

    def make(s):
        from pdf_to_text_spark.core.pdfgen import build_pdf, page_content_stream

        lines = _rows(s, 6, 30)
        pages = [page_content_stream(lines[i : i + 3], style="cid") for i in (0, 3)]
        return [
            build_pdf(pages, flate=True, cid_font=True, split_content=True, objstm=True)
        ]

    return _pdf_pages_query(spark, sf, make)


def _q57_pdf_filter_chain_roundtrip(spark, sf):
    """Round-4 notch-3 stream filters through REAL bytes: each doc's
    text (printable-ASCII sanitized) as 1 page x 4 lines of 25 chars,
    written with a TWO-FILTER chain — content flate-compressed then
    ASCII85-armored (``/Filter [/ASCII85Decode /FlateDecode]``: reader
    85-decodes first, then inflates) — plus a second doc variant with
    ``/Filter /LZWDecode`` (EarlyChange=1 variable-width codes), both
    parsed back by ``core/pdfparse.py``. The oracle recomputes expected
    text with SQL string ops; a hash match proves both decode paths are
    byte-faithful per doc. Reference parity: pdfminer/fitz accept these
    legacy encodings routinely (``core_document_generator.py:122``)."""

    def make(s):
        from pdf_to_text_spark.core.pdfgen import build_pdf, page_content_stream

        content = page_content_stream(_rows(s, 4, 25))
        return [
            build_pdf([content], filters=["ASCII85Decode", "FlateDecode"]),
            build_pdf([content], filters=["LZWDecode"]),
        ]

    variant = F.when(F.col("pos") == 0, F.lit("a85_flate")).otherwise(F.lit("lzw"))
    return _pdf_pages_query(spark, sf, make, key=variant.alias("variant"))


def _q58_pdf_embedded_image(spark, sf):
    """Round-4 notch-4, end-to-end through REAL bytes: each doc's text
    drives a deterministic uniform-gray JPEG (dims and gray level are
    functions of the sanitized text length; even gray + quality 50 ⇒
    the quantized DC recovers the level EXACTLY, so pixel decode is
    in-band for the oracle), embedded as a ``/Subtype /Image
    /Filter /DCTDecode`` XObject in a PDF whose content stream is
    flate+PNG-predictor encoded (``/DecodeParms /Predictor 12``) and
    paints the image with a ``Do`` op. The engine then runs the REAL
    extraction operator (``operators/multimodal.pdf_embedded_images``:
    object scan → DCT payload → own JPEG codec → mean luma) — a hash
    match proves generator→XObject→predictor→parser→codec is
    byte-faithful per doc. The oracle recomputes dims + gray from
    ``length()`` alone. Reference parity: fitz surfaces page pixmaps
    but never embedded images (``core_document_processing.py:60-66``);
    this is the Spark-first generalization."""

    def make(s):
        from pdf_to_text_spark.core.jpegcodec import encode_jpeg
        from pdf_to_text_spark.core.pdfgen import build_pdf, page_content_stream

        L = len(s)
        g = 2 * (10 + L % 100)
        w, h = 8 * (1 + L % 4), 8 * (1 + L % 3)
        jpeg = encode_jpeg(w, h, 1, bytes([g]) * (w * h), quality=50)
        content = (
            page_content_stream(_rows(s, 2, 30))
            + f"\nq {w} 0 0 {h} 72 600 cm /Im0 Do Q".encode()
        )
        return build_pdf([content], predictor=12, pred_columns=48, images=[(w, h, jpeg)])

    return _pdf_images_query(spark, sf, make)


def _q59_pdf_encrypted_roundtrip(spark, sf):
    """Round-4 notch-5, end-to-end through REAL bytes: each doc's text
    (printable-ASCII sanitized) as 2 pages x 2 lines of 35 chars,
    written as an RC4-ENCRYPTED PDF (Standard security handler, /V 2
    /R 3 /Length 128, empty user password — the dominant real-world
    shape for web-crawled "protected" documents) with flate content,
    then decrypted + parsed back by ``core/pdfparse.py`` (independent
    key derivations on the two sides — pdfgen re-implements §7.6.3.4
    Algorithms 2/3/4/5, so a derivation bug cannot cancel). The oracle
    recomputes expected page text with SQL string ops; a hash match
    proves handler→RC4→parser is byte-faithful per doc. Reference
    parity: fitz transparently opens empty-user-password uploads
    (``core_document_generator.py:122``)."""

    def make(s):
        from pdf_to_text_spark.core.pdfgen import build_pdf, page_content_stream

        lines = _rows(s, 4, 35)
        pages = [page_content_stream(lines[i : i + 2]) for i in (0, 2)]
        return [build_pdf(pages, flate=True, encrypt=3)]

    return _pdf_pages_query(spark, sf, make)


def _q60_pdf_modern_structure_roundtrip(spark, sf):
    """Round-4 notch-6, end-to-end through REAL bytes: each doc becomes
    a PURE PDF-1.5 file — object streams + a cross-reference STREAM
    (§7.5.8: /W [1 4 2] binary rows, flate + PNG predictor 12, trailer
    entries in the stream dict, NO classic table) — holding the first
    90 sanitized chars, then an INCREMENTAL UPDATE (§7.5.6) is appended
    that replaces the page content with chars 91-180. The engine must
    honor the LATEST definition (later-wins, the repair-mode scan
    semantics real readers apply to saved-over files): a hash match
    proves both the modern file structure and update precedence are
    byte-faithful per doc. The oracle recomputes the UPDATED text with
    SQL string ops. Reference parity: fitz opens 1.5 xref-stream files
    and honors incremental saves (``core_document_generator.py:122``)."""

    def make(s):
        from pdf_to_text_spark.core.pdfgen import (
            append_incremental,
            build_pdf,
            content_stream_obj,
            page_content_stream,
        )

        pdf = build_pdf(
            [page_content_stream(_rows(s, 3, 30))], flate=True, objstm=True, xref_stream=True
        )
        # content object number is stable for a 1-page build (obj 4)
        v2 = page_content_stream(_rows(s, 3, 30, at=90))
        return [append_incremental(pdf, {4: content_stream_obj(v2, flate=True)})]

    return _pdf_pages_query(spark, sf, make)


def _q61_pdf_aes_roundtrip(spark, sf):
    """Round-4 notch-7, end-to-end through REAL bytes: each doc's text
    (printable-ASCII sanitized) as 1 page x 3 lines of 30 chars,
    written as an AES-ENCRYPTED PDF — /V 4 crypt filters, /CFM /AESV2
    (AES-128-CBC, FIPS-197 core pinned to the appendix vectors),
    IV-prefixed payloads, per-object sAlT keys, empty user password —
    then decrypted + parsed back by ``core/pdfparse.py``. CBC
    decryption is numpy-vectorized (ECB-decrypt all blocks, XOR the
    shifted ciphertext), so the per-row cost stays inflate-dominated.
    The oracle recomputes expected text with SQL string ops. Reference
    parity: fitz opens AES empty-user-password uploads transparently
    (``core_document_generator.py:122``)."""

    def make(s):
        from pdf_to_text_spark.core.pdfgen import build_pdf, page_content_stream

        return [build_pdf([page_content_stream(_rows(s, 3, 30))], flate=True, encrypt=4)]

    return _pdf_pages_query(spark, sf, make)


def _q62_pdf_g4_image(spark, sf):
    """Round-5 notch-9, end-to-end through REAL bytes: each doc's text
    drives a deterministic bitonal bitmap — height h is an odd divisor
    of 255 ({3,5,15,17} by L%4) so the bit-mean luminance is an EXACT
    integer (no cross-engine rounding axis), k = L%(h+1) leading black
    rows, w = 8*(1+L%4) columns — Group-4 encoded (core/ccittfax.py),
    embedded as a ``/CCITTFaxDecode`` XObject (/K -1 + /DecodeParms),
    painted by the content stream, then extracted back by the REAL
    operator (``multimodal.pdf_embedded_images`` → own T.6 decoder →
    bit-mean luma). The oracle recomputes (w, h, luma) from length()
    alone. Reference parity: fitz decodes CCITTFax transparently
    (``core_document_generator.py:122``); G4 is the dominant
    scanned-PDF bitonal codec."""

    def make(s):
        from pdf_to_text_spark.core.ccittfax import encode_g4
        from pdf_to_text_spark.core.pdfgen import build_pdf, page_content_stream

        L = len(s)
        h = (3, 5, 15, 17)[L % 4]
        k = L % (h + 1)
        w = 8 * (1 + L % 4)
        bm = [[1] * w if i < k else [0] * w for i in range(h)]
        content = (
            page_content_stream(_rows(s, 2, 30))
            + f"\nq {w} 0 0 {h} 72 600 cm /Im0 Do Q".encode()
        )
        return build_pdf([content], flate=True, images=[(w, h, encode_g4(bm, w), "g4")])

    return _pdf_images_query(spark, sf, make)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "q01_pricing_summary": _q01_pricing,
        "q02_revenue_by_nation": _q02_revenue_by_nation,
        "q03_top_orders_per_customer": _q03_top_orders,
        "q04_events_hourly": _q04_events_hourly,
        "q05_set_ops": _q05_set_ops,
        "q06_sessionize": _q06_sessionize,
        "q07_pivot_status": _q07_pivot_status,
        "q08_rollup": _q08_rollup,
        "q10_meaningful_len": _q10_meaningful_len,
        "q11_charset_clean": _q11_charset_clean,
        "q12_deep_clean": _q12_deep_clean,
        "q13_normalize_extracted": _q13_normalize,
        "q14_sentence_explode": _q14_sentences,
        "q15_sentence_topk": _q15_sentence_topk,
        "q16_route_counts": _q16_route_counts,
        "q17_reassembly_lex": _q17_reassembly_lex,
        "q18_chunk_concat": _q18_chunk_concat,
        "q19_line_paging": _q19_line_paging,
        "q20_text_stats": _q20_text_stats,
        "q21_lang_counts": _q21_lang_counts,
        "q30_exact_dedup": _q30_exact_dedup,
        "q31_minhash_signatures": _q31_minhash_sigs,
        "q32_minhash_lsh_pairs": _q32_lsh_pairs,
        "q33_ngram_jaccard": _q33_ngram_jaccard,
        "q34_simhash": _q34_simhash,
        "q40_ann_topk_bruteforce": _q40_ann_bruteforce,
        "q41_ann_topk_lsh": _q41_ann_lsh,
        "q47_ann_topk_ivf": _q47_ann_ivf,
        "q42_pairwise_topk_per_label": _q42_pairwise_label,
        "q43_centrality_topk": _q43_centrality_topk,
        "q44_stopword_removal": _q44_stopword_removal,
        "q22_blueprint_explode": _q22_blueprint,
        "q23_chart_parse": _q23_chart_parse,
        "q24_filename_ops": _q24_filename_ops,
        "q25_markdown_report": _q25_markdown_report,
        "q26_topic_route": _q26_topic_route,
        "q27_pdf_sink": _q27_pdf_sink,
        "q28_docx_xml": _q28_docx_xml,
        "q29_raster_ocr": _q29_raster_ocr,
        "q48_pptx_slides": _q48_pptx_slides,
        "q49_lsh_near_dup": _q49_lsh_near_dup,
        "q45_nfkc_lower": _q45_nfkc,
        "q46_embed_centrality": _q46_embed_centrality,
        "q50_chart_xml": _q50_chart_xml,
        "q51_image_placeholder": _q51_image_placeholder,
        "q52_near_dup_components": _q52_near_dup_components,
        "q53_chart_routed_deck": _q53_chart_routed_deck,
        "q54_themed_slides": _q54_themed_slides,
        "q55_pdf_widened_roundtrip": _q55_pdf_widened_roundtrip,
        "q56_pdf_notch2_roundtrip": _q56_pdf_notch2_roundtrip,
        "q57_pdf_filter_chain_roundtrip": _q57_pdf_filter_chain_roundtrip,
        "q58_pdf_embedded_image": _q58_pdf_embedded_image,
        "q59_pdf_encrypted_roundtrip": _q59_pdf_encrypted_roundtrip,
        "q60_pdf_modern_structure_roundtrip": _q60_pdf_modern_structure_roundtrip,
        "q61_pdf_aes_roundtrip": _q61_pdf_aes_roundtrip,
        "q62_pdf_g4_image": _q62_pdf_g4_image,
    }


# ---------------------------------------------------------------- oracle SQL

_CLS = CLS_A  # whitespace class incl. \xa0, shared with the engine


def _sql_render_pt(p: str) -> str:
    """DuckDB twin of ``functions.text.render_image_placeholder`` (F10):
    a content line carrying a case-insensitive [Image of X] tag becomes
    '🖼️ [PROMPT: X]' (topic stripped), other lines pass through.
    Applied wherever the engine sinks consume blueprint points."""
    tag = f"regexp_extract({p}, '(?i)\\[image of (.+?)\\]', 1)"
    stripped = f"regexp_replace(regexp_replace({tag}, '^{_CLS}+', ''), '{_CLS}+$', '')"
    return (
        f"case when {tag} <> '' then '🖼️ [PROMPT: ' || {stripped} || ']' else {p} end"
    )

_WORDS = "list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> length(x) > 0)"
_SENTS = (
    "list_filter(list_transform("
    "regexp_extract_all(regexp_replace(text, 'table', 'table.', 'g'), '[^.!?]+[.!?]+'),"
    " x -> trim(x)), x -> length(x) > 0)"
)
_SHINGLES = (
    "case when len(words) >= 3 then "
    "list_distinct([array_to_string(words[i:i+2], ' ') for i in range(1, len(words) - 1)]) "
    "else [array_to_string(words, ' ')] end"
)
_STOPLIST = "[" + ",".join(f"'{w}'" for w in TS.EN_STOPWORDS) + "]"

# Shared DuckDB replay of the deterministic blueprint build (_md_src →
# text_to_blueprint): md → secs → ex → lines, plus the sl projection.
# ONE definition so the four blueprint oracles (q22/q25/q28/q48) cannot
# drift from each other or from the engine's split/trim steps. The secs
# filter drops all-WHITESPACE sections — mirrors split_on_headings'
# CLS_A-stripped length check (space-only trim would keep " \n " and
# the engine/oracle would diverge on it).
_BP_CTES = rf"""md as (
  select doc_id,
         '# doc ' || doc_id || chr(10) ||
         regexp_replace(regexp_replace(text, 'table', 'table.', 'g'),
                        '\. ', '.' || chr(10) || '- ', 'g') as m
  from documents),
secs as (
  select doc_id,
         list_filter(string_split(regexp_replace(m, '\n(#+ )', chr(1) || '\1', 'g'), chr(1)),
                     s -> length(regexp_replace(s, '{_CLS}+', '', 'g')) > 0) as ss
  from md),
ex as (
  select doc_id,
         unnest([{{'slide_no': i - 1, 'sec': ss[i]}} for i in range(1, len(ss) + 1)]) as u
  from secs),
lines as (
  select doc_id, u.slide_no as slide_no,
         list_filter(list_transform(string_split(u.sec, chr(10)), x -> trim(x)),
                     x -> length(x) > 0) as ls
  from ex),
sl as (
  select doc_id, slide_no,
         count(*) over (partition by doc_id) as n_slides,
         regexp_replace(ls[1], '^#+ ', '') as title,
         list_transform(ls[2:], p -> regexp_replace(p, '^[*•\-] ', '')) as points
  from lines)"""


def _themed_slides_sql() -> str:
    """q54 oracle: the q48 slide template with the Professional theme's
    run-property / design-shape strings injected (strings produced by
    the engine's own theme helpers — shared constants; the blueprint
    replay around them stays independent)."""
    from pdf_to_text_spark.functions.pptxsink import (
        THEMES,
        _design_sp,
        _run_props,
    )

    th = THEMES["Professional"]
    tp = _run_props(th["title_font"], th["title_size"], th["title_color"])
    bp = _run_props(th["body_font"], th["body_size"], th["body_color"])
    design = _design_sp(th)
    return f"""
with {_BP_CTES}
select doc_id, slide_no,
       '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>' || chr(10)
       || '<p:sld xmlns:a="http://schemas.openxmlformats.org/drawingml/2006/main"'
       || ' xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships"'
       || ' xmlns:p="http://schemas.openxmlformats.org/presentationml/2006/main">'
       || '<p:cSld><p:spTree>'
       || '<p:nvGrpSpPr><p:cNvPr id="1" name=""/><p:cNvGrpSpPr/><p:nvPr/></p:nvGrpSpPr>'
       || '<p:grpSpPr/>'
       || '<p:sp><p:nvSpPr><p:cNvPr id="2" name="Title"/><p:cNvSpPr/><p:nvPr><p:ph '
       || case when slide_no = 0 then 'type="ctrTitle"' else 'type="title"' end
       || '/></p:nvPr></p:nvSpPr><p:spPr/><p:txBody><a:bodyPr/>'
       || '<a:p><a:r>{tp}<a:t>'
       || replace(replace(replace(title, '&', '&amp;'), '<', '&lt;'), '>', '&gt;')
       || '</a:t></a:r></a:p></p:txBody></p:sp>'
       || case when len(points) > 0 then
            '<p:sp><p:nvSpPr><p:cNvPr id="3" name="Content"/><p:cNvSpPr/><p:nvPr>'
            || '<p:ph type="body" idx="1"/></p:nvPr></p:nvSpPr><p:spPr/>'
            || '<p:txBody><a:bodyPr/>'
            || array_to_string(list_transform(points,
                 p -> '<a:p><a:r>{bp}<a:t>'
                      || replace(replace(replace({_sql_render_pt("p")}, '&', '&amp;'), '<', '&lt;'), '>', '&gt;')
                      || '</a:t></a:r></a:p>'), '')
            || '</p:txBody></p:sp>'
          else '' end
       || '{design}'
       || '</p:spTree></p:cSld></p:sld>' as slide_xml
from sl
"""


def _sig_cols(num_hashes: int) -> str:
    return ", ".join(
        f"min(md5('{k}:' || shingle)) as sig_{k}" for k in range(num_hashes)
    )


def _lsh_pair_ctes() -> str:
    """Shared DuckDB replay of minhash_lsh_pairs(num_hashes=8, bands=4,
    max_bucket=200) up to the banded/capped table ``b2`` — used by q32
    (pair emission) and q52 (connected components over the pairs)."""
    return f"""w as (select doc_id, {_WORDS} as words from documents),
     sh as (select doc_id, {_SHINGLES} as shingles from w),
     e as (select doc_id, unnest(shingles) as shingle from sh),
     sigs as (select doc_id, {_sig_cols(8)} from e group by doc_id),
     bands as (
       select doc_id, 0 as band_no, md5(sig_0||'|'||sig_1) as bh from sigs
       union all select doc_id, 1, md5(sig_2||'|'||sig_3) from sigs
       union all select doc_id, 2, md5(sig_4||'|'||sig_5) from sigs
       union all select doc_id, 3, md5(sig_6||'|'||sig_7) from sigs),
     -- hot-bucket cap (mirrors minhash_lsh_pairs max_bucket=200)
     hotb as (select band_no, bh from bands group by 1, 2 having count(*) > 200),
     b2 as (select bands.* from bands left join hotb
            on bands.band_no = hotb.band_no and bands.bh = hotb.bh
            where hotb.bh is null)"""


def _chart_xml_sql(title: str, series: str, n: str, cats: str, vals: str) -> str:
    """DuckDB twin of ``pptxsink.chart_to_chart_xml``: assemble the
    clustered-column c:chartSpace part from SQL fragments (each
    argument is a SQL expression string)."""

    def esc(x: str) -> str:
        return f"replace(replace(replace({x}, '&', '&amp;'), '<', '&lt;'), '>', '&gt;')"

    return f"""'<?xml version="1.0" encoding="UTF-8" standalone="yes"?>' || chr(10)
       || '<c:chartSpace xmlns:c="http://schemas.openxmlformats.org/drawingml/2006/chart"'
       || ' xmlns:a="http://schemas.openxmlformats.org/drawingml/2006/main"'
       || ' xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships"><c:chart>'
       || '<c:title><c:tx><c:rich><a:bodyPr/><a:lstStyle/><a:p><a:r><a:t>'
       || {esc(title)}
       || '</a:t></a:r></a:p></c:rich></c:tx><c:overlay val="0"/></c:title>'
       || '<c:autoTitleDeleted val="0"/>'
       || '<c:plotArea><c:layout/>'
       || '<c:barChart><c:barDir val="col"/><c:grouping val="clustered"/>'
       || '<c:varyColors val="0"/>'
       || '<c:ser><c:idx val="0"/><c:order val="0"/>'
       || '<c:tx><c:strRef><c:f>Sheet1!$B$1</c:f><c:strCache>'
       || '<c:ptCount val="1"/><c:pt idx="0"><c:v>'
       || {esc(series)}
       || '</c:v></c:pt></c:strCache></c:strRef></c:tx>'
       || '<c:cat><c:strRef><c:f>Sheet1!$A$2:$A$' || ({n} + 1)
       || '</c:f><c:strCache><c:ptCount val="' || {n} || '"/>'
       || {cats}
       || '</c:strCache></c:strRef></c:cat>'
       || '<c:val><c:numRef><c:f>Sheet1!$B$2:$B$' || ({n} + 1)
       || '</c:f><c:numCache><c:formatCode>General</c:formatCode>'
       || '<c:ptCount val="' || {n} || '"/>'
       || {vals}
       || '</c:numCache></c:numRef></c:val></c:ser>'
       || '<c:axId val="111111111"/><c:axId val="222222222"/></c:barChart>'
       || '<c:catAx><c:axId val="111111111"/><c:scaling><c:orientation val="minMax"/>'
       || '</c:scaling><c:delete val="0"/><c:axPos val="b"/>'
       || '<c:crossAx val="222222222"/></c:catAx>'
       || '<c:valAx><c:axId val="222222222"/><c:scaling><c:orientation val="minMax"/>'
       || '</c:scaling><c:delete val="0"/><c:axPos val="l"/>'
       || '<c:crossAx val="111111111"/></c:valAx>'
       || '</c:plotArea>'
       || '<c:plotVisOnly val="1"/></c:chart></c:chartSpace>'"""


def _simhash_sql(bits: int = 32) -> str:
    balances = ", ".join(
        f"sum(case when (h >> {j}) & 1 = 1 then 1 else -1 end) as b{j}" for j in range(bits)
    )
    assemble = " + ".join(f"(case when b{j} > 0 then {1 << j}::bigint else 0 end)" for j in range(bits))
    return f"""
with w0 as (
  select doc_id, unnest({_WORDS}) as wd from documents
), w as (
  select distinct doc_id, wd from w0
), h as (
  select doc_id, ('0x' || substr(md5(wd), 1, 8))::bigint as h from w
), b as (
  select doc_id, {balances} from h group by doc_id
)
select doc_id, {assemble} as simhash from b
"""


def oracle_sql() -> dict[str, str]:
    qvec = "[" + ",".join(str(v) for v in QVEC) + "]::DOUBLE[]"
    dot = "list_dot_product(embedding::DOUBLE[], {v})"
    cos = (
        f"round({dot.format(v=qvec)} / "
        f"(sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) * sqrt(list_dot_product({qvec}, {qvec}))), 6)"
    )
    plane_bucket = " + ".join(
        f"(case when list_dot_product(embedding::DOUBLE[], "
        + "["
        + ",".join(str(v) for v in p)
        + "]::DOUBLE[]) > 0 then "
        + str(1 << i)
        + " else 0 end)"
        for i, p in enumerate(PLANES)
    )
    q_bucket = 0
    for i, p in enumerate(PLANES):
        if sum(a * b for a, b in zip(QVEC, p)) > 0:
            q_bucket |= 1 << i

    # IVF: the 8 centroid dot products as one SQL list; the query's
    # probe cells computed once in Python (a free choice, embedded as
    # literals on both engines)
    cdots = "[" + ", ".join(
        "list_dot_product(embedding::DOUBLE[], ["
        + ",".join(str(v) for v in c)
        + "]::DOUBLE[])"
        for c in CENTROIDS
    ) + "]"
    cscores = [(sum(a * b for a, b in zip(QVEC, c)), i) for i, c in enumerate(CENTROIDS)]
    probe_cells = ",".join(str(i) for _, i in sorted(cscores, key=lambda t: (-t[0], t[1]))[:2])

    return {
        "q01_pricing_summary": """
select l_returnflag, l_linestatus,
       round(sum(l_quantity::decimal(28,6)), 2)::double as sum_qty,
       round(sum(l_extendedprice::decimal(28,6)), 2)::double as sum_base,
       round(sum((l_extendedprice * (1 - l_discount))::decimal(28,6)), 2)::double as sum_disc,
       count(*) as n_rows
from lineitem where l_shipdate <= timestamp '2002-09-02'
group by l_returnflag, l_linestatus
""",
        "q02_revenue_by_nation": """
select n_name,
       round(sum((l_extendedprice * (1 - l_discount))::decimal(28,6)), 2)::double as revenue,
       count(distinct o_orderkey) as n_orders
from lineitem join orders on l_orderkey = o_orderkey
join customer on o_custkey = c_custkey
join nation on c_nationkey = n_nationkey
group by n_name
""",
        "q03_top_orders_per_customer": """
select o_custkey, o_orderkey, round(o_totalprice, 2) as price, rn from (
  select o_custkey, o_orderkey, o_totalprice,
         row_number() over (partition by o_custkey order by o_totalprice desc, o_orderkey asc) as rn
  from orders) t where rn <= 3
""",
        "q04_events_hourly": """
select date_trunc('hour', ts) as window_start, event_type,
       count(*) as n, round(sum(value::decimal(28,6)), 4)::double as sum_value
from events group by 1, 2
""",
        "q05_set_ops": """
with clickers as (select user_id from events where event_type = 'click'),
     erring as (select user_id from events where event_type = 'error')
select 'both' as grp, count(*) as n from (select user_id from clickers intersect select user_id from erring)
union all
select 'click_only' as grp, count(*) as n from (
  select distinct user_id from clickers except select distinct user_id from erring)
""",
        "q06_sessionize": """
with g as (
  select user_id, event_id, ts,
         case when epoch_us(ts) - lag(epoch_us(ts)) over (partition by user_id order by ts, event_id) > 1800 * 1000000
              or lag(ts) over (partition by user_id order by ts, event_id) is null
              then 1 else 0 end as new_s
  from events),
s as (
  select user_id, event_id,
         sum(new_s) over (partition by user_id order by ts, event_id
                          rows between unbounded preceding and current row) as session_no
  from g)
select user_id, session_no::bigint as session_no, count(*) as n_events,
       min(event_id) as first_event_id, max(event_id) as last_event_id
from s group by 1, 2
""",
        "q07_pivot_status": """
select o_orderpriority,
       sum(case when o_orderstatus = 'F' then 1 else 0 end)::bigint as n_f,
       sum(case when o_orderstatus = 'O' then 1 else 0 end)::bigint as n_o,
       sum(case when o_orderstatus = 'P' then 1 else 0 end)::bigint as n_p
from orders group by 1
""",
        "q08_rollup": """
select l_returnflag, l_linestatus, count(*) as n,
       round(sum(l_quantity::decimal(28,6)), 2)::double as qty
from lineitem group by rollup (l_returnflag, l_linestatus)
""",
        "q10_meaningful_len": f"""
select doc_id, length(regexp_replace(text, '{_CLS}+', '', 'g')) as mlen from documents
""",
        "q11_charset_clean": f"""
select doc_id,
  regexp_replace(regexp_replace(
    regexp_replace(text, '[^A-Za-z0-9.,!?;:''"\\- \t\n\r\f\x0b]', '', 'g'),
    '^{_CLS}+', ''), '{_CLS}+$', '') as cleaned
from documents
""",
        "q12_deep_clean": f"""
select doc_id,
  regexp_replace(regexp_replace(regexp_replace(
    regexp_replace(regexp_replace(regexp_replace(regexp_replace(
      text, '[^\\x00-\\x7F]+', ' ', 'g'),
      'http[^ \t\n]+|www[^ \t\n]+', '', 'g'),
      '[^ \t\n]+@[^ \t\n]+', '', 'g'),
      '([!?.,]){{2,}}', '\\1', 'g'),
      '[^a-zA-Z0-9 \t\n.?!]', ' ', 'g'),
    '[ \t\n\r\f\x0b]+', ' ', 'g'),
  '^{_CLS}+|{_CLS}+$', '', 'g') as cleaned
from documents
""",
        "q13_normalize_extracted": f"""
select doc_id,
  regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(
    regexp_replace(text, '-[ \t\r\f\x0b\xa0]*\n{_CLS}*', '', 'g'),
    '[ \t\r\f\x0b\xa0]+', ' ', 'g'),
    ' *\n *', '\n', 'g'),
    '\n{{3,}}', '\n\n', 'g'),
    '^{_CLS}+', ''), '{_CLS}+$', '') as norm
from documents
""",
        "q14_sentence_explode": f"""
select doc_id, unnest({_SENTS}) as sentence from documents
""",
        "q15_sentence_topk": f"""
select doc_id, sentence, rn from (
  select doc_id, sentence,
         row_number() over (partition by doc_id order by length(sentence) desc, sentence asc) as rn
  from (select doc_id, unnest({_SENTS}) as sentence from documents)) t
where rn <= 5
""",
        "q16_route_counts": f"""
select coalesce(length(regexp_replace(text, '{_CLS}+', '', 'g')) > 250, false) as sufficient,
       count(*) as n
from documents group by 1
""",
        "q17_reassembly_lex": """
select source,
  string_agg(chr(10)||chr(10)||'---- doc_'||doc_id||' ----'||chr(10)||chr(10)||substr(text,1,40),
             chr(10)||repeat('=',50)||chr(10) order by 'doc_'||doc_id) as combined
from documents group by source
""",
        "q18_chunk_concat": """
select cast(floor(doc_id / 5) as bigint) as chunk_id,
       string_agg(substr(text,1,30), chr(10)||chr(10)||'---'||chr(10)||chr(10) order by lpad(doc_id::varchar,9,'0')) as chunk_text
from documents group by 1
""",
        "q19_line_paging": f"""
with s as (select doc_id, len({_SENTS}) as n from documents),
     p as (select doc_id, n, unnest(range(0, cast(ceil(n / 12.0) as bigint))) as page_no
           from s where n > 0)
select doc_id, page_no, least(12, n - 12 * page_no) as n_lines from p
""",
        "q20_text_stats": f"""
with base as (
  select doc_id, text, {_WORDS} as words from documents
), r as (
  select doc_id, text, words,
    len(list_filter(words, w -> list_contains({_STOPLIST}, w))) as hits,
    len(words) as nw,
    length(regexp_replace(text, '[^.,!?;:]', '', 'g')) as np,
    length(text) as n
  from base
)
select doc_id, n as n_len,
  len(list_filter(regexp_split_to_array(text, '[ \t\n\r]+'), x -> length(x) > 0)) as n_tokens,
  len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 \t\n\r]')) as n_subtokens,
  round(case when nw > 0 then hits / nw::double else 0.0 end, 4) as stop_ratio,
  round(case when n > 0 then np / n::double else 0.0 end, 4) as punct_ratio,
  case when (case when nw > 0 then hits / nw::double else 0.0 end) >= 0.08 then 'en' else 'other' end as lang_guess,
  round(((case when n >= 100 and n <= 20000 then 1.0 when n >= 30 then 0.5 else 0.0 end) * 0.4
      + (case when (case when n > 0 then np / n::double else 0.0 end) <= 0.10 then 1.0 else 0.0 end) * 0.3
      + (case when (case when nw > 0 then hits / nw::double else 0.0 end) >= 0.05 then 1.0 else 0.0 end) * 0.3)::double, 2) as quality,
  md5(array_to_string(words, ' ')) as fp
from r
""",
        "q21_lang_counts": f"""
with r as (
  select case when len({_WORDS}) > 0
              then len(list_filter({_WORDS}, w -> list_contains({_STOPLIST}, w))) / len({_WORDS})::double
              else 0.0 end as sr
  from documents)
select case when sr >= 0.08 then 'en' else 'other' end as lang_guess, count(*) as n
from r group by 1
""",
        "q30_exact_dedup": """
select md5(text) as h, min(doc_id) as keep_id, count(*) as n_dupes
from documents group by 1
""",
        "q31_minhash_signatures": f"""
with w as (select doc_id, {_WORDS} as words from documents),
     sh as (select doc_id, {_SHINGLES} as shingles from w),
     e as (select doc_id, unnest(shingles) as shingle from sh)
select doc_id, {_sig_cols(8)} from e group by doc_id
""",
        "q32_minhash_lsh_pairs": f"""
with {_lsh_pair_ctes()}
select a.doc_id as id_a, b.doc_id as id_b, count(*) as n_bands
from b2 a join b2 b on a.band_no = b.band_no and a.bh = b.bh and a.doc_id < b.doc_id
group by 1, 2
""",
        # q52: transitive closure over the q32 pair graph — recursive
        # CTE computes reachability, component = min reachable id
        "q52_near_dup_components": f"""
with recursive {_lsh_pair_ctes()},
     prs as (
       select a.doc_id as id_a, b.doc_id as id_b
       from b2 a join b2 b on a.band_no = b.band_no and a.bh = b.bh and a.doc_id < b.doc_id
       group by 1, 2),
     edges as (select id_a as s, id_b as d from prs
               union select id_b, id_a from prs),
     reach as (
       select s, d from edges
       union
       select r.s, e2.d from reach r join edges e2 on r.d = e2.s),
     comp as (select s as node, least(s, min(d)) as component
              from reach group by s)
select node as doc_id, component from comp
""",
        "q33_ngram_jaccard": f"""
with w as (select doc_id, {_WORDS} as words from documents),
     sh as (select doc_id, {_SHINGLES} as shingles from w),
     e0 as (select doc_id, unnest(shingles) as shingle from sh),
     -- document-frequency cap (mirrors ngram_jaccard_pairs max_df=1000)
     hot as (select shingle from e0 group by 1 having count(*) > 1000),
     e as (select e0.* from e0 left join hot on e0.shingle = hot.shingle
           where hot.shingle is null),
     sizes as (select doc_id, count(*) as n_sh from e group by doc_id),
     common as (
       select a.doc_id as id_a, b.doc_id as id_b, count(*) as n_common
       from e a join e b on a.shingle = b.shingle and a.doc_id < b.doc_id
       group by 1, 2)
select id_a, id_b,
       round(n_common / (sa.n_sh + sb.n_sh - n_common)::double, 6) as jaccard
from common join sizes sa on sa.doc_id = id_a join sizes sb on sb.doc_id = id_b
where round(n_common / (sa.n_sh + sb.n_sh - n_common)::double, 6) >= 0.3
""",
        "q34_simhash": _simhash_sql(32),
        "q40_ann_topk_bruteforce": f"""
select vec_id, {cos} as score from embeddings
order by score desc, vec_id asc limit 10
""",
        "q49_lsh_near_dup": f"""
with e as (
  select vec_id, ({plane_bucket}) as bucket,
         -- normalize once per row, then one dot per pair — mirrors the
         -- engine's pre-normalized join (bit-identical: same
         -- per-element division, same left-to-right dot)
         list_transform(embedding::DOUBLE[],
           x -> x / sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))) as vn
  from embeddings),
keep as (select bucket from e group by bucket having count(*) <= 500),
k as (select e.* from e join keep using (bucket)),
pairs as (
  select a.bucket, a.vec_id as id_a, b.vec_id as id_b,
         round(list_dot_product(a.vn, b.vn), 6) as score
  from k a join k b on a.bucket = b.bucket and a.vec_id < b.vec_id)
select bucket, id_a, id_b, score from pairs where score >= 0.3
""",
        "q41_ann_topk_lsh": f"""
select vec_id, {cos} as score from embeddings
where ({plane_bucket}) = {q_bucket}
order by score desc, vec_id asc limit 10
""",
        "q47_ann_topk_ivf": f"""
select vec_id, {cos} as score from (
  select vec_id, embedding,
         list_position({cdots}, list_max({cdots})) - 1 as cell
  from embeddings) t
where cell in ({probe_cells})
order by score desc, vec_id asc limit 10
""",
        "q43_centrality_topk": """
with e as (select label, vec_id, embedding::DOUBLE[] as v from embeddings where vec_id < 120),
     pairs as (
       select a.label, a.vec_id as id_a,
              list_dot_product(a.v, b.v) /
              (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) as c
       from e a join e b on a.label = b.label and a.vec_id != b.vec_id),
     cent as (select label, id_a, round(sum(c::decimal(28,12)), 6)::double as centrality
              from pairs group by 1, 2)
select label, id_a as vec_id, centrality, rn from (
  select *, row_number() over (partition by label order by centrality desc, id_a asc) as rn
  from cent) t where rn <= 3
""",
        "q44_stopword_removal": f"""
select doc_id,
  array_to_string(list_filter(list_filter(regexp_split_to_array(text, '[ ]+'), w -> length(w) > 0),
                  w -> not list_contains({_STOPLIST}, lower(w))), ' ') as kept
from documents
""",
        "q42_pairwise_topk_per_label": """
with e0 as (select label, vec_id, embedding::DOUBLE[] as v from embeddings where vec_id < 120),
     e as (select label, vec_id,
                  list_transform(v, x -> x / sqrt(list_dot_product(v, v))) as vn
           from e0),
     pairs as (
       select a.label, a.vec_id as id_a, b.vec_id as id_b,
              round(list_dot_product(a.vn, b.vn), 6) as score
       from e a join e b on a.label = b.label and a.vec_id < b.vec_id)
select label, id_a, id_b, score, rn from (
  select *, row_number() over (partition by label order by score desc, id_a asc, id_b asc) as rn
  from pairs) t where rn <= 3
""",
        # q22: replay the blueprint pipeline (markdown synth → heading
        # split → per-section line parse) step-for-step in SQL
        "q22_blueprint_explode": f"""
with {_BP_CTES}
select doc_id, slide_no, title, len(points) as n_points
from sl
""",
        # q25: q22's blueprint CTEs + the markdown formatting rules
        "q48_pptx_slides": f"""
with {_BP_CTES}
select doc_id, slide_no,
       '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>' || chr(10)
       || '<p:sld xmlns:a="http://schemas.openxmlformats.org/drawingml/2006/main"'
       || ' xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships"'
       || ' xmlns:p="http://schemas.openxmlformats.org/presentationml/2006/main">'
       || '<p:cSld><p:spTree>'
       || '<p:nvGrpSpPr><p:cNvPr id="1" name=""/><p:cNvGrpSpPr/><p:nvPr/></p:nvGrpSpPr>'
       || '<p:grpSpPr/>'
       || '<p:sp><p:nvSpPr><p:cNvPr id="2" name="Title"/><p:cNvSpPr/><p:nvPr><p:ph '
       || case when slide_no = 0 then 'type="ctrTitle"' else 'type="title"' end
       || '/></p:nvPr></p:nvSpPr><p:spPr/><p:txBody><a:bodyPr/>'
       || '<a:p><a:r><a:t>'
       || replace(replace(replace(title, '&', '&amp;'), '<', '&lt;'), '>', '&gt;')
       || '</a:t></a:r></a:p></p:txBody></p:sp>'
       || case when len(points) > 0 then
            '<p:sp><p:nvSpPr><p:cNvPr id="3" name="Content"/><p:cNvSpPr/><p:nvPr>'
            || '<p:ph type="body" idx="1"/></p:nvPr></p:nvSpPr><p:spPr/>'
            || '<p:txBody><a:bodyPr/>'
            || array_to_string(list_transform(points,
                 p -> '<a:p><a:r><a:t>'
                      || replace(replace(replace({_sql_render_pt("p")}, '&', '&amp;'), '<', '&lt;'), '>', '&gt;')
                      || '</a:t></a:r></a:p>'), '')
            || '</p:txBody></p:sp>'
          else '' end
       || '</p:spTree></p:cSld></p:sld>' as slide_xml
from sl
""",
        # q54: q48's structural replay + the Professional theme's run
        # properties / design shape (theme constants shared with the
        # engine, like PLANES/QVEC — the split/trim replay is still
        # independent)
        "q54_themed_slides": _themed_slides_sql(),
        "q55_pdf_widened_roundtrip": """
with s as (
  select doc_id, regexp_replace(coalesce(text, ''), '[^ -~]', '', 'g') as t
  from documents
)
select doc_id, 1 as page_no,
       substr(t, 1, 40) || chr(10) || substr(t, 41, 40) as page_text from s
union all
select doc_id, 2 as page_no,
       substr(t, 81, 40) || chr(10) || substr(t, 121, 40) as page_text from s
""",
        "q56_pdf_notch2_roundtrip": """
with s as (
  select doc_id, regexp_replace(coalesce(text, ''), '[^ -~]', '', 'g') as t
  from documents
)
select doc_id, 1 as page_no,
       substr(t, 1, 30) || chr(10) || substr(t, 31, 30) || chr(10)
       || substr(t, 61, 30) as page_text from s
union all
select doc_id, 2 as page_no,
       substr(t, 91, 30) || chr(10) || substr(t, 121, 30) || chr(10)
       || substr(t, 151, 30) as page_text from s
""",
        "q57_pdf_filter_chain_roundtrip": """
with s as (
  select doc_id, regexp_replace(coalesce(text, ''), '[^ -~]', '', 'g') as t
  from documents
),
p as (
  select doc_id,
         substr(t, 1, 25) || chr(10) || substr(t, 26, 25) || chr(10)
         || substr(t, 51, 25) || chr(10) || substr(t, 76, 25) as page_text
  from s
)
select doc_id, 'a85_flate' as variant, page_text from p
union all
select doc_id, 'lzw' as variant, page_text from p
""",
        "q61_pdf_aes_roundtrip": """
with s as (
  select doc_id, regexp_replace(coalesce(text, ''), '[^ -~]', '', 'g') as t
  from documents
)
select doc_id, 1 as page_no,
       substr(t, 1, 30) || chr(10) || substr(t, 31, 30) || chr(10)
       || substr(t, 61, 30) as page_text
from s
""",
        "q60_pdf_modern_structure_roundtrip": """
with s as (
  select doc_id, regexp_replace(coalesce(text, ''), '[^ -~]', '', 'g') as t
  from documents
)
select doc_id, 1 as page_no,
       substr(t, 91, 30) || chr(10) || substr(t, 121, 30) || chr(10)
       || substr(t, 151, 30) as page_text
from s
""",
        "q59_pdf_encrypted_roundtrip": """
with s as (
  select doc_id, regexp_replace(coalesce(text, ''), '[^ -~]', '', 'g') as t
  from documents
)
select doc_id, 1 as page_no,
       substr(t, 1, 35) || chr(10) || substr(t, 36, 35) as page_text from s
union all
select doc_id, 2 as page_no,
       substr(t, 71, 35) || chr(10) || substr(t, 106, 35) as page_text from s
""",
        "q58_pdf_embedded_image": """
with s as (
  select doc_id,
         length(regexp_replace(coalesce(text, ''), '[^ -~]', '', 'g')) as L
  from documents
)
select doc_id, 1 as image_no,
       (8 * (1 + L % 4))::int as width,
       (8 * (1 + L % 3))::int as height,
       (2 * (10 + L % 100))::int as mean_luma
from s
""",
        "q62_pdf_g4_image": """
with s as (
  select doc_id,
         length(regexp_replace(coalesce(text, ''), '[^ -~]', '', 'g')) as L
  from documents
), p as (
  select doc_id, L,
         case when L % 4 = 0 then 3 when L % 4 = 1 then 5
              when L % 4 = 2 then 15 else 17 end as h
  from s
)
select doc_id, 1 as image_no,
       (8 * (1 + L % 4))::int as width,
       h::int as height,
       ((255 // h) * (h - (L % (h + 1))))::int as mean_luma
from p
""",
        "q29_raster_ocr": r"""
with ls as (
  select doc_id, string_split(text, chr(10))[1:48] as lines
  from documents)
select doc_id,
       rtrim(array_to_string(list_transform(lines,
         l -> rtrim(substr(regexp_replace(l, '[^ -~]', ' ', 'g'), 1, 64), ' ')),
         chr(10)), chr(10)) as recovered
from ls
""",
        "q28_docx_xml": f"""
with {_BP_CTES},
px as (
  select doc_id, slide_no,
         '<w:p><w:pPr><w:pStyle w:val="'
         || case when slide_no = 0 then 'Heading1' else 'Heading2' end
         || '"/></w:pPr><w:r><w:t xml:space="preserve">'
         || replace(replace(replace(title, '&', '&amp;'), '<', '&lt;'), '>', '&gt;')
         || '</w:t></w:r></w:p>'
         || array_to_string(list_transform(points,
              p -> '<w:p><w:pPr><w:pStyle w:val="ListBullet"/></w:pPr>'
                   || '<w:r><w:t xml:space="preserve">'
                   || replace(replace(replace({_sql_render_pt("p")}, '&', '&amp;'), '<', '&lt;'), '>', '&gt;')
                   || '</w:t></w:r></w:p>'), '')
         || case when slide_no < n_slides - 1
                 then '<w:p><w:r><w:br w:type="page"/></w:r></w:p>' else '' end as sx
  from sl)
select doc_id,
       '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>' || chr(10)
       || '<w:document xmlns:w='
       || '"http://schemas.openxmlformats.org/wordprocessingml/2006/main">'
       || '<w:body>'
       || string_agg(sx, '' order by slide_no)
       || '</w:body></w:document>' as docx_xml
from px
group by doc_id
""",
        # q51: the oracle computes the EXPECTED docx XML directly from
        # doc_id (the synthesized markdown is fully determined by it) —
        # an independent hand-derivation of the F10 placeholder flow,
        # not a replay of the engine's steps
        "q51_image_placeholder": """
with b as (
  select doc_id,
         '<w:p><w:pPr><w:pStyle w:val="ListBullet"/></w:pPr><w:r><w:t xml:space="preserve">' as bo,
         '</w:t></w:r></w:p>' as bc
  from documents)
select doc_id,
       '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>' || chr(10)
       || '<w:document xmlns:w='
       || '"http://schemas.openxmlformats.org/wordprocessingml/2006/main">'
       || '<w:body>'
       || '<w:p><w:pPr><w:pStyle w:val="Heading1"/></w:pPr><w:r><w:t xml:space="preserve">doc '
       || doc_id || '</w:t></w:r></w:p>'
       || bo || 'intro point' || bc
       || bo || '🖼️ [PROMPT: pipeline ' || (doc_id % 7) || ']' || bc
       || bo || '🖼️ [PROMPT: spark shuffle]' || bc
       || bo || 'closing point' || bc
       || '</w:body></w:document>' as docx_xml
from b
""",
        "q27_pdf_sink": r"""
with lines as (
  select doc_id,
         list_transform(string_split(text, chr(10)),
           l -> '(' || replace(replace(replace(
                    regexp_replace(l, '[^ -~]', ' ', 'g'),
                    '\', '\\'), '(', '\('), ')', '\)') || ') Tj') as shows
  from documents),
c as (
  select doc_id,
         'BT' || chr(10) || '/F1 12 Tf' || chr(10) || '72 720 Td' || chr(10)
         || array_to_string(shows, chr(10) || '0 -14 TD' || chr(10))
         || chr(10) || 'ET' as content
  from lines),
b as (
  select doc_id,
    '1 0 obj' || chr(10) || '<< /Type /Catalog /Pages 2 0 R >>'
      || chr(10) || 'endobj' || chr(10) as b1,
    '2 0 obj' || chr(10) || '<< /Type /Pages /Kids [3 0 R] /Count 1 >>'
      || chr(10) || 'endobj' || chr(10) as b2,
    '3 0 obj' || chr(10)
      || '<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] /Contents 4 0 R /Resources << /Font << /F1 5 0 R >> >> >>'
      || chr(10) || 'endobj' || chr(10) as b3,
    '4 0 obj' || chr(10) || '<< /Length ' || length(content)::varchar || ' >>'
      || chr(10) || 'stream' || chr(10) || content || chr(10) || 'endstream'
      || chr(10) || 'endobj' || chr(10) as b4,
    '5 0 obj' || chr(10) || '<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>'
      || chr(10) || 'endobj' || chr(10) as b5
  from c),
o as (
  select doc_id, b1, b2, b3, b4, b5,
         9 as o1,
         9 + length(b1) as o2,
         9 + length(b1) + length(b2) as o3,
         9 + length(b1) + length(b2) + length(b3) as o4,
         9 + length(b1) + length(b2) + length(b3) + length(b4) as o5,
         9 + length(b1) + length(b2) + length(b3) + length(b4) + length(b5) as xoff
  from b),
p as (
  select doc_id,
         '%PDF-1.4' || chr(10) || b1 || b2 || b3 || b4 || b5
         || 'xref' || chr(10) || '0 6' || chr(10) || '0000000000 65535 f ' || chr(10)
         || lpad(o1::varchar, 10, '0') || ' 00000 n ' || chr(10)
         || lpad(o2::varchar, 10, '0') || ' 00000 n ' || chr(10)
         || lpad(o3::varchar, 10, '0') || ' 00000 n ' || chr(10)
         || lpad(o4::varchar, 10, '0') || ' 00000 n ' || chr(10)
         || lpad(o5::varchar, 10, '0') || ' 00000 n ' || chr(10)
         || 'trailer' || chr(10) || '<< /Size 6 /Root 1 0 R >>' || chr(10)
         || 'startxref' || chr(10) || xoff::varchar || chr(10) || '%%EOF' || chr(10) as pdf
  from o)
select doc_id, length(pdf)::bigint as n_bytes, pdf
from p
""",
        "q26_topic_route": f"""
with fl as (
  select doc_id, string_split(text, chr(10))[1] as first_line
  from documents),
w as (
  select doc_id,
         len(list_filter(regexp_split_to_array(first_line, '{_CLS}+'),
                         x -> length(x) > 0)) as n_words
  from fl)
select doc_id, n_words::int as n_words, n_words < 10 as is_topic
from w
""",
        "q25_markdown_report": f"""
with {_BP_CTES},
slide as (
  select doc_id, slide_no,
         '## ' || title || chr(10) ||
         array_to_string(list_transform(points, p -> '- ' || p || chr(10)), '')
         || chr(10) as smd
  from sl)
select doc_id,
       '# Presentation Content Report' || chr(10) || chr(10) ||
       string_agg(smd, '' order by slide_no) as report
from slide group by doc_id
""",
        "q23_chart_parse": f"""
with src as (
  select doc_id,
         'Report ' || doc_id || ', series_' || (doc_id % 3) || ', Q1: $' || (doc_id % 97) ||
         '.5, Q2:' || substr(text, 1, 2) || ', Q3 : 7 USD, malformed part, Q4:1.2.3' as cs
  from documents),
p as (select doc_id, string_split(cs, ',') as parts from src where len(string_split(cs, ',')) >= 3),
pts as (
  select doc_id,
         regexp_replace(regexp_replace(parts[1], '^{_CLS}+', ''), '{_CLS}+$', '') as title,
         regexp_replace(regexp_replace(parts[2], '^{_CLS}+', ''), '{_CLS}+$', '') as series,
         list_filter(parts[3:], x -> strpos(x, ':') > 0) as raw
  from p),
ex as (
  select doc_id, title, series,
         unnest([{{'pos': i - 1, 'pt': raw[i]}} for i in range(1, len(raw) + 1)]) as u
  from pts)
select doc_id, title, series, u.pos as pos,
       regexp_replace(regexp_replace(substr(u.pt, 1, strpos(u.pt, ':') - 1),
                      '^{_CLS}+', ''), '{_CLS}+$', '') as category,
       coalesce(try_cast(regexp_replace(substr(u.pt, strpos(u.pt, ':') + 1),
                         '[^0-9.]', '', 'g') as double), 0.0) as value
from ex
""",
        # q50: q23's parse chain + the chart-part template — the same
        # per-point rows, re-aggregated into str/numCache XML
        "q50_chart_xml": f"""
with src as (
  select doc_id,
         'Report ' || doc_id || ', series_' || (doc_id % 3) || ', Q1: $' || (doc_id % 97) ||
         '.5, Q2:' || substr(text, 1, 2) || ', Q3 : 7 USD, malformed part, Q4:1.2.3' as cs
  from documents),
p as (select doc_id, string_split(cs, ',') as parts from src where len(string_split(cs, ',')) >= 3),
pts as (
  select doc_id,
         regexp_replace(regexp_replace(parts[1], '^{_CLS}+', ''), '{_CLS}+$', '') as title,
         regexp_replace(regexp_replace(parts[2], '^{_CLS}+', ''), '{_CLS}+$', '') as series,
         list_filter(parts[3:], x -> strpos(x, ':') > 0) as raw
  from p),
ex as (
  select doc_id, title, series,
         unnest([{{'pos': i - 1, 'pt': raw[i]}} for i in range(1, len(raw) + 1)]) as u
  from pts),
pt as (
  select doc_id, title, series, u.pos as pos,
         replace(replace(replace(
           regexp_replace(regexp_replace(substr(u.pt, 1, strpos(u.pt, ':') - 1),
                          '^{_CLS}+', ''), '{_CLS}+$', ''),
           '&', '&amp;'), '<', '&lt;'), '>', '&gt;') as cat,
         coalesce(try_cast(regexp_replace(substr(u.pt, strpos(u.pt, ':') + 1),
                           '[^0-9.]', '', 'g') as double), 0.0)::varchar as val
  from ex),
agg as (
  select doc_id, title, series, count(*) as n,
         string_agg('<c:pt idx="' || pos || '"><c:v>' || cat || '</c:v></c:pt>', '' order by pos) as cats,
         string_agg('<c:pt idx="' || pos || '"><c:v>' || val || '</c:v></c:pt>', '' order by pos) as vals
  from pt group by 1, 2, 3)
select doc_id,
       {_chart_xml_sql("title", "series", "n", "cats", "vals")} as chart_xml
from agg
""",
        # q53: routing + chart part hand-computed from doc_id (slide 0
        # is text -> null chart; slide 1 carries the [CHART: ...] line)
        "q53_chart_routed_deck": f"""
with c as (
  select doc_id,
         'Report ' || doc_id as title,
         'series_' || (doc_id % 3) as series,
         '<c:pt idx="0"><c:v>Q1</c:v></c:pt><c:pt idx="1"><c:v>Q2</c:v></c:pt>' as cats,
         '<c:pt idx="0"><c:v>' || (doc_id % 97) || '.5</c:v></c:pt>'
         || '<c:pt idx="1"><c:v>7.0</c:v></c:pt>' as vals
  from documents)
select doc_id, 0 as slide_no, cast(null as varchar) as chart_xml, false as is_chart
from documents
union all
select doc_id, 1 as slide_no,
       {_chart_xml_sql("title", "series", "2", "cats", "vals")} as chart_xml,
       true as is_chart
from c
""",
        "q24_filename_ops": """
with p as (
  select doc_id,
         '/data/in/' || source || '/doc_' || doc_id || '.PDF' as path
  from documents),
s as (
  select doc_id, path,
         regexp_extract(path, '([^/]+?)(?:\\.[A-Za-z0-9]+)?$', 1) as stem
  from p)
select doc_id,
       lower(regexp_extract(path, '\\.([A-Za-z0-9]+)$', 1)) as ext,
       stem,
       regexp_replace(path, '^/data/in/', '') as rel,
       array_to_string(list_transform(
         string_split(regexp_replace(stem, '[_\\-]+', ' ', 'g'), ' '),
         w -> upper(substr(w, 1, 1)) || lower(substr(w, 2))), ' ') as title
from s
""",
        "q45_nfkc_lower": f"""
select doc_id,
       lower(regexp_replace(text, '[^\\x00-\\x7F]+', ' ', 'g'))
         || '{unicodedata.normalize("NFKC", NFKC_PROBE).lower()}' as norm
from documents
""",
        # q46: rebuild the feature-hash embedding exactly (same md5
        # bucket/sign spec as operators/embed.py), then replay the
        # centrality chain
        "q46_embed_centrality": """
with tok as (
  select doc_id,
         unnest(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                x -> length(x) > 0)) as w
  from documents),
h as (select doc_id, ('0x' || substr(md5(w), 1, 8))::bigint as h from tok),
comp as (select doc_id, h % 16 as b,
                case when (h >> 31) & 1 = 0 then 1.0 else -1.0 end as s
         from h),
agg as (select doc_id, b, sum(s) as v from comp group by 1, 2),
grid as (select d.doc_id, r.j
         from (select distinct doc_id from documents) d
         cross join (select unnest(range(0, 16)) as j) r),
vec as (select g.doc_id, list(coalesce(a.v, 0.0) order by g.j) as v
        from grid g left join agg a on a.doc_id = g.doc_id and a.b = g.j
        group by g.doc_id),
ev as (select s.source, v.doc_id, v.v
       from vec v join documents s using (doc_id)
       where list_dot_product(v.v, v.v) > 0),
-- normalize once per doc (the Spark side does the same; bit-identical:
-- same per-element division, same left-to-right dot)
nv as (select source, doc_id,
              list_transform(v, x -> x / sqrt(list_dot_product(v, v))) as vn
       from ev),
pairs as (
  select a.source, a.doc_id as id_a,
         list_dot_product(a.vn, b.vn) as c
  from nv a join nv b on a.source = b.source and a.doc_id != b.doc_id),
cent as (select source, id_a,
                round(sum(c::decimal(28,12)), 6)::double as centrality
         from pairs group by 1, 2)
select source, id_a as doc_id, centrality, rn from (
  select *, row_number() over (partition by source
                               order by centrality desc, id_a asc) as rn
  from cent) t
where rn <= 3
""",
    }
