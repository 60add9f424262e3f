"""pdf_to_text_spark — a PySpark-native, cluster-scale main-content
extraction engine with the data-processing capabilities of the reference
Geetanjally/PDF_TO_TEXT (see SURVEY.md), re-expressed Spark-first.

Layout
------
core/        pure-Python deterministic extraction spec (PDF text-object
             decode, HTML boilerplate strip, fixture generators). Shared
             verbatim by the Arrow-batched pandas UDFs and by the
             sequential golden oracle — byte-identity by construction.
functions/   the Catalyst expression library (SURVEY.md §2.4 F1–F14).
operators/   DataFrame-level operators: extraction routing/explode/
             reassembly, dedup (exact/minhash/simhash), similarity
             search, text analytics, and the page-image tier (page
             rasterize, OCR, PDF embedded-image extraction).
plans/       end-to-end jobs: the extraction pipeline with whale-aware
             placement, per-partition lineage, partition-completion
             manifests and idempotent resume.
streaming/   Structured Streaming wrapper (availableNow incremental runs).
"""

__version__ = "0.1.0"
