"""Text-analytics operators for a training-data pipeline (task brief):
language-ID heuristic, quality scoring, token counting, fingerprinting.

All pure Catalyst (JVM-side, codegen) — each has a DuckDB-portable SQL
twin in ``__spark_entry__.oracle_sql``. Reference analogs: the quality
ratios generalize the reference's confidence/edge-density routing
signals (SURVEY P4/P5) into deterministic text-space equivalents.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# small fixed english stopword list — frozen spec (shared with oracle SQL)
EN_STOPWORDS = (
    "the of and a to in is it that was for on are as with his they at be "
    "this have from or had by word but what some we can out other were all "
    "there when up use your how said an each she"
).split()


def words_of(c: Column) -> Column:
    """Lowercased word tokens (letters/digits only), empties removed."""
    return F.filter(
        F.split(F.lower(c), "[^a-z0-9]+"),
        lambda w: F.length(w) > 0,
    )


def stopword_ratio_of_words(words: Column) -> Column:
    """Stopword-hit ratio from an ALREADY-TOKENIZED word array. Pass a
    bound (projected) column when computing several stats per row —
    interpreted higher-order expressions (the split+filter tokenizer)
    get no codegen CSE, so an inline ``words_of(c)`` here re-tokenizes
    once per consumer (same lesson as ``dedup._shingles_of_words``)."""
    hits = F.size(F.filter(words, lambda w: w.isin(EN_STOPWORDS)))
    return F.when(F.size(words) > 0, hits / F.size(words)).otherwise(F.lit(0.0))


def stopword_ratio(c: Column) -> Column:
    return stopword_ratio_of_words(words_of(c))


def lang_id_from_ratio(sr: Column) -> Column:
    return F.when(sr >= F.lit(0.08), "en").otherwise("other")


def lang_id(c: Column) -> Column:
    """Heuristic language ID: english iff stopword-hit ratio ≥ 0.08.
    (n-gram-free variant; deterministic and SQL-portable.)"""
    return lang_id_from_ratio(stopword_ratio(c))


def punct_ratio(c: Column) -> Column:
    n = F.length(c)
    punct = F.length(F.regexp_replace(c, "[^.,!?;:]", ""))
    return F.when(n > 0, punct / n).otherwise(F.lit(0.0))


def quality_from_parts(n: Column, pr: Column, sr: Column) -> Column:
    """Composite quality in [0,1] from pre-computed (length,
    punct_ratio, stopword_ratio). Frozen weights (0.4/0.3/0.3)."""
    len_ok = F.when((n >= 100) & (n <= 20000), 1.0).when(n >= 30, 0.5).otherwise(0.0)
    punct_ok = F.when(pr <= 0.10, 1.0).otherwise(0.0)
    stop_ok = F.when(sr >= 0.05, 1.0).otherwise(0.0)
    return F.round(len_ok * 0.4 + punct_ok * 0.3 + stop_ok * 0.3, 2)


def quality_score(c: Column) -> Column:
    """Composite quality in [0,1]: length band + low punct noise +
    english-like stopword rate. Frozen weights (0.4/0.3/0.3)."""
    return quality_from_parts(F.length(c), punct_ratio(c), stopword_ratio(c))


def token_count_ws(c: Column) -> Column:
    """Whitespace tokenization count."""
    return F.size(F.filter(F.split(c, "[ \t\n\r]+"), lambda w: F.length(w) > 0))


def token_count_bpe_ish(c: Column) -> Column:
    """BPE-ish subword proxy: count of letter-runs, digit-runs and
    single non-space symbols (regex tokenizer, GPT-2-pretokenizer-like)."""
    return F.size(F.regexp_extract_all(c, F.lit("[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 \t\n\r]"), 0))


def fingerprint_of_words(words: Column) -> Column:
    """Document fingerprint: md5 of the lowercased word sequence
    (``words_of``) — stable under whitespace/punct noise (portable:
    DuckDB md5 matches)."""
    return F.md5(F.array_join(words, " "))


def with_text_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """All stats in one pass, with the tokenizer bound ONCE.

    Three staged projections: (1) project the word array as a real
    column, (2) derive the raw ratio scalars from it, (3) derive the
    composite columns from the bound scalars. Staging matters: the
    tokenizer is an interpreted higher-order expression (split + filter
    lambda) that gets no codegen CSE, so the previous single-projection
    form evaluated it ~5× per row (stop_ratio, lang_guess, quality ×2,
    fingerprint) — the dominant cost of the whole stats pass. Catalyst
    does NOT collapse these projections back together: CollapseProject
    refuses to inline a non-cheap alias referenced more than once."""
    c = F.col(text_col)
    w = F.col("_words")
    staged = (
        df.select("*", words_of(c).alias("_words"))
        .select(
            "*",
            F.length(c).alias("n_len"),
            token_count_ws(c).alias("n_tokens"),
            token_count_bpe_ish(c).alias("n_subtokens"),
            stopword_ratio_of_words(w).alias("_sr"),
            punct_ratio(c).alias("_pr"),
            fingerprint_of_words(w).alias("fp"),
        )
        .select(
            "*",
            F.round(F.col("_sr"), 4).alias("stop_ratio"),
            F.round(F.col("_pr"), 4).alias("punct_ratio"),
            lang_id_from_ratio(F.col("_sr")).alias("lang_guess"),
            quality_from_parts(F.col("n_len"), F.col("_pr"), F.col("_sr")).alias("quality"),
        )
    )
    return staged.drop("_words", "_sr", "_pr")
