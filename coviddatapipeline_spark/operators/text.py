"""Text-analysis operators over the ``documents`` table — the
training-data-pipeline surface (BASELINE.json north star): token
counting, quality scoring, language-ID heuristic, document
fingerprinting. All are pure ``pyspark.sql.functions`` column algebra
(JVM-side, whole-stage-codegen'd — no Python in the hot path), and each
has an exact DuckDB oracle twin.

Scale posture: every operator is per-row column math + at most one
groupBy — embarrassingly parallel, no shuffle except final small aggs.
At 100 TB the only knob is input partition size.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from coviddatapipeline_spark.queries.catalog import register
from coviddatapipeline_spark.operators.common import WS_RE, t
from coviddatapipeline_spark.operators.ranking import const_key

# Tokenization contract shared by Spark and the DuckDB oracles:
# collapse whitespace runs (common.WS_RE — the explicit ASCII class,
# identical under Java regex and RE2), trim, split on single space.
_NORM = "trim(regexp_replace({x}, '" + WS_RE + "', ' ', 'g'))"   # DuckDB
_TOKENS = f"string_split({_NORM}, ' ')"                          # DuckDB


def _norm(col) -> Column:
    return F.trim(F.regexp_replace(col, WS_RE, " "))


def _tokens(col) -> Column:
    return F.split(_norm(col), " ")


def _trigrams_all(col) -> Column:
    """NON-distinct word trigrams, short-doc guarded: <3 tokens yields
    an empty array (matching DuckDB's empty generate_series), never a
    negative sequence that makes slice() abort the job (ADVICE r01).
    The single definition shared by every shingle consumer —
    text_word_trigrams_top, text_repetition_ratio, and (distinct'd)
    dedup._trigrams — so the guard can't drift between copies."""
    toks = _tokens(col)
    return F.when(
        F.size(toks) >= 3,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - 2),
            lambda i: F.concat_ws(" ", F.slice(toks, i, 3)),
        ),
    ).otherwise(F.array().cast("array<string>"))


# A tiny English-stopword list used by both the quality score and the
# language-ID heuristic (public-knowledge word list).
STOPWORDS = ("the", "a", "an", "and", "of", "to", "in", "is", "it", "that")
_SW_SQL = "[" + ", ".join(f"'{w}'" for w in STOPWORDS) + "]"


@register(
    "text_token_stats",
    oracle=f"""
        SELECT doc_id,
               len({_TOKENS.format(x='text')}) AS n_tokens,
               length({_NORM.format(x='text')}) AS n_chars_norm,
               round(length(replace({_NORM.format(x='text')}, ' ', ''))
                     * 1.0 / len({_TOKENS.format(x='text')}), 4) AS avg_token_len
        FROM documents
        ORDER BY doc_id
    """,
    doc="Per-document token count + normalized length + mean token length.",
    tags=("text",),
)
def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    norm = _norm(F.col("text"))
    toks = _tokens(F.col("text"))
    return docs.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        F.length(norm).alias("n_chars_norm"),
        F.round(
            F.length(F.replace(norm, F.lit(" "), F.lit(""))) * 1.0 / F.size(toks), 4
        ).alias("avg_token_len"),
    )


@register(
    "text_quality_score",
    oracle=f"""
        WITH scored AS (
            SELECT doc_id, lang,
                   len({_TOKENS.format(x='text')}) AS n_tokens,
                   len(list_filter({_TOKENS.format(x='text')},
                                   w -> list_contains({_SW_SQL}, w))) AS n_stop
            FROM documents
        )
        SELECT doc_id,
               round(n_stop * 1.0 / n_tokens, 4) AS stopword_ratio,
               round(least(n_tokens, 100) / 100.0
                     * (0.5 + 0.5 * least(n_stop * 1.0 / n_tokens, 0.4) / 0.4), 4)
                   AS quality
        FROM scored
        ORDER BY doc_id
    """,
    doc=(
        "Heuristic quality score: length saturation x stopword-density "
        "(the shape of C4/Gopher-style quality filters), pure column math."
    ),
    tags=("text",),
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    toks = _tokens(F.col("text"))
    n_tokens = F.size(toks)
    n_stop = F.size(F.filter(toks, lambda w: w.isin(*STOPWORDS)))
    ratio = n_stop * 1.0 / n_tokens
    quality = (
        F.least(n_tokens, F.lit(100)) / 100.0
        * (0.5 + 0.5 * F.least(ratio, F.lit(0.4)) / 0.4)
    )
    return docs.select(
        "doc_id",
        F.round(ratio, 4).alias("stopword_ratio"),
        F.round(quality, 4).alias("quality"),
    )


@register(
    "text_langid_heuristic",
    oracle=f"""
        WITH pred AS (
            SELECT doc_id, lang,
                   CASE WHEN len(list_filter({_TOKENS.format(x='text')},
                                 w -> list_contains({_SW_SQL}, w)))
                             * 1.0 / len({_TOKENS.format(x='text')}) >= 0.08
                        THEN 'en_like' ELSE 'other' END AS predicted
            FROM documents
        )
        SELECT lang, predicted, count(*) AS n
        FROM pred GROUP BY lang, predicted ORDER BY lang, predicted
    """,
    doc=(
        "Stopword-density language-ID heuristic + confusion matrix vs the "
        "lang label. (The testdata's text is synthetic and languageless, "
        "so the interesting output is the deterministic confusion counts.)"
    ),
    tags=("text",),
)
def text_langid_heuristic(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    toks = _tokens(F.col("text"))
    ratio = F.size(F.filter(toks, lambda w: w.isin(*STOPWORDS))) * 1.0 / F.size(toks)
    predicted = F.when(ratio >= 0.08, F.lit("en_like")).otherwise(F.lit("other"))
    return (
        docs.select("lang", predicted.alias("predicted"))
        .groupBy("lang", "predicted")
        .agg(F.count("*").alias("n"))
        .orderBy("lang", "predicted")
    )


@register(
    "text_fingerprint",
    oracle=f"""
        SELECT doc_id,
               md5(lower({_NORM.format(x='text')})) AS fingerprint,
               substr(md5(lower({_NORM.format(x='text')})), 1, 8) AS bucket
        FROM documents
        ORDER BY doc_id
    """,
    doc=(
        "Canonical document fingerprint: md5 of the case/whitespace-"
        "normalized text — the exact-dedup key. md5 is bit-identical "
        "across Spark and DuckDB."
    ),
    tags=("text", "dedup"),
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    fp = F.md5(F.lower(_norm(F.col("text"))))
    return docs.select(
        "doc_id", fp.alias("fingerprint"), F.substring(fp, 1, 8).alias("bucket")
    )


@register(
    "text_word_trigrams_top",
    oracle=f"""
        SELECT trigram, count(*) AS n
        FROM (
            SELECT unnest(list_transform(
                       generate_series(1, len({_TOKENS.format(x='text')}) - 2),
                       i -> array_to_string(({_TOKENS.format(x='text')})[i:i+2], ' ')
                   )) AS trigram
            FROM documents
        )
        GROUP BY trigram
        HAVING count(*) >= 3
        ORDER BY n DESC, trigram
    """,
    doc=(
        "Word-trigram shingling + global frequency (the shingle basis for "
        "MinHash/Jaccard dedup): explode(transform(sequence)) keeps the "
        "shingling in JVM column space."
    ),
    tags=("text", "dedup"),
)
def text_word_trigrams_top(spark: SparkSession, sf_dir: str) -> DataFrame:
    from coviddatapipeline_spark.operators.common import t_fanout

    # t_fanout (§C8): the shingle build is CPU-heavy per row and the
    # bench file arrives as one split — fan out before it (no-op at
    # real scale, guide §2.5).
    docs = t_fanout(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(_trigrams_all(F.col("text"))).alias("trigram"))
        .groupBy("trigram")
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") >= 3)
        .orderBy(F.col("n").desc(), "trigram")
    )


@register(
    "docpipe_clean_corpus_stats",
    oracle=f"""
        WITH scored AS (
            SELECT doc_id, lang, source,
                   len({_TOKENS.format(x='text')}) AS n_tokens,
                   round(least(len({_TOKENS.format(x='text')}), 100) / 100.0
                         * (0.5 + 0.5 * least(
                               len(list_filter({_TOKENS.format(x='text')},
                                               w -> list_contains({_SW_SQL}, w))) * 1.0
                               / len({_TOKENS.format(x='text')}), 0.4) / 0.4), 4)
                       AS quality,
                   md5(lower({_NORM.format(x='text')})) AS fp
            FROM documents
        ),
        kept AS (SELECT * FROM scored WHERE quality >= 0.5),
        dedup AS (
            SELECT *, CAST(floor(quality * 10000 + 0.5) AS BIGINT) AS q_e4
            FROM kept
            QUALIFY row_number() OVER (PARTITION BY fp ORDER BY doc_id) = 1
        )
        SELECT lang, source,
               count(*) AS n_docs,
               CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
               CAST((2 * sum(q_e4) + count(*)) // (2 * count(*)) AS BIGINT)
                   AS avg_quality_e4
        FROM dedup
        GROUP BY lang, source
        ORDER BY lang, source
    """,
    doc=(
        "End-to-end training-corpus cleaning pipeline in ONE Catalyst "
        "plan: quality-score -> threshold filter -> exact dedup "
        "(keep-first per fingerprint) -> per-(lang, source) corpus stats. "
        "Demonstrates that the text/dedup operators COMPOSE: the whole "
        "chain is two shuffles (fingerprint window + final group), "
        "column math stays codegen'd, and nothing materializes between "
        "stages — the medallion composition story at query granularity."
    ),
    tags=("text", "dedup", "pipeline"),
)
def docpipe_clean_corpus_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    docs = t(spark, sf_dir, "documents")
    toks = _tokens(F.col("text"))
    n_tokens = F.size(toks)
    ratio = F.size(F.filter(toks, lambda w: w.isin(*STOPWORDS))) * 1.0 / n_tokens
    quality = F.round(
        F.least(n_tokens, F.lit(100)) / 100.0
        * (0.5 + 0.5 * F.least(ratio, F.lit(0.4)) / 0.4),
        4,
    )
    scored = docs.select(
        "doc_id",
        "lang",
        "source",
        n_tokens.alias("n_tokens"),
        quality.alias("quality"),
        F.md5(F.lower(_norm(F.col("text")))).alias("fp"),
    )
    kept = scored.filter(F.col("quality") >= 0.5)
    w = W.partitionBy("fp").orderBy("doc_id")
    dedup = (
        kept.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        # per-doc e4 fixed-point: floor(+0.5) on the SAME double both
        # engines compute is deterministic; keeping it per-row means the
        # group mean below is pure integer arithmetic — avg(double)
        # accumulates in partial-sum order, and the sf0.1 sweep caught
        # its last ulp flipping floor() across an integer boundary.
        .withColumn("q_e4", F.floor(F.col("quality") * 10000 + 0.5).cast("long"))
    )
    return (
        dedup.groupBy("lang", "source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            # integer round-half-up mean: (2*sum + n) div (2*n)
            F.expr("(2 * sum(q_e4) + count(*)) div (2 * count(*))").alias(
                "avg_quality_e4"
            ),
        )
        .orderBy("lang", "source")
    )


# GPT-style piece pattern: letter runs, single digits, single punctuation.
_BPE_PAT = r"[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]"


@register(
    "text_bpe_token_estimate",
    oracle=f"""
        SELECT doc_id,
               len(regexp_extract_all({_NORM.format(x='text')},
                                      '{_BPE_PAT}')) AS n_pieces,
               len({_TOKENS.format(x='text')}) AS n_words,
               round(length({_NORM.format(x='text')}) * 1.0
                     / len(regexp_extract_all({_NORM.format(x='text')},
                                              '{_BPE_PAT}')), 4)
                   AS chars_per_piece
        FROM documents
        ORDER BY doc_id
    """,
    doc=(
        "BPE-ish token estimation: a subword piece count from a GPT-style "
        "regex (letter runs / single digits / punctuation) next to the "
        "whitespace word count — the cheap chars-per-token estimator used "
        "to budget LLM training tokens, all in regexp_extract_all column "
        "space."
    ),
    tags=("text",),
)
def text_bpe_token_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    norm = _norm(F.col("text"))
    pieces = F.regexp_extract_all(norm, F.lit(_BPE_PAT), 0)
    return docs.select(
        "doc_id",
        F.size(pieces).alias("n_pieces"),
        F.size(_tokens(F.col("text"))).alias("n_words"),
        # try_divide: an empty/whitespace/NULL document has zero pieces —
        # chars_per_piece is undefined (NULL), not a job-aborting ANSI
        # DIVIDE_BY_ZERO. Identical to `/` whenever n_pieces > 0.
        F.round(F.try_divide(F.length(norm) * 1.0, F.size(pieces)), 4).alias(
            "chars_per_piece"
        ),
    )


# Winnowing parameters: k-gram size and window width (Schleimer et al.,
# "Winnowing: Local Algorithms for Document Fingerprinting", SIGMOD'03).
_WINNOW_K = 5
_WINNOW_W = 4


@register(
    "text_winnow_fingerprint",
    oracle=f"""
        WITH grams AS (
            SELECT doc_id,
                   CASE WHEN length(lower({_NORM.format(x='text')})) >= {_WINNOW_K}
                        THEN list_transform(
                                 generate_series(1, length(lower({_NORM.format(x='text')})) - {_WINNOW_K - 1}),
                                 i -> md5(substr(lower({_NORM.format(x='text')}), i, {_WINNOW_K})))
                        ELSE [] END AS hs
            FROM documents
        ),
        win AS (
            SELECT doc_id,
                   CASE WHEN len(hs) >= {_WINNOW_W}
                        THEN list_distinct(list_transform(
                                 generate_series(1, len(hs) - {_WINNOW_W - 1}),
                                 j -> list_min(hs[j:j+{_WINNOW_W - 1}])))
                        ELSE list_distinct(CASE WHEN len(hs) > 0 THEN [list_min(hs)] ELSE [] END)
                   END AS fps
            FROM grams
        )
        SELECT doc_id, len(fps) AS n_fingerprints, list_min(fps) AS min_fp
        FROM win
        ORDER BY doc_id
    """,
    doc=(
        "Winnowing document fingerprint (rolling min-hash over char "
        "k-gram windows, Schleimer et al. SIGMOD'03): the locality-"
        "sensitive sketch used for plagiarism/near-dup detection. "
        "Shape (OPTIMIZATION_r12 §C6): fully MAP-ONLY — the k-gram hash "
        "array materializes once per document in its own projection "
        "(CollapseProject will not re-inline a non-cheap multiply-"
        "referenced alias, so the md5 walk stays O(m); the plan test "
        "pins exactly one md5 in the compiled plan), and the per-window "
        "minima are an array transform over slices of that materialized "
        "array — O(m·w) JVM array ops, no explode, no window funnel, "
        "ZERO data-sized shuffles at any scale. The previous "
        "posexplode + sliding-window form shuffled one row per k-gram "
        "(corpus-character-sized exchange) just to compute a per-doc "
        "reduction. t_fanout spreads the md5 walk across cores when the "
        "input arrives as fewer splits than cores (measured 12.9 s -> "
        "0.8 s on the single-split bench file; a no-op at real scale)."
    ),
    tags=("text", "dedup"),
)
def text_winnow_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from coviddatapipeline_spark.operators.common import t_fanout

    docs = t_fanout(spark, sf_dir, "documents")
    s = F.lower(_norm(F.col("text")))
    n = F.length(s)
    # char k-gram hashes; Column.substr takes column positions, so the
    # gram walk is one JVM transform over a sequence — materialized
    # ONCE per row by the dedicated projection below
    hs = F.when(
        n >= _WINNOW_K,
        F.transform(
            F.sequence(F.lit(1), n - (_WINNOW_K - 1)),
            lambda i: F.md5(s.substr(i, F.lit(_WINNOW_K))),
        ),
    ).otherwise(F.array().cast("array<string>"))
    grams = docs.select("doc_id", hs.alias("hs"))
    w = _WINNOW_W
    # full windows only; short docs (0 < m < w) fall back to one
    # whole-document fingerprint, mirroring the oracle's CASE
    fps = (
        f"CASE WHEN size(hs) >= {w} THEN "
        f"array_distinct(transform(sequence(1, size(hs) - {w - 1}), "
        f"j -> array_min(slice(hs, j, {w})))) "
        f"WHEN size(hs) > 0 THEN array(array_min(hs)) "
        f"ELSE CAST(array() AS ARRAY<STRING>) END"
    )
    return grams.selectExpr("doc_id", f"{fps} AS fps").selectExpr(
        "doc_id", "size(fps) AS n_fingerprints", "array_min(fps) AS min_fp"
    )


# PII-ish patterns (digit runs >= 4 as account/phone-like, email-like).
_PII_NUM = "[0-9]{4,}"
_PII_EMAIL = "[A-Za-z0-9._]+@[A-Za-z0-9]+\\.[A-Za-z]+"


@register(
    "text_pii_scrub",
    oracle=f"""
        WITH scrubbed AS (
            SELECT doc_id,
                   regexp_replace(
                       regexp_replace(text, '{_PII_EMAIL}', '<EMAIL>', 'g'),
                       '{_PII_NUM}', '<NUM>', 'g') AS clean
            FROM documents
        )
        SELECT s.doc_id,
               length(d.text) - length(s.clean) AS chars_removed,
               len(regexp_extract_all(s.clean, '<NUM>')) AS n_num_masked,
               len(regexp_extract_all(s.clean, '<EMAIL>')) AS n_email_masked
        FROM scrubbed s JOIN documents d ON s.doc_id = d.doc_id
        ORDER BY s.doc_id
    """,
    doc=(
        "PII scrubbing pass (training-data redaction): mask email-like "
        "and long-digit-run tokens via chained regexp_replace, report "
        "per-document mask counts. Pure JVM regex column ops — the "
        "pattern set is where a production scrubber plugs in."
    ),
    tags=("text", "pii"),
)
def text_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    clean = F.regexp_replace(
        F.regexp_replace(F.col("text"), _PII_EMAIL, "<EMAIL>"),
        _PII_NUM,
        "<NUM>",
    )
    return docs.select(
        "doc_id",
        (F.length("text") - F.length(clean)).alias("chars_removed"),
        F.size(F.regexp_extract_all(clean, F.lit("<NUM>"), 0)).alias("n_num_masked"),
        F.size(F.regexp_extract_all(clean, F.lit("<EMAIL>"), 0)).alias("n_email_masked"),
    )


@register(
    "text_dedup_rate_by_source",
    oracle=f"""
        WITH fp AS (
            SELECT source, md5(lower({_NORM.format(x='text')})) AS f
            FROM documents
        )
        SELECT source,
               count(*) AS n_docs,
               count(DISTINCT f) AS n_distinct,
               round(1.0 - count(DISTINCT f) * 1.0 / count(*), 4) AS dup_rate
        FROM fp
        GROUP BY source
        ORDER BY source
    """,
    doc=(
        "Duplication rate per source: the corpus-health metric that "
        "decides which feeds need dedup attention — fingerprint + "
        "count-distinct per group, one shuffle."
    ),
    tags=("text", "dedup", "analytics"),
)
def text_dedup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    f = F.md5(F.lower(_norm(F.col("text"))))
    return (
        docs.select("source", f.alias("f"))
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.countDistinct("f").alias("n_distinct"),
            F.round(1.0 - F.countDistinct("f") * 1.0 / F.count("*"), 4).alias(
                "dup_rate"
            ),
        )
        .orderBy("source")
    )


@register(
    "text_repetition_ratio",
    oracle=f"""
        WITH tri AS (
            SELECT doc_id, source,
                   len(list_transform(
                       generate_series(1, greatest(len({_TOKENS.format(x='text')}) - 2, 0)),
                       i -> array_to_string(({_TOKENS.format(x='text')})[i:i+2], ' ')))
                       AS n_tri,
                   len(list_distinct(list_transform(
                       generate_series(1, greatest(len({_TOKENS.format(x='text')}) - 2, 0)),
                       i -> array_to_string(({_TOKENS.format(x='text')})[i:i+2], ' '))))
                       AS n_uniq
            FROM documents
        )
        SELECT source,
               count(*) AS n_docs,
               round(avg(CASE WHEN n_tri > 0
                              THEN 1.0 - n_uniq * 1.0 / n_tri ELSE 0 END), 4)
                   AS avg_repetition,
               CAST(sum(CASE WHEN n_tri > 0 AND 1.0 - n_uniq * 1.0 / n_tri > 0.2
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_repetitive
        FROM tri
        GROUP BY source
        ORDER BY source
    """,
    doc=(
        "Intra-document repetition ratio (1 - distinct/total word "
        "trigrams) — the Gopher/C4-style signal that catches boilerplate "
        "and keyword-stuffed pages; docs above 0.2 flagged per source. "
        "Same guarded JVM shingling as the dedup family, zero Python."
    ),
    tags=("text", "dedup", "analytics"),
)
def text_repetition_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    from coviddatapipeline_spark.operators.common import t_fanout

    # t_fanout + a dedicated projection for the trigram array
    # (OPTIMIZATION_r12 §C8): the shingle walk is the expensive
    # expression here — build it ONCE per row (CollapseProject keeps a
    # non-cheap multiply-referenced alias in its own Project) and
    # spread it across cores instead of computing it twice per row
    # inside the single scan split (measured 6.0 s -> 0.6 s at sf0.1).
    docs = t_fanout(spark, sf_dir, "documents")
    base = docs.select(
        "source", _trigrams_all(F.col("text")).alias("tri")
    ).select(
        "source",
        F.size("tri").alias("n_tri"),
        F.size(F.array_distinct("tri")).alias("n_uniq"),
    )
    rep = F.when(
        F.col("n_tri") > 0, 1.0 - F.col("n_uniq") * 1.0 / F.col("n_tri")
    ).otherwise(F.lit(0.0))
    return (
        base.select("source", rep.alias("rep"))
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.round(F.avg("rep"), 4).alias("avg_repetition"),
            F.sum(F.when(F.col("rep") > 0.2, 1).otherwise(0)).alias("n_repetitive"),
        )
        .orderBy("source")
    )


@register(
    "text_gopher_rules",
    oracle=f"""
        WITH feats AS (
            SELECT source,
                   len({_TOKENS.format(x='text')}) AS n_words,
                   CASE WHEN len({_TOKENS.format(x='text')}) > 0
                        THEN list_sum(list_transform({_TOKENS.format(x='text')},
                                                     w -> len(w))) * 1.0
                             / len({_TOKENS.format(x='text')})
                        ELSE 0 END AS mean_wlen,
                   len(list_filter({_TOKENS.format(x='text')},
                                   w -> list_contains({_SW_SQL}, w))) AS n_stop
            FROM documents
        ),
        flagged AS (
            SELECT source,
                   CASE WHEN n_words >= 5 AND n_words <= 100000
                             AND mean_wlen >= 2 AND mean_wlen <= 12
                             AND n_stop >= 1
                        THEN 1 ELSE 0 END AS pass
            FROM feats
        )
        SELECT source, count(*) AS n_docs, CAST(sum(pass) AS BIGINT) AS n_pass,
               round(avg(pass), 4) AS pass_rate
        FROM flagged
        GROUP BY source
        ORDER BY source
    """,
    doc=(
        "Gopher-style rule filter (Rae et al. 2021, public): word count "
        "bounds, mean word length bounds, minimum stopword presence — "
        "the cheap rule bundle pretraining pipelines apply before any "
        "model-based scoring (thresholds adapted to the synthetic "
        "corpus). Pure column algebra; per-source pass rates audit "
        "whole sources at a glance."
    ),
    tags=("text", "analytics"),
)
def text_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    toks = _tokens(F.col("text"))
    n_words = F.size(toks)
    mean_wlen = F.when(
        n_words > 0,
        F.aggregate(toks, F.lit(0.0), lambda acc, w: acc + F.length(w)) / n_words,
    ).otherwise(F.lit(0.0))
    n_stop = F.size(F.filter(toks, lambda w: w.isin(*STOPWORDS)))
    passed = (
        F.when(
            (n_words >= 5)
            & (n_words <= 100_000)
            & (mean_wlen >= 2)
            & (mean_wlen <= 12)
            & (n_stop >= 1),
            F.lit(1),
        )
        .otherwise(F.lit(0))
    )
    return (
        docs.select("source", passed.alias("pass"))
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("pass").alias("n_pass"),
            F.round(F.avg("pass"), 4).alias("pass_rate"),
        )
        .orderBy("source")
    )


# --- Corpus statistics: Zipf fit and per-doc lexical entropy ---------

ZIPF_TOP_N = 200


@register(
    "text_zipf_fit",
    oracle=f"""
        WITH tok AS (
            SELECT unnest({_TOKENS.format(x='text')}) AS word FROM documents
        ),
        wc AS (SELECT word, count(*) AS c FROM tok GROUP BY word),
        top AS (
            SELECT word, c,
                   row_number() OVER (ORDER BY c DESC, word) AS rank
            FROM wc ORDER BY c DESC, word LIMIT {ZIPF_TOP_N}
        )
        SELECT count(*) AS n_terms,
               round(regr_slope(ln(c), ln(rank)), 4) AS zipf_slope,
               round(regr_intercept(ln(c), ln(rank)), 4) AS zipf_intercept,
               round(regr_r2(ln(c), ln(rank)), 4) AS r2
        FROM top
    """,
    doc=(
        f"Zipf's-law fit over the corpus: the top-{ZIPF_TOP_N} word "
        "frequencies regressed as ln(freq) ~ ln(rank) (a healthy "
        "natural-language corpus fits slope ~ -1; synthetic or "
        "template-heavy text shows a flatter/steeper curve, making "
        "this a corpus-level quality screen). The word count is one "
        "map-side-combinable shuffle over the SF-scaled token stream; "
        "the top-N is a TakeOrdered (per-partition heap + driver "
        "merge, never a global sort), and the rank window runs over "
        f"exactly {ZIPF_TOP_N} rows. regr_* aggregates are one-pass "
        "JVM moments."
    ),
    tags=("text", "agg", "stats"),
)
def text_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    docs = t(spark, sf_dir, "documents")
    wc = (
        docs.select(F.explode(_tokens(F.col("text"))).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("c"))
    )
    top = wc.orderBy(F.col("c").desc(), "word").limit(ZIPF_TOP_N)
    ranked = top.withColumn(
        # constant-key global window over the <= ZIPF_TOP_N limit() rows
        "rank",
        F.row_number().over(
            W.partitionBy(const_key("word")).orderBy(F.col("c").desc(), "word")
        ),
    )
    lc, lr = F.log("c"), F.log("rank")
    return ranked.agg(
        F.count("*").alias("n_terms"),
        F.round(F.regr_slope(lc, lr), 4).alias("zipf_slope"),
        F.round(F.regr_intercept(lc, lr), 4).alias("zipf_intercept"),
        F.round(F.regr_r2(lc, lr), 4).alias("r2"),
    )


@register(
    "text_word_entropy",
    oracle=f"""
        WITH tok AS (
            SELECT doc_id, unnest({_TOKENS.format(x='text')}) AS word
            FROM documents
        ),
        wc AS (SELECT doc_id, word, count(*) AS c FROM tok GROUP BY 1, 2),
        wp AS (
            SELECT doc_id, c,
                   c * 1.0 / sum(c) OVER (PARTITION BY doc_id) AS p
            FROM wc
        )
        SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens, count(*) AS n_distinct,
               round(-sum(p * ln(p)), 4) AS word_entropy
        FROM wp GROUP BY doc_id ORDER BY doc_id
    """,
    doc=(
        "Per-document lexical (word-unigram Shannon) entropy, the "
        "standard repetition/diversity screen for training-data "
        "curation: near-zero entropy flags boilerplate and keyword "
        "stuffing, which length filters miss. One shuffle to (doc, "
        "word) counts with map-side combine, then a window PARTITIONED "
        "by doc_id (never global) for the in-doc distribution; "
        "everything is JVM column algebra over the exploded token "
        "stream."
    ),
    tags=("text", "agg", "quality"),
)
def text_word_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    docs = t(spark, sf_dir, "documents")
    wc = (
        docs.select("doc_id", F.explode(_tokens(F.col("text"))).alias("word"))
        .groupBy("doc_id", "word")
        .agg(F.count("*").alias("c"))
    )
    p = F.col("c") / F.sum("c").over(W.partitionBy("doc_id"))
    return (
        wc.withColumn("p", p)
        .groupBy("doc_id")
        .agg(
            F.sum("c").alias("n_tokens"),
            F.count("*").alias("n_distinct"),
            F.round(-F.sum(F.col("p") * F.log("p")), 4).alias("word_entropy"),
        )
    )


@register(
    "text_unigram_logprob",
    oracle=f"""
        WITH tok AS (
            SELECT doc_id, unnest({_TOKENS.format(x='text')}) AS word
            FROM documents
        ),
        wc AS (SELECT doc_id, word, count(*) AS c FROM tok GROUP BY 1, 2),
        cw AS (SELECT word, sum(c) AS cw FROM wc GROUP BY word),
        tot AS (SELECT sum(cw) AS n FROM cw)
        SELECT wc.doc_id, CAST(sum(wc.c) AS BIGINT) AS n_tokens,
               round(sum(wc.c * ln(cw.cw * 1.0 / tot.n)) / sum(wc.c), 4)
                   AS avg_logprob
        FROM wc JOIN cw ON wc.word = cw.word CROSS JOIN tot
        GROUP BY wc.doc_id
        ORDER BY wc.doc_id
    """,
    doc=(
        "Per-document mean word log-probability under the corpus "
        "unigram distribution — the cheapest language-model quality "
        "proxy for curation (very low = off-distribution gibberish, "
        "very high = stopword soup; both are cut candidates). The "
        "corpus distribution is one map-side-combinable word count; "
        "per-doc scoring joins PRE-AGGREGATED (doc, word) counts to "
        "it — the join input is bounded by vocabulary x docs-that-"
        "contain, never the raw token stream — and the corpus-size "
        "scalar rides along as crossJoin(broadcast(agg)), the house "
        "scalar-subquery pattern. At 100 TB the head of the "
        "distribution (a few thousand words covering >90% of mass) "
        "would be broadcast and only the tail shuffled."
    ),
    tags=("text", "agg", "quality"),
)
def text_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    wc = (
        docs.select("doc_id", F.explode(_tokens(F.col("text"))).alias("word"))
        .groupBy("doc_id", "word")
        .agg(F.count("*").alias("c"))
    )
    cw = wc.groupBy("word").agg(F.sum("c").alias("cw"))
    tot = F.broadcast(cw.agg(F.sum("cw").alias("n")))
    return (
        wc.join(cw, "word")
        .crossJoin(tot)
        .groupBy("doc_id")
        .agg(
            F.sum("c").alias("n_tokens"),
            F.round(
                F.sum(F.col("c") * F.log(F.col("cw") / F.col("n"))) / F.sum("c"), 4
            ).alias("avg_logprob"),
        )
    )


VOCAB_SIZES = (10, 50, 100)


@register(
    "text_vocab_coverage",
    oracle=f"""
        WITH wc AS (
            SELECT word, count(*) AS c
            FROM (SELECT unnest({_TOKENS.format(x='text')}) AS word FROM documents)
            GROUP BY word
        ),
        tot AS (SELECT CAST(sum(c) AS BIGINT) AS total FROM wc),
        ranked AS (
            SELECT c, row_number() OVER (ORDER BY c DESC, word) AS rn
            FROM wc
        )
        SELECT v.v,
               CAST(sum(r.c) AS BIGINT) AS covered_tokens,
               max(tot.total) AS total_tokens,
               round(sum(r.c) * 1.0 / max(tot.total), 6) AS coverage
        FROM (VALUES {", ".join(f"({v})" for v in VOCAB_SIZES)}) AS v(v)
        JOIN ranked r ON r.rn <= v.v
        CROSS JOIN tot
        GROUP BY v.v
        ORDER BY v.v
    """,
    doc=(
        "Vocabulary coverage curve: the fraction of all corpus tokens "
        "covered by the top-V most frequent words, at V in "
        f"{VOCAB_SIZES} — the measurement behind tokenizer vocabulary "
        "sizing (where the coverage curve flattens is where bigger "
        "vocab stops paying) and OOV-rate estimation. One map-side-"
        "combinable word count, then a DISTRIBUTED top-k (orderBy + "
        "limit plans as TakeOrdered — per-partition heaps merged on "
        "the driver, bounded by V, never an Exchange SinglePartition "
        "over the vocabulary); the V-row rank table and the corpus-"
        "total scalar are both broadcast-sized. Deterministic "
        "tie-break on the word string."
    ),
    tags=("text", "agg", "analytics"),
)
def text_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    docs = t(spark, sf_dir, "documents")
    wc = (
        docs.select(F.explode(_tokens(F.col("text"))).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("c"))
    )
    tot = F.broadcast(wc.agg(F.sum("c").cast("long").alias("total")))
    top = (
        wc.orderBy(F.col("c").desc(), F.col("word"))
        .limit(max(VOCAB_SIZES))
        .withColumn(
            # constant-key global window over the limit() output
            "rn",
            F.row_number().over(
                W.partitionBy(const_key("word")).orderBy(
                    F.col("c").desc(), F.col("word")
                )
            ),
        )
    )
    vs = spark.createDataFrame([(v,) for v in VOCAB_SIZES], "v int")
    return (
        F.broadcast(vs)
        .join(top, F.col("rn") <= F.col("v"))
        .crossJoin(tot)
        .groupBy("v")
        .agg(
            F.sum("c").cast("long").alias("covered_tokens"),
            F.max("total").alias("total_tokens"),
            F.round(F.sum("c") / F.max("total"), 6).alias("coverage"),
        )
        .orderBy("v")
    )


@register(
    "docpipe_quality_dup_profile",
    oracle=f"""
        WITH scored AS (
            SELECT doc_id,
                   md5(lower({_NORM.format(x='text')})) AS fp,
                   least(len({_TOKENS.format(x='text')}), 100) / 100.0
                     * (0.5 + 0.5 * least(
                           len(list_filter({_TOKENS.format(x='text')},
                                           w -> list_contains({_SW_SQL}, w)))
                           * 1.0 / len({_TOKENS.format(x='text')}), 0.4) / 0.4)
                       AS quality
            FROM documents
        ),
        grp AS (
            SELECT fp, count(*) AS n_copies FROM scored GROUP BY fp
        ),
        bucketed AS (
            SELECT least(CAST(floor(s.quality * 10) AS INT), 9) AS q_bucket,
                   g.n_copies
            FROM scored s JOIN grp g ON g.fp = s.fp
        )
        SELECT q_bucket,
               count(*) AS n_docs,
               CAST(sum(CASE WHEN n_copies > 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_dup_docs,
               round(sum(CASE WHEN n_copies > 1 THEN 1 ELSE 0 END) * 1.0
                     / count(*), 4) AS dup_rate
        FROM bucketed
        GROUP BY q_bucket
        ORDER BY q_bucket
    """,
    doc=(
        "Quality-vs-duplication profile: documents bucketed by the "
        "heuristic quality score (fixed 0.1-wide buckets — a pure "
        "function of the row, deliberately NOT deciles: global "
        "quantile buckets would need a ranking pass, while fixed "
        "buckets are map-only and comparable across corpora and "
        "rounds) crossed with their exact-duplicate group size. The "
        "classic curation insight this audits: boilerplate and spam "
        "cluster in the low-quality buckets AND duplicate heavily, so "
        "dup_rate falling as quality rises is the expected signature — "
        "an inverted profile flags either a broken quality score or a "
        "template-heavy 'high quality' source. Two map-side-combinable "
        "shuffles (fingerprint groups, bucket rollup) plus one "
        "fingerprint join-back."
    ),
    tags=("text", "dedup", "analytics"),
)
def docpipe_quality_dup_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    toks = _tokens(F.col("text"))
    n_tokens = F.size(toks)
    ratio = F.size(F.filter(toks, lambda w: w.isin(*STOPWORDS))) * 1.0 / n_tokens
    quality = (
        F.least(n_tokens, F.lit(100)) / 100.0
        * (0.5 + 0.5 * F.least(ratio, F.lit(0.4)) / 0.4)
    )
    scored = docs.select(
        F.md5(F.lower(_norm(F.col("text")))).alias("fp"),
        quality.alias("quality"),
    )
    grp = scored.groupBy("fp").agg(F.count("*").alias("n_copies"))
    bucketed = scored.join(grp, "fp").select(
        F.least(F.floor(F.col("quality") * 10).cast("int"), F.lit(9)).alias(
            "q_bucket"
        ),
        "n_copies",
    )
    return (
        bucketed.groupBy("q_bucket")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.when(F.col("n_copies") > 1, 1).otherwise(0))
            .cast("long")
            .alias("n_dup_docs"),
            F.round(
                F.sum(F.when(F.col("n_copies") > 1, 1).otherwise(0))
                / F.count("*"),
                4,
            ).alias("dup_rate"),
        )
        .orderBy("q_bucket")
    )


@register(
    "text_longdoc_token_share",
    oracle=f"""
        WITH toks AS (
            -- COALESCE mirrors the Spark side: NULL text = 0 tokens,
            -- so the rank key is total (round-9 convergence)
            SELECT doc_id,
                   CAST(COALESCE(len({_TOKENS.format(x='text')}), 0) AS BIGINT)
                       AS n_tok
            FROM documents
        ),
        ranked AS (
            SELECT n_tok,
                   row_number() OVER (ORDER BY n_tok DESC, doc_id) AS rn
            FROM toks
        ),
        nn AS (
            SELECT CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(n_tok) AS BIGINT) AS total FROM toks
        ),
        sel AS (
            SELECT 1 AS ord, 'top_1pct' AS tier, (n * 1 + 99) // 100 AS k FROM nn
            UNION ALL SELECT 2, 'top_5pct', (n * 5 + 99) // 100 FROM nn
            UNION ALL SELECT 3, 'top_10pct', (n * 10 + 99) // 100 FROM nn
        )
        SELECT sel.ord, sel.tier,
               CAST(sel.k AS BIGINT) AS n_docs,
               CAST(sum(r.n_tok) AS BIGINT) AS tier_tokens,
               CAST(sum(r.n_tok) * 10000 // max(nn.total) AS BIGINT) AS token_share_e4
        FROM sel JOIN ranked r ON r.rn <= sel.k
        CROSS JOIN nn
        GROUP BY sel.ord, sel.tier, sel.k
        ORDER BY sel.ord
    """,
    doc=(
        "Long-document token concentration: what share of corpus "
        "tokens lives in the top 1/5/10 percent longest documents — "
        "the number that decides chunking strategy, packing window, "
        "and whether long-doc truncation silently deletes a large "
        "corpus fraction (heavy-tailed corpora routinely hide 20-40%% "
        "of tokens in the top few percent). Exact by construction: "
        "global rank on (length desc, doc_id) via the cutpoint-"
        "bucketed row number, tier cutoffs k = ceil(p*n/100) in "
        "integer arithmetic, shares in e4 integer division against "
        "the exact token total. Cost: one token-count map, the "
        "three-job ranking pass, one combinable tier aggregate."
    ),
    tags=("text", "window", "agg"),
)
def text_longdoc_token_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    from coviddatapipeline_spark.operators.common import t_fanout
    from coviddatapipeline_spark.operators.ranking import with_global_row_number

    # t_fanout (§C8): the global ranker re-executes this subtree for
    # its cutpoint and counts jobs, so the regex tokenize would
    # otherwise run 3x on however few splits the scan produced.
    toks = t_fanout(spark, sf_dir, "documents").select(
        "doc_id",
        # COALESCE(.., 0): a NULL-text doc has zero tokens — making the
        # rank key total pins the tier boundary identically on both
        # engines (NULL length sorted engine-defined before; round-9
        # convergence, no-op on clean corpora)
        F.coalesce(F.size(_tokens(F.col("text"))), F.lit(0))
        .cast("long")
        .alias("n_tok"),
    )
    # OPTIMIZATION_r13 §6: the ranker's eager cutpoint + counts jobs,
    # its final pass AND the corpus-total aggregate below would run the
    # regex tokenize four times; the checkpoint materializes the narrow
    # (doc_id, n_tok) projection — ints only, never the text — once.
    toks = toks.localCheckpoint(eager=True)
    # rank on NEGATED length (helper ranks ascending on the lead key)
    neg = toks.withColumn("neg_tok", -F.col("n_tok"))
    ranked, n = with_global_row_number(neg, ["neg_tok", "doc_id"], out="rn")
    # corpus total rides along as a broadcast 1-row scalar (house pattern)
    # instead of a driver collect — keeps the whole entry one Catalyst plan.
    total_df = toks.agg(F.sum("n_tok").alias("corpus_total"))
    sel = [
        (1, "top_1pct", (n * 1 + 99) // 100),
        (2, "top_5pct", (n * 5 + 99) // 100),
        (3, "top_10pct", (n * 10 + 99) // 100),
    ]
    sel_df = toks.sparkSession.createDataFrame(sel, "ord int, tier string, k long")
    return (
        F.broadcast(sel_df)
        .join(ranked, ranked.rn <= sel_df.k)
        .groupBy("ord", "tier", "k")
        .agg(F.sum("n_tok").alias("tier_tokens"))
        .crossJoin(F.broadcast(total_df))
        .select(
            "ord",
            "tier",
            F.col("k").alias("n_docs"),
            "tier_tokens",
            F.expr("CAST((tier_tokens * 10000) DIV corpus_total AS BIGINT)").alias(
                "token_share_e4"
            ),
        )
        .orderBy("ord")
    )


# ---------------------------------------------------------------------------
# Vocabulary growth curve (Heaps-law audit)
# ---------------------------------------------------------------------------


@register(
    "text_vocab_growth_curve",
    oracle=f"""
        WITH src AS (
            -- TRY_CAST mirrors the engine (a non-src<N> label groups
            -- under NULL instead of raising); no-op on clean labels.
            SELECT doc_id, TRY_CAST(substr(source, 4) AS INT) AS source_idx,
                   {_TOKENS.format(x="text")} AS toks
            FROM documents
        ),
        pers AS (
            SELECT source_idx,
                   CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(len(toks)) AS BIGINT) AS n_tokens
            FROM src GROUP BY source_idx
        ),
        firsts AS (
            SELECT term, min(source_idx) AS first_idx
            FROM (SELECT source_idx, unnest(toks) AS term FROM src)
            GROUP BY term
        ),
        nw AS (
            SELECT first_idx AS source_idx,
                   CAST(count(*) AS BIGINT) AS new_words
            FROM firsts GROUP BY first_idx
        ),
        joined AS (
            SELECT p.source_idx, p.n_docs, p.n_tokens,
                   CAST(coalesce(nw.new_words, 0) AS BIGINT) AS new_words
            FROM pers p LEFT JOIN nw ON p.source_idx = nw.source_idx
        )
        SELECT source_idx, n_docs, n_tokens, new_words,
               -- NULLS FIRST pins DuckDB to Spark's ASC default so the
               -- NULL-source group (non-src<N> labels) accumulates first
               -- on both engines; no-op when every label parses.
               CAST(sum(new_words) OVER (ORDER BY source_idx NULLS FIRST)
                    AS BIGINT)
                   AS cum_vocab,
               CAST(new_words * 10000 // n_tokens AS BIGINT)
                   AS new_word_rate_e4
        FROM joined
        ORDER BY source_idx
    """,
    doc=(
        "Vocabulary growth curve across sources in ingest order (Heaps "
        "1978, public): each word is attributed to the first source "
        "(minimum source index) that contributes it, and per source the "
        "curve reports documents, tokens, NEW vocabulary, cumulative "
        "vocabulary, and the e4 new-word rate — the saturation signal "
        "that tells a crawl pipeline when another source of the same "
        "kind stops buying vocabulary coverage (and, inverted, flags a "
        "source whose new-word spike means a different domain or "
        "garbage). Two combinable shuffles (per-word min, per-source "
        "counts); the running sum is a window over exactly "
        "|sources| rows — the aggregate table, never the corpus. All "
        "counts exact integers; the rate is integer division."
    ),
    tags=("text", "agg", "corpus"),
)
def text_vocab_growth_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as _W

    docs = t(spark, sf_dir, "documents").select(
        "doc_id",
        # TRY_CAST: a source label that doesn't follow the src<N> naming
        # (inevitable somewhere in a 100 TB crawl manifest) groups under
        # NULL instead of ANSI-aborting the job on the first bad label.
        F.expr("TRY_CAST(substring(source, 4) AS INT)").alias("source_idx"),
        _tokens(F.col("text")).alias("toks"),
    )
    pers = docs.groupBy("source_idx").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.size("toks")).alias("n_tokens"),
    )
    firsts = (
        docs.select("source_idx", F.explode("toks").alias("term"))
        .groupBy("term")
        .agg(F.min("source_idx").alias("first_idx"))
    )
    nw = firsts.groupBy(F.col("first_idx").alias("source_idx")).agg(
        F.count("*").alias("new_words")
    )
    joined = pers.join(nw, "source_idx", "left").select(
        "source_idx",
        F.col("n_docs").cast("long").alias("n_docs"),
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.coalesce(F.col("new_words"), F.lit(0)).cast("long").alias("new_words"),
    )
    # |sources| rows only — the window runs over the aggregate table.
    return joined.select(
        "source_idx",
        "n_docs",
        "n_tokens",
        "new_words",
        F.sum("new_words")
        .over(
            _W.partitionBy(const_key("source_idx"))
            .orderBy("source_idx")
            .rowsBetween(_W.unboundedPreceding, 0)
        )
        .cast("long")
        .alias("cum_vocab"),
        # the NULL-source group can be all-empty docs (n_tokens 0):
        # rate undefined, never a DIVIDE_BY_ZERO abort
        F.expr(
            "CAST(CASE WHEN n_tokens > 0"
            "     THEN new_words * 10000 DIV n_tokens END AS BIGINT)"
        ).alias("new_word_rate_e4"),
    ).orderBy("source_idx")


# ---------------------------------------------------------------------------
# Zipf rank-frequency audit
# ---------------------------------------------------------------------------

ZIPF_TOP = 20


@register(
    "text_zipf_rank_frequency",
    oracle=f"""
        WITH words AS (
            SELECT unnest({_TOKENS.format(x="text")}) AS word FROM documents
        ),
        freq AS (
            SELECT word, CAST(count(*) AS BIGINT) AS freq
            FROM words GROUP BY word
        ),
        ranked AS (
            SELECT word, freq,
                   row_number() OVER (ORDER BY freq DESC, word) AS rank
            FROM freq
        ),
        top1 AS (SELECT freq AS f1 FROM ranked WHERE rank = 1)
        SELECT CAST(r.rank AS BIGINT) AS rank, r.word, r.freq,
               CAST(r.rank * r.freq AS BIGINT) AS rank_x_freq,
               CAST(r.rank * r.freq * 10000 // t.f1 AS BIGINT)
                   AS zipf_const_e4
        FROM ranked r CROSS JOIN top1 t
        WHERE r.rank <= {ZIPF_TOP}
        ORDER BY rank
    """,
    doc=(
        f"Zipf rank-frequency audit (Zipf 1949, public): the top-"
        f"{ZIPF_TOP} words with rank x frequency and its e4 ratio to "
        f"the rank-1 frequency — under Zipf's law the product is "
        f"roughly constant (ratio ~= 10000 at every rank), and the "
        f"deviation profile is the fingerprint that separates natural "
        f"language from template/generated text (flat frequencies -> "
        f"ratio grows linearly with rank, exactly what this synthetic "
        f"corpus shows). One combinable word count; the ranking window "
        f"sees only the vocabulary table; integer products and "
        f"division only."
    ),
    tags=("text", "agg", "corpus"),
)
def text_zipf_rank_frequency(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as _W

    freq = (
        t(spark, sf_dir, "documents")
        .select(F.explode(_tokens(F.col("text"))).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("freq"))
    )
    # distributed TakeOrdered first (the vocabulary is
    # data-proportional; a global ranking window over it would funnel
    # one partition), then a constant-key window over <= ZIPF_TOP rows.
    ranked = (
        freq.orderBy(F.col("freq").desc(), "word")
        .limit(ZIPF_TOP)
        .withColumn(
            "rank",
            F.row_number().over(
                _W.partitionBy(const_key("word")).orderBy(
                    F.col("freq").desc(), "word"
                )
            ),
        )
    )
    top1 = ranked.filter(F.col("rank") == 1).select(F.col("freq").alias("f1"))
    return (
        ranked
        .crossJoin(F.broadcast(top1))
        .select(
            F.col("rank").cast("long").alias("rank"),
            "word",
            F.col("freq").cast("long").alias("freq"),
            (F.col("rank") * F.col("freq")).cast("long").alias("rank_x_freq"),
            F.expr("CAST(rank * freq * 10000 DIV f1 AS BIGINT)").alias(
                "zipf_const_e4"
            ),
        )
        .orderBy("rank")
    )


# ---------------------------------------------------------------------------
# Exact two-sample Kolmogorov-Smirnov drift on document lengths
# ---------------------------------------------------------------------------


@register(
    "text_ks_length_drift",
    oracle="""
        WITH tagged AS (
            SELECT n_chars AS v,
                   CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS is_en
            FROM documents
        ),
        tot AS (
            SELECT CAST(sum(is_en) AS BIGINT) AS n1,
                   CAST(sum(1 - is_en) AS BIGINT) AS n2
            FROM tagged
        ),
        per_v AS (
            SELECT v, CAST(sum(is_en) AS BIGINT) AS c1,
                   CAST(sum(1 - is_en) AS BIGINT) AS c2
            FROM tagged GROUP BY v
        ),
        cum AS (
            SELECT v,
                   sum(c1) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS f1,
                   sum(c2) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS f2
            FROM per_v
        ),
        scored AS (
            SELECT v, abs(f1 * t.n2 - f2 * t.n1) AS d_num, t.n1, t.n2,
                   row_number() OVER (ORDER BY abs(f1 * t.n2 - f2 * t.n1) DESC,
                                      v) AS rk
            FROM cum CROSS JOIN tot t
        )
        SELECT n1 AS n_en, n2 AS n_other,
               CAST(d_num * 10000 // (n1 * n2) AS BIGINT) AS ks_e4,
               CAST(v AS BIGINT) AS at_value
        FROM scored WHERE rk = 1
    """,
    doc=(
        "EXACT two-sample Kolmogorov-Smirnov distance between the "
        "English and non-English document-length distributions: D = "
        "max_v |F1(v) - F2(v)| computed as integer |c1*n2 - c2*n1| over "
        "the common denominator n1*n2 — no empirical-CDF floats, no "
        "interpolation, the supremum and its location (smallest "
        "attaining value) are deterministic on both engines. The "
        "distribution-drift test that needs no binning choice, used to "
        "gate 'did this source change shape' before subtler stats; "
        "complements the binned KL entries. One combinable (value, "
        "group) count; the cumulative window runs over the DISTINCT-"
        "length table, bounded by the length range, never the corpus."
    ),
    tags=("text", "stats", "corpus"),
)
def text_ks_length_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as _W

    tagged = t(spark, sf_dir, "documents").select(
        F.col("n_chars").alias("v"),
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("is_en"),
    )
    tot = tagged.agg(
        F.sum("is_en").alias("n1"), F.sum(1 - F.col("is_en")).alias("n2")
    )
    per_v = tagged.groupBy("v").agg(
        F.sum("is_en").alias("c1"), F.sum(1 - F.col("is_en")).alias("c2")
    )
    # constant-key global windows: per_v is per-distinct-score-value
    # aggregates (a bounded integer value domain), never the doc table
    w = _W.partitionBy(const_key("v")).orderBy("v").rowsBetween(
        _W.unboundedPreceding, 0
    )
    cum = per_v.select(
        "v", F.sum("c1").over(w).alias("f1"), F.sum("c2").over(w).alias("f2")
    )
    scored = cum.crossJoin(F.broadcast(tot)).withColumn(
        "d_num", F.abs(F.col("f1") * F.col("n2") - F.col("f2") * F.col("n1"))
    )
    top = scored.withColumn(
        "rk",
        F.row_number().over(
            _W.partitionBy(const_key("v")).orderBy(F.col("d_num").desc(), "v")
        ),
    ).filter(F.col("rk") == 1)
    return top.select(
        F.col("n1").cast("long").alias("n_en"),
        F.col("n2").cast("long").alias("n_other"),
        F.expr("CAST(d_num * 10000 DIV (n1 * n2) AS BIGINT)").alias("ks_e4"),
        F.col("v").cast("long").alias("at_value"),
    )


# ---------------------------------------------------------------------------
# BPE merge-candidate counting (first tokenizer-training iteration)
# ---------------------------------------------------------------------------

BPE_TOP = 20


@register(
    "text_bpe_merge_candidates",
    oracle=f"""
        WITH words AS (
            SELECT unnest({_TOKENS.format(x="text")}) AS w FROM documents
        ),
        pairs AS (
            SELECT substr(w, i, 2) AS pair
            FROM words,
                 unnest(generate_series(1, len(w) - 1)) AS u(i)
            WHERE len(w) >= 2
        ),
        counts AS (
            SELECT pair, CAST(count(*) AS BIGINT) AS freq
            FROM pairs GROUP BY pair
        ),
        tot AS (SELECT CAST(sum(freq) AS BIGINT) AS total FROM counts)
        SELECT CAST(row_number() OVER (ORDER BY c.freq DESC, c.pair)
                    AS BIGINT) AS rank,
               c.pair, c.freq,
               CAST(c.freq * 10000 // t.total AS BIGINT) AS share_e4
        FROM counts c CROSS JOIN tot t
        QUALIFY rank <= {BPE_TOP}
        ORDER BY rank
    """,
    doc=(
        f"The first byte-pair-encoding merge iteration (Sennrich et "
        f"al. 2016, public; the statistic BPE tokenizer training "
        f"maximizes each round): adjacent character pairs within every "
        f"word, counted corpus-wide — the top-{BPE_TOP} candidates "
        f"with e4 corpus share are what the first merge rule would "
        f"learn, and the share profile says how fast the vocabulary "
        f"will saturate. The pair explode is per-word character "
        f"adjacency (substr over an index sequence — JVM column math, "
        f"no UDF), the count is one combinable shuffle over the "
        f"pair-vocabulary key space (bounded by alphabet^2, tiny), "
        f"and the ranking window sees only that vocabulary. At a real "
        f"training run this exact shape iterates: count, take the "
        f"argmax, rewrite, repeat — each round the same one-shuffle "
        f"plan; complements the BPE token-count ESTIMATE entry, which "
        f"consumes a trained vocabulary instead of building one."
    ),
    tags=("text", "agg", "corpus"),
)
def text_bpe_merge_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as _W

    words = t(spark, sf_dir, "documents").select(
        F.explode(_tokens(F.col("text"))).alias("w")
    )
    pairs = (
        words.filter(F.length("w") >= 2)
        .select(
            F.explode(
                F.sequence(F.lit(1), F.length("w") - 1)
            ).alias("i"),
            "w",
        )
        .select(F.substring(F.col("w"), F.col("i").cast("int"), 2).alias("pair"))
    )
    counts = pairs.groupBy("pair").agg(F.count("*").alias("freq"))
    tot = counts.agg(F.sum("freq").alias("total"))
    return (
        counts.crossJoin(F.broadcast(tot))
        .withColumn(
            "rank",
            # constant-key global window: char-pair cardinality is
            # alphabet^2-bounded
            F.row_number()
            .over(_W.partitionBy(const_key("pair")).orderBy(F.col("freq").desc(), "pair"))
            .cast("long"),
        )
        .filter(F.col("rank") <= BPE_TOP)
        .select(
            "rank",
            "pair",
            F.col("freq").cast("long").alias("freq"),
            F.expr("CAST(freq * 10000 DIV total AS BIGINT)").alias("share_e4"),
        )
        .orderBy("rank")
    )


# ---------------------------------------------------------------------------
# BPE tokenizer APPLY: encode words with a mined merge table
# ---------------------------------------------------------------------------

BPE_MERGES = 4  # merge-table size (priority = corpus pair frequency)
BPE_TOPK = 20  # words reported with their encodings


def _bpe_chars_sql(x: str) -> str:
    """DuckDB: split ``x`` into a list of code-point characters."""
    return (
        f"list_transform(generate_series(1, length({x})),"
        f" i -> substr({x}, CAST(i AS INTEGER), 1))"
    )


def _bpe_fold_sql(s: str, ma: str, mb: str) -> str:
    """DuckDB: one left-fold merge pass of rule (ma, mb) over symbol
    list ``s`` — the exact mirror of the Spark fold in
    text_bpe_tokenize_apply (same greedy left-to-right semantics:
    'aaa' under (a,a) becomes [aa, a])."""
    return (
        f"list_reduce(list_transform({s}, x -> [x]),"
        f" (a, b) -> CASE WHEN a[-1] = {ma} AND b[1] = {mb}"
        f" THEN list_concat(a[1:len(a) - 1], [a[-1] || b[1]])"
        f" ELSE list_concat(a, b) END)"
    )


def _bpe_oracle() -> str:
    merge_cols = ", ".join(
        f"(SELECT {c} FROM merges WHERE r = {k}) AS m{k}{c}"
        for k in range(1, BPE_MERGES + 1)
        for c in ("a", "b")
    )
    s = "s"
    folds = []
    for k in range(1, BPE_MERGES + 1):
        folds.append(
            f"f{k} AS (SELECT rank, word, n_occ, "
            f"{_bpe_fold_sql(s, f'm.m{k}a', f'm.m{k}b')} AS s "
            f"FROM f{k - 1}, m)"
        )
        s = "s"
    return f"""
        WITH wf AS (
            SELECT word, CAST(count(*) AS BIGINT) AS n_occ
            FROM (SELECT unnest({_TOKENS.format(x="text")}) AS word
                  FROM documents WHERE text IS NOT NULL)
            WHERE word <> ''
            GROUP BY word
        ),
        syms AS (
            SELECT word, n_occ, {_bpe_chars_sql("word")} AS s FROM wf
        ),
        pairs AS (
            SELECT s[CAST(u.i AS INTEGER)] AS a,
                   s[CAST(u.i AS INTEGER) + 1] AS b, n_occ
            FROM syms, unnest(generate_series(1, len(s) - 1)) AS u(i)
        ),
        merges AS (
            SELECT a, b,
                   row_number() OVER (ORDER BY sum(n_occ) DESC, a, b) AS r
            FROM pairs GROUP BY a, b
        ),
        m AS (SELECT {merge_cols}),
        top AS (
            SELECT word, n_occ,
                   row_number() OVER (ORDER BY n_occ DESC, word) AS rank
            FROM wf QUALIFY rank <= {BPE_TOPK}
        ),
        f0 AS (
            SELECT rank, word, n_occ, {_bpe_chars_sql("word")} AS s FROM top
        ),
        {", ".join(folds)}
        SELECT CAST(rank AS BIGINT) AS rank, word, n_occ,
               CAST(length(word) AS BIGINT) AS n_chars,
               CAST(len(s) AS BIGINT) AS n_tokens,
               array_to_string(s, ' ') AS enc
        FROM f{BPE_MERGES}
        ORDER BY rank
    """


def _bpe_chars(col: str) -> Column:
    """Code-point split (sequence + substring mirrors DuckDB's
    generate_series + substr exactly, astral-safe on both). Shared by
    the BPE apply and train entries."""
    return F.expr(
        f"transform(sequence(1, length({col})), i -> substring({col}, i, 1))"
    )


def _bpe_fold(s_col: Column, ma: Column, mb: Column) -> Column:
    """One greedy left-to-right merge pass of rule (ma, mb) — the exact
    Spark twin of _bpe_fold_sql ('aaa' under (a,a) -> [aa, a]). Shared
    by the BPE apply and train entries."""
    return F.aggregate(
        F.transform(s_col, lambda x: F.array(x)),
        F.array().cast("array<string>"),
        lambda acc, b: F.when(F.size(acc) == 0, b).otherwise(
            F.when(
                (F.element_at(acc, -1) == ma) & (F.element_at(b, 1) == mb),
                F.concat(
                    F.slice(acc, 1, F.size(acc) - 1),
                    F.array(F.concat(F.element_at(acc, -1), F.element_at(b, 1))),
                ),
            ).otherwise(F.concat(acc, b))
        ),
    )


def _bpe_word_freqs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(word, n_occ) vocabulary with corpus frequencies — the training
    corpus representation both BPE entries start from."""
    docs = t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    return (
        docs.select(F.explode(_tokens(F.col("text"))).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count("*").alias("n_occ"))
    )



@register(
    "text_bpe_tokenize_apply",
    oracle=_bpe_oracle(),
    doc=(
        "BPE tokenizer APPLY (Sennrich et al. 2016, public — the "
        "inference-time half that text_bpe_merge_candidates' mining is "
        f"the training half of): mine a {BPE_MERGES}-rule merge table "
        "(top adjacent code-point pairs by occurrence-weighted corpus "
        "frequency, ties by pair), then ENCODE the top-"
        f"{BPE_TOPK} words by applying the merges in priority order as "
        "greedy left-to-right folds over the symbol sequence ('aaa' "
        "under rule (a,a) -> [aa, a]) — reporting per word the token "
        "count and the exact encoding. The simplification vs full BPE "
        "training is documented: the table is mined in ONE pass (real "
        "BPE recounts pairs after each merge), but the APPLY mechanics "
        "— ordered rules, greedy folds, symbols built by earlier "
        "merges — are the production tokenizer shape, byte-exact "
        "cross-engine (both engines left-fold the identical CASE). "
        "Scale: pair mining is one explode + map-side-combinable "
        "groupBy (pair cardinality is alphabet-squared-bounded, so the "
        "ranking window is metadata-sized); folds run only on the "
        f"{BPE_TOPK} reported words. A 100 TB tokenizer-apply over the "
        "full corpus is the same fold as a broadcast merge-table "
        "column expression — linear, shuffle-free."
    ),
    tags=("text", "datapipe"),
)
def text_bpe_tokenize_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    wf = _bpe_word_freqs(spark, sf_dir)
    chars = _bpe_chars

    syms = wf.select("word", "n_occ", chars("word").alias("s"))
    # adjacent pairs with in-word multiplicity, weighted by word
    # frequency; the size>1 guard avoids Spark's DESCENDING
    # sequence(1, 0) on single-char words (DuckDB's is empty)
    pairs = (
        syms.filter(F.size("s") > 1)
        .select(
            "n_occ",
            "s",
            F.explode(F.sequence(F.lit(1), F.size("s") - 1)).alias("i"),
        )
        .select(
            F.element_at("s", F.col("i")).alias("a"),
            F.element_at("s", F.col("i") + 1).alias("b"),
            "n_occ",
        )
    )
    # merge table: pair cardinality is alphabet^2-bounded, so this
    # unpartitioned ranking window is metadata-sized by construction
    merges = (
        pairs.groupBy("a", "b")
        .agg(F.sum("n_occ").alias("w"))
        .withColumn(
            "r",
            F.row_number().over(
                W.partitionBy(const_key("a")).orderBy(F.col("w").desc(), "a", "b")
            ),
        )
        .filter(F.col("r") <= BPE_MERGES)
    )
    mrow = merges.groupBy().agg(
        *[
            F.max(F.when(F.col("r") == k, F.col(c))).alias(f"m{k}{c}")
            for k in range(1, BPE_MERGES + 1)
            for c in ("a", "b")
        ]
    )
    top = (
        wf.orderBy(F.col("n_occ").desc(), "word")
        .limit(BPE_TOPK)
        .withColumn(
            # constant-key global window over the <= BPE_TOPK limit() rows
            "rank",
            F.row_number().over(
                W.partitionBy(const_key("word")).orderBy(
                    F.col("n_occ").desc(), "word"
                )
            ),
        )
    )

    fold = _bpe_fold

    enc = top.crossJoin(F.broadcast(mrow)).withColumn("s", chars("word"))
    for k in range(1, BPE_MERGES + 1):
        enc = enc.withColumn(
            "s", fold(F.col("s"), F.col(f"m{k}a"), F.col(f"m{k}b"))
        )
    return enc.select(
        F.col("rank").cast("long").alias("rank"),
        "word",
        F.col("n_occ").cast("long").alias("n_occ"),
        F.length("word").cast("long").alias("n_chars"),
        F.size("s").cast("long").alias("n_tokens"),
        F.concat_ws(" ", "s").alias("enc"),
    ).orderBy("rank")


# ---------------------------------------------------------------------------
# BPE tokenizer TRAIN: the real iterative pair-count -> merge loop
# ---------------------------------------------------------------------------

BPE_TRAIN_MERGES = 5  # learned merge rules (rounds of the train loop)


def _bpe_train_ctes() -> tuple[list[str], list[str]]:
    """Shared unrolled-CTE replay of the iterative trainer: per round
    k, pair counts over the POST-merge-(k-1) symbol sequences, the
    argmax rule (ties by (a, b)), and the greedy fold producing round
    k's sequences — the Lloyd/perceptron house pattern of exact-
    integer loop replay in SQL. Returns (cte_parts, per_round_selects)
    so both the trainer oracle and the trained-encode oracle replay
    the IDENTICAL loop."""
    parts = [
        f"""wf AS (
            SELECT word, CAST(count(*) AS BIGINT) AS n_occ
            FROM (SELECT unnest({_TOKENS.format(x="text")}) AS word
                  FROM documents WHERE text IS NOT NULL)
            WHERE word <> ''
            GROUP BY word
        )""",
        f"s0 AS (SELECT word, n_occ, {_bpe_chars_sql('word')} AS s FROM wf)",
    ]
    selects = []
    for k in range(1, BPE_TRAIN_MERGES + 1):
        parts.append(
            f"""p{k} AS (
            SELECT s[CAST(u.i AS INTEGER)] AS a,
                   s[CAST(u.i AS INTEGER) + 1] AS b,
                   CAST(sum(n_occ) AS BIGINT) AS cnt
            FROM s{k - 1}, unnest(generate_series(1, len(s) - 1)) AS u(i)
            GROUP BY 1, 2
        )"""
        )
        parts.append(
            f"m{k} AS (SELECT a, b, cnt FROM p{k} ORDER BY cnt DESC, a, b LIMIT 1)"
        )
        parts.append(
            f"s{k} AS (SELECT word, n_occ, {_bpe_fold_sql('s', 'm.a', 'm.b')} AS s "
            f"FROM s{k - 1}, m{k} m)"
        )
        selects.append(
            f"SELECT {k} AS step, m.a, m.b, m.cnt AS pair_count, "
            f"(SELECT CAST(sum(n_occ * len(s)) AS BIGINT) FROM s{k}) "
            f"AS tokens_after FROM m{k} m"
        )
    return parts, selects


def _bpe_train_oracle() -> str:
    parts, selects = _bpe_train_ctes()
    return (
        "WITH "
        + ",\n".join(parts)
        + "\nSELECT CAST(step AS BIGINT) AS step, a, b, pair_count, tokens_after"
        + " FROM (" + " UNION ALL ".join(selects) + ") ORDER BY step"
    )


def bpe_train_rounds(wf: DataFrame) -> list[tuple[int, str, str, int, Column]]:
    """The iterative train loop over a (word, n_occ) frame: per round,
    the argmax adjacent pair over the CURRENT symbol sequences, then
    the greedy merge fold. Returns one (round, a, b, count,
    post-merge symbol Column) tuple per learned rule. Shared by the
    trainer entry (which reports the compression curve) and the
    trained-encode entry (which applies the learned table) so the two
    cannot drift."""
    s = _bpe_chars("word")
    rounds: list[tuple[int, str, str, int, Column]] = []
    for k in range(1, BPE_TRAIN_MERGES + 1):
        syms = wf.select("n_occ", s.alias("s"))
        pairs = (
            # size>1 guard: Spark's sequence(1, 0) is DESCENDING, not
            # empty like DuckDB's generate_series (module convention)
            syms.filter(F.size("s") > 1)
            .select(
                "n_occ",
                "s",
                F.explode(F.sequence(F.lit(1), F.size("s") - 1)).alias("i"),
            )
            .select(
                F.element_at("s", F.col("i")).alias("a"),
                F.element_at("s", F.col("i") + 1).alias("b"),
                "n_occ",
            )
        )
        best = (
            pairs.groupBy("a", "b")
            .agg(F.sum("n_occ").alias("cnt"))
            .orderBy(F.col("cnt").desc(), "a", "b")
            .limit(1)
            # model state: ONE (a, b, count) row per round — the
            # allowlisted train-loop collect (test_driver_discipline)
            .collect()
        )
        if not best:
            break
        r = best[0]
        s = _bpe_fold(s, F.lit(r["a"]), F.lit(r["b"]))
        rounds.append((k, r["a"], r["b"], int(r["cnt"]), s))
    return rounds


@register(
    "text_bpe_train",
    oracle=_bpe_train_oracle(),
    doc=(
        f"BPE tokenizer TRAIN (Sennrich et al. 2016, public) — the real "
        f"iterative loop text_bpe_tokenize_apply's one-pass mining "
        f"approximates: {BPE_TRAIN_MERGES} rounds of corpus-wide "
        f"adjacent-pair counting over the CURRENT symbol sequences, "
        f"argmax rule selection (occurrence-weighted, ties by pair), "
        f"and a greedy left-to-right merge fold rewriting every word "
        f"before the next count — so rule k's statistics see the "
        f"vocabulary AS COMPRESSED BY rules 1..k-1, which one-pass "
        f"mining cannot. Per round the output reports the learned rule, "
        f"its pair count, and the post-merge corpus token total (the "
        f"compression curve a tokenizer training run monitors). Model "
        f"state on the driver is one (a, b, count) row per round — the "
        f"Lloyd/perceptron train-loop pattern; each round is one "
        f"map-side-combinable pair-count shuffle (key space bounded by "
        f"the merged-symbol vocabulary) plus a JVM-side fold, no UDF "
        f"anywhere. The oracle replays every round as unrolled CTEs "
        f"with identical integer arithmetic and tie-breaks. Pairs with "
        f"IVF (train/apply) and the perceptron (train/apply) as the "
        f"third learned-model family."
    ),
    tags=("text", "iterative", "corpus"),
)
def text_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    # persisted like the Lloyd/perceptron feature frames: every round's
    # pair count AND every tokens_after agg re-reads the vocabulary,
    # so without the persist the trainer re-tokenizes documents ~2x
    # per round (measured 16s -> ~6s at sf0.1). The returned plan
    # reads it, so it stays persisted (km_train_centroids precedent;
    # Spark evicts LRU under pressure).
    wf = _bpe_word_freqs(spark, sf_dir).persist()
    rounds = bpe_train_rounds(wf)
    if not rounds:
        return spark.createDataFrame(
            [], "step long, a string, b string, pair_count long, tokens_after long"
        )
    step_dfs = [
        wf.agg(
            F.sum(F.col("n_occ") * F.size(s)).cast("long").alias("tokens_after")
        ).select(
            F.lit(k).cast("long").alias("step"),
            F.lit(a).alias("a"),
            F.lit(b).alias("b"),
            F.lit(cnt).cast("long").alias("pair_count"),
            "tokens_after",
        )
        for (k, a, b, cnt, s) in rounds
    ]
    out = step_dfs[0]
    for d in step_dfs[1:]:
        out = out.unionByName(d)
    return out.orderBy("step")


def _bpe_train_encode_oracle() -> str:
    parts, _ = _bpe_train_ctes()
    merge_cols = ", ".join(
        f"(SELECT a FROM m{k}) AS m{k}a, (SELECT b FROM m{k}) AS m{k}b"
        for k in range(1, BPE_TRAIN_MERGES + 1)
    )
    folds = []
    for k in range(1, BPE_TRAIN_MERGES + 1):
        folds.append(
            f"f{k} AS (SELECT rank, word, n_occ, "
            f"{_bpe_fold_sql('s', f'm.m{k}a', f'm.m{k}b')} AS s "
            f"FROM f{k - 1}, m)"
        )
    parts = parts + [
        f"m AS (SELECT {merge_cols})",
        f"""top AS (
            SELECT word, n_occ,
                   row_number() OVER (ORDER BY n_occ DESC, word) AS rank
            FROM wf QUALIFY rank <= {BPE_TOPK}
        )""",
        f"f0 AS (SELECT rank, word, n_occ, {_bpe_chars_sql('word')} AS s FROM top)",
        *folds,
    ]
    return (
        "WITH "
        + ",\n".join(parts)
        + f"""
        SELECT CAST(rank AS BIGINT) AS rank, word, n_occ,
               CAST(length(word) AS BIGINT) AS n_chars,
               CAST(len(s) AS BIGINT) AS n_tokens,
               array_to_string(s, ' ') AS enc
        FROM f{BPE_TRAIN_MERGES}
        ORDER BY rank
    """
    )


@register(
    "text_bpe_train_encode",
    oracle=_bpe_train_encode_oracle(),
    doc=(
        f"TRAIN -> APPLY composition: encode the top-{BPE_TOPK} words "
        f"with the merge table the ITERATIVE trainer learned "
        f"(bpe_train_rounds — the same loop text_bpe_train audits, "
        f"shared code so the audited model and the serving model "
        f"cannot drift), in rule-priority order as greedy left-to-"
        f"right folds. This differs from text_bpe_tokenize_apply, "
        f"whose table is mined in one pass: here rule k was selected "
        f"AGAINST the vocabulary as compressed by rules 1..k-1, so "
        f"composed rules like (a,b)->ab then (ab,c)->abc can appear — "
        f"the production tokenizer-training story end-to-end. The "
        f"oracle chains the trainer's unrolled round CTEs straight "
        f"into the fold chain, so one hash certifies training AND "
        f"encoding. Scale: training cost is the trainer entry's; "
        f"encoding folds run on the {BPE_TOPK} reported words (a full-"
        f"corpus encode is the same broadcast-table column expression, "
        f"map-only)."
    ),
    tags=("text", "iterative", "datapipe"),
)
def text_bpe_train_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    wf = _bpe_word_freqs(spark, sf_dir).persist()
    rounds = bpe_train_rounds(wf)
    top = (
        wf.orderBy(F.col("n_occ").desc(), "word")
        .limit(BPE_TOPK)
        .withColumn(
            # constant-key global window over the <= BPE_TOPK limit() rows
            "rank",
            F.row_number().over(
                W.partitionBy(const_key("word")).orderBy(
                    F.col("n_occ").desc(), "word"
                )
            ),
        )
    )
    s = _bpe_chars("word")
    for _k, a, b, _cnt, _s in rounds:
        s = _bpe_fold(s, F.lit(a), F.lit(b))
    return top.select(
        F.col("rank").cast("long").alias("rank"),
        "word",
        F.col("n_occ").cast("long").alias("n_occ"),
        F.length("word").cast("long").alias("n_chars"),
        F.size(s).cast("long").alias("n_tokens"),
        F.concat_ws(" ", s).alias("enc"),
    ).orderBy("rank")


# --- HTML main-content extraction -------------------------------------------
#
# The Common-Crawl-shaped op: web-archive text arrives wrapped in
# markup, and the FIRST pipeline stage is boilerplate-strip + main-text
# extraction (what trafilatura/jusText do with a DOM; at 100 TB the
# cheap regex pass below is the pre-filter that runs on everything,
# with DOM parsing reserved for pages that survive). The testdata has
# no HTML column, so each document is wrapped in a deterministic page
# template (head/title/style/script/nav/footer chrome around the text
# in a <p> island) IN THE QUERY on both engines — the extraction chain
# then has to recover exactly the original main text, dropping every
# chrome block. Entity decode is ordered the standard way: &lt;/&gt;
# AFTER tag stripping (a decoded '<' must not create fake tags),
# &amp; LAST (no double-decode).
#
# Everything is JVM-side regexp/replace column algebra — no UDF, no
# shuffle, whole-stage-codegen'd; the oracle runs the IDENTICAL chain
# in DuckDB (patterns restricted to the Java-regex ∩ RE2 common
# subset: no backreferences, inline (?s) only, ASCII \s per the
# module-wide _NORM contract).

# The page template itself lives in operators/common.py (a fingerprint
# SALT module) because the WARC container entry (operators/multimodal.py)
# wraps the same template into its HTTP payloads — a shared constant in
# a salted module re-gates every consumer's sweep stamp on edit, exactly
# like the other cross-module kernels.
from coviddatapipeline_spark.operators.common import HTML_POST as _HTML_POST
from coviddatapipeline_spark.operators.common import HTML_PRE as _HTML_PRE

# (pattern, replacement) chain shared verbatim by both engines.
# head is dropped wholesale FIRST (title text is chrome, not content);
# script/style keep their own rules because real pages embed them in
# the body too.
_HTML_STRIP_CHAIN = (
    (r"(?s)<head[^>]*>.*?</head>", " "),
    (r"(?s)<script[^>]*>.*?</script>", " "),
    (r"(?s)<style[^>]*>.*?</style>", " "),
    (r"(?s)<nav[^>]*>.*?</nav>", " "),
    (r"(?s)<footer[^>]*>.*?</footer>", " "),
    (r"<[^>]*>", " "),
)


def _html_oracle() -> str:
    pre = _HTML_PRE.replace("'", "''")
    post = _HTML_POST.replace("'", "''")
    x = f"'{pre}' || text || '{post}'"
    for pat, rep in _HTML_STRIP_CHAIN:
        p = pat.replace("\\", "\\\\").replace("'", "''")
        x = f"regexp_replace({x}, '{p}', '{rep}', 'g')"
    x = f"replace(replace(replace({x}, '&lt;', '<'), '&gt;', '>'), '&amp;', '&')"
    x = f"trim(regexp_replace({x}, '{WS_RE}', ' ', 'g'))"
    return f"""
        WITH ext AS (
            SELECT doc_id,
                   '{pre}' || text || '{post}' AS page,
                   {x} AS main_text
            FROM documents
        )
        SELECT doc_id,
               octet_length(encode(page)) AS n_raw_bytes,
               length(main_text) AS n_text_chars,
               CASE WHEN main_text IS NULL OR main_text = '' THEN 0
                    ELSE len(string_split(main_text, ' ')) END AS n_tokens,
               md5(main_text) AS main_md5,
               CASE WHEN page IS NULL THEN NULL
                    ELSE length(main_text) * 10000 // length(page) END
                   AS content_ratio_e4
        FROM ext
        ORDER BY doc_id
    """


@register(
    "text_html_extract",
    oracle=_html_oracle(),
    doc=(
        "HTML boilerplate-strip / main-text extraction — the first "
        "stage of a web-crawl training-data pipeline: each document is "
        "wrapped in a deterministic page template (title/style/script/"
        "nav/footer chrome with hostile content — a script containing "
        "literal < and > operators, entity-encoded footer text) and "
        "the extraction chain must recover exactly the original main "
        "text: dotall block removal for script/style/nav/footer, tag "
        "stripping, spec-ordered entity decode (&lt;/&gt; after tags, "
        "&amp; last), whitespace collapse. The md5 of the recovered "
        "text cross-engine-certifies the whole chain. Pure JVM-side "
        "regexp column algebra — no UDF, no shuffle, map-only at any "
        "scale; patterns are restricted to the Java-regex/RE2 common "
        "subset (no backreferences) so the oracle runs the identical "
        "chain."
    ),
    tags=("text",),
)
def text_html_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    return html_extract_report(docs)


def html_main_text(page: Column) -> Column:
    """The extraction chain as a reusable Column: strip chain + spec-
    ordered entity decode + whitespace collapse. Shared verbatim by
    the registered batch entry and the streaming ingest twin
    (pipeline/streaming.py) so audit and ingest cannot drift."""
    x = page
    for pat, rep in _HTML_STRIP_CHAIN:
        x = F.regexp_replace(x, pat, rep)
    x = F.replace(x, F.lit("&lt;"), F.lit("<"))
    x = F.replace(x, F.lit("&gt;"), F.lit(">"))
    x = F.replace(x, F.lit("&amp;"), F.lit("&"))
    return F.trim(F.regexp_replace(x, WS_RE, " "))


def html_extract_report(docs: DataFrame) -> DataFrame:
    """(doc_id, text, ...) -> per-doc extraction report. Unordered —
    callers sort (the batch entry) or append as-is (the twin)."""
    page = F.concat(F.lit(_HTML_PRE), F.col("text"), F.lit(_HTML_POST))
    main = html_main_text(page)
    return docs.select("doc_id", page.alias("page"), main.alias("main_text")).select(
        "doc_id",
        F.octet_length("page").cast("long").alias("n_raw_bytes"),
        F.length("main_text").cast("long").alias("n_text_chars"),
        F.when(
            F.col("main_text").isNull() | (F.col("main_text") == ""),
            F.lit(0),
        )
        .otherwise(F.size(F.split("main_text", " ")))
        .cast("long")
        .alias("n_tokens"),
        F.md5(F.encode("main_text", "UTF-8")).alias("main_md5"),
        F.when(F.col("page").isNull(), F.lit(None).cast("long"))
        .otherwise(
            (F.length("main_text") * 10000 / F.length("page")).cast("long")
        )
        .alias("content_ratio_e4"),
    )


# ---------------------------------------------------------------------------
# Unigram-LM tokenizer TRAIN + ENCODE (SentencePiece-style, Kudo 2018)
# ---------------------------------------------------------------------------
#
# The fourth train/apply family (VERDICT r09 #7), sibling of BPE/IVF/
# perceptron. Published shape: seed a substring inventory, iterate
# E-step (segment the word-frequency table under current piece scores)
# / M-step (re-estimate scores from the segmentations) / PRUNE (drop
# the weakest pieces), then encode with the trained vocabulary. The
# documented exact-integer surrogate (the DSIR move — libm log last-ulp
# differences are a standing cross-engine tie risk): hard-EM (Viterbi
# counts, the standard EM variant) under the objective
#   minimize n_pieces, tie-break maximize sum of integer piece counts,
#   tie-break lexicographically smallest encoding
# instead of the published log-likelihood — every quantity stays int64
# and the DP is exactly replayable by full segmentation enumeration in
# SQL (recursive CTE), so one hash certifies seed + all EM rounds +
# prune + encode. Singles are never pruned (segmentation totality, as
# in SentencePiece's required-character set).

UNI_ROUNDS = 3        # hard-EM iterations
UNI_SEED_MULTI = 24   # seeded multi-char pieces (top by weighted count)
UNI_PRUNE_STEP = 4    # multi-char pieces dropped per round
UNI_PIECE_MAX = 4     # max piece length (SentencePiece max_piece_length)
UNI_MAX_WLEN = 16     # training-table word-length cap (standard filter)
UNI_TOPK = 20         # words reported by the encode entry


def _uni_wf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(word, n_occ) training table: the BPE word-frequency contract
    plus the word-length cap."""
    return _bpe_word_freqs(spark, sf_dir).filter(
        F.length("word") <= UNI_MAX_WLEN
    )


def _uni_wf_from(docs: DataFrame) -> DataFrame:
    """The same (word, n_occ) length-capped training table over an
    arbitrary documents frame (the coverage audit trains on the 80%
    split only)."""
    return (
        docs.filter(F.col("text").isNotNull())
        .select(F.explode(_tokens(F.col("text"))).alias("word"))
        .filter((F.col("word") != "") & (F.length("word") <= UNI_MAX_WLEN))
        .groupBy("word")
        .agg(F.count("*").alias("n_occ"))
    )


def _uni_wf_sql(doc_where: str = "") -> str:
    """DuckDB twin of _uni_wf_from; ``doc_where`` adds a document-level
    predicate (the coverage audit's train split)."""
    return f"""(
    SELECT word, CAST(count(*) AS BIGINT) AS n_occ
    FROM (SELECT unnest({_TOKENS.format(x="text")}) AS word
          FROM documents WHERE text IS NOT NULL{doc_where})
    WHERE word <> '' AND length(word) <= {UNI_MAX_WLEN}
    GROUP BY word
)"""


# 80/20 doc split for the held-out coverage audit; the explicit
# ((x % 10) + 10) % 10 form mirrors Spark's pmod on negative ids
_UNI_TRAIN_WHERE = " AND ((doc_id % 10) + 10) % 10 < 8"
_UNI_EVAL_SQL_PRED = "((doc_id % 10) + 10) % 10 >= 8"


def _uni_best_seg(word_col, vocab: dict[str, int]) -> Column:
    """struct(np, negsc, enc) of the best segmentation of ``word_col``
    into ``vocab`` pieces under (min pieces, max count sum, min enc) —
    an exact-integer Viterbi DP in pure column algebra: one
    ``aggregate`` over character positions, each step taking the
    struct-min over the <= UNI_PIECE_MAX candidate back-extensions
    (struct field order IS the objective's lexicographic order). The
    vocabulary rides along as a broadcast map literal — model state,
    not data — so a full-corpus encode is a map-only column expression
    with no shuffle and no UDF. Scale qualifier: the literal map is an
    O(|vocab|) expression tree serialized into every task, so this
    shape is right at AUDIT-scale vocabularies (the ~30–50 pieces
    these entries train); at a production 64k–256k-piece vocab, plan
    size/codegen become the bottleneck before data does — the serving
    path there is :func:`uni_best_seg_arrow` (same objective, vocab as
    a SparkContext broadcast inside an Arrow kernel, O(1) plan size;
    certified equal by text_unigram_encode_arrow's shared oracle,
    probed at 16k pieces in SCALE.md §21). DP validity:
    all three objective components are prefix-additive, and equal
    (position, np) states have equal enc length, so per-position
    struct-min is exactly the global enumeration optimum (the oracle
    enumerates and must agree)."""
    # OPTIMIZATION_r12 §C3 (guide §7.3 plan-build time): the DP used to
    # be assembled as a Python Column tree — ~80 py4j round-trips, a
    # measured ~0.27 s of driver time PER TRAINER ROUND on the bench
    # host. It is now ONE JVM-side parse of a static SQL template that
    # spells out the identical expressions (the per-candidate CASE
    # guards, named_struct fields, array_min/filter fold, element_at
    # finish — see the semantic comments inline in the template). The
    # vocabulary still rides along as a broadcast map literal: the
    # pieces are injected base64-encoded (the base64 alphabet is
    # SQL-safe for ANY corpus string, no quote/backslash escaping to
    # get wrong), each key as its OWN ``CAST(unbase64('..') AS STRING)``
    # call. Per-key form matters (ADVICE r12, OPTIMIZATION_r13 §1): a
    # ``transform(split(...), x -> ...)`` chain is a higher-order
    # function and HOFs are never foldable in Catalyst, so that form
    # was re-building the map O(|vocab|) at RUNTIME per candidate per
    # character per distinct word; with lambda-free children the whole
    # map_from_arrays(array(..unbase64..), array(..)) chain constant-
    # folds to the one map literal create_map used to produce, and the
    # executed plan carries a folded O(1)-lookup literal again —
    # tests/test_optimization_r13.py::test_uni_vocab_map_is_folded_literal
    # pins this on the optimized plan.
    import base64 as _b64

    assert isinstance(word_col, str), "callers pass the column name"
    w = f"`{word_col}`"
    pieces = sorted(vocab)
    if pieces:
        keys = ", ".join(
            "CAST(unbase64('"
            + _b64.b64encode(p.encode("utf-8")).decode("ascii")
            + "') AS STRING)"
            for p in pieces
        )
        vals = ", ".join(f"{int(vocab[p])}L" for p in pieces)
        m = f"map_from_arrays(array({keys}), array({vals}))"
    else:
        m = (
            "map_from_arrays(CAST(array() AS ARRAY<STRING>), "
            "CAST(array() AS ARRAY<BIGINT>))"
        )

    def cand(length: int) -> str:
        # piece = the <=UNI_PIECE_MAX-char back-extension ending at i;
        # guarded index: the CASE arm only evaluates when i >= length,
        # greatest() keeps the index ANSI-valid on the dead branch.
        piece = f"substring({w}, i - {length} + 1, {length})"
        prev = f"element_at(acc, greatest(i - {length} + 1, 1))"
        # prev.np IS NOT NULL: an unreachable prefix state is a NULL
        # struct (array_min of no candidates) — without this guard its
        # null FIELDS would build a struct(null,..) candidate that
        # array_min sorts FIRST, beating real segmentations. Training
        # words are always fully reachable (their singles are in the
        # vocab by construction); the guard makes the DP total on
        # arbitrary words (the coverage audit's OOV case returns a
        # clean NULL struct instead).
        #
        # separator is a SPACE: words come from whitespace-splitting
        # (WS_RE), so no piece can contain one — the encoding is
        # unambiguous and the M-step's split-and-count is exact. ('|'
        # would be ambiguous: a corpus token may itself contain '|'.)
        return (
            f"CASE WHEN (i >= {length}) "
            f"AND (try_element_at({m}, {piece}) IS NOT NULL) "
            f"AND ({prev}.np IS NOT NULL) THEN named_struct("
            f"'np', {prev}.np + 1, "
            f"'negsc', {prev}.negsc - try_element_at({m}, {piece}), "
            f"'enc', CASE WHEN {prev}.np = 0 THEN {piece} "
            f"ELSE concat({prev}.enc, ' ', {piece}) END) END"
        )

    cands = ", ".join(cand(ln) for ln in range(1, UNI_PIECE_MAX + 1))
    return F.expr(
        f"aggregate(sequence(1, length({w})), "
        f"array(named_struct('np', 0, 'negsc', CAST(0 AS BIGINT), 'enc', '')), "
        f"(acc, i) -> concat(acc, array(array_min(filter(array({cands}), "
        f"x -> x IS NOT NULL)))), "
        f"acc -> element_at(acc, -1))"
    )


def unigram_train_rounds(
    wf: DataFrame,
) -> list[
    tuple[int, dict[str, int], dict[str, int], set[str], int, str | None, int | None]
]:
    """The hard-EM train loop over a (word, n_occ) frame. Returns one
    (round, pre-round vocab, post-prune vocab, post-prune multi set,
    vocab_size, top_piece, top_count) tuple per round (the pre-round
    vocab lets the trainer entry recompute the round's E-step stats
    in-plan instead of collecting them); shared by the trainer entry
    (which reports the compression curve) and the encode entry (which
    applies the final vocabulary) so the audited model and the serving
    model cannot drift. Driver state per round is the piece vocabulary
    itself — <= |alphabet| + UNI_SEED_MULTI rows of (piece, count),
    bounded model state like the Lloyd centroids (the two collect()
    sites below are allowlisted in test_driver_discipline)."""
    pos = wf.select(
        "word",
        "n_occ",
        F.explode(F.sequence(F.lit(1), F.length("word"))).alias("i"),
    )
    singles = (
        pos.select(F.substring("word", F.col("i"), F.lit(1)).alias("piece"), "n_occ")
        .groupBy("piece")
        .agg(F.sum("n_occ").alias("cnt"))
        .select("piece", "cnt", F.lit(False).alias("multi"))
    )
    multi_parts = [
        pos.filter(F.col("i") + F.lit(ln - 1) <= F.length("word")).select(
            F.substring("word", F.col("i"), F.lit(ln)).alias("piece"), "n_occ"
        )
        for ln in range(2, UNI_PIECE_MAX + 1)
    ]
    mall = multi_parts[0]
    for p in multi_parts[1:]:
        mall = mall.unionByName(p)
    multis = (
        mall.groupBy("piece")
        .agg(F.sum("n_occ").alias("cnt"))
        .orderBy(F.col("cnt").desc(), "piece")
        .limit(UNI_SEED_MULTI)
        .select("piece", "cnt", F.lit(True).alias("multi"))
    )
    # model state: alphabet + seeded multi-char pieces with counts
    seed = singles.unionByName(multis).collect()
    vocab = {r["piece"]: int(r["cnt"]) for r in seed}
    multi_set = {r["piece"] for r in seed if r["multi"]}

    rounds: list[
        tuple[int, dict[str, int], dict[str, int], set[str], int, str | None, int | None]
    ] = []
    for k in range(1, UNI_ROUNDS + 1):
        if not vocab:
            break
        vocab_before = dict(vocab)
        seg = wf.withColumn("dp", _uni_best_seg("word", vocab))
        counts_rows = (
            seg.select(
                "n_occ", F.explode(F.split(F.col("dp")["enc"], " ")).alias("piece")
            )
            .groupBy("piece")
            .agg(F.sum("n_occ").alias("cnt"))
            # model state: round-k piece usage, <= |vocab| rows
            .collect()
        )
        counts = {r["piece"]: int(r["cnt"]) for r in counts_rows}
        ranked_multis = sorted(
            multi_set, key=lambda p: (-counts.get(p, 0), p)
        )
        top_piece = ranked_multis[0] if ranked_multis else None
        top_count = counts.get(top_piece, 0) if ranked_multis else None
        keep = ranked_multis[: max(UNI_SEED_MULTI - UNI_PRUNE_STEP * k, 0)]
        vocab = {p: counts.get(p, 0) for p in vocab if p not in multi_set}
        vocab.update({p: counts.get(p, 0) for p in keep})
        multi_set = set(keep)
        rounds.append(
            (k, vocab_before, dict(vocab), set(multi_set), len(vocab), top_piece, top_count)
        )
    return rounds


def _uni_ctes(doc_where: str = "") -> list[str]:
    """Unrolled-CTE replay of the hard-EM trainer (the Lloyd /
    perceptron / BPE house pattern): seed inventory, then per round k a
    RECURSIVE full segmentation enumeration under vocab k-1 (every
    composition of the word into vocab pieces — the DP's optimum is the
    enumeration's (np ASC, sc DESC, enc ASC) head, proven equivalent in
    _uni_best_seg's docstring), best-per-word, usage re-count, and the
    prune. Shared by the trainer and encode oracles so both replay the
    IDENTICAL loop."""
    parts = [
        f"wfu AS MATERIALIZED {_uni_wf_sql(doc_where)}",
        """ua0 AS MATERIALIZED (
            SELECT piece, CAST(sum(n_occ) AS BIGINT) AS cnt
            FROM (SELECT substr(word, CAST(u.i AS INTEGER), 1) AS piece, n_occ
                  FROM wfu,
                       unnest(generate_series(1, length(word))) AS u(i))
            GROUP BY piece
        )""",
        f"""umseed AS MATERIALIZED (
            SELECT piece, cnt FROM (
                SELECT piece, cnt,
                       row_number() OVER (ORDER BY cnt DESC, piece) AS r
                FROM (SELECT piece, CAST(sum(n_occ) AS BIGINT) AS cnt
                      FROM (SELECT substr(word, CAST(u.i AS INTEGER),
                                          CAST(l.l AS INTEGER)) AS piece,
                                   n_occ
                            FROM wfu,
                                 unnest(generate_series(1, length(word))) AS u(i),
                                 (VALUES {', '.join(f'({ln})' for ln in range(2, UNI_PIECE_MAX + 1))}) AS l(l)
                            WHERE u.i + l.l - 1 <= length(word))
                      GROUP BY piece))
            WHERE r <= {UNI_SEED_MULTI}
        )""",
        """uv0 AS MATERIALIZED (
            SELECT piece, cnt, false AS multi FROM ua0
            UNION ALL SELECT piece, cnt, true AS multi FROM umseed
        )""",
    ]
    for k in range(1, UNI_ROUNDS + 1):
        parts.append(
            f"""useg{k} AS (
            SELECT word, n_occ, CAST(0 AS BIGINT) AS pos,
                   0 AS np, CAST(0 AS BIGINT) AS sc, '' AS enc
            FROM wfu
            UNION ALL
            SELECT s.word, s.n_occ, s.pos + length(v.piece), s.np + 1,
                   s.sc + v.cnt,
                   CASE WHEN s.np = 0 THEN v.piece
                        ELSE s.enc || ' ' || v.piece END
            FROM useg{k} s JOIN uv{k - 1} v
              ON substr(s.word, CAST(s.pos + 1 AS INTEGER),
                        length(v.piece)) = v.piece
            WHERE s.pos < length(s.word)
        )"""
        )
        parts.append(
            f"""ubest{k} AS MATERIALIZED (
            SELECT word, n_occ, np, sc, enc FROM (
                SELECT *, row_number() OVER (
                    PARTITION BY word ORDER BY np, sc DESC, enc) AS r
                FROM useg{k} WHERE pos = length(word))
            WHERE r = 1
        )"""
        )
        parts.append(
            f"""uc{k} AS MATERIALIZED (
            SELECT piece, CAST(sum(n_occ) AS BIGINT) AS cnt
            FROM (SELECT unnest(string_split(enc, ' ')) AS piece, n_occ
                  FROM ubest{k})
            GROUP BY piece
        )"""
        )
        parts.append(
            f"""um{k} AS MATERIALIZED (
            SELECT m.piece, COALESCE(c.cnt, 0) AS cnt,
                   row_number() OVER (
                       ORDER BY COALESCE(c.cnt, 0) DESC, m.piece) AS r
            FROM uv{k - 1} m LEFT JOIN uc{k} c USING (piece)
            WHERE m.multi
        )"""
        )
        parts.append(
            f"""uv{k} AS MATERIALIZED (
            SELECT a.piece, COALESCE(c.cnt, 0) AS cnt, false AS multi
            FROM uv{k - 1} a LEFT JOIN uc{k} c USING (piece)
            WHERE NOT a.multi
            UNION ALL
            SELECT piece, cnt, true AS multi FROM um{k}
            WHERE r <= {max(UNI_SEED_MULTI - UNI_PRUNE_STEP * k, 0)}
        )"""
        )
    return parts


def _uni_train_oracle() -> str:
    selects = [
        f"""SELECT CAST({k} AS BIGINT) AS step,
            (SELECT CAST(count(*) AS BIGINT) FROM uv{k}) AS vocab_size,
            (SELECT CAST(sum(n_occ * np) AS BIGINT) FROM ubest{k})
                AS corpus_pieces,
            (SELECT CAST(sum(n_occ * sc) AS BIGINT) FROM ubest{k})
                AS corpus_score,
            (SELECT piece FROM um{k} WHERE r = 1) AS top_piece,
            (SELECT cnt FROM um{k} WHERE r = 1) AS top_count"""
        for k in range(1, UNI_ROUNDS + 1)
    ]
    return (
        "WITH RECURSIVE "
        + ",\n".join(_uni_ctes())
        + "\nSELECT * FROM (" + " UNION ALL ".join(selects) + ") ORDER BY step"
    )


@register(
    "text_unigram_train",
    oracle=_uni_train_oracle(),
    doc=(
        f"Unigram-LM tokenizer TRAIN (Kudo 2018; the SentencePiece "
        f"default — the fourth train/apply family after IVF, the "
        f"perceptron, and BPE): seed the top-{UNI_SEED_MULTI} "
        f"multi-char substrings (len 2..{UNI_PIECE_MAX}, occurrence-"
        f"weighted) over the length-capped word-frequency table plus "
        f"the full single-char alphabet, then {UNI_ROUNDS} hard-EM "
        f"rounds: E-step = exact-integer Viterbi segmentation of every "
        f"word under current piece counts (min pieces, tie max count "
        f"sum, tie lexicographic — the documented integer surrogate "
        f"for the published log-likelihood, chosen because libm log "
        f"is a standing cross-engine tie risk), M-step = piece-usage "
        f"re-count, PRUNE = drop the {UNI_PRUNE_STEP} weakest "
        f"multi-char pieces (singles never pruned — SentencePiece's "
        f"required-character totality). Per round the output reports "
        f"vocab size, the corpus piece total (the compression curve), "
        f"the corpus score, and the strongest multi-char piece. "
        f"Scale: the E-step is a map-only column DP under a broadcast "
        f"vocab literal (model state, <= alphabet+{UNI_SEED_MULTI} "
        f"rows on the driver per round — the Lloyd pattern); the "
        f"M-step is one map-side-combinable groupBy per round; no UDF "
        f"anywhere. The oracle replays seed, every round's "
        f"segmentation (full recursive enumeration), re-count, and "
        f"prune as unrolled CTEs with identical integer tie-breaks."
    ),
    tags=("text", "iterative", "corpus"),
)
def text_unigram_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    # persisted for the same reason as the BPE trainer: every round's
    # E-step and the per-round stats aggs re-read the vocabulary
    wf = _uni_wf(spark, sf_dir).persist()
    rounds = unigram_train_rounds(wf)
    if not rounds:
        # fully degenerate corpus (no trainable word): the oracle's
        # per-round scalar subqueries still emit one row per round —
        # count(*) over the empty vocab is 0, the sums/arg-tops are
        # NULL — so mirror that shape instead of returning 0 rows
        return spark.createDataFrame(
            [(k, 0, None, None, None, None) for k in range(1, UNI_ROUNDS + 1)],
            "step long, vocab_size long, corpus_pieces long, "
            "corpus_score long, top_piece string, top_count long",
        )
    step_dfs = []
    for (k, vocab_before, _vocab, _multis, vsize, top_piece, top_count) in rounds:
        dp = _uni_best_seg("word", vocab_before)
        step_dfs.append(
            wf.select("n_occ", dp.alias("dp")).agg(
                F.sum(F.col("n_occ") * F.col("dp")["np"])
                .cast("long")
                .alias("corpus_pieces"),
                F.sum(F.col("n_occ") * -F.col("dp")["negsc"])
                .cast("long")
                .alias("corpus_score"),
            ).select(
                F.lit(k).cast("long").alias("step"),
                F.lit(vsize).cast("long").alias("vocab_size"),
                "corpus_pieces",
                "corpus_score",
                F.lit(top_piece).cast("string").alias("top_piece"),
                F.lit(top_count).cast("long").alias("top_count"),
            )
        )
    out = step_dfs[0]
    for d in step_dfs[1:]:
        out = out.unionByName(d)
    return out.orderBy("step")


def _uni_encode_oracle() -> str:
    r = UNI_ROUNDS
    parts = _uni_ctes() + [
        f"""utop AS MATERIALIZED (
            SELECT word, n_occ,
                   row_number() OVER (ORDER BY n_occ DESC, word) AS rank
            FROM wfu QUALIFY rank <= {UNI_TOPK}
        )""",
        f"""usege AS (
            SELECT word, CAST(0 AS BIGINT) AS pos, 0 AS np,
                   CAST(0 AS BIGINT) AS sc, '' AS enc
            FROM utop
            UNION ALL
            SELECT s.word, s.pos + length(v.piece), s.np + 1, s.sc + v.cnt,
                   CASE WHEN s.np = 0 THEN v.piece
                        ELSE s.enc || ' ' || v.piece END
            FROM usege s JOIN uv{r} v
              ON substr(s.word, CAST(s.pos + 1 AS INTEGER),
                        length(v.piece)) = v.piece
            WHERE s.pos < length(s.word)
        )""",
        """ubeste AS MATERIALIZED (
            SELECT word, np, sc, enc FROM (
                SELECT *, row_number() OVER (
                    PARTITION BY word ORDER BY np, sc DESC, enc) AS r
                FROM usege WHERE pos = length(word))
            WHERE r = 1
        )""",
    ]
    return (
        "WITH RECURSIVE "
        + ",\n".join(parts)
        + """
        SELECT CAST(t.rank AS BIGINT) AS rank, t.word, t.n_occ,
               CAST(length(t.word) AS BIGINT) AS n_chars,
               CAST(b.np AS BIGINT) AS n_pieces,
               CAST(b.sc AS BIGINT) AS score, b.enc AS enc
        FROM utop t JOIN ubeste b USING (word)
        ORDER BY rank
    """
    )


@register(
    "text_unigram_encode",
    oracle=_uni_encode_oracle(),
    doc=(
        f"Unigram-LM TRAIN -> ENCODE composition: segment the "
        f"top-{UNI_TOPK} words with the vocabulary the hard-EM trainer "
        f"learned (unigram_train_rounds — the same loop "
        f"text_unigram_train audits, shared code so the audited model "
        f"and the serving model cannot drift), reporting per word the "
        f"piece count, the integer score, and the exact segmentation. "
        f"The oracle chains the trainer's unrolled round CTEs straight "
        f"into a final recursive segmentation under the post-round-"
        f"{UNI_ROUNDS} vocabulary, so one hash certifies seeding, all "
        f"EM rounds, pruning, AND encoding. Scale: encoding is the "
        f"same broadcast-vocab column DP as the E-step — map-only, "
        f"shuffle-free, linear; a 100 TB corpus encode is this exact "
        f"expression over every document."
    ),
    tags=("text", "iterative", "datapipe"),
)
def text_unigram_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    wf = _uni_wf(spark, sf_dir).persist()
    rounds = unigram_train_rounds(wf)
    if not rounds:
        return spark.createDataFrame(
            [],
            "rank long, word string, n_occ long, n_chars long, "
            "n_pieces long, score long, enc string",
        )
    final_vocab = rounds[-1][2]
    top = (
        wf.orderBy(F.col("n_occ").desc(), "word")
        .limit(UNI_TOPK)
        .withColumn(
            # constant-key global window over the <= UNI_TOPK limit() rows
            "rank",
            F.row_number().over(
                W.partitionBy(const_key("word")).orderBy(
                    F.col("n_occ").desc(), "word"
                )
            ),
        )
    )
    dp = _uni_best_seg("word", final_vocab)
    return top.select(
        F.col("rank").cast("long").alias("rank"),
        "word",
        F.col("n_occ").cast("long").alias("n_occ"),
        F.length("word").cast("long").alias("n_chars"),
        dp["np"].cast("long").alias("n_pieces"),
        (-dp["negsc"]).cast("long").alias("score"),
        dp["enc"].alias("enc"),
    ).orderBy("rank")


def uni_best_seg_arrow(spark: SparkSession, vocab: dict[str, int]):
    """PRODUCTION-VOCAB twin of :func:`_uni_best_seg`: the identical
    exact-integer Viterbi objective (min pieces, tie max count sum,
    tie lexicographic enc — Python tuple-min on (np, negsc, enc)
    equals Spark's struct-min because UTF-8 byte order preserves code
    points), but the vocabulary travels as a **SparkContext broadcast
    read inside an Arrow-batched pandas UDF** instead of a
    ``create_map`` plan literal.

    Why two shapes: the column-DP literal is ideal at audit scale
    (whole-stage-codegen'd, zero Python), but the literal map is an
    O(|vocab|) expression tree evaluated into every task binary — at a
    production 64k–256k-piece vocabulary, PLAN size and codegen become
    the bottleneck before data does. Here the vocab ships once per
    executor via the broadcast manager (O(1) plan size), and the DP
    runs per Arrow batch in a dict-lookup loop — still map-only,
    shuffle-free, linear in corpus chars, embarrassingly parallel.
    Measured crossover and 16k-vocab probe rows: SCALE.md §21.

    Returns a callable mapping a word Column to the
    struct<np:int,negsc:bigint,enc:string> result. OOV asymmetry vs
    the column DP: an uncoverable word yields a struct with NULL
    FIELDS (Arrow struct columns cannot carry a row-level NULL), so
    consumers test ``dp.np IS NULL``, not ``dp IS NULL``.
    """
    bc = spark.sparkContext.broadcast(vocab)
    piece_max = UNI_PIECE_MAX

    # nested so the kernel pickles by value (workers need not import
    # the package from their cwd — see tests/test_driver_discipline)
    @F.pandas_udf(_UNI_DP_TYPE)
    def seg(words: pd.Series) -> pd.DataFrame:
        v = bc.value
        nps, negs, encs = [], [], []
        for w in words:
            if w is None:
                nps.append(None); negs.append(None); encs.append(None)
                continue
            n = len(w)
            dp: list[tuple[int, int, str] | None] = [None] * (n + 1)
            dp[0] = (0, 0, "")
            for i in range(1, n + 1):
                best = None
                for ln in range(1, min(piece_max, i) + 1):
                    prev = dp[i - ln]
                    if prev is None:
                        continue
                    piece = w[i - ln : i]
                    cnt = v.get(piece)
                    if cnt is None:
                        continue
                    cand = (
                        prev[0] + 1,
                        prev[1] - cnt,
                        piece if prev[0] == 0 else prev[2] + " " + piece,
                    )
                    if best is None or cand < best:
                        best = cand
                dp[i] = best
            r = dp[n]
            if r is None:
                nps.append(None); negs.append(None); encs.append(None)
            else:
                nps.append(r[0]); negs.append(r[1]); encs.append(r[2])
        return pd.DataFrame({"np": nps, "negsc": negs, "enc": encs})

    return seg


@register(
    "text_unigram_encode_arrow",
    oracle=_uni_encode_oracle(),
    doc=(
        f"Unigram-LM encode on the PRODUCTION-VOCAB physical path: the "
        f"same trained vocabulary and the same top-{UNI_TOPK} word "
        f"report as text_unigram_encode, but segmented by "
        f"uni_best_seg_arrow — an Arrow-batched pandas kernel reading "
        f"the vocab from a SparkContext broadcast — instead of the "
        f"create_map column DP. Registered against the IDENTICAL "
        f"oracle, so one hash certifies that the audit-scale plan "
        f"(literal map, whole-stage codegen) and the 64k+-vocab "
        f"serving plan (O(1) plan size, broadcast model state) compute "
        f"the same exact-integer objective. Scale: map-only and "
        f"shuffle-free like the column DP; the broadcast ships the "
        f"vocab once per executor rather than into every task's "
        f"serialized plan — the shape that survives a 256k-piece "
        f"production tokenizer (probe at 16k pieces: SCALE.md §21)."
    ),
    tags=("text", "iterative", "datapipe", "arrow"),
)
def text_unigram_encode_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    wf = _uni_wf(spark, sf_dir).persist()
    rounds = unigram_train_rounds(wf)
    if not rounds:
        return spark.createDataFrame(
            [],
            "rank long, word string, n_occ long, n_chars long, "
            "n_pieces long, score long, enc string",
        )
    final_vocab = rounds[-1][2]
    top = (
        wf.orderBy(F.col("n_occ").desc(), "word")
        .limit(UNI_TOPK)
        .withColumn(
            "rank",
            F.row_number().over(
                W.partitionBy(const_key("word")).orderBy(
                    F.col("n_occ").desc(), "word"
                )
            ),
        )
    )
    seg = uni_best_seg_arrow(spark, final_vocab)
    return (
        top.withColumn("dp", seg(F.col("word")))
        .select(
            F.col("rank").cast("long").alias("rank"),
            "word",
            F.col("n_occ").cast("long").alias("n_occ"),
            F.length("word").cast("long").alias("n_chars"),
            F.col("dp")["np"].cast("long").alias("n_pieces"),
            (-F.col("dp")["negsc"]).cast("long").alias("score"),
            F.col("dp")["enc"].alias("enc"),
        )
        .orderBy("rank")
    )


def _uni_coverage_oracle() -> str:
    r = UNI_ROUNDS
    parts = _uni_ctes(_UNI_TRAIN_WHERE) + [
        f"""lw AS MATERIALIZED (
            SELECT lang, word, CAST(count(*) AS BIGINT) AS n_occ
            FROM (SELECT lang, unnest({_TOKENS.format(x="text")}) AS word
                  FROM documents
                  WHERE text IS NOT NULL AND {_UNI_EVAL_SQL_PRED})
            WHERE word <> ''
            GROUP BY lang, word
        )""",
        f"""dw AS MATERIALIZED (
            SELECT DISTINCT word FROM lw WHERE length(word) <= {UNI_MAX_WLEN}
        )""",
        f"""segc AS (
            SELECT word, CAST(0 AS BIGINT) AS pos, 0 AS np FROM dw
            UNION ALL
            SELECT s.word, s.pos + length(v.piece), s.np + 1
            FROM segc s JOIN uv{r} v
              ON substr(s.word, CAST(s.pos + 1 AS INTEGER),
                        length(v.piece)) = v.piece
            WHERE s.pos < length(s.word)
        )""",
        """bw AS MATERIALIZED (
            SELECT word, min(np) AS np
            FROM segc WHERE pos = length(word) GROUP BY word
        )""",
    ]
    return (
        "WITH RECURSIVE "
        + ",\n".join(parts)
        + f"""
        SELECT l.lang,
               CAST(sum(l.n_occ) AS BIGINT) AS n_word_occ,
               CAST(sum(CASE WHEN length(l.word) > {UNI_MAX_WLEN}
                             THEN l.n_occ ELSE 0 END) AS BIGINT) AS long_occ,
               CAST(sum(CASE WHEN length(l.word) <= {UNI_MAX_WLEN}
                                  AND b.np IS NULL
                             THEN l.n_occ ELSE 0 END) AS BIGINT) AS oov_occ,
               CAST(sum(CASE WHEN b.np IS NOT NULL
                             THEN l.n_occ ELSE 0 END) AS BIGINT) AS covered_occ,
               CAST(sum(CASE WHEN b.np IS NULL THEN l.n_occ ELSE 0 END)
                    * 1000000 // sum(l.n_occ) AS BIGINT) AS oov_ppm,
               CASE WHEN sum(CASE WHEN b.np IS NOT NULL
                                  THEN l.n_occ * length(l.word)
                                  ELSE 0 END) > 0
                    THEN CAST(sum(CASE WHEN b.np IS NOT NULL
                                       THEN l.n_occ * b.np ELSE 0 END) * 10000
                              // sum(CASE WHEN b.np IS NOT NULL
                                          THEN l.n_occ * length(l.word)
                                          ELSE 0 END) AS BIGINT)
               END AS pieces_per_10k_chars
        FROM lw l LEFT JOIN bw b USING (word)
        GROUP BY l.lang
    """
    )


_UNI_DP_TYPE = "struct<np:int,negsc:bigint,enc:string>"


@register(
    "text_unigram_vocab_coverage",
    oracle=_uni_coverage_oracle(),
    doc=(
        f"Held-out trained-vocabulary coverage audit (the production "
        f"check every tokenizer-training run ends with): TRAIN on the "
        f"80%% document split (pmod(doc_id, 10) < 8), then segment the "
        f"HELD-OUT 20%% split's word table — per language, no "
        f"training-side length cap — with the vocabulary the "
        f"unigram-LM hard-EM trainer learned (unigram_train_rounds, "
        f"shared verbatim with the train/encode entries) and report "
        f"per lang the occurrence-weighted OOV "
        f"rate in exact ppm plus the covered-word compression "
        f"(pieces per 10k chars, exact integer division). A word is "
        f"OOV when no vocab-piece composition covers it (a character "
        f"outside the trained alphabet) or when it exceeds the "
        f"{UNI_MAX_WLEN}-char audit cap (counted separately as "
        f"long_occ; the cap bounds the oracle's enumeration — the "
        f"engine DP is linear and needs no cap, the documented "
        f"asymmetry). Scale: one groupBy to the (lang, word) table, "
        f"then the broadcast-vocab map-only column DP and one "
        f"map-side-combinable per-lang agg; the oracle chains the "
        f"trainer's unrolled EM CTEs into a final recursive "
        f"segmentation, so one hash certifies training AND the "
        f"coverage numbers."
    ),
    tags=("text", "datapipe", "iterative"),
)
def text_unigram_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    wf_train = _uni_wf_from(
        docs.filter(F.pmod(F.col("doc_id"), F.lit(10)) < 8)
    ).persist()
    rounds = unigram_train_rounds(wf_train)
    vocab = rounds[-1][2] if rounds else {}
    held = docs.filter(
        F.col("text").isNotNull() & (F.pmod(F.col("doc_id"), F.lit(10)) >= 8)
    )
    lw = (
        held.select("lang", F.explode(_tokens(F.col("text"))).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("lang", "word")
        .agg(F.count("*").alias("n_occ"))
    )
    if vocab:
        dp_raw = _uni_best_seg("word", vocab)
    else:
        # empty training vocabulary (every corpus word over-cap or no
        # corpus): nothing is segmentable
        dp_raw = F.lit(None).cast(_UNI_DP_TYPE)
    is_long = F.length("word") > UNI_MAX_WLEN
    seg = lw.withColumn(
        "dp", F.when(is_long, F.lit(None).cast(_UNI_DP_TYPE)).otherwise(dp_raw)
    )
    covered = F.col("dp").isNotNull()
    zero = F.lit(0).cast("long")
    return seg.groupBy("lang").agg(
        F.sum("n_occ").cast("long").alias("n_word_occ"),
        F.sum(F.when(F.length("word") > UNI_MAX_WLEN, F.col("n_occ")).otherwise(zero))
        .cast("long")
        .alias("long_occ"),
        F.sum(
            F.when(
                (F.length("word") <= UNI_MAX_WLEN) & ~covered, F.col("n_occ")
            ).otherwise(zero)
        )
        .cast("long")
        .alias("oov_occ"),
        F.sum(F.when(covered, F.col("n_occ")).otherwise(zero))
        .cast("long")
        .alias("covered_occ"),
        F.expr(
            "CAST(sum(CASE WHEN dp IS NULL THEN n_occ ELSE 0L END) * 1000000"
            " DIV sum(n_occ) AS BIGINT)"
        ).alias("oov_ppm"),
        F.expr(
            "CASE WHEN sum(CASE WHEN dp IS NOT NULL"
            "               THEN n_occ * length(word) ELSE 0L END) > 0"
            " THEN CAST(sum(CASE WHEN dp IS NOT NULL"
            "               THEN n_occ * CAST(dp.np AS BIGINT) ELSE 0L END)"
            "           * 10000"
            "      DIV sum(CASE WHEN dp IS NOT NULL"
            "               THEN n_occ * length(word) ELSE 0L END) AS BIGINT)"
            " END"
        ).alias("pieces_per_10k_chars"),
    )


# ---------------------------------------------------------------------------
# Trained-tokenizer admission guardrail: the train/serve COVERAGE twin
# ---------------------------------------------------------------------------

UNI_ADMIT_OOV_PPM = 50_000    # reject a doc when >5% of its words are OOV
UNI_ADMIT_COST_P10K = 7_800   # ...or it compresses worse than this under
                              # the trained model (pieces per 10k chars —
                              # the integer "perplexity spike" signal)


def uni_admission_report(docs: DataFrame, vocab: dict[str, int]) -> DataFrame:
    """Per-document admission verdict under a trained unigram
    vocabulary — the production guardrail a curation pipeline runs on
    ARRIVING data: segment every word with the frozen model and admit
    the doc only if (a) its OOV rate stays under
    ``UNI_ADMIT_OOV_PPM`` (words the model cannot cover — alphabet
    drift, wrong language, binary junk) and (b) its covered words
    compress at most ``UNI_ADMIT_COST_P10K`` pieces per 10k chars
    (distribution shift away from what the model was trained on — the
    exact-integer surrogate for a perplexity filter). Words over the
    ``UNI_MAX_WLEN`` audit cap count as uncoverable, mirroring
    text_unigram_vocab_coverage's semantics.

    Shared verbatim by the registered batch audit
    (text_unigram_oov_admission) and the arrival-path twin
    (pipeline.streaming.stream_unigram_admission), so the audited gate
    and the serving gate cannot drift. Scale (OPTIMIZATION_r12 §C7):
    the Viterbi DP runs once per DISTINCT word — the oracle's own abw
    shape — not once per word occurrence: occurrences collapse to a
    (doc, source, word, n_occ) frame first, the segmented distinct-word
    table joins back by word, and the per-doc aggregates weight by
    n_occ (exact integers, so the totals equal the per-occurrence
    sums). Before this the DP — the expensive expression — also ran
    map-side on however few splits the scan produced; the distinct's
    exchange now spreads it across cores (measured 10.8 s -> ~1.6 s at
    sf0.1). No UDF, no driver state.

    Scope notes (VERDICT/ADVICE r11): ``UNI_ADMIT_OOV_PPM`` and
    ``UNI_ADMIT_COST_P10K`` are audit-scale constants calibrated so the
    thresholds split the testdata documents non-vacuously at every SF;
    a production pipeline re-derives them from a held-out split (e.g.
    a chosen quantile of the held-out cost_p10k / oov_ppm
    distributions), they are not universal defaults. Documents whose
    text is NULL or contains no words emit NO verdict row — word-free
    docs are out of the gate's domain and must be rejected upstream
    (e.g. by a min-length filter); the oracle drops them identically,
    so batch/stream/oracle parity is unaffected.
    """
    words = (
        docs.filter(F.col("text").isNotNull())
        .select("doc_id", "source", F.explode(_tokens(F.col("text"))).alias("word"))
        .filter(F.col("word") != "")
    )
    dwo = words.groupBy("doc_id", "source", "word").agg(
        F.count("*").cast("long").alias("n_occ")
    )
    if vocab:
        dp_raw = _uni_best_seg("word", vocab)
    else:
        dp_raw = F.lit(None).cast(_UNI_DP_TYPE)
    is_long = F.length("word") > UNI_MAX_WLEN
    # DP once per distinct word, behind the distinct's exchange
    uw_dp = (
        dwo.select("word")
        .distinct()
        .withColumn(
            "dp", F.when(is_long, F.lit(None).cast(_UNI_DP_TYPE)).otherwise(dp_raw)
        )
    )
    seg = dwo.join(uw_dp, "word")
    zero = F.lit(0).cast("long")
    per_doc = seg.groupBy("doc_id", "source").agg(
        F.sum("n_occ").cast("long").alias("n_word_occ"),
        F.sum(F.when(F.col("dp").isNull(), F.col("n_occ")).otherwise(zero))
        .cast("long")
        .alias("bad_occ"),
        F.sum(
            F.when(
                F.col("dp").isNotNull(),
                F.col("dp")["np"].cast("long") * F.col("n_occ"),
            ).otherwise(zero)
        ).alias("_pieces"),
        F.sum(
            F.when(
                F.col("dp").isNotNull(),
                F.length("word").cast("long") * F.col("n_occ"),
            ).otherwise(zero)
        ).alias("_chars"),
    )
    return per_doc.select(
        "doc_id",
        "source",
        "n_word_occ",
        "bad_occ",
        F.expr("bad_occ * 1000000 DIV n_word_occ").alias("oov_ppm"),
        F.expr(
            "CASE WHEN _chars > 0 THEN _pieces * 10000 DIV _chars END"
        ).alias("cost_p10k"),
        # The cost conjunct divides inside the same CASE guard the
        # cost_p10k column uses (ADVICE r11): under ANSI mode a
        # reordered/eagerly-evaluated conjunct would otherwise raise
        # DIVIDE_BY_ZERO on an all-OOV doc (_chars = 0) — exactly the
        # input this gate exists to reject. Truth table is unchanged:
        # _chars = 0 gives FALSE AND NULL = FALSE.
        F.expr(
            f"bad_occ * 1000000 DIV n_word_occ <= {UNI_ADMIT_OOV_PPM}"
            f" AND _chars > 0"
            f" AND CASE WHEN _chars > 0 THEN _pieces * 10000 DIV _chars END"
            f"     <= {UNI_ADMIT_COST_P10K}"
        ).alias("admitted"),
    )


def _uni_admission_oracle() -> str:
    r = UNI_ROUNDS
    parts = _uni_ctes(_UNI_TRAIN_WHERE) + [
        f"""dwo AS MATERIALIZED (
            SELECT doc_id, source, word, CAST(count(*) AS BIGINT) AS n_occ
            FROM (SELECT doc_id, source,
                         unnest({_TOKENS.format(x="text")}) AS word
                  FROM documents
                  WHERE text IS NOT NULL AND {_UNI_EVAL_SQL_PRED})
            WHERE word <> ''
            GROUP BY doc_id, source, word
        )""",
        f"""adw AS MATERIALIZED (
            SELECT DISTINCT word FROM dwo WHERE length(word) <= {UNI_MAX_WLEN}
        )""",
        f"""asegc AS (
            SELECT word, CAST(0 AS BIGINT) AS pos, 0 AS np FROM adw
            UNION ALL
            SELECT s.word, s.pos + length(v.piece), s.np + 1
            FROM asegc s JOIN uv{r} v
              ON substr(s.word, CAST(s.pos + 1 AS INTEGER),
                        length(v.piece)) = v.piece
            WHERE s.pos < length(s.word)
        )""",
        """abw AS MATERIALIZED (
            SELECT word, min(np) AS np
            FROM asegc WHERE pos = length(word) GROUP BY word
        )""",
    ]
    return (
        "WITH RECURSIVE "
        + ",\n".join(parts)
        + f"""
        SELECT doc_id, source,
               CAST(sum(n_occ) AS BIGINT) AS n_word_occ,
               CAST(sum(CASE WHEN b.np IS NULL THEN n_occ ELSE 0 END)
                    AS BIGINT) AS bad_occ,
               CAST(sum(CASE WHEN b.np IS NULL THEN n_occ ELSE 0 END)
                    * 1000000 // sum(n_occ) AS BIGINT) AS oov_ppm,
               CASE WHEN sum(CASE WHEN b.np IS NOT NULL
                                  THEN n_occ * length(d.word)
                                  ELSE 0 END) > 0
                    THEN CAST(sum(CASE WHEN b.np IS NOT NULL
                                       THEN n_occ * b.np ELSE 0 END) * 10000
                              // sum(CASE WHEN b.np IS NOT NULL
                                          THEN n_occ * length(d.word)
                                          ELSE 0 END) AS BIGINT)
               END AS cost_p10k,
               (sum(CASE WHEN b.np IS NULL THEN n_occ ELSE 0 END)
                    * 1000000 // sum(n_occ) <= {UNI_ADMIT_OOV_PPM}
                AND sum(CASE WHEN b.np IS NOT NULL
                             THEN n_occ * length(d.word) ELSE 0 END) > 0
                AND sum(CASE WHEN b.np IS NOT NULL
                             THEN n_occ * b.np ELSE 0 END) * 10000
                    // NULLIF(sum(CASE WHEN b.np IS NOT NULL
                                       THEN n_occ * length(d.word)
                                       ELSE 0 END), 0)
                    <= {UNI_ADMIT_COST_P10K}) AS admitted
        FROM dwo d LEFT JOIN abw b USING (word)
        GROUP BY doc_id, source
    """
    )


@register(
    "text_unigram_oov_admission",
    oracle=_uni_admission_oracle(),
    doc=(
        f"Trained-tokenizer ADMISSION GUARDRAIL — the fifth "
        f"composition-depth entry (train -> serve -> GATE): train the "
        f"unigram-LM vocabulary on the 80%% doc split "
        f"(unigram_train_rounds, shared verbatim with the "
        f"train/encode/coverage entries), then run every HELD-OUT 20%% "
        f"document through the per-doc admission kernel "
        f"(uni_admission_report): admit iff OOV rate <= "
        f"{UNI_ADMIT_OOV_PPM} ppm AND trained-model compression cost "
        f"<= {UNI_ADMIT_COST_P10K} pieces per 10k chars — the exact-"
        f"integer surrogate for the perplexity filter every curation "
        f"pipeline runs on arriving data. The same kernel gates the "
        f"arrival path (stream_unigram_admission), so the audited "
        f"decisions and the serving decisions cannot drift. The "
        f"oracle chains the trainer's unrolled EM CTEs into a capped "
        f"recursive segmentation of the held-out vocabulary and "
        f"replays the gate's integer arithmetic, so one hash "
        f"certifies training, segmentation, AND every admit/reject "
        f"decision. Scale: explode + broadcast-vocab column DP + one "
        f"map-side-combinable per-doc agg; threshold constants are "
        f"plan literals, zero driver state beyond the bounded vocab."
    ),
    tags=("text", "datapipe", "iterative", "streaming-twin"),
)
def text_unigram_oov_admission(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    wf_train = _uni_wf_from(
        docs.filter(F.pmod(F.col("doc_id"), F.lit(10)) < 8)
    ).persist()
    rounds = unigram_train_rounds(wf_train)
    vocab = rounds[-1][2] if rounds else {}
    held = docs.filter(F.pmod(F.col("doc_id"), F.lit(10)) >= 8)
    return uni_admission_report(held, vocab)


# ---------------------------------------------------------------------------
# Tokenizer bakeoff: the two trained families head-to-head
# ---------------------------------------------------------------------------


def _bakeoff_oracle() -> str:
    r = UNI_ROUNDS
    bpe_parts, _selects = _bpe_train_ctes()
    parts = bpe_parts + _uni_ctes() + [
        f"""blw AS MATERIALIZED (
            SELECT lang, word, CAST(count(*) AS BIGINT) AS n_occ
            FROM (SELECT lang, unnest({_TOKENS.format(x="text")}) AS word
                  FROM documents WHERE text IS NOT NULL)
            WHERE word <> '' AND length(word) <= {UNI_MAX_WLEN}
            GROUP BY lang, word
        )""",
        "bdw AS MATERIALIZED (SELECT DISTINCT word FROM blw)",
        f"""bseg AS (
            SELECT word, CAST(0 AS BIGINT) AS pos, 0 AS np FROM bdw
            UNION ALL
            SELECT s.word, s.pos + length(v.piece), s.np + 1
            FROM bseg s JOIN uv{r} v
              ON substr(s.word, CAST(s.pos + 1 AS INTEGER),
                        length(v.piece)) = v.piece
            WHERE s.pos < length(s.word)
        )""",
        """bbw AS MATERIALIZED (
            SELECT word, min(np) AS np
            FROM bseg WHERE pos = length(word) GROUP BY word
        )""",
    ]
    return (
        "WITH RECURSIVE "
        + ",\n".join(parts)
        + f"""
        SELECT l.lang,
               CAST(sum(l.n_occ) AS BIGINT) AS n_word_occ,
               CAST(sum(l.n_occ * length(l.word)) AS BIGINT) AS n_chars,
               CAST(sum(l.n_occ * len(sk.s)) AS BIGINT) AS bpe_tokens,
               CAST(sum(l.n_occ * b.np) AS BIGINT) AS uni_pieces,
               CAST(sum(l.n_occ * len(sk.s)) * 10000
                    // sum(l.n_occ * length(l.word)) AS BIGINT)
                   AS bpe_per_10k,
               CAST(sum(l.n_occ * b.np) * 10000
                    // sum(l.n_occ * length(l.word)) AS BIGINT)
                   AS uni_per_10k,
               CASE WHEN sum(l.n_occ * b.np) < sum(l.n_occ * len(sk.s))
                    THEN 'unigram'
                    WHEN sum(l.n_occ * b.np) > sum(l.n_occ * len(sk.s))
                    THEN 'bpe' ELSE 'tie' END AS winner
        FROM blw l
        JOIN s{BPE_TRAIN_MERGES} sk USING (word)
        LEFT JOIN bbw b USING (word)
        GROUP BY l.lang
    """
    )


@register(
    "text_tokenizer_bakeoff",
    oracle=_bakeoff_oracle(),
    doc=(
        f"Tokenizer BAKEOFF — the sixth composition depth: BOTH "
        f"trained tokenizer families (the iterative BPE trainer, "
        f"bpe_train_rounds, and the unigram-LM hard-EM trainer, "
        f"unigram_train_rounds — each the exact shared loop its own "
        f"audit entries certify) encode the SAME per-language word "
        f"table, and the report settles which model compresses each "
        f"language better: occurrence-weighted token/piece totals and "
        f"exact-integer tokens-per-10k-chars per family, winner by "
        f"total (ties explicit). This is the model-selection audit a "
        f"production pipeline runs before freezing a tokenizer. Eval "
        f"words carry the {UNI_MAX_WLEN}-char audit cap on BOTH sides "
        f"(fair comparison; bounds the oracle's enumeration — the "
        f"engine DP is linear and needs no cap). Scale: both encoders "
        f"are broadcast-model map-only column expressions over one "
        f"(lang, word) frame + one map-side-combinable per-lang agg; "
        f"driver state = the two bounded models. The oracle chains "
        f"the BPE trainer's unrolled fold CTEs AND the unigram "
        f"trainer's unrolled EM CTEs into one statement — a single "
        f"hash certifies both trainings and the head-to-head."
    ),
    tags=("text", "iterative", "datapipe"),
)
def text_tokenizer_bakeoff(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    # OPTIMIZATION_r12 §B3 (guide §2.6): the two trainings are
    # independent driver loops, each latency-bound on sequential
    # per-round jobs + metadata collects, so they run from two driver
    # threads and their jobs interleave on the idle executor capacity
    # (Spark schedules concurrent jobs FIFO; results are deterministic
    # regardless of interleaving — each loop's model state depends only
    # on its own frame). Measured at sf0.1: 2.0 s + 2.3 s sequential ->
    # ~2.6 s overlapped.
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=2) as pool:
        f_bpe = pool.submit(
            lambda: bpe_train_rounds(_bpe_word_freqs(spark, sf_dir).persist())
        )
        f_uni = pool.submit(
            lambda: unigram_train_rounds(_uni_wf(spark, sf_dir).persist())
        )
        bpe_rounds = f_bpe.result()
        uni_rounds = f_uni.result()
    uni_vocab = uni_rounds[-1][2] if uni_rounds else {}

    lw = (
        docs.filter(F.col("text").isNotNull())
        .select("lang", F.explode(_tokens(F.col("text"))).alias("word"))
        .filter((F.col("word") != "") & (F.length("word") <= UNI_MAX_WLEN))
        .groupBy("lang", "word")
        .agg(F.count("*").alias("n_occ"))
    )
    s = _bpe_chars("word")
    for _k, a, b, _cnt, _s in bpe_rounds:
        s = _bpe_fold(s, F.lit(a), F.lit(b))
    if uni_vocab:
        dp = _uni_best_seg("word", uni_vocab)
    else:
        dp = F.lit(None).cast(_UNI_DP_TYPE)
    seg = lw.select(
        "lang",
        "n_occ",
        F.length("word").cast("long").alias("nchars"),
        F.size(s).cast("long").alias("bpe_toks"),
        dp["np"].cast("long").alias("np"),
    )
    zero = F.lit(0).cast("long")
    return seg.groupBy("lang").agg(
        F.sum("n_occ").cast("long").alias("n_word_occ"),
        F.sum(F.col("n_occ") * F.col("nchars")).cast("long").alias("n_chars"),
        F.sum(F.col("n_occ") * F.col("bpe_toks")).cast("long").alias("bpe_tokens"),
        # NULL-skipping sum on BOTH engines: an uncoverable word (a
        # char only ever seen in over-cap words — impossible on clean
        # data, possible on poison corpora) drops from uni_pieces
        # identically in Spark and DuckDB
        F.sum(F.col("n_occ") * F.col("np")).cast("long").alias("uni_pieces"),
        F.expr(
            "CAST(sum(n_occ * bpe_toks) * 10000 DIV sum(n_occ * nchars)"
            " AS BIGINT)"
        ).alias("bpe_per_10k"),
        F.expr(
            "CAST(sum(n_occ * np) * 10000 DIV sum(n_occ * nchars) AS BIGINT)"
        ).alias("uni_per_10k"),
        F.when(
            F.sum(F.col("n_occ") * F.col("np"))
            < F.sum(F.col("n_occ") * F.col("bpe_toks")),
            F.lit("unigram"),
        )
        .when(
            F.sum(F.col("n_occ") * F.col("np"))
            > F.sum(F.col("n_occ") * F.col("bpe_toks")),
            F.lit("bpe"),
        )
        .otherwise(F.lit("tie"))
        .alias("winner"),
    )
