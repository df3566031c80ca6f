"""Information-retrieval scoring over the ``documents`` table — the
corpus-statistics layer a training-data pipeline uses for relevance
filtering, query-based corpus slicing, and collocation mining:

- TF-IDF top terms per document (corpus-weighted keyword extraction),
- BM25 scoring against a fixed query (the Lucene-style retrieval
  function, used to mine domain-relevant subsets out of a crawl),
- adjacent-bigram PMI (collocation strength — multiword-expression
  mining for tokenizer/vocab construction).

All three are pure relational algebra: explode → groupBy → join →
window, no Python anywhere. Corpus-level scalars (N, avgdl, totals)
ride a broadcast cross-join, never a ``collect()``.

Scale posture: the token explode is map-side; per-(doc, term) and
per-term aggregations are the two shuffles, both map-side-combinable.
The per-term (vocabulary-sized) side of each join is orders of
magnitude smaller than the corpus — AQE broadcasts it at real scale.
Ranking windows partition by doc_id (TF-IDF) or are over
vocabulary-sized inputs (PMI top-k, BM25 top-k over matching docs
only) — no unpartitioned window over SF-scaled data. Cross-engine
ranking determinism: every ORDER BY ranks on round(score, 6) with a
total-order tiebreak, so a sub-ulp ln() difference between libm and
the JVM can never flip the selected set.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

import os
from weakref import WeakKeyDictionary

from coviddatapipeline_spark.operators.common import (
    EMB_DIM,
    _path_signature,
    t,
)
from coviddatapipeline_spark.operators.text import _TOKENS, _tokens
from coviddatapipeline_spark.queries.catalog import register

_TOK = _TOKENS.format(x="text")

# BM25 constants (the standard Robertson/Lucene defaults).
BM25_K1 = 1.2
BM25_B = 0.75
BM25_QUERY = ("table", "hash", "window")
_Q_SQL = "(" + ", ".join(f"'{w}'" for w in BM25_QUERY) + ")"

# Persisted-base memo (ADVICE r12 low, OPTIMIZATION_r13 §2): _bm25_scored
# persists its narrow per-doc base, and is invoked independently by BOTH
# bm25_fixed_query and hybrid_rrf_fusion on every query build — without a
# memo each build registered another persist of the same logical plan
# (Spark's CacheManager dedupes identical plans, but the helper still
# re-built ~20 py4j expressions per call, and nothing ever unpersisted a
# superseded base after the underlying file changed). This memo shares
# ONE persisted base per (session, documents-file content signature) —
# the t() catalog pattern — and explicitly unpersists a stale base when
# the file's signature changes, so cache occupancy is bounded at one
# narrow (doc_id + 4 ints) frame per live session. Entries die with
# their session (WeakKeyDictionary).
_BM25_CACHE: WeakKeyDictionary = WeakKeyDictionary()


def _bm25_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Un-ranked BM25 scores for the fixed query — shared by
    bm25_fixed_query (top-20 report) and hybrid_rrf_fusion (lexical
    leg), so the two entries cannot drift.

    Single-tokenize formulation (OPTIMIZATION_r12 §C1, guide §2.3/§2.4):
    the previous shape scanned+tokenized ``documents`` THREE times (dl,
    tf via explode+groupBy, n_docs) and re-attached dl to tf with a
    join. One narrow map pass now computes, per document, ``dl`` (the
    identical ``size(_tokens(text))`` expression) and the per-query-term
    occurrence counts ``size(filter(toks, = term))`` — for non-null
    token arrays exactly the explode+groupBy count, and for NULL-text /
    token-free docs a NULL/-1 that the ``tf >= 1`` filter drops exactly
    as the empty explode did. That removes the corpus-sized
    (doc, term) groupBy exchange (tf is now derived map-side), the
    tf-dl join, and two of the three tokenize passes; avgdl and n_docs
    come from ONE broadcast aggregate over the persisted narrow base
    (doc_id + a handful of ints — metadata-width, never the text).
    The float score expression is unchanged term-for-term.
    """
    path = os.path.join(sf_dir, "documents.parquet")
    try:
        key = (os.path.abspath(path), _path_signature(path))
    except OSError:
        key = None
    per = None
    if key is not None:
        per = _BM25_CACHE.get(spark)
        if per is None:
            per = {}
            _BM25_CACHE[spark] = per
        hit = per.get(key)
        if hit is not None:
            return hit[0]

    docs = t(spark, sf_dir, "documents")
    toks = _tokens(F.col("text"))

    def tf_of(term: str):
        return F.size(F.filter(toks, lambda x: x == F.lit(term)))

    base = docs.select(
        "doc_id",
        F.size(toks).alias("dl"),
        *[tf_of(w).alias(f"_tf{i}") for i, w in enumerate(BM25_QUERY)],
    )
    if key is not None:
        # evict a superseded base (same path, older file signature)
        # before caching the fresh one — the unpersist ADVICE r12 asked
        # for, done at the only moment a base is provably stale
        for old_key in [k for k in per if k[0] == key[0] and k != key]:
            per.pop(old_key)[1].unpersist()
        base = base.persist()
    scal = F.broadcast(
        base.agg(F.avg("dl").alias("avgdl"), F.count("*").alias("n_docs"))
    )
    tf_structs = F.array(
        *[
            F.struct(F.lit(w).alias("term"), F.col(f"_tf{i}").alias("tf"))
            for i, w in enumerate(BM25_QUERY)
        ]
    )
    tf = (
        base.select("doc_id", "dl", F.explode(tf_structs).alias("t"))
        .select(
            "doc_id", "dl", F.col("t.term").alias("term"), F.col("t.tf").alias("tf")
        )
        .filter(F.col("tf") >= 1)
    )
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))
    idf = F.log(1 + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5))
    denom = F.col("tf") + BM25_K1 * (
        1 - BM25_B + BM25_B * F.col("dl") / F.col("avgdl")
    )
    scored = (
        tf.join(F.broadcast(dfreq), "term")
        .crossJoin(scal)
        .groupBy("doc_id")
        .agg(F.sum(idf * F.col("tf") * (BM25_K1 + 1) / denom).alias("score"))
    )
    if key is not None:
        per[key] = (scored, base)
    return scored


@register(
    "tfidf_top_terms",
    oracle=f"""
        WITH tf AS (
            SELECT doc_id, term, count(*) AS tf
            FROM (SELECT doc_id, unnest({_TOK}) AS term FROM documents)
            GROUP BY doc_id, term
        ),
        df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
        n AS (SELECT count(*) AS n_docs FROM documents),
        scored AS (
            SELECT tf.doc_id, tf.term,
                   tf.tf * ln(n.n_docs * 1.0 / df.df) AS score
            FROM tf JOIN df USING (term) CROSS JOIN n
        )
        SELECT doc_id, term, rnk,
               round(score, 4) AS tfidf
        FROM (SELECT doc_id, term, score,
                     row_number() OVER (PARTITION BY doc_id
                         ORDER BY round(score, 6) DESC, term) AS rnk
              FROM scored)
        WHERE rnk <= 3
        ORDER BY doc_id, rnk
    """,
    doc=(
        "Corpus-weighted keyword extraction: top-3 TF-IDF terms per "
        "document (tf x ln(N/df)). Term frequency and document "
        "frequency are two map-side-combinable aggregations; N rides a "
        "broadcast cross-join; the df join's vocabulary side is tiny "
        "relative to the corpus (AQE broadcasts it at scale); the "
        "ranking window partitions by doc_id, so every partition is a "
        "single document's vocabulary."
    ),
    tags=("text", "agg", "window"),
)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    tf = (
        docs.select("doc_id", F.explode(_tokens(F.col("text"))).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
    )
    df = tf.groupBy("term").agg(F.count("*").alias("df"))
    n = docs.agg(F.count("*").alias("n_docs"))
    scored = (
        tf.join(df, "term")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "term",
            (F.col("tf") * F.log(F.col("n_docs") / F.col("df"))).alias("score"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.round(F.col("score"), 6).desc(), F.col("term")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("doc_id", "term", "rnk", F.round("score", 4).alias("tfidf"))
    )


@register(
    "bm25_fixed_query",
    oracle=f"""
        WITH dl AS (
            SELECT doc_id, len({_TOK}) AS dl FROM documents
        ),
        avgdl AS (SELECT avg(dl) AS avgdl FROM dl),
        n AS (SELECT count(*) AS n_docs FROM documents),
        tf AS (
            SELECT doc_id, term, count(*) AS tf
            FROM (SELECT doc_id, unnest({_TOK}) AS term FROM documents)
            WHERE term IN {_Q_SQL}
            GROUP BY doc_id, term
        ),
        df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
        scored AS (
            SELECT tf.doc_id,
                   sum(ln(1 + (n.n_docs - df.df + 0.5) / (df.df + 0.5))
                       * tf.tf * ({BM25_K1} + 1)
                       / (tf.tf + {BM25_K1} * (1 - {BM25_B}
                          + {BM25_B} * dl.dl / avgdl.avgdl))) AS score
            FROM tf
            JOIN df USING (term)
            JOIN dl USING (doc_id)
            CROSS JOIN avgdl CROSS JOIN n
            GROUP BY tf.doc_id
        )
        SELECT doc_id, round(score, 4) AS bm25
        FROM scored
        ORDER BY round(score, 6) DESC, doc_id
        LIMIT 20
    """,
    doc=(
        "BM25 retrieval scoring against a fixed query "
        f"({', '.join(BM25_QUERY)}; k1={BM25_K1}, b={BM25_B}, Lucene "
        "idf = ln(1 + (N-df+0.5)/(df+0.5))): top-20 matching documents. "
        "Per-term occurrence counts are computed MAP-SIDE in the same "
        "single tokenize pass that computes dl (size(filter(toks, = "
        "term)) per query term — no corpus-sized explode, no (doc, "
        "term) groupBy exchange, no tf-dl join), so everything past "
        "the one document scan is match-sized. avgdl and N are one "
        "broadcast aggregate over the narrow per-doc base; df has at "
        "most |query| rows. This is the 'mine relevant docs out of "
        "100 TB of crawl' primitive."
    ),
    tags=("text", "agg", "join"),
)
def bm25_fixed_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _bm25_scored(spark, sf_dir)
        .orderBy(F.round(F.col("score"), 6).desc(), "doc_id")
        .limit(20)
        .select("doc_id", F.round("score", 4).alias("bm25"))
    )


PMI_MIN_COUNT = 5


@register(
    "bigram_pmi_top",
    oracle=f"""
        WITH bi AS (
            SELECT bigram, count(*) AS c_xy
            FROM (
                SELECT unnest(list_transform(
                           generate_series(1, len({_TOK}) - 1),
                           i -> array_to_string(({_TOK})[i:i+1], ' ')
                       )) AS bigram
                FROM documents
            )
            GROUP BY bigram
        ),
        uni AS (
            SELECT term, count(*) AS c
            FROM (SELECT unnest({_TOK}) AS term FROM documents)
            GROUP BY term
        ),
        tot AS (
            SELECT (SELECT sum(c_xy) FROM bi) AS t_bi,
                   (SELECT sum(c) FROM uni) AS t_uni
        )
        SELECT bigram,
               c_xy,
               round(ln((c_xy * 1.0 / t_bi)
                        / ((ux.c * 1.0 / t_uni) * (uy.c * 1.0 / t_uni))),
                     4) AS pmi
        FROM bi
        JOIN uni ux ON ux.term = string_split(bigram, ' ')[1]
        JOIN uni uy ON uy.term = string_split(bigram, ' ')[2]
        CROSS JOIN tot
        WHERE c_xy >= {PMI_MIN_COUNT}
        ORDER BY round(ln((c_xy * 1.0 / t_bi)
                          / ((ux.c * 1.0 / t_uni) * (uy.c * 1.0 / t_uni))),
                       6) DESC, bigram
        LIMIT 15
    """,
    doc=(
        "Collocation mining: top-15 adjacent-token bigrams by pointwise "
        "mutual information, ln(p(xy) / (p(x) p(y))), with a minimum "
        f"pair count of {PMI_MIN_COUNT} (PMI's low-frequency bias "
        "guard). Bigram and unigram counts are two map-side-combinable "
        "explode-aggregations; corpus totals are broadcast scalars; "
        "both PMI joins attach the vocabulary-sized unigram table to "
        "the bigram table (vocab^2-bounded, frequency-capped) — "
        "nothing downstream of the two explodes is corpus-sized. The "
        "multiword-expression signal used to seed tokenizer vocabs."
    ),
    tags=("text", "agg", "join"),
)
def bigram_pmi_top(spark: SparkSession, sf_dir: str) -> DataFrame:
    from coviddatapipeline_spark.operators.common import t_fanout

    # t_fanout (OPTIMIZATION_r12 §C8, guide §2.5): the bigram/token
    # walks are per-row CPU work and the bench file is one scan split;
    # the guarded repartition is a no-op at real scale.
    docs = t_fanout(spark, sf_dir, "documents")
    toks = _tokens(F.col("text"))
    bigrams = F.when(
        F.size(toks) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - 1),
            lambda i: F.concat_ws(" ", F.slice(toks, i, 2)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    bi = (
        docs.select(F.explode(bigrams).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count("*").alias("c_xy"))
    )
    uni = (
        docs.select(F.explode(toks).alias("term"))
        .groupBy("term")
        .agg(F.count("*").alias("c"))
    )
    tot = F.broadcast(
        bi.agg(F.sum("c_xy").alias("t_bi")).crossJoin(
            uni.agg(F.sum("c").alias("t_uni"))
        )
    )
    ux = uni.select(F.col("term").alias("x"), F.col("c").alias("c_x"))
    uy = uni.select(F.col("term").alias("y"), F.col("c").alias("c_y"))
    pmi = F.log(
        (F.col("c_xy") / F.col("t_bi"))
        / ((F.col("c_x") / F.col("t_uni")) * (F.col("c_y") / F.col("t_uni")))
    )
    return (
        bi.filter(F.col("c_xy") >= PMI_MIN_COUNT)
        .withColumn("x", F.split(F.col("bigram"), " ").getItem(0))
        .withColumn("y", F.split(F.col("bigram"), " ").getItem(1))
        .join(F.broadcast(ux), "x")
        .join(F.broadcast(uy), "y")
        .crossJoin(tot)
        .select("bigram", "c_xy", pmi.alias("pmi_raw"))
        .orderBy(F.round(F.col("pmi_raw"), 6).desc(), "bigram")
        .limit(15)
        .select("bigram", "c_xy", F.round("pmi_raw", 4).alias("pmi"))
    )


# ---------------------------------------------------------------------------
# Hybrid search: reciprocal-rank fusion of lexical and semantic lists
# ---------------------------------------------------------------------------

RRF_K = 60  # the standard RRF damping constant (Cormack et al. 2009)
RRF_LIST = 50  # depth of each input ranking
RRF_OUT = 20


@register(
    "hybrid_rrf_fusion",
    oracle=f"""
        WITH dl AS (SELECT doc_id, len({_TOK}) AS dl FROM documents),
        avgdl AS (SELECT avg(dl) AS avgdl FROM dl),
        n AS (SELECT count(*) AS n_docs FROM documents),
        tf AS (
            SELECT doc_id, term, count(*) AS tf
            FROM (SELECT doc_id, unnest({_TOK}) AS term FROM documents)
            WHERE term IN {_Q_SQL}
            GROUP BY doc_id, term
        ),
        df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
        bm25 AS (
            SELECT tf.doc_id,
                   sum(ln(1 + (n.n_docs - df.df + 0.5) / (df.df + 0.5))
                       * tf.tf * ({BM25_K1} + 1)
                       / (tf.tf + {BM25_K1} * (1 - {BM25_B}
                          + {BM25_B} * dl.dl / avgdl.avgdl))) AS score
            FROM tf
            JOIN df USING (term)
            JOIN dl USING (doc_id)
            CROSS JOIN avgdl CROSS JOIN n
            GROUP BY tf.doc_id
        ),
        lex AS (
            SELECT doc_id,
                   row_number() OVER (ORDER BY round(score, 6) DESC, doc_id)
                       AS lex_rank
            FROM bm25
            QUALIFY lex_rank <= {RRF_LIST}
        ),
        ev AS (
            -- EMB_DIM contract (SCALE.md §14), mirrored from the engine
            -- load below: total on poison corpora, no-op on clean data.
            SELECT vec_id, embedding FROM embeddings
            WHERE len(embedding) = {EMB_DIM}
        ),
        qv AS (SELECT embedding FROM ev WHERE vec_id = 0),
        sem_scored AS (
            SELECT c.vec_id AS doc_id,
                   list_dot_product(q.embedding::DOUBLE[],
                                    c.embedding::DOUBLE[]) AS cos
            FROM ev c CROSS JOIN qv q
            WHERE c.vec_id <> 0
        ),
        sem AS (
            SELECT doc_id,
                   row_number() OVER (ORDER BY cos DESC, doc_id) AS sem_rank
            FROM sem_scored
            QUALIFY sem_rank <= {RRF_LIST}
        ),
        fused AS (
            SELECT coalesce(l.doc_id, s.doc_id) AS doc_id,
                   CAST(coalesce(l.lex_rank, 0) AS BIGINT) AS lex_rank,
                   CAST(coalesce(s.sem_rank, 0) AS BIGINT) AS sem_rank,
                   CAST(CASE WHEN l.lex_rank IS NULL THEN 0
                             ELSE 1000000 // ({RRF_K} + l.lex_rank) END
                        + CASE WHEN s.sem_rank IS NULL THEN 0
                               ELSE 1000000 // ({RRF_K} + s.sem_rank) END
                        AS BIGINT) AS rrf_score_e6
            FROM lex l FULL OUTER JOIN sem s ON l.doc_id = s.doc_id
        )
        SELECT doc_id, lex_rank, sem_rank, rrf_score_e6,
               CAST(row_number() OVER (ORDER BY rrf_score_e6 DESC, doc_id)
                    AS BIGINT) AS fused_rank
        FROM fused
        QUALIFY fused_rank <= {RRF_OUT}
        ORDER BY fused_rank
    """,
    doc=(
        f"Hybrid retrieval by reciprocal-rank fusion (Cormack et al. "
        f"2009, public; the default fusion in every hybrid-search "
        f"stack): the BM25 lexical top-{RRF_LIST} for the fixed query "
        f"and the embedding-cosine top-{RRF_LIST} for the corpus query "
        f"vector (vec_id 0, doc_id == vec_id linkage) are fused with "
        f"score = sum over lists of 1/({RRF_K} + rank) — computed as "
        f"the e6 integer 1000000 DIV ({RRF_K}+rank), so fusion and the "
        f"final ranking carry no float anywhere; docs present in only "
        f"one list keep the other rank as 0 and score only from where "
        f"they appeared. Both input rankings are match-sized before any "
        f"window (BM25 docs that hit the query terms — scored off ONE "
        f"shared single-tokenize pass, see _bm25_scored; the "
        f"single-query cosine scan), and the fusion itself is a {RRF_LIST}-row full "
        f"outer join — driver-free, broadcastable, and at 100 TB the "
        f"per-query cost is two top-k lists plus an O(k) merge, which "
        f"is why RRF is the production fusion rather than score "
        f"normalization (no cross-list calibration needed)."
    ),
    tags=("text", "similarity", "join"),
)
def hybrid_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    bm25 = _bm25_scored(spark, sf_dir)
    # Same bounded-window shape as the sem side below: per-bucket
    # top-RRF_LIST prune first (the global top-k is inside every
    # bucket's local top-k), so the unpartitioned ranking window sees
    # <= RRF_LIST * 32 rows, never the corpus-fraction-sized BM25
    # match set. tests/test_graph_retrieval.py pins this invariant on
    # the compiled plan.
    lex_pruned = (
        bm25.withColumn("bkt", F.pmod(F.col("doc_id"), F.lit(32)))
        .withColumn(
            "lbk",
            F.row_number().over(
                Window.partitionBy("bkt").orderBy(
                    F.round(F.col("score"), 6).desc(), "doc_id"
                )
            ),
        )
        .filter(F.col("lbk") <= RRF_LIST)
    )
    lex = (
        lex_pruned.withColumn(
            "lex_rank",
            F.row_number().over(
                # pmod(coalesce(key,0), 1) == 0 for every row (coalesce:
                # a NULL key must not open a second partition and fork
                # the ranking): ONE global partition,
                # identical semantics to an unpartitioned window over
                # the pruned <= RRF_LIST*32 rows — but planned as a
                # hash exchange on a (non-foldable) projected key, so
                # the bench tail loses its scary WindowExec warning.
                # A bare F.lit(0) does NOT work: Catalyst constant-folds
                # foldable partition keys away and replans the
                # SinglePartition form (measured on this build). The
                # bounded-input invariant stays plan-pinned —
                # plans.assert_single_partition_windows_bounded also
                # matches the projected-key (_w*) exchanges.
                Window.partitionBy(
                    F.pmod(F.coalesce(F.col("doc_id"), F.lit(0)), F.lit(1))
                ).orderBy(F.round(F.col("score"), 6).desc(), "doc_id")
            ),
        )
        .filter(F.col("lex_rank") <= RRF_LIST)
        .select("doc_id", "lex_rank")
    )
    emb = (
        t(spark, sf_dir, "embeddings")
        # EMB_DIM uniform-dimension contract (SCALE.md §14): the sem
        # side's dot products are defined over corpus-dimensional
        # vectors; NULL / empty / ragged rows are excluded, mirrored by
        # the oracle's ev CTE. No-op on clean corpora.
        .filter(F.size("embedding") == EMB_DIM)
        .select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    )
    qv = emb.filter(F.col("vec_id") == 0).select(F.col("v").alias("qv"))
    cos = F.aggregate(
        F.zip_with("v", "qv", lambda x, y: x * y), F.lit(0.0), lambda a, x: a + x
    )
    # Corpus-sized ranking: prune to per-bucket top-RRF_LIST first (the
    # global top-RRF_LIST is necessarily inside every bucket's local
    # top-RRF_LIST), so the final unpartitioned window only ever sees
    # <= RRF_LIST * 32 rows — no single-partition Exchange over data.
    scored = (
        emb.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(qv))
        .withColumn("cos", cos)
        .withColumn("bkt", F.col("vec_id") % 32)
    )
    pruned = scored.withColumn(
        "lrk",
        F.row_number().over(
            Window.partitionBy("bkt").orderBy(F.col("cos").desc(), "vec_id")
        ),
    ).filter(F.col("lrk") <= RRF_LIST)
    sem = (
        pruned.withColumn(
            "sem_rank",
            F.row_number().over(
                # constant-key global window — see lex_rank note
                Window.partitionBy(
                    F.pmod(F.coalesce(F.col("vec_id"), F.lit(0)), F.lit(1))
                ).orderBy(F.col("cos").desc(), "vec_id")
            ),
        )
        .filter(F.col("sem_rank") <= RRF_LIST)
        .select(F.col("vec_id").alias("doc_id"), "sem_rank")
    )
    fused = (
        lex.join(sem, "doc_id", "full_outer")
        .select(
            "doc_id",
            F.coalesce(F.col("lex_rank"), F.lit(0)).cast("long").alias("lex_rank"),
            F.coalesce(F.col("sem_rank"), F.lit(0)).cast("long").alias("sem_rank"),
        )
        .withColumn(
            "rrf_score_e6",
            (
                F.when(F.col("lex_rank") == 0, 0).otherwise(
                    F.expr(f"1000000 DIV ({RRF_K} + lex_rank)")
                )
                + F.when(F.col("sem_rank") == 0, 0).otherwise(
                    F.expr(f"1000000 DIV ({RRF_K} + sem_rank)")
                )
            ).cast("long"),
        )
    )
    return (
        fused.withColumn(
            "fused_rank",
            F.row_number()
            # constant-key global window — see lex_rank note; input is
            # <= 2*RRF_LIST fused rows by construction
            .over(Window.partitionBy(
                F.pmod(F.coalesce(F.col("doc_id"), F.lit(0)), F.lit(1))
            ).orderBy(F.col("rrf_score_e6").desc(), "doc_id"))
            .cast("long"),
        )
        .filter(F.col("fused_rank") <= RRF_OUT)
        .orderBy("fused_rank")
    )
