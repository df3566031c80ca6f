"""Approximate-nearest-neighbor search over the ``embeddings`` table
(``array<float>`` column, unit-normalized → cosine = dot product).

Two tiers, per the scale plan:

- **Brute-force top-k** — every query against every candidate, ranked
  per query with a window. Correct baseline; O(Q·N) dot products, all
  in JVM column space (zip_with + aggregate). Fine when Q is small or
  N fits a broadcast.
- **IVF (inverted-file) top-k** — the scale path: candidates are
  restricted to the query's coarse cell (here the ``label`` column
  plays the quantizer-assignment role a k-means step would produce at
  ingest). The probe join hits one cell instead of the full corpus:
  cost drops N → N/cells, and the cell join is an equi-join Spark can
  shuffle-partition cleanly.

Both are oracle-checked; ranking ties are broken deterministically on
vec_id.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from coviddatapipeline_spark.queries.catalog import register
from coviddatapipeline_spark.operators.common import EMB_DIM, t

N_QUERIES = 10  # vec_id < 10 are the query vectors
TOP_K = 5


def _dot(va: str, vb: str) -> Column:
    return F.aggregate(
        F.zip_with(va, vb, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    # EMB_DIM uniform-dimension contract (SCALE.md §14), applied at the
    # module's SINGLE load site: every ANN / quantization kernel below
    # is defined over corpus-dimensional vectors, so NULL / empty /
    # ragged rows are excluded here — a no-op on clean corpora, and the
    # reason the whole module is total on poison input. Every oracle in
    # this module mirrors the same predicate as
    # ``len(embedding) = EMB_DIM`` (see _EMB_GUARDED), so the excluded
    # set is identical on both sides and cross-engine hash agreement
    # extends to degenerate corpora (round-7 poison-parity pass).
    return (
        t(spark, sf_dir, "embeddings")
        .filter(F.size("embedding") == EMB_DIM)
        .select("vec_id", "label", F.col("embedding").cast("array<double>").alias("v"))
    )


# The oracle-side twin of _emb's filter: substituted for every bare
# ``embeddings`` table reference in this module's verification SQL by
# _g() below, so oracle and engine exclude the identical degenerate set.
_EMB_GUARDED = (
    f"(SELECT * FROM embeddings WHERE len(embedding) = {EMB_DIM})"
)


def _g(sql: str) -> str:
    """Mirror the EMB_DIM contract into an oracle: rewrite every
    ``embeddings`` TABLE REFERENCE to the guarded subquery. Applied to
    EVERY oracle in this module (matching _emb, the module's single
    engine-side load path) — a clean-data no-op that makes the
    verification SQL total on poison corpora instead of crashing in
    list_dot_product on a NULL / empty / ragged vector the engine
    excluded.

    The rewrite is constrained to table-reference positions — the word
    ``embeddings`` immediately after FROM or JOIN (ADVICE r07): a bare
    ``\\bembeddings\\b`` substitution also fired inside SQL comments
    and would capture any future CTE/alias named ``embeddings``. The
    captured whitespace is preserved so the constrained form is
    byte-identical to the old rewrite on every current oracle (pinned
    by tests/test_advice_fixes.py). Every oracle in this module reads
    the table only via FROM/JOIN (no bare comma cross joins — house
    style), so table references cannot escape the pattern."""
    import re

    return re.sub(
        r"\b(FROM|JOIN)(\s+)embeddings\b",
        lambda m: m.group(1) + m.group(2) + _EMB_GUARDED,
        sql,
        flags=re.IGNORECASE,
    )


_ORACLE_TOPK = """
    WITH q AS (SELECT vec_id, label, embedding FROM embeddings WHERE vec_id < {nq}),
    scored AS (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               list_dot_product(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) AS cos
        FROM q JOIN embeddings c ON q.vec_id != c.vec_id {cell_filter}
    ),
    ranked AS (
        SELECT query_id, neighbor_id, cos,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY cos DESC, neighbor_id) AS rank
        FROM scored
    )
    SELECT query_id, neighbor_id, rank, round(cos, 4) AS cosine
    FROM ranked WHERE rank <= {k}
    ORDER BY query_id, rank
"""


def _topk(spark: SparkSession, sf_dir: str, same_cell_only: bool) -> DataFrame:
    emb = _emb(spark, sf_dir)
    q = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("qlabel"),
        F.col("v").alias("qv"),
    )
    c = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("label").alias("clabel"),
        F.col("v").alias("cv"),
    )
    if same_cell_only:
        # IVF probe: equi-join on the coarse cell — candidates shrink to
        # one cell; broadcast the (tiny) query set.
        joined = F.broadcast(q).join(
            c,
            (F.col("qlabel") == F.col("clabel")) & (F.col("query_id") != F.col("neighbor_id")),
        )
    else:
        joined = F.broadcast(q).join(c, F.col("query_id") != F.col("neighbor_id"))
    w = W.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("neighbor_id"))
    return (
        joined.withColumn("cos", _dot("qv", "cv"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "neighbor_id", "rank", F.round("cos", 4).alias("cosine"))
        .orderBy("query_id", "rank")
    )


@register(
    "ann_cosine_topk_bruteforce",
    oracle=_g(_ORACLE_TOPK.format(nq=N_QUERIES, k=TOP_K, cell_filter="")),
    doc="Exact cosine top-k per query vector (brute force baseline).",
    tags=("similarity",),
)
def ann_cosine_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _topk(spark, sf_dir, same_cell_only=False)


@register(
    "ann_cosine_topk_ivf",
    oracle=_g(_ORACLE_TOPK.format(
        nq=N_QUERIES, k=TOP_K, cell_filter="AND q.label = c.label"
    )),
    doc="IVF-style ANN: probe only the query's coarse cell (label = quantizer assignment).",
    tags=("similarity",),
)
def ann_cosine_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _topk(spark, sf_dir, same_cell_only=True)


_ORACLE_RECALL = f"""
    WITH q AS (SELECT vec_id, label, embedding FROM embeddings WHERE vec_id < {N_QUERIES}),
    scored AS (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               q.label = c.label AS same_cell,
               list_dot_product(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) AS cos
        FROM q JOIN embeddings c ON q.vec_id != c.vec_id
    ),
    exact AS (
        SELECT query_id, neighbor_id FROM (
            SELECT query_id, neighbor_id,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY cos DESC, neighbor_id) AS r
            FROM scored
        ) WHERE r <= {TOP_K}
    ),
    ivf AS (
        SELECT query_id, neighbor_id FROM (
            SELECT query_id, neighbor_id,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY cos DESC, neighbor_id) AS r
            FROM scored WHERE same_cell
        ) WHERE r <= {TOP_K}
    )
    SELECT e.query_id,
           round(count(i.neighbor_id) * 1.0 / {TOP_K}, 4) AS recall_at_k
    FROM exact e
    LEFT JOIN ivf i ON e.query_id = i.query_id AND e.neighbor_id = i.neighbor_id
    GROUP BY e.query_id
    ORDER BY e.query_id
"""


@register(
    "ann_recall_ivf_vs_exact",
    oracle=_g(_ORACLE_RECALL),
    doc=(
        "Recall@k of the IVF probe against exact brute force, per query — "
        "the accuracy/cost dial every ANN deployment reports."
    ),
    tags=("similarity",),
)
def ann_recall_ivf_vs_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    exact = _topk(spark, sf_dir, same_cell_only=False).select("query_id", "neighbor_id")
    ivf = (
        _topk(spark, sf_dir, same_cell_only=True)
        .select("query_id", "neighbor_id")
        .withColumnRenamed("neighbor_id", "ivf_neighbor_id")
    )
    return (
        exact.join(
            ivf,
            (exact.query_id == ivf.query_id)
            & (exact.neighbor_id == ivf.ivf_neighbor_id),
            "left",
        )
        .groupBy(exact.query_id.alias("query_id"))
        .agg(F.round(F.count("ivf_neighbor_id") * 1.0 / TOP_K, 4).alias("recall_at_k"))
        .orderBy("query_id")
    )


_ORACLE_MULTIPROBE = f"""
    WITH pe AS (
        SELECT label,
               unnest(embedding::DOUBLE[]) AS x,
               unnest(generate_series(1, len(embedding))) AS pos
        FROM embeddings
    ),
    cent AS (SELECT label, pos, avg(x) AS cx FROM pe GROUP BY 1, 2),
    centroids AS (SELECT label, list(cx ORDER BY pos) AS centroid FROM cent GROUP BY label),
    q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < {N_QUERIES}),
    qc AS (
        SELECT q.vec_id AS query_id, c.label,
               list_dot_product(q.embedding::DOUBLE[], c.centroid) AS cdot
        FROM q, centroids c
    ),
    probes AS (
        SELECT query_id, label FROM (
            SELECT query_id, label,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY cdot DESC, label) AS r
            FROM qc
        ) WHERE r <= 2
    ),
    scored AS (
        SELECT p.query_id, e.vec_id AS neighbor_id,
               list_dot_product(q2.embedding::DOUBLE[], e.embedding::DOUBLE[]) AS cos
        FROM probes p
        JOIN embeddings e ON e.label = p.label
        JOIN q q2 ON q2.vec_id = p.query_id
        WHERE e.vec_id != p.query_id
    ),
    ranked AS (
        SELECT query_id, neighbor_id, cos,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY cos DESC, neighbor_id) AS rank
        FROM scored
    )
    SELECT query_id, neighbor_id, rank, round(cos, 4) AS cosine
    FROM ranked WHERE rank <= {TOP_K}
    ORDER BY query_id, rank
"""


@register(
    "ann_cosine_topk_multiprobe",
    oracle=_g(_ORACLE_MULTIPROBE),
    doc=(
        "Multi-probe IVF ANN: derive per-cell centroids (element-wise "
        "mean via posexplode + regroup), rank cells by query-to-centroid "
        "dot product, probe the TOP-2 cells instead of one — the standard "
        "recall/cost dial between single-probe IVF and brute force. "
        "Centroids are |cells| tiny rows (broadcast); candidates grow to "
        "2/nlist of the corpus, still an equi-join on the cell key."
    ),
    tags=("similarity",),
)
def ann_cosine_topk_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb(spark, sf_dir)
    # element-wise centroid per cell: posexplode -> per-(label,pos) mean
    # -> regroup in pos order
    pe = emb.select("label", F.posexplode("v").alias("pos", "x"))
    cent = pe.groupBy("label", "pos").agg(F.avg("x").alias("cx"))
    centroids = (
        cent.groupBy("label")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "cx"))).alias("s"))
        .select("label", F.transform("s", lambda st: st["cx"]).alias("centroid"))
    )
    q = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    qc = F.broadcast(q).crossJoin(F.broadcast(centroids)).withColumn(
        "cdot", _dot("qv", "centroid")
    )
    wprobe = W.partitionBy("query_id").orderBy(F.col("cdot").desc(), F.col("label"))
    probes = (
        qc.withColumn("r", F.row_number().over(wprobe))
        .filter(F.col("r") <= 2)
        .select("query_id", "qv", "label")
    )
    c = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("label").alias("clabel"),
        F.col("v").alias("cv"),
    )
    wrank = W.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("neighbor_id"))
    return (
        F.broadcast(probes)
        .join(c, probes.label == c.clabel)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cos", _dot("qv", "cv"))
        .withColumn("rank", F.row_number().over(wrank))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "neighbor_id", "rank", F.round("cos", 4).alias("cosine"))
        .orderBy("query_id", "rank")
    )


@register(
    "label_centroid_similarity",
    oracle=_g("""
        WITH pe AS (
            SELECT label,
                   unnest(generate_series(1, len(embedding))) AS pos,
                   unnest(embedding::DOUBLE[]) AS x
            FROM embeddings
        ),
        c AS (SELECT label, pos, avg(x) AS c FROM pe GROUP BY label, pos)
        SELECT a.label AS label_a, b.label AS label_b,
               round(sum(a.c * b.c)
                     / (sqrt(sum(a.c * a.c)) * sqrt(sum(b.c * b.c))),
                     4) AS cosine
        FROM c a JOIN c b ON a.pos = b.pos AND a.label < b.label
        GROUP BY a.label, b.label
        ORDER BY label_a, label_b
    """),
    doc=(
        "Inter-cluster geometry audit: pairwise cosine similarity "
        "between per-label embedding centroids — the 'are my IVF cells "
        "/ class clusters actually separated' diagnostic run before "
        "trusting a quantizer or a stratified sampling plan. Centroids "
        "via posexplode + per-(label, dim) mean (one map-side-"
        "combinable shuffle over the corpus); everything after operates "
        "on the labels x dims centroid table — constant-sized, so the "
        "pairwise self-join (labels^2/2 rows) never touches the corpus "
        "again. Cosine computed dim-aligned (equi-join on pos), "
        "rounded for cross-engine float stability."
    ),
    tags=("similarity", "agg", "join"),
)
def label_centroid_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb(spark, sf_dir)
    pe = emb.select("label", F.posexplode("v").alias("pos", "x"))
    c = pe.groupBy("label", "pos").agg(F.avg("x").alias("c"))
    a = c.select(F.col("label").alias("label_a"), "pos", F.col("c").alias("ca"))
    b = c.select(F.col("label").alias("label_b"), "pos", F.col("c").alias("cb"))
    return (
        a.join(b, "pos")
        .filter(F.col("label_a") < F.col("label_b"))
        .groupBy("label_a", "label_b")
        .agg(
            F.round(
                F.sum(F.col("ca") * F.col("cb"))
                / (
                    F.sqrt(F.sum(F.col("ca") * F.col("ca")))
                    * F.sqrt(F.sum(F.col("cb") * F.col("cb")))
                ),
                4,
            ).alias("cosine")
        )
        .orderBy("label_a", "label_b")
    )


# --- exact within-cell Gram kernel ------------------------------------

# Slab width of the reducers' Gram blocks: per-task memory is
# O(cell_rows x _GRAM_CHUNK) doubles, never cell_rows^2.
_GRAM_CHUNK = 4096


def _cell_gram(cells: DataFrame, cell: str, reduce, extra: str = "") -> DataFrame:
    """Exact within-cell cosines over a (vec_id, <cell>, v) frame, one
    grouped-map task per cell, reduced per cell by ``reduce``: the
    kernel behind ``semdedup_prune_report`` and
    ``knn_within_cell_report``. It replaces their pair-exploding
    self-join on the cell key and reproduces that join row for row:

    - exactness: ``gram(a, b)`` accumulates the Gram block DIMENSION
      BY DIMENSION from 0.0 (``G += outer(x[d], y[d])``), the left-to-right
      IEEE order of the join's fold
      ``aggregate(zip_with(va, vb, x * y), 0.0, acc + x)`` for every
      pair at once. Catalyst does not reassociate double addition, so
      both are the same float sequence; callers round JVM-side;
    - a NULL cell never equi-joined, and a NULL vec_id fails every
      vec_id condition: such rows are never paired;
    - a NULL vector, a vector with a NULL element, or one of the wrong
      shape had a NULL dot with every partner. Such a row is not
      ``valid``: its pairs are NULL. The NULL-element flag is computed
      JVM-side (``exists(v, isNull)``), because Arrow erases the
      null-vs-NaN distinction inside float lists. Every current load
      site filters ``size == EMB_DIM``;
    - a NaN coordinate propagates into the cosine, and Spark orders
      NaN greatest. NaN travels back as the ``cos_nan`` flag, because
      the pandas -> Arrow serializer turns NaN into NULL;
    - duplicate vec_ids: the join paired each ROW of one id with the
      rows of other ids, and the caller's per-id step (a GROUP BY, a
      window) merged the rows of an id. Each reducer merges per unique
      vec_id the same way, within the cell.

    ``reduce(ids, joins, valid, gram)`` sees one cell sorted by vec_id
    (NULLs last): the ids, the rows that take part in a join, the rows
    with a valid vector, and ``gram(a, b)``, the exact dot-product
    block of row indices ``a`` x ``b``. It returns its output columns,
    which include ``vec_id``, ``cos`` and ``null`` (True where the
    cosine is NULL); ``extra`` declares those besides vec_id, the cell
    and the cosine. The result also carries the cell key, and ``cos``
    with NaN rebuilt. Rows reach their cell in one shuffle. Everything
    the workers run is nested here or in the caller, so cloudpickle
    ships it by value: the workers need not import this package."""
    import numpy as np
    import pandas as pd

    dim = EMB_DIM
    vec_t = cells.schema["vec_id"].dataType.simpleString()
    cell_t = cells.schema[cell].dataType.simpleString()

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("vec_id", na_position="last", kind="mergesort")
        ids = pdf["vec_id"].to_numpy()
        joins = (pdf["vec_id"].notna() & pdf[cell].notna()).to_numpy()
        vt = np.zeros((dim, len(pdf)))  # one contiguous row per dimension
        valid = np.zeros(len(pdf), dtype=bool)
        for r, (v, has_null) in enumerate(zip(pdf["v"], pdf["has_null_elem"])):
            if joins[r] and v is not None and not has_null:
                a = np.asarray(v, dtype=np.float64)
                if a.shape == (dim,):
                    vt[:, r], valid[r] = a, True

        def gram(a, b):
            x, y = vt[:, a], vt[:, b]
            g = np.zeros((x.shape[1], y.shape[1]))
            xy = np.empty_like(g)
            for d in range(dim):
                g += np.outer(x[d], y[d], out=xy)
            return g

        out = reduce(ids, joins, valid, gram)
        null = out.pop("null")
        nan = np.isnan(out["cos"]) & ~null
        out["cos"] = np.where(null | nan, np.nan, out["cos"])
        out["cos_nan"] = nan
        res = pd.DataFrame(out)
        res[cell] = pdf[cell].iloc[0]
        return res

    cols = (f"vec_id {vec_t}", f"{cell} {cell_t}", extra, "cos double")
    schema = ", ".join(c for c in cols if c)
    return (
        cells.withColumn("has_null_elem", F.exists("v", lambda x: x.isNull()))
        .groupBy(cell)
        .applyInPandas(kernel, schema + ", cos_nan boolean")
        .withColumn(
            "cos",
            F.when(F.col("cos_nan"), F.lit(float("nan"))).otherwise(F.col("cos")),
        )
        .drop("cos_nan")
    )


# --- k-NN graph and hyperplane LSH -----------------------------------

KNN_K = 3

# Hyperplane LSH: 6 planes -> 64 buckets. Plane coefficients are the
# deterministic small-integer pattern ((p*131 + d*17) % 7) - 3, and the
# vector is quantized to round(x*1000) BIGINT before the projection, so
# the signed projection is EXACT INTEGER arithmetic in both engines —
# the sign (and therefore the bucket) can never flip on a sub-ulp
# float-summation difference, the classic cross-engine LSH hazard.
LSH_PLANES = 6


@register(
    "knn_graph_within_cell",
    oracle=_g(f"""
        WITH scored AS (
            SELECT a.vec_id AS vec_id, b.vec_id AS neighbor_id,
                   list_dot_product(a.embedding::DOUBLE[],
                                    b.embedding::DOUBLE[]) AS cos
            FROM embeddings a JOIN embeddings b
              ON a.label = b.label AND a.vec_id != b.vec_id
        ),
        ranked AS (
            SELECT vec_id, neighbor_id, cos,
                   row_number() OVER (PARTITION BY vec_id
                                      ORDER BY cos DESC, neighbor_id) AS rank
            FROM scored
        )
        SELECT vec_id, neighbor_id, rank, round(cos, 4) AS cosine
        FROM ranked WHERE rank <= {KNN_K}
        ORDER BY vec_id, rank
    """),
    doc=(
        f"k-NN graph (k={KNN_K}) over ALL vectors, restricted to each "
        "vector's IVF cell (label = coarse-quantizer assignment): the "
        "cell equi-join caps candidate generation at sum(cell^2) "
        "instead of N^2, the top-k window is partitioned by vec_id "
        "(never global), and every dot product is JVM-side column "
        "algebra (zip_with + aggregate). This is the build step for "
        "graph-based ANN indexes (NSW-style) and for kNN-graph "
        "near-dup clustering; at 100 TB each cell join partitions "
        "independently, and recall is tuned by probing adjacent cells "
        "(the multiprobe pattern registered separately)."
    ),
    tags=("similarity", "graph", "join"),
)
def knn_graph_within_cell(spark: SparkSession, sf_dir: str) -> DataFrame:
    return knn_within_cell_report(_emb(spark, sf_dir))


def knn_within_cell_report(cells: DataFrame) -> DataFrame:
    """The within-cell kNN graph over a (vec_id, label, v) frame —
    shared by ``knn_graph_within_cell`` and (through it)
    ``graph_semantic_clusters``.

    The cosines come from ``_cell_gram``, whose docstring states the
    exactness, NULL/NaN and duplicate-id rules; the join + window it
    replaced (OPTIMIZATION_r13 §4) is the differential reference in
    tests/test_optimization_r13.py.

    Reducer: each vector's top ``KNN_K`` other ids in the window's
    ``ORDER BY cos DESC, neighbor_id`` order, Spark's double ordering
    seams included — a NaN cosine (the greatest double) first, NULL
    cosines last but still emitted when the cell has few real
    candidates, ties by neighbor_id ascending. Each source slab keeps
    its rows' top k; rows that share a vec_id are then merged into one
    list, as the window partitioned by the id value. That is sound:
    an entry of the merged top k beats fewer than k candidates
    overall, hence fewer than k in its own row."""
    import numpy as np

    vec_t = cells.schema["vec_id"].dataType.simpleString()
    chunk = _GRAM_CHUNK
    k = KNN_K

    def top_k(ids, joins, valid, gram):
        src = np.flatnonzero(joins)
        sid = ids[src]
        m, kk = len(src), min(k, len(src))
        # per source row, its kk best (class, -cos, neighbor, cos)
        cls_k = np.empty((m, kk), dtype=np.int8)
        neg_k = np.empty((m, kk))
        nb_k = np.empty((m, kk), dtype=sid.dtype)
        cos_k = np.empty((m, kk))
        for lo in range(0, m, chunk):
            s = src[lo : lo + chunk]
            g = gram(s, src)
            # class 0: NaN, 1: a cosine, 2: NULL (an invalid side),
            # 3: the row's own id, which the != join never paired
            both = valid[s][:, None] & valid[src][None, :]
            cls = np.where(both, np.where(np.isnan(g), 0, 1), 2).astype(np.int8)
            cls[ids[s][:, None] == sid[None, :]] = 3
            neg = np.where(cls == 1, -g, 0.0)
            nb = np.broadcast_to(sid, g.shape)
            o = np.lexsort((nb, neg, cls), axis=-1)[:, :kk]
            r = np.arange(len(s))[:, None]
            hi = lo + len(s)
            cls_k[lo:hi], neg_k[lo:hi] = cls[r, o], neg[r, o]
            nb_k[lo:hi], cos_k[lo:hi] = nb[r, o], g[r, o]
        # merge the rows of each vec_id (a no-op when ids are unique)
        src_id = np.repeat(sid, kk)
        cls, neg, nb, cos = (a.ravel() for a in (cls_k, neg_k, nb_k, cos_k))
        o = np.lexsort((nb, neg, cls, src_id))
        o = o[cls[o] < 3]
        gid = src_id[o]
        first = np.ones(len(o), dtype=bool)
        first[1:] = gid[1:] != gid[:-1]
        pos = np.arange(len(o))
        rank = pos - np.maximum.accumulate(np.where(first, pos, 0)) + 1
        o, gid, rank = o[rank <= k], gid[rank <= k], rank[rank <= k]
        return {
            "vec_id": gid,
            "neighbor_id": nb[o],
            "rank": rank.astype(np.int32),
            "cos": cos[o],
            "null": cls[o] == 2,
        }

    return _cell_gram(
        cells, "label", top_k, f"neighbor_id {vec_t}, rank int"
    ).select("vec_id", "neighbor_id", "rank", F.round("cos", 4).alias("cosine"))


def _lsh_sig_spark() -> Column:
    """64-bucket signature: sum over planes of 2^p * (proj_p >= 0)."""
    sig = F.lit(0)
    for p in range(LSH_PLANES):
        proj = F.expr(
            "aggregate(transform(v, (x, i) -> cast(round(x * 1000) as bigint)"
            f" * (pmod({p} * 131 + i * 17, 7) - 3)), 0L, (acc, x) -> acc + x)"
        )
        sig = sig + F.when(proj >= 0, F.lit(1 << p)).otherwise(F.lit(0))
    return sig


def _lsh_sig_duck(alias: str) -> str:
    terms = []
    for p in range(LSH_PLANES):
        proj = (
            f"list_sum(list_transform(generate_series(1, len({alias}.embedding)), "
            f"i -> CAST(round(CAST({alias}.embedding[i] AS DOUBLE) * 1000) AS BIGINT) "
            f"* (({p} * 131 + (i - 1) * 17) % 7 - 3)))"
        )
        terms.append(f"(CASE WHEN {proj} >= 0 THEN {1 << p} ELSE 0 END)")
    return " + ".join(terms)


@register(
    "ann_lsh_hyperplane_topk",
    oracle=_g(f"""
        WITH sigs AS (
            SELECT e.vec_id, e.embedding,
                   {_lsh_sig_duck('e')} AS sig
            FROM embeddings e
        ),
        q AS (SELECT * FROM sigs WHERE vec_id < {N_QUERIES}),
        scored AS (
            SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                   list_dot_product(q.embedding::DOUBLE[],
                                    c.embedding::DOUBLE[]) AS cos
            FROM q JOIN sigs c
              ON q.sig = c.sig AND q.vec_id != c.vec_id
        ),
        ranked AS (
            SELECT query_id, neighbor_id, cos,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY cos DESC, neighbor_id) AS rank
            FROM scored
        )
        SELECT query_id, neighbor_id, rank, round(cos, 4) AS cosine
        FROM ranked WHERE rank <= {TOP_K}
        ORDER BY query_id, rank
    """),
    doc=(
        f"Random-hyperplane LSH ANN: {LSH_PLANES} deterministic integer "
        "hyperplanes hash every vector to a 64-bucket signature; "
        "candidates are the query's bucket only (equi-join on sig), "
        "then exact cosine ranks the bucket. The projection quantizes "
        "the vector to round(x*1000) BIGINT so the sign bit is exact "
        "integer arithmetic — immune to cross-engine float-sum "
        "ordering, which would otherwise flip buckets for near-plane "
        "vectors. Data-independent alternative to the IVF cell probe "
        "(no quantizer training); at scale you run T independent "
        "plane sets and union candidates to trade compute for recall."
    ),
    tags=("similarity", "lsh", "join"),
)
def ann_lsh_hyperplane_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb(spark, sf_dir).withColumn("sig", _lsh_sig_spark())
    q = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("sig").alias("qsig"),
        F.col("v").alias("qv"),
    )
    c = emb.select(
        F.col("vec_id").alias("neighbor_id"), F.col("sig"), F.col("v").alias("cv")
    )
    joined = F.broadcast(q).join(
        c, (F.col("qsig") == F.col("sig")) & (F.col("query_id") != F.col("neighbor_id"))
    )
    w = W.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("neighbor_id"))
    return (
        joined.withColumn("cos", _dot("qv", "cv"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "neighbor_id", "rank", F.round("cos", 4).alias("cosine"))
        .orderBy("query_id", "rank")
    )


def _trained_ivf_oracle() -> str:
    from coviddatapipeline_spark.operators.datapipe import km_cte_parts

    ctes, last = km_cte_parts()
    return f"""
        WITH {ctes},
        scored AS (
            SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                   list_dot_product(qq.embedding::DOUBLE[],
                                    cc.embedding::DOUBLE[]) AS cos
            FROM {last} q
            JOIN {last} c ON q.cluster = c.cluster AND q.vec_id != c.vec_id
            JOIN embeddings qq ON qq.vec_id = q.vec_id
            JOIN embeddings cc ON cc.vec_id = c.vec_id
            WHERE q.vec_id < {N_QUERIES}
        ),
        ranked AS (
            SELECT query_id, neighbor_id, cos,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY cos DESC, neighbor_id) AS rank
            FROM scored
        )
        SELECT query_id, neighbor_id, rank, round(cos, 4) AS cosine
        FROM ranked WHERE rank <= {TOP_K}
        ORDER BY query_id, rank
    """


@register(
    "ann_cosine_topk_ivf_trained",
    oracle=_g(_trained_ivf_oracle()),
    doc=(
        "IVF ANN probing cells of the TRAINED coarse quantizer: the "
        "fixed-point Lloyd centroids from datapipe.km_train_centroids "
        "(the same model ivf_kmeans_lloyd's audit verifies) assign "
        "every vector a cell with a map-only broadcast-literal argmax; "
        "each query then ranks only its own cell's candidates — the "
        "production IVF shape, vs ann_cosine_topk_ivf's label-seeded "
        "stand-in. Index build is the Lloyd cost (per iteration: one "
        "map-only pass + one k x dim metadata collect); the probe is "
        "one equi-join on the cell id with the query set broadcast. "
        "Oracle: the unrolled Lloyd CTE chain extended with the "
        "same-cell top-k — assignment, centroids, and ranking all "
        "verified end-to-end in one statement."
    ),
    tags=("similarity", "iterative"),
)
def ann_cosine_topk_ivf_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    from coviddatapipeline_spark.operators.datapipe import (
        km_assign,
        km_train_centroids,
    )

    q, cent = km_train_centroids(spark, sf_dir)
    assigned = km_assign(q, cent).select("vec_id", "cluster")
    emb = _emb(spark, sf_dir)
    qs = (
        assigned.filter(F.col("vec_id") < N_QUERIES)
        .join(emb, "vec_id")
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("cluster").alias("qcl"),
            F.col("v").alias("qv"),
        )
    )
    cand = assigned.join(emb, "vec_id").select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("cluster").alias("ccl"),
        F.col("v").alias("cv"),
    )
    w = W.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("neighbor_id"))
    return (
        F.broadcast(qs)
        .join(
            cand,
            (F.col("qcl") == F.col("ccl"))
            & (F.col("query_id") != F.col("neighbor_id")),
        )
        .withColumn("cos", _dot("qv", "cv"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "neighbor_id", "rank", F.round("cos", 4).alias("cosine"))
        .orderBy("query_id", "rank")
    )


def _trained_recall_oracle() -> str:
    from coviddatapipeline_spark.operators.datapipe import km_cte_parts

    ctes, last = km_cte_parts()
    return f"""
        WITH {ctes},
        scored AS (
            SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                   aq.cluster = ac.cluster AS same_cell,
                   list_dot_product(q.embedding::DOUBLE[],
                                    c.embedding::DOUBLE[]) AS cos
            FROM embeddings q
            JOIN embeddings c ON q.vec_id != c.vec_id
            JOIN {last} aq ON aq.vec_id = q.vec_id
            JOIN {last} ac ON ac.vec_id = c.vec_id
            WHERE q.vec_id < {N_QUERIES}
        ),
        exact AS (
            SELECT query_id, neighbor_id FROM (
                SELECT query_id, neighbor_id,
                       row_number() OVER (PARTITION BY query_id
                                          ORDER BY cos DESC, neighbor_id) AS r
                FROM scored
            ) WHERE r <= {TOP_K}
        ),
        ivf AS (
            SELECT query_id, neighbor_id FROM (
                SELECT query_id, neighbor_id,
                       row_number() OVER (PARTITION BY query_id
                                          ORDER BY cos DESC, neighbor_id) AS r
                FROM scored WHERE same_cell
            ) WHERE r <= {TOP_K}
        )
        SELECT e.query_id,
               round(count(i.neighbor_id) * 1.0 / {TOP_K}, 4) AS recall_at_k
        FROM exact e
        LEFT JOIN ivf i ON e.query_id = i.query_id
                       AND e.neighbor_id = i.neighbor_id
        GROUP BY e.query_id
        ORDER BY e.query_id
    """


@register(
    "ann_recall_trained_vs_exact",
    oracle=_g(_trained_recall_oracle()),
    doc=(
        "Recall@k of the TRAINED-quantizer IVF probe "
        "(ann_cosine_topk_ivf_trained's cells) against exact brute "
        "force, per query — completes the ANN accuracy/cost matrix: "
        "brute force (recall 1 by definition), label-seeded IVF "
        "(ann_recall_ivf_vs_exact), and now the production-shaped "
        "trained index, so the quantizer-quality question 'did Lloyd "
        "training buy recall over the label stand-in?' is a driver-"
        "checked number, not an assumption. Oracle chains the unrolled "
        "training CTEs into the recall computation."
    ),
    tags=("similarity", "iterative", "audit"),
)
def ann_recall_trained_vs_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from coviddatapipeline_spark.operators.datapipe import (
        km_assign,
        km_train_centroids,
    )

    q, cent = km_train_centroids(spark, sf_dir)
    assigned = km_assign(q, cent).select("vec_id", "cluster")
    emb = _emb(spark, sf_dir)
    qs = (
        assigned.filter(F.col("vec_id") < N_QUERIES)
        .join(emb, "vec_id")
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("cluster").alias("qcl"),
            F.col("v").alias("qv"),
        )
    )
    cand = assigned.join(emb, "vec_id").select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("cluster").alias("ccl"),
        F.col("v").alias("cv"),
    )
    scored = (
        F.broadcast(qs)
        .join(cand, F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cos", _dot("qv", "cv"))
        .withColumn("same_cell", F.col("qcl") == F.col("ccl"))
        .select("query_id", "neighbor_id", "cos", "same_cell")
        .persist()  # feeds both the exact and the probed ranking
    )
    w = W.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("neighbor_id"))
    exact = (
        scored.withColumn("r", F.row_number().over(w))
        .filter(F.col("r") <= TOP_K)
        .select("query_id", "neighbor_id")
    )
    ivf = (
        scored.filter(F.col("same_cell"))
        .withColumn("r", F.row_number().over(w))
        .filter(F.col("r") <= TOP_K)
        .select(
            F.col("query_id").alias("iq"), F.col("neighbor_id").alias("inb")
        )
    )
    return (
        exact.join(
            ivf,
            (F.col("query_id") == F.col("iq"))
            & (F.col("neighbor_id") == F.col("inb")),
            "left",
        )
        .groupBy("query_id")
        .agg(F.round(F.count("inb") / TOP_K, 4).alias("recall_at_k"))
        .orderBy("query_id")
    )


def _ivf_rebalance_oracle() -> str:
    from coviddatapipeline_spark.operators.datapipe import (
        KM_DIM,
        KM_ITERS,
        km_cte_parts,
    )

    ctes, last = km_cte_parts()
    return f"""
        WITH {ctes},
        ed AS (
            -- the drifted corpus: every quantized vector rotated one
            -- coordinate left (norm-preserving, deterministic, and a
            -- genuine distribution shift for the dot-product argmax)
            SELECT vec_id, list_concat(q[2:{KM_DIM}], [q[1]]) AS q FROM e
        ),
        ad AS (
            SELECT d.vec_id,
                   (SELECT c.cid FROM cent{KM_ITERS} c
                    ORDER BY list_dot_product(d.q::DOUBLE[], c.c::DOUBLE[]) DESC,
                             c.cid ASC
                    LIMIT 1) AS cluster
            FROM ed d
        ),
        orig AS (SELECT cluster, count(*) AS n FROM {last} GROUP BY cluster),
        drift AS (SELECT cluster, count(*) AS n FROM ad GROUP BY cluster),
        md AS (
            SELECT ad.cluster AS cid, u.i,
                   CAST(floor(sum(ed.q[u.i]) * 1.0 / count(*)) AS BIGINT) AS c
            FROM ad JOIN ed USING (vec_id),
                 unnest(generate_series(1, {KM_DIM})) AS u(i)
            GROUP BY ad.cluster, u.i
        ),
        fdim AS (
            SELECT cid, u.i, c[u.i] AS fc
            FROM cent{KM_ITERS}, unnest(generate_series(1, {KM_DIM})) AS u(i)
        ),
        move AS (
            SELECT fdim.cid, CAST(sum(abs(md.c - fdim.fc)) AS BIGINT) AS moved
            FROM md JOIN fdim ON md.cid = fdim.cid AND md.i = fdim.i
            GROUP BY fdim.cid
        )
        SELECT f.cid AS cluster,
               CAST(COALESCE(o.n, 0) AS BIGINT) AS n_orig,
               CAST(COALESCE(d.n, 0) AS BIGINT) AS n_drift,
               CAST(COALESCE(d.n, 0) - COALESCE(o.n, 0) AS BIGINT) AS net_inflow,
               CAST(COALESCE(m.moved, 0) AS BIGINT) AS retrain_moved_l1
        FROM (SELECT cid FROM cent{KM_ITERS}) f
        LEFT JOIN orig o ON o.cluster = f.cid
        LEFT JOIN drift d ON d.cluster = f.cid
        LEFT JOIN move m ON m.cid = f.cid
        ORDER BY cluster
    """


@register(
    "ann_ivf_rebalance_drift",
    oracle=_g(_ivf_rebalance_oracle()),
    doc=(
        "IVF index maintenance under distribution drift (VERDICT r07 "
        "#3b): the frozen quantizer (datapipe.km_train_centroids — the "
        "same trained model stream_ivf_cell_assign serves on the "
        "ingest path) assigns BOTH the training corpus and a drifted "
        "corpus (every vector rotated one coordinate — deterministic, "
        "norm-preserving, and a real shift for the argmax), and the "
        "report emits, per cell: original vs drifted occupancy, net "
        "inflow, and the L1 centroid movement ONE Lloyd update on the "
        "drifted data would apply — the number an index-maintenance "
        "policy thresholds to decide re-train vs re-balance vs leave. "
        "All exact fixed-point integers (the trainer's representation), "
        "so the report hashes identically cross-engine. Scale: two "
        "map-only broadcast-literal assignment passes + one map-side-"
        "combinable k x dim sum agg — the same per-iteration cost "
        "profile as training, no shuffle of the corpus, centroid state "
        "metadata-sized. Oracle: the unrolled Lloyd CTE chain extended "
        "with the drifted assignment and the one-step delta."
    ),
    tags=("similarity", "iterative", "audit"),
)
def ann_ivf_rebalance_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from coviddatapipeline_spark.operators.datapipe import (
        KM_DIM,
        km_assign,
        km_train_centroids,
    )

    q, cent = km_train_centroids(spark, sf_dir)
    # drifted corpus: rotate the QUANTIZED coordinates one left
    # (rotation commutes with per-coordinate quantization, so this is
    # the quantization of the rotated floats, matching the oracle's ed)
    qd = q.select(
        "vec_id",
        F.concat(F.slice("q", 2, KM_DIM - 1), F.slice("q", 1, 1)).alias("q"),
    )
    orig = (
        km_assign(q, cent).groupBy("cluster").agg(F.count("*").alias("n_orig"))
    )
    # One array-of-sums aggregate + a transform for the means instead of
    # KM_DIM separate agg/array columns (OPTIMIZATION_r12 §C2): same 64
    # SumAggregates (SQL array indexing is 0-based), same per-element
    # floor(sum * 1.0 / n) double math in the same order — only the
    # driver-side construction cost changes (guide §7.3 plan-build time).
    dsums = (
        km_assign(qd, cent)
        .groupBy("cluster")
        .agg(
            F.count("*").alias("n_drift"),
            F.expr(
                "array(" + ", ".join(f"sum(q[{i}])" for i in range(KM_DIM)) + ")"
            ).alias("s"),
        )
    )
    # floor(sum/n) in double is exact-then-floored (sums << 2^53), the
    # same mean the trainer and its oracle compute
    new_c = F.transform(
        F.col("s"), lambda v: F.floor(v * 1.0 / F.col("n_drift")).cast("long")
    )
    drift = dsums.select("cluster", "n_drift", new_c.alias("newc"))
    cent_df = spark.createDataFrame(
        [(cid, c) for cid, c in sorted(cent.items())],
        "cluster long, frozen array<bigint>",
    )
    moved = F.aggregate(
        F.zip_with(F.col("newc"), F.col("frozen"), lambda a, b: F.abs(a - b)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    return (
        cent_df.join(orig, "cluster", "left")
        .join(drift, "cluster", "left")
        .select(
            "cluster",
            F.coalesce("n_orig", F.lit(0)).cast("long").alias("n_orig"),
            F.coalesce("n_drift", F.lit(0)).cast("long").alias("n_drift"),
            (F.coalesce("n_drift", F.lit(0)) - F.coalesce("n_orig", F.lit(0)))
            .cast("long")
            .alias("net_inflow"),
            F.coalesce(moved, F.lit(0)).cast("long").alias("retrain_moved_l1"),
        )
        .orderBy("cluster")
    )


# ---------------------------------------------------------------------------
# SemDeDup-style semantic pruning + Matryoshka truncation audit
# ---------------------------------------------------------------------------

SEMDEDUP_TAU = 0.2  # prune when cosine to an earlier same-cell vector exceeds this
NO_EARLIER = -2.0  # sentinel: first vector of its cell (cosine is always >= -1)


@register(
    "semdedup_cell_prune",
    oracle=_g(f"""
        WITH e AS (
            SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings
        ),
        pairs AS (
            SELECT b.vec_id, b.label,
                   max(list_dot_product(a.v, b.v)) AS mx
            FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
            GROUP BY b.vec_id, b.label
        )
        SELECT e.vec_id AS vec_id, e.label AS cell,
               round(coalesce(p.mx, {NO_EARLIER}), 4) AS max_earlier_cos,
               CAST(CASE WHEN coalesce(p.mx, {NO_EARLIER}) > {SEMDEDUP_TAU}
                         THEN 1 ELSE 0 END AS INT) AS pruned
        FROM e LEFT JOIN pairs p ON e.vec_id = p.vec_id
        ORDER BY e.vec_id
    """),
    doc=(
        "SemDeDup-style semantic dedup (Abbas et al. 2023, public): "
        "within each coarse cell (the quantizer assignment, as in the "
        "IVF entries) a vector is pruned when an EARLIER vector of the "
        "same cell is more similar than tau — removing embedding-level "
        "near-duplicates that exact/MinHash text dedup cannot see. The "
        "keep rule is the order-independent variant (any earlier "
        "neighbor above tau prunes, whether or not that neighbor was "
        "itself pruned): one equi-join on the cell key, pairwise work "
        "Sigma(cell^2) NOT corpus^2 — at 100 TB the cell count (nlist) "
        "is raised to bound cell size, exactly like the IVF index this "
        "shares its partitioning with. The threshold compares the raw "
        "double (identical left-fold dot product both engines); only "
        "the reported cosine is rounded."
    ),
    tags=("similarity", "dedup", "embeddings"),
)
def semdedup_cell_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb(spark, sf_dir)
    return semdedup_prune_report(
        emb.select("vec_id", F.col("label").alias("cell"), "v")
    )


def semdedup_prune_report(cells: DataFrame) -> DataFrame:
    """The SemDeDup within-cell earlier-neighbor prune over a
    (vec_id, cell, v) frame — shared verbatim by the static-cell entry
    (``semdedup_cell_prune``, cells = the label column) and the
    trained-cell entry (``semdedup_trained_cells``, cells = the audited
    Lloyd quantizer's assignment), so the audited clustering and the
    dedup partitioning cannot drift. One shuffle on the cell key;
    pairwise work Sigma(cell^2), never corpus^2.

    The cosines come from ``_cell_gram``, whose docstring states the
    exactness, NULL/NaN and duplicate-id rules; the self-join it
    replaced (OPTIMIZATION_r12 §B2) is the differential reference in
    tests/test_optimization_r12.py.

    Reducer: each vector's max cosine over the vectors of its cell
    with a strictly smaller vec_id (a NaN cosine wins, as Spark orders
    NaN greatest), taken over all copies of its vec_id and given to
    every copy, as the join's GROUP BY vec_id did; NO_EARLIER when
    there is no such pair."""
    import numpy as np

    chunk = _GRAM_CHUNK

    def earlier_max(ids, joins, valid, gram):
        vi = np.flatnonzero(valid)
        vid = ids[vi]
        mx = np.full(len(ids), -np.inf)
        paired = np.zeros(len(ids), dtype=bool)
        paired[vi] = vid > vid[:1]  # some valid vector has a smaller id
        for lo in range(0, len(vi), chunk):
            hi = min(lo + chunk, len(vi))
            g = gram(vi[:hi], vi[lo:hi])
            # strict id order, as the join's a.vec_id < b.vec_id
            earlier = vid[:hi, None] < vid[None, lo:hi]
            mx[vi[lo:hi]] = np.where(earlier, g, -np.inf).max(axis=0)
        # one value per vec_id, for every copy (NULL ids never match)
        starts = np.flatnonzero(np.r_[True, ids[1:] != ids[:-1]])
        copies = np.diff(np.r_[starts, len(ids)])
        return {
            "vec_id": ids,
            "cos": np.repeat(np.maximum.reduceat(mx, starts), copies),
            "null": ~np.repeat(np.logical_or.reduceat(paired, starts), copies),
        }

    mxf = F.coalesce(F.col("cos"), F.lit(NO_EARLIER))
    return _cell_gram(cells, "cell", earlier_max).select(
        "vec_id",
        "cell",
        F.round(mxf, 4).alias("max_earlier_cos"),
        (mxf > SEMDEDUP_TAU).cast("int").alias("pruned"),
    )


def _semdedup_trained_oracle() -> str:
    from coviddatapipeline_spark.operators.datapipe import KM_DIM, km_cte_parts

    km_chain, last = km_cte_parts()
    return f"""
        WITH {km_chain},
        ed AS (
            -- raw doubles for the cosine (the Lloyd chain's e is the
            -- fixed-point frame); same KM_DIM totality gate
            SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
            WHERE len(embedding) = {KM_DIM}
        ),
        cells AS (
            SELECT a.vec_id, CAST(a.cluster AS BIGINT) AS cell, ed.v
            FROM {last} a JOIN ed USING (vec_id)
        ),
        pairs AS (
            SELECT b.vec_id, max(list_dot_product(a.v, b.v)) AS mx
            FROM cells a JOIN cells b
              ON a.cell = b.cell AND a.vec_id < b.vec_id
            GROUP BY b.vec_id
        )
        SELECT c.vec_id, c.cell,
               round(coalesce(p.mx, {NO_EARLIER}), 4) AS max_earlier_cos,
               CAST(CASE WHEN coalesce(p.mx, {NO_EARLIER}) > {SEMDEDUP_TAU}
                         THEN 1 ELSE 0 END AS INT) AS pruned
        FROM cells c LEFT JOIN pairs p USING (vec_id)
    """


@register(
    "semdedup_trained_cells",
    oracle=_semdedup_trained_oracle(),
    doc=(
        "SemDeDup over TRAINED cells (VERDICT r09 #8): the coarse "
        "cells that bound the pairwise work come from the audited "
        "fixed-point Lloyd quantizer (datapipe.km_train_centroids — "
        "the same trained model the IVF index probes and "
        "stream_ivf_cell_assign serves) instead of the static label "
        "column, composed with the same within-cell earlier-neighbor "
        "prune kernel as semdedup_cell_prune "
        "(semdedup_prune_report, shared code) — the published "
        "SemDeDup shape end-to-end: k-means the embeddings, dedup "
        "within clusters (Abbas et al. 2023). The oracle chains the "
        "trainer's unrolled Lloyd CTEs into the prune SQL, so one "
        "hash certifies training, assignment, AND dedup. Scale: "
        "assignment is a broadcast-centroid map-only pass; the prune "
        "is one equi-join on the trained cell key, Sigma(cell^2) "
        "pairwise work — at 100 TB raise K to bound cell size, "
        "exactly like the IVF index this shares its model with."
    ),
    tags=("similarity", "dedup", "embeddings", "iterative"),
)
def semdedup_trained_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    from coviddatapipeline_spark.operators.datapipe import (
        km_assign,
        km_train_centroids,
    )

    q, cent = km_train_centroids(spark, sf_dir)
    assigned = km_assign(q, cent).select(
        "vec_id", F.col("cluster").cast("long").alias("cell")
    )
    emb = _emb(spark, sf_dir).select("vec_id", "v")
    return semdedup_prune_report(emb.join(assigned, "vec_id"))


TRUNC_DIM = 16  # Matryoshka audit: rank with the first 16 of 64 dims


@register(
    "ann_matryoshka_recall",
    oracle=_g(f"""
        WITH q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < {N_QUERIES}),
        scored AS (
            SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                   list_dot_product(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) AS cos_full,
                   list_dot_product(list_slice(q.embedding::DOUBLE[], 1, {TRUNC_DIM}),
                                    list_slice(c.embedding::DOUBLE[], 1, {TRUNC_DIM}))
                   / (sqrt(list_dot_product(list_slice(q.embedding::DOUBLE[], 1, {TRUNC_DIM}),
                                            list_slice(q.embedding::DOUBLE[], 1, {TRUNC_DIM})))
                      * sqrt(list_dot_product(list_slice(c.embedding::DOUBLE[], 1, {TRUNC_DIM}),
                                              list_slice(c.embedding::DOUBLE[], 1, {TRUNC_DIM})))) AS cos_trunc
            FROM q JOIN embeddings c ON q.vec_id != c.vec_id
        ),
        exact AS (
            SELECT query_id, neighbor_id FROM (
                SELECT query_id, neighbor_id,
                       row_number() OVER (PARTITION BY query_id
                                          ORDER BY cos_full DESC, neighbor_id) AS r
                FROM scored
            ) WHERE r <= {TOP_K}
        ),
        trunc AS (
            SELECT query_id, neighbor_id FROM (
                SELECT query_id, neighbor_id,
                       row_number() OVER (PARTITION BY query_id
                                          ORDER BY cos_trunc DESC, neighbor_id) AS r
                FROM scored
            ) WHERE r <= {TOP_K}
        )
        SELECT e.query_id,
               round(count(t.neighbor_id) * 1.0 / {TOP_K}, 4) AS recall_at_k
        FROM exact e
        LEFT JOIN trunc t ON e.query_id = t.query_id AND e.neighbor_id = t.neighbor_id
        GROUP BY e.query_id
        ORDER BY e.query_id
    """),
    doc=(
        "Matryoshka-truncation audit (Kusupati et al. 2022, public): "
        "recall@k when ranking with only the FIRST 16 of 64 embedding "
        "dims (renormalized cosine) against the full-dim exact top-k — "
        "the measured accuracy side of the 4x bandwidth/compute saving "
        "that dimension truncation buys a 100 TB retrieval tier. Same "
        "scored-pair frame feeds both rankings (one pass over the "
        "pairs); truncated cosine = dot/(|q||c|) on list_slice, every "
        "step an identical IEEE double op on both engines, ties broken "
        "on neighbor_id."
    ),
    tags=("similarity", "embeddings"),
)
def ann_matryoshka_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb(spark, sf_dir)
    q = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    c = emb.select(F.col("vec_id").alias("neighbor_id"), F.col("v").alias("cv"))

    def tr(col: str) -> Column:
        return F.slice(F.col(col), 1, TRUNC_DIM)

    def norm(col: str) -> Column:
        return F.sqrt(
            F.aggregate(
                F.transform(tr(col), lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x
            )
        )

    scored = (
        F.broadcast(q)
        .join(c, F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cos_full", _dot("qv", "cv"))
        .withColumn(
            "cos_trunc",
            # try_divide: a zero-norm (or empty/short) prefix has no
            # defined cosine — NULL ranks below every real score under
            # the DESC window instead of ANSI-aborting the job on the
            # first degenerate vector. Identical to `/` on clean data.
            F.try_divide(
                F.aggregate(
                    F.zip_with(tr("qv"), tr("cv"), lambda x, y: x * y),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                ),
                norm("qv") * norm("cv"),
            ),
        )
        .select("query_id", "neighbor_id", "cos_full", "cos_trunc")
    )
    wf = W.partitionBy("query_id").orderBy(F.col("cos_full").desc(), F.col("neighbor_id"))
    wt = W.partitionBy("query_id").orderBy(F.col("cos_trunc").desc(), F.col("neighbor_id"))
    exact = (
        scored.withColumn("r", F.row_number().over(wf))
        .filter(F.col("r") <= TOP_K)
        .select("query_id", "neighbor_id")
    )
    trunc = (
        scored.withColumn("r", F.row_number().over(wt))
        .filter(F.col("r") <= TOP_K)
        .select(F.col("query_id").alias("tq"), F.col("neighbor_id").alias("tn"))
    )
    return (
        exact.join(
            trunc,
            (F.col("query_id") == F.col("tq")) & (F.col("neighbor_id") == F.col("tn")),
            "left",
        )
        .groupBy("query_id")
        .agg(F.round(F.count("tn") * 1.0 / TOP_K, 4).alias("recall_at_k"))
        .orderBy("query_id")
    )


# ---------------------------------------------------------------------------
# Product quantization (IVF-PQ building block)
# ---------------------------------------------------------------------------

PQ_SUBSPACES = 8  # 64 dims -> 8 subspaces x 8 dims
PQ_SUBDIM = 8


@register(
    "pq_codebook_assign",
    oracle=_g(f"""
        WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
        seed AS (SELECT label, min(vec_id) AS mid FROM e GROUP BY label),
        med AS (
            SELECT e.label AS code, s,
                   list_slice(e.v, s * {PQ_SUBDIM} + 1, s * {PQ_SUBDIM} + {PQ_SUBDIM}) AS m
            FROM e JOIN seed ON e.vec_id = seed.mid,
                 (SELECT unnest(generate_series(0, {PQ_SUBSPACES - 1})) AS s)
        ),
        vs AS (
            SELECT vec_id, s,
                   list_slice(v, s * {PQ_SUBDIM} + 1, s * {PQ_SUBDIM} + {PQ_SUBDIM}) AS a
            FROM e, (SELECT unnest(generate_series(0, {PQ_SUBSPACES - 1})) AS s)
        ),
        dist AS (
            SELECT vs.vec_id, vs.s, med.code,
                   list_dot_product(a, a) - 2 * list_dot_product(a, m)
                   + list_dot_product(m, m) AS d2
            FROM vs JOIN med ON vs.s = med.s
        ),
        chosen AS (
            SELECT vec_id, s, code, d2,
                   row_number() OVER (PARTITION BY vec_id, s
                                      ORDER BY d2, code) AS r
            FROM dist
        )
        SELECT s, code,
               CAST(count(*) AS BIGINT) AS n_assigned,
               CAST(sum(CAST(floor(d2 * 10000 + 0.5) AS BIGINT)) AS BIGINT)
                   AS sum_err_e4,
               CAST(sum(CAST(floor(d2 * 10000 + 0.5) AS BIGINT)) // count(*)
                    AS BIGINT) AS avg_err_e4
        FROM chosen WHERE r = 1
        GROUP BY s, code
        ORDER BY s, code
    """),
    doc=(
        "Product-quantization code assignment (Jegou et al. 2011, "
        "public — the PQ half of IVF-PQ): the 64-dim space splits into "
        f"{PQ_SUBSPACES} x {PQ_SUBDIM}-dim subspaces, each vector's "
        "subspace slice is assigned to its nearest sub-codeword, and "
        "the per-(subspace, code) population + quantization error "
        "report the codebook balance and reconstruction loss a PQ "
        "index is sized by. Codewords here are medoid-seeded (the "
        "lowest-vec_id vector per label — exactly the label-seeded "
        "stand-in the IVF entries use before ivf_kmeans_lloyd trains "
        "real centroids; a trained PQ runs that same Lloyd loop per "
        "subspace). Distances expand to three dot products so both "
        "engines evaluate the identical left-fold arithmetic — the d2 "
        "doubles are bit-equal cross-engine, which makes the e4 floor "
        "and the argmin tie-break (d2, code) exact, not approximately "
        "stable. Shape at 100 TB: the codebook is subspaces x codes "
        "rows (broadcast literal), assignment is map-only per vector — "
        "the same scan that writes PQ codes into an index shard."
    ),
    tags=("similarity", "embeddings"),
)
def pq_codebook_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb(spark, sf_dir)
    svals = F.array([F.lit(s) for s in range(PQ_SUBSPACES)])

    def sub(col: str) -> Column:
        return F.slice(F.col(col), F.col("s") * PQ_SUBDIM + 1, F.lit(PQ_SUBDIM))

    # medoid per label via a per-cell window (no self-join lineage)
    wseed = W.partitionBy("label").orderBy("vec_id")
    med = (
        emb.withColumn("rn", F.row_number().over(wseed))
        .filter(F.col("rn") == 1)
        .select(F.col("label").alias("code"), F.col("v").alias("mv"))
        .select("code", F.explode(svals).alias("s"), "mv")
        .select("code", "s", sub("mv").alias("m"))
    )
    vs = emb.select("vec_id", F.explode(svals).alias("s"), "v").select(
        "vec_id", "s", sub("v").alias("a")
    )

    def ldp(x: str, y: str) -> Column:
        return F.aggregate(
            F.zip_with(x, y, lambda p, q: p * q), F.lit(0.0), lambda acc, z: acc + z
        )

    dist = (
        vs.join(F.broadcast(med), "s")
        .withColumn("d2", ldp("a", "a") - 2 * ldp("a", "m") + ldp("m", "m"))
        .select("vec_id", "s", "code", "d2")
    )
    w = W.partitionBy("vec_id", "s").orderBy(F.col("d2"), F.col("code"))
    chosen = (
        dist.withColumn("r", F.row_number().over(w))
        .filter(F.col("r") == 1)
        .withColumn("err_e4", F.floor(F.col("d2") * 10000 + 0.5).cast("long"))
    )
    return (
        chosen.groupBy("s", "code")
        .agg(
            F.count("*").alias("n_assigned"),
            F.sum("err_e4").alias("sum_err_e4"),
        )
        .withColumn(
            "avg_err_e4", F.expr("CAST(sum_err_e4 DIV n_assigned AS BIGINT)")
        )
        .orderBy("s", "code")
    )


@register(
    "pq_adc_topk_recall",
    oracle=_g(f"""
        WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
        seed AS (SELECT label, min(vec_id) AS mid FROM e GROUP BY label),
        med AS (
            SELECT e.label AS code, s,
                   list_slice(e.v, s * {PQ_SUBDIM} + 1, s * {PQ_SUBDIM} + {PQ_SUBDIM}) AS m
            FROM e JOIN seed ON e.vec_id = seed.mid,
                 (SELECT unnest(generate_series(0, {PQ_SUBSPACES - 1})) AS s)
        ),
        vs AS (
            SELECT vec_id, s,
                   list_slice(v, s * {PQ_SUBDIM} + 1, s * {PQ_SUBDIM} + {PQ_SUBDIM}) AS a
            FROM e, (SELECT unnest(generate_series(0, {PQ_SUBSPACES - 1})) AS s)
        ),
        dist AS (
            SELECT vs.vec_id, vs.s, med.code,
                   list_dot_product(a, a) - 2 * list_dot_product(a, m)
                   + list_dot_product(m, m) AS d2
            FROM vs JOIN med ON vs.s = med.s
        ),
        codes AS (
            SELECT vec_id, s, code FROM (
                SELECT vec_id, s, code,
                       row_number() OVER (PARTITION BY vec_id, s
                                          ORDER BY d2, code) AS r
                FROM dist
            ) WHERE r = 1
        ),
        lut AS (
            SELECT vec_id AS query_id, s, code,
                   CAST(floor(d2 * 1000000 + 0.5) AS BIGINT) AS lut_e6
            FROM dist WHERE vec_id < {N_QUERIES}
        ),
        adc AS (
            SELECT l.query_id, c.vec_id AS neighbor_id,
                   CAST(sum(l.lut_e6) AS BIGINT) AS adc_e6
            FROM codes c JOIN lut l ON l.s = c.s AND l.code = c.code
            WHERE c.vec_id != l.query_id
            GROUP BY l.query_id, c.vec_id
        ),
        approx AS (
            SELECT query_id, neighbor_id FROM (
                SELECT query_id, neighbor_id,
                       row_number() OVER (PARTITION BY query_id
                                          ORDER BY adc_e6, neighbor_id) AS r
                FROM adc
            ) WHERE r <= {TOP_K}
        ),
        truth AS (
            SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                   list_dot_product(q.v, q.v) - 2 * list_dot_product(q.v, c.v)
                   + list_dot_product(c.v, c.v) AS d2
            FROM e q JOIN e c ON q.vec_id != c.vec_id
            WHERE q.vec_id < {N_QUERIES}
        ),
        exact AS (
            SELECT query_id, neighbor_id FROM (
                SELECT query_id, neighbor_id,
                       row_number() OVER (PARTITION BY query_id
                                          ORDER BY d2, neighbor_id) AS r
                FROM truth
            ) WHERE r <= {TOP_K}
        )
        SELECT x.query_id,
               round(count(a.neighbor_id) * 1.0 / {TOP_K}, 4) AS recall_at_k
        FROM exact x
        LEFT JOIN approx a ON x.query_id = a.query_id
                          AND x.neighbor_id = a.neighbor_id
        GROUP BY x.query_id
        ORDER BY x.query_id
    """),
    doc=(
        "Asymmetric-distance PQ search (the ADC half of IVF-PQ, Jegou "
        "et al. 2011): each query precomputes a subspaces x codes "
        "lookup table of partial distances to every codeword, a "
        "candidate's approximate distance is the SUM of 8 table "
        "lookups selected by its stored PQ code — no candidate vector "
        "is ever read, which is the whole point: at 100 TB the index "
        "shard holds 8-byte codes instead of 256-byte vectors, the "
        "LUT is queries x codes x subspaces (broadcast), and scoring "
        "is an equi-join on (subspace, code) + an integer sum. LUT "
        "entries are e6-quantized integers (as production PQ engines "
        "quantize their LUTs to int8/int16), which also makes the "
        "cross-engine ranking exact: identical-code candidates tie "
        "exactly and break on neighbor_id, with no float-sum order "
        "anywhere. Reported as recall@k against exact L2 — the "
        "accuracy number that prices the 32x memory saving."
    ),
    tags=("similarity", "embeddings"),
)
def pq_adc_topk_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb(spark, sf_dir)

    # The slice/zip_with/aggregate trees below are built as SQL text
    # (OPTIMIZATION_r12 §C5, guide §7.3 plan-build time): the Python
    # Column form cost ~0.45 s of py4j round-trips per query build on
    # the bench host. Literal types are matched exactly — 0.0D is the
    # DOUBLE zero F.lit(0.0) produced (a bare SQL 0.0 would be DECIMAL
    # and change the accumulation type), integer literals promote as
    # before — so every float is the same IEEE sequence.
    sexp = f"explode(sequence(0, {PQ_SUBSPACES - 1})) AS s"

    def sub(col: str) -> str:
        return f"slice({col}, s * {PQ_SUBDIM} + 1, {PQ_SUBDIM})"

    def ldp(x: str, y: str) -> str:
        return (
            f"aggregate(zip_with({x}, {y}, (p, q) -> p * q), "
            f"0.0D, (acc, z) -> acc + z)"
        )

    # OPTIMIZATION_r12 §B5 (guide §2.3 "aggregate before you shuffle"):
    # both argmin selections ran row_number windows (full shuffle+sort
    # of their input); an aggregate min over a (sortkey, payload)
    # struct computes the identical deterministic argmin — struct
    # comparison is lexicographic with the same asc/nulls-first/NaN-
    # greatest ordering the window's ORDER BY used — and gets
    # map-side partial aggregation. The per-(vec, subspace) norm
    # ldp(a,a) and the per-centroid norm ldp(m,m) are loop-invariant
    # across the codebook join, so they are computed once per row
    # BEFORE the join instead of once per (row, code) pair — the d2
    # expression tree (aa - 2*am + mm) is unchanged, so every float
    # is the same IEEE sequence as before.
    med = (
        emb.groupBy(F.col("label").alias("code"))
        .agg(F.min(F.struct("vec_id", "v")).alias("m0"))
        .selectExpr("code", "m0.v AS mv")
        .selectExpr("code", sexp, "mv")
        .selectExpr("code", "s", f"{sub('mv')} AS m")
        .selectExpr("code", "s", "m", f"{ldp('m', 'm')} AS mm")
    )
    vs = (
        emb.selectExpr("vec_id", sexp, "v")
        .selectExpr("vec_id", "s", f"{sub('v')} AS a")
        .selectExpr("vec_id", "s", "a", f"{ldp('a', 'a')} AS aa")
    )
    dist = (
        vs.join(F.broadcast(med), "s")
        .selectExpr(
            "vec_id", "s", "code", f"aa - 2 * {ldp('a', 'm')} + mm AS d2"
        )
    )
    codes = (
        dist.groupBy("vec_id", "s")
        .agg(F.min(F.struct("d2", "code")).alias("mc"))
        .select("vec_id", "s", F.col("mc.code").alias("code"))
    )
    lut = (
        dist.filter(F.col("vec_id") < N_QUERIES)
        .selectExpr(
            "vec_id AS query_id",
            "s",
            "code",
            # same literal types as the Column form: int 1000000
            # promotes d2 to double, 0.5D is the double half
            "CAST(floor(d2 * 1000000 + 0.5D) AS BIGINT) AS lut_e6",
        )
    )
    adc = (
        codes.join(F.broadcast(lut), ["s", "code"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", F.col("vec_id").alias("neighbor_id"))
        .agg(F.sum("lut_e6").alias("adc_e6"))
    )
    wapprox = W.partitionBy("query_id").orderBy(F.col("adc_e6"), F.col("neighbor_id"))
    approx = (
        adc.withColumn("r", F.row_number().over(wapprox))
        .filter(F.col("r") <= TOP_K)
        .select(F.col("query_id").alias("aq"), F.col("neighbor_id").alias("an"))
    )
    q = (
        emb.filter(F.col("vec_id") < N_QUERIES)
        .selectExpr("vec_id AS query_id", "v AS qv")
        .selectExpr("query_id", "qv", f"{ldp('qv', 'qv')} AS qq")
    )
    c = emb.selectExpr("vec_id AS neighbor_id", "v AS cv").selectExpr(
        "neighbor_id", "cv", f"{ldp('cv', 'cv')} AS cc"
    )
    truth = (
        F.broadcast(q)
        .join(c, F.col("query_id") != F.col("neighbor_id"))
        .withColumn("d2", F.expr(f"qq - 2 * {ldp('qv', 'cv')} + cc"))
    )
    wexact = W.partitionBy("query_id").orderBy(F.col("d2"), F.col("neighbor_id"))
    exact = (
        truth.withColumn("r", F.row_number().over(wexact))
        .filter(F.col("r") <= TOP_K)
        .select("query_id", "neighbor_id")
    )
    return (
        exact.join(
            approx,
            (F.col("query_id") == F.col("aq")) & (F.col("neighbor_id") == F.col("an")),
            "left",
        )
        .groupBy("query_id")
        .agg(F.round(F.count("an") * 1.0 / TOP_K, 4).alias("recall_at_k"))
        .orderBy("query_id")
    )


@register(
    "graph_semantic_clusters",
    oracle=_g(f"""
        WITH RECURSIVE scored AS MATERIALIZED (
            SELECT a.vec_id AS vec_id, b.vec_id AS neighbor_id,
                   list_dot_product(a.embedding::DOUBLE[],
                                    b.embedding::DOUBLE[]) AS cos
            FROM embeddings a JOIN embeddings b
              ON a.label = b.label AND a.vec_id != b.vec_id
        ),
        ranked AS (
            SELECT vec_id, neighbor_id,
                   row_number() OVER (PARTITION BY vec_id
                                      ORDER BY cos DESC, neighbor_id) AS rank
            FROM scored
        ),
        knn AS (SELECT vec_id AS a, neighbor_id AS b FROM ranked WHERE rank <= {KNN_K}),
        -- MATERIALIZED: the closure joins edges every iteration —
        -- without it DuckDB re-runs the blocked GEMM per round
        -- (measured 3.2s -> 0.5s at sf0.1).
        edges AS MATERIALIZED (
            SELECT a, b FROM knn UNION SELECT b AS a, a AS b FROM knn
        ),
        nodes AS MATERIALIZED (SELECT DISTINCT a AS v FROM edges),
        reach(src, dst) AS (
            SELECT v, v FROM nodes
            UNION
            SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a
        ),
        labels AS (
            SELECT src AS vec_id, min(dst) AS component FROM reach GROUP BY src
        )
        SELECT vec_id, component,
               count(*) OVER (PARTITION BY component) AS n_in_cluster
        FROM labels
        ORDER BY vec_id
    """),
    doc=(
        "Semantic-cluster discovery: connected components over the "
        "within-cell kNN graph — the clustering step of graph-based "
        "corpus organization (SemDeDup prunes inside these clusters; "
        "curriculum/mixture tooling samples across them). Reuses the "
        "two scale-safe cores end to end: the kNN edges come from the "
        "cell-bounded equi-join (sum(cell^2), never N^2) and the "
        "closure runs the alternating large-star/small-star algorithm "
        "(O(log^2 n) rounds, diameter-independent) — the SAME "
        "star_components used for near-dup text clustering, now on an "
        "embedding graph. Cluster size rides along via a component-"
        "partitioned window. Oracle: recursive-CTE transitive closure "
        "over the identically-ranked kNN edges."
    ),
    tags=("similarity", "graph", "iterative"),
)
def graph_semantic_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from coviddatapipeline_spark.operators.dedup import star_components

    knn = knn_graph_within_cell(spark, sf_dir).select(
        F.col("vec_id").alias("a"), F.col("neighbor_id").alias("b")
    )
    labels = star_components(knn).select(
        F.col("node").alias("vec_id"), "component"
    )
    wsz = W.partitionBy("component")
    return (
        labels.withColumn("n_in_cluster", F.count("*").over(wsz))
        .select("vec_id", "component", "n_in_cluster")
    )


# ---------------------------------------------------------------------------
# IVF nprobe cost/recall curve
# ---------------------------------------------------------------------------

NPROBES = (1, 2, 4, 10)  # 10 cells total -> nprobe=10 is the exhaustive scan


@register(
    "ann_ivf_nprobe_curve",
    oracle=_g(f"""
        WITH pe AS (
            SELECT label,
                   unnest(embedding::DOUBLE[]) AS x,
                   unnest(generate_series(1, len(embedding))) AS pos
            FROM embeddings
        ),
        cent AS (SELECT label, pos, avg(x) AS cx FROM pe GROUP BY 1, 2),
        centroids AS (
            SELECT label, list(cx ORDER BY pos) AS centroid FROM cent GROUP BY label
        ),
        q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < {N_QUERIES}),
        qc AS (
            SELECT q.vec_id AS query_id, c.label,
                   row_number() OVER (
                       PARTITION BY q.vec_id
                       ORDER BY list_dot_product(q.embedding::DOUBLE[], c.centroid)
                                DESC, c.label) AS cell_rank
            FROM q, centroids c
        ),
        ps AS (SELECT unnest([{", ".join(str(p) for p in NPROBES)}]) AS nprobe),
        probes AS (
            SELECT ps.nprobe, qc.query_id, qc.label
            FROM ps JOIN qc ON qc.cell_rank <= ps.nprobe
        ),
        scored AS (
            SELECT p.nprobe, p.query_id, e.vec_id AS neighbor_id,
                   list_dot_product(q2.embedding::DOUBLE[], e.embedding::DOUBLE[]) AS cos
            FROM probes p
            JOIN embeddings e ON e.label = p.label
            JOIN q q2 ON q2.vec_id = p.query_id
            WHERE e.vec_id != p.query_id
        ),
        top5 AS (
            SELECT nprobe, query_id, neighbor_id FROM (
                SELECT nprobe, query_id, neighbor_id,
                       row_number() OVER (PARTITION BY nprobe, query_id
                                          ORDER BY cos DESC, neighbor_id) AS r
                FROM scored
            ) WHERE r <= {TOP_K}
        ),
        exact AS (
            SELECT query_id, neighbor_id FROM top5 WHERE nprobe = {max(NPROBES)}
        ),
        hits AS (
            SELECT t.nprobe, CAST(count(*) AS BIGINT) AS n_hits
            FROM top5 t JOIN exact e
              ON e.query_id = t.query_id AND e.neighbor_id = t.neighbor_id
            GROUP BY t.nprobe
        ),
        cost AS (
            SELECT nprobe, CAST(count(*) AS BIGINT) AS n_scored FROM scored GROUP BY nprobe
        )
        SELECT c.nprobe,
               CAST(c.n_scored // {N_QUERIES} AS BIGINT) AS avg_candidates,
               CAST(h.n_hits * 10000 // ({TOP_K} * {N_QUERIES}) AS BIGINT)
                   AS mean_recall_e4
        FROM cost c JOIN hits h ON h.nprobe = c.nprobe
        ORDER BY c.nprobe
    """),
    doc=(
        "IVF nprobe cost/recall curve — the ANN counterpart of the LSH "
        "banding curve: for nprobe in (1, 2, 4, all-cells), the average "
        "candidate count per query (the COST an IVF deployment pays, "
        "N*nprobe/nlist dot products instead of N) against mean "
        "recall@k vs the exhaustive scan (which IS the nprobe=nlist "
        "row, so the curve is self-calibrating and its last point must "
        "read 10000). Cells ranked per query by centroid dot product "
        "exactly as the registered multiprobe entry; the probe fan-out "
        "is ONE frame tagged by nprobe (no per-setting rescan — "
        "smaller probes are prefixes of larger ones, and the scored "
        "frame feeds cost, ranking, and the exact baseline in a single "
        "pass). Recall and cost reduce to integer division; ranking "
        "ties break on neighbor_id."
    ),
    tags=("similarity", "embeddings"),
)
def ann_ivf_nprobe_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb(spark, sf_dir)
    pe = emb.select("label", F.posexplode("v").alias("pos", "x"))
    cent = pe.groupBy("label", "pos").agg(F.avg("x").alias("cx"))
    centroids = (
        cent.groupBy("label")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "cx"))).alias("s"))
        .select("label", F.transform("s", lambda st: st["cx"]).alias("centroid"))
    )
    q = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    wcell = W.partitionBy("query_id").orderBy(
        F.col("cdot").desc(), F.col("label")
    )
    qc = (
        F.broadcast(q)
        .crossJoin(F.broadcast(centroids))
        .withColumn("cdot", _dot("qv", "centroid"))
        .withColumn("cell_rank", F.row_number().over(wcell))
        .select("query_id", "qv", "label", "cell_rank")
    )
    ps = q.sparkSession.createDataFrame([(p,) for p in NPROBES], "nprobe int")
    probes = F.broadcast(ps).join(qc, qc.cell_rank <= ps.nprobe).select(
        "nprobe", "query_id", "qv", "label"
    )
    c = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("label").alias("clabel"),
        F.col("v").alias("cv"),
    )
    scored = (
        F.broadcast(probes)
        .join(c, probes.label == c.clabel)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cos", _dot("qv", "cv"))
        .select("nprobe", "query_id", "neighbor_id", "cos")
        .persist()
    )
    wrank = W.partitionBy("nprobe", "query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id")
    )
    top5 = (
        scored.withColumn("r", F.row_number().over(wrank))
        .filter(F.col("r") <= TOP_K)
        .select("nprobe", "query_id", "neighbor_id")
        .persist()
    )
    exact = top5.filter(F.col("nprobe") == max(NPROBES)).select(
        F.col("query_id").alias("eq"), F.col("neighbor_id").alias("en")
    )
    hits = (
        top5.join(
            F.broadcast(exact),
            (F.col("query_id") == F.col("eq")) & (F.col("neighbor_id") == F.col("en")),
        )
        .groupBy("nprobe")
        .agg(F.count("*").alias("n_hits"))
    )
    cost = scored.groupBy("nprobe").agg(F.count("*").alias("n_scored"))
    return (
        cost.join(hits, "nprobe")
        .select(
            "nprobe",
            F.expr(f"CAST(n_scored DIV {N_QUERIES} AS BIGINT)").alias("avg_candidates"),
            F.expr(
                f"CAST((n_hits * 10000) DIV ({TOP_K} * {N_QUERIES}) AS BIGINT)"
            ).alias("mean_recall_e4"),
        )
        .orderBy("nprobe")
    )


# ---------------------------------------------------------------------------
# Hard-negative mining for contrastive retrieval training
# ---------------------------------------------------------------------------

HARD_NEG_K = 5  # negatives per query (positives reuse TOP_K)


@register(
    "ann_hard_negative_mining",
    oracle=_g(f"""
        WITH q AS (
            SELECT vec_id, label, embedding FROM embeddings
            WHERE vec_id < {N_QUERIES}
        ),
        scored AS (
            SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                   list_dot_product(q.embedding::DOUBLE[],
                                    c.embedding::DOUBLE[]) AS cos,
                   row_number() OVER (PARTITION BY q.vec_id
                                      ORDER BY list_dot_product(
                                          q.embedding::DOUBLE[],
                                          c.embedding::DOUBLE[]) DESC,
                                      c.vec_id) AS r
            FROM q JOIN embeddings c
              ON q.label = c.label AND q.vec_id != c.vec_id
        ),
        pos AS (
            SELECT query_id, neighbor_id, cos,
                   CAST(r AS BIGINT) AS role_rank, 'pos' AS role
            FROM scored WHERE r <= {TOP_K}
        ),
        negpool AS (
            SELECT query_id, neighbor_id, cos,
                   row_number() OVER (
                       PARTITION BY query_id
                       ORDER BY md5(concat(CAST(query_id AS VARCHAR), ':',
                                           CAST(neighbor_id AS VARCHAR))),
                                neighbor_id) AS nr
            FROM scored WHERE r > {TOP_K}
        ),
        neg AS (
            SELECT query_id, neighbor_id, cos,
                   CAST(nr AS BIGINT) AS role_rank, 'neg' AS role
            FROM negpool WHERE nr <= {HARD_NEG_K}
        )
        SELECT query_id, neighbor_id, role, role_rank,
               round(cos, 4) AS cosine
        FROM (SELECT * FROM pos UNION ALL SELECT * FROM neg)
        ORDER BY query_id, role DESC, role_rank
    """),
    doc=(
        f"Hard-negative mining for contrastive retrieval training "
        f"(in-batch-negatives lineage, e.g. DPR/Karpukhin 2020, "
        f"public): per query, the {TOP_K} same-cell nearest vectors "
        f"are the positives and {HARD_NEG_K} SAME-CELL vectors beyond "
        f"the top-k are the hard negatives — near enough to be "
        f"confusable (the quantizer already said 'same region'), "
        f"excluded from the positive set, selected by a salted-md5 "
        f"bottom-k so the draw is reproducible across runs, engines, "
        f"and partitionings rather than rand()-dependent. This is the "
        f"(anchor, positive, hard-negative) triple generator an "
        f"embedding-model trainer consumes; cell equi-join only — the "
        f"same IVF probe shape as the ANN entries, so mining cost "
        f"scales with cell size, not corpus size."
    ),
    tags=("similarity", "datapipe", "join"),
)
def ann_hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb(spark, sf_dir)
    q = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("qlabel"),
        F.col("v").alias("qv"),
    )
    c = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("label").alias("clabel"),
        F.col("v").alias("cv"),
    )
    scored = (
        F.broadcast(q)
        .join(
            c,
            (F.col("qlabel") == F.col("clabel"))
            & (F.col("query_id") != F.col("neighbor_id")),
        )
        .withColumn("cos", _dot("qv", "cv"))
        .withColumn(
            "r",
            F.row_number().over(
                W.partitionBy("query_id").orderBy(
                    F.col("cos").desc(), "neighbor_id"
                )
            ),
        )
    )
    pos = scored.filter(F.col("r") <= TOP_K).select(
        "query_id",
        "neighbor_id",
        "cos",
        F.col("r").cast("long").alias("role_rank"),
        F.lit("pos").alias("role"),
    )
    neg = (
        scored.filter(F.col("r") > TOP_K)
        .withColumn(
            "nr",
            F.row_number().over(
                W.partitionBy("query_id").orderBy(
                    F.md5(
                        F.concat(
                            F.col("query_id").cast("string"),
                            F.lit(":"),
                            F.col("neighbor_id").cast("string"),
                        )
                    ),
                    "neighbor_id",
                )
            ),
        )
        .filter(F.col("nr") <= HARD_NEG_K)
        .select(
            "query_id",
            "neighbor_id",
            "cos",
            F.col("nr").cast("long").alias("role_rank"),
            F.lit("neg").alias("role"),
        )
    )
    return (
        pos.unionByName(neg)
        .select(
            "query_id",
            "neighbor_id",
            "role",
            "role_rank",
            F.round("cos", 4).alias("cosine"),
        )
        .orderBy("query_id", F.col("role").desc(), "role_rank")
    )


def _semdedup_drift_oracle() -> str:
    from coviddatapipeline_spark.operators.datapipe import (
        KM_DIM,
        KM_ITERS,
        km_cte_parts,
    )

    ctes, last = km_cte_parts()
    return f"""
        WITH {ctes},
        edbl AS (
            SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
            WHERE len(embedding) = {KM_DIM}
        ),
        eq AS (
            -- the drifted corpus: every quantized vector rotated one
            -- coordinate left (the ann_ivf_rebalance_drift transform:
            -- deterministic, norm-preserving, a genuine shift for the
            -- assignment argmax — and rotation PRESERVES every
            -- pairwise dot product, so the dedup outcome can differ
            -- only through the partitioning)
            SELECT vec_id, list_concat(q[2:{KM_DIM}], [q[1]]) AS q FROM e
        ),
        ad AS (
            SELECT d.vec_id,
                   (SELECT c.cid FROM cent{KM_ITERS} c
                    ORDER BY list_dot_product(d.q::DOUBLE[], c.c::DOUBLE[]) DESC,
                             c.cid ASC
                    LIMIT 1) AS cluster
            FROM eq d
        ),
        bcells AS (
            SELECT a.vec_id, CAST(a.cluster AS BIGINT) AS cell, edbl.v
            FROM {last} a JOIN edbl USING (vec_id)
        ),
        dcells AS (
            SELECT a.vec_id, CAST(a.cluster AS BIGINT) AS cell, edbl.v
            FROM ad a JOIN edbl USING (vec_id)
        ),
        bmx AS (
            SELECT b.vec_id, max(list_dot_product(a.v, b.v)) AS mx
            FROM bcells a JOIN bcells b
              ON a.cell = b.cell AND a.vec_id < b.vec_id
            GROUP BY b.vec_id
        ),
        dmx AS (
            SELECT b.vec_id, max(list_dot_product(a.v, b.v)) AS mx
            FROM dcells a JOIN dcells b
              ON a.cell = b.cell AND a.vec_id < b.vec_id
            GROUP BY b.vec_id
        ),
        bagg AS (
            SELECT c.cell, count(*) AS n,
                   sum(CASE WHEN coalesce(p.mx, {NO_EARLIER}) > {SEMDEDUP_TAU}
                            THEN 1 ELSE 0 END) AS pruned
            FROM bcells c LEFT JOIN bmx p USING (vec_id)
            GROUP BY c.cell
        ),
        dagg AS (
            SELECT c.cell, count(*) AS n,
                   sum(CASE WHEN coalesce(p.mx, {NO_EARLIER}) > {SEMDEDUP_TAU}
                            THEN 1 ELSE 0 END) AS pruned
            FROM dcells c LEFT JOIN dmx p USING (vec_id)
            GROUP BY c.cell
        )
        SELECT f.cid AS cell,
               CAST(COALESCE(b.n, 0) AS BIGINT) AS n_base,
               CAST(COALESCE(d.n, 0) AS BIGINT) AS n_drift,
               CAST(COALESCE(b.n, 0) * (COALESCE(b.n, 0) - 1) // 2
                    AS BIGINT) AS pairs_base,
               CAST(COALESCE(d.n, 0) * (COALESCE(d.n, 0) - 1) // 2
                    AS BIGINT) AS pairs_drift,
               CAST(COALESCE(b.pruned, 0) AS BIGINT) AS pruned_base,
               CAST(COALESCE(d.pruned, 0) AS BIGINT) AS pruned_drift
        FROM (SELECT cid FROM cent{KM_ITERS}) f
        LEFT JOIN bagg b ON b.cell = f.cid
        LEFT JOIN dagg d ON d.cell = f.cid
        ORDER BY cell
    """


@register(
    "semdedup_drift_work_audit",
    oracle=_semdedup_drift_oracle(),
    doc=(
        "Quantizer-drift x SemDeDup composition audit (NEXT.md r10 "
        "(c)): does distribution drift degrade the dedup "
        "PARTITIONING? The frozen trained quantizer "
        "(datapipe.km_train_centroids — the model the IVF index, the "
        "ingest twin, and semdedup_trained_cells all share) assigns "
        "both the training corpus and the drifted corpus (the "
        "ann_ivf_rebalance_drift transform: every vector rotated one "
        "coordinate — norm-preserving AND dot-product-preserving, so "
        "every pairwise cosine is IDENTICAL and any change in dedup "
        "outcome is attributable purely to the partitioning), then "
        "the shared within-cell prune runs on both partitionings. "
        "Per cell: occupancy, the Sigma(cell^2) pairwise-work term "
        "(n*(n-1)/2 — the semdedup cost driver an index-maintenance "
        "policy watches for skew blowup), and the prune yield — "
        "fewer prunes under drift means near-duplicates now straddle "
        "cell boundaries and survive, the recall cost of a stale "
        "quantizer. Scale: two broadcast-centroid map-only "
        "assignments + two cell-key equi-joins (Sigma cell^2, never "
        "corpus^2) + bounded-K aggregation; the oracle chains the "
        "unrolled Lloyd CTEs into the drifted assignment and both "
        "prune computations, so one hash certifies training, both "
        "partitionings, and both dedup outcomes."
    ),
    tags=("similarity", "dedup", "embeddings", "iterative", "audit"),
)
def semdedup_drift_work_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from coviddatapipeline_spark.operators.datapipe import (
        KM_DIM,
        km_assign,
        km_train_centroids,
    )

    q, cent = km_train_centroids(spark, sf_dir)
    emb = _emb(spark, sf_dir).select("vec_id", "v")
    # drifted corpus: rotate the QUANTIZED coordinates one left
    # (rotation commutes with per-coordinate quantization); the raw
    # doubles stay unrotated because rotation preserves every pairwise
    # dot product — only the assignment sees the drift
    qd = q.select(
        "vec_id",
        F.concat(F.slice("q", 2, KM_DIM - 1), F.slice("q", 1, 1)).alias("q"),
    )

    def cell_report(assigned: DataFrame) -> DataFrame:
        cells = assigned.select(
            "vec_id", F.col("cluster").cast("long").alias("cell")
        )
        return (
            semdedup_prune_report(emb.join(cells, "vec_id"))
            .groupBy("cell")
            .agg(
                F.count("*").alias("n"),
                F.sum("pruned").cast("long").alias("pruned"),
            )
        )

    base = cell_report(km_assign(q, cent)).select(
        F.col("cell"), F.col("n").alias("n_base"), F.col("pruned").alias("pruned_base")
    )
    drift = cell_report(km_assign(qd, cent)).select(
        F.col("cell"), F.col("n").alias("n_drift"), F.col("pruned").alias("pruned_drift")
    )
    cent_df = spark.createDataFrame(
        [(cid,) for cid in sorted(cent)], "cell long"
    )
    zero = F.lit(0).cast("long")
    return (
        cent_df.join(base, "cell", "left")
        .join(drift, "cell", "left")
        .select(
            "cell",
            F.coalesce("n_base", zero).cast("long").alias("n_base"),
            F.coalesce("n_drift", zero).cast("long").alias("n_drift"),
            F.coalesce("pruned_base", zero).cast("long").alias("pruned_base"),
            F.coalesce("pruned_drift", zero).cast("long").alias("pruned_drift"),
        )
        # integer DIV: n*(n-1) is even, and int64 DIV stays exact where
        # a double /2 would round past 2^53 pairs — the 100 TB habit
        .selectExpr(
            "cell", "n_base", "n_drift",
            "CAST(n_base * (n_base - 1) DIV 2 AS BIGINT) AS pairs_base",
            "CAST(n_drift * (n_drift - 1) DIV 2 AS BIGINT) AS pairs_drift",
            "pruned_base", "pruned_drift",
        )
        .orderBy("cell")
    )
