"""Round-12 optimization internals (OPTIMIZATION_r12.md §A1/A2/A4).

The table-resolution memo and the stat-based fanout guard changed
``operators/common.py`` internals without changing any entry's results
(that part is proven by the sweeps); these tests pin the NEW contracts:

- ``t`` memoizes the lazy plan per (session, path, content signature)
  and invalidates when the underlying dataset is rewritten;
- ``t_fanout`` still fans small tables out to ``defaultParallelism``
  and still leaves an (estimated-)large table untouched — now decided
  from on-disk bytes vs ``spark.sql.files.maxPartitionBytes`` instead
  of a per-build ``df.rdd`` physical-plan probe;
- ``_conf_bytes`` parses every Spark size-conf spelling we rely on.
"""

from __future__ import annotations

import os
import time

import pytest

from coviddatapipeline_spark.operators import common
from coviddatapipeline_spark.operators.common import (
    _conf_bytes,
    _dataset_bytes,
    t,
    t_fanout,
)

TESTDATA_ROOT = os.environ.get("SPARK_GRAFT_TESTDATA", "/root/testdata")


def sf_dir(sf: str) -> str:
    return os.path.join(TESTDATA_ROOT, f"sf{sf}")


def test_t_memoizes_same_object_per_session(spark):
    d = sf_dir("0.001")
    a = t(spark, d, "orders")
    b = t(spark, d, "orders")
    assert a is b, "same session + unchanged file must reuse the resolved plan"
    # different table or sf -> different entry
    assert t(spark, d, "nation") is not a
    assert t(spark, sf_dir("0.01"), "orders") is not a


def test_t_memo_is_plan_only_and_recomputes_from_disk(spark, tmp_path):
    """The memo must cache the LAZY plan, never results: rewriting the
    dataset (new signature) yields a fresh resolution that sees the new
    bytes."""
    path = os.path.join(str(tmp_path), "tbl.parquet")
    spark.range(5).write.mode("overwrite").parquet(path)
    df1 = t(spark, str(tmp_path), "tbl")
    assert df1.count() == 5
    # rewrite with different contents; ensure mtime ticks even on
    # coarse filesystem clocks
    time.sleep(0.05)
    spark.range(9).write.mode("overwrite").parquet(path)
    df2 = t(spark, str(tmp_path), "tbl")
    assert df2.count() == 9, "rewritten dataset must invalidate the memo"
    assert df2 is not df1


def test_t_fanout_small_table_fans_out(spark):
    d = sf_dir("0.001")
    df = t_fanout(spark, d, "documents")
    assert (
        df.rdd.getNumPartitions() >= spark.sparkContext.defaultParallelism
    ), "a one-split local table must be repartitioned before per-row compute"


def test_t_fanout_large_estimate_left_untouched(spark):
    """With maxPartitionBytes shrunk below the file size the split
    estimate reaches defaultParallelism and the table must come back
    without a repartition node (the 100 TB behavior)."""
    d = sf_dir("0.001")
    prev = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try:
        spark.conf.set("spark.sql.files.maxPartitionBytes", "1")
        base = t(spark, d, "documents")
        df = t_fanout(spark, d, "documents")
        assert df is base, "estimated-large tables must not be repartitioned"
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", prev)


def test_dataset_bytes_file_and_dir(tmp_path):
    f = tmp_path / "x.bin"
    f.write_bytes(b"a" * 100)
    assert _dataset_bytes(str(f)) == 100
    d = tmp_path / "ds"
    d.mkdir()
    (d / "p1").write_bytes(b"a" * 10)
    (d / "p2").write_bytes(b"b" * 30)
    assert _dataset_bytes(str(d)) == 40


@pytest.mark.parametrize(
    "raw,expected",
    [
        ("128m", 128 * 1024**2),
        ("128M", 128 * 1024**2),
        ("1g", 1024**3),
        ("1gb", 1024**3),
        ("4194304", 4194304),
        ("512k", 512 * 1024),
    ],
)
def test_conf_bytes_parsing(raw, expected):
    class FakeConf:
        def get(self, key, default=None):
            return raw

    class FakeSpark:
        conf = FakeConf()

    assert _conf_bytes(FakeSpark(), "any.key", "128m") == expected


def test_path_signature_changes_on_dir_content_change(tmp_path):
    d = tmp_path / "ds"
    d.mkdir()
    (d / "p1").write_bytes(b"a" * 10)
    s1 = common._path_signature(str(d))
    time.sleep(0.05)
    (d / "p2").write_bytes(b"b" * 10)
    assert common._path_signature(str(d)) != s1


def test_q4_single_pass_no_duplicate_agg_subtree(spark, parity_sf_dir):
    """OPTIMIZATION_r12 §A3: the grand total comes from the same
    WindowExec as the rank — the plan must contain exactly ONE
    aggregate over the orders join tree (one partial+final HashAggregate
    pair => the scan subtree is planned once) and no
    BroadcastNestedLoopJoin."""
    from coviddatapipeline_spark.queries import catalog

    df = catalog.get("q4_topk_other_share").fn(spark, parity_sf_dir)
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    import re

    assert "BroadcastNestedLoopJoin" not in plan
    scans = re.findall(r"^\(\d+\) Scan parquet", plan, re.M)
    assert len(scans) == 3, (
        "orders/customer/nation must each be scanned exactly once; "
        f"got {len(scans)} scans:\n{plan}"
    )


# ---------------------------------------------------------------------------
# §B1/§B2: Arrow kernels for km_assign and the semdedup prune
# ---------------------------------------------------------------------------
#
# Both kernels replaced JVM column-expression formulations whose RESULTS
# are part of driver-checked oracles; the sweeps prove result equality
# on the real corpora, and these differential tests pin equality against
# the OLD formulations (inlined below as the reference) on the clean
# corpus AND on crafted degenerate rows no corpus exercises.

from pyspark.sql import functions as F


def _km_assign_literal_reference(df, cent):
    """The pre-r12 km_assign: argmax dot over K x DIM literal arrays
    via struct array_max — kept verbatim as the semantics reference."""
    scored = F.array(
        *[
            F.struct(
                F.aggregate(
                    F.zip_with(
                        F.col("q"),
                        F.array(*[F.lit(v) for v in c]),
                        lambda a, b: a * b,
                    ),
                    F.lit(0).cast("long"),
                    lambda acc, x: acc + x,
                ).alias("dot"),
                F.lit(-cid).cast("long").alias("neg_cid"),
            )
            for cid, c in sorted(cent.items())
        ]
    )
    return df.withColumn("cluster", (-F.array_max(scored)["neg_cid"]).cast("long"))


def test_km_assign_arrow_equals_literal_on_corpus(spark):
    from coviddatapipeline_spark.operators.datapipe import (
        km_assign,
        km_quantize,
        KMEANS_K,
    )

    d = sf_dir("0.01")
    emb = t(spark, d, "embeddings")
    q = km_quantize(emb)
    seeds = q.filter(F.col("vec_id") < KMEANS_K).collect()
    cent = {int(r["vec_id"]): [int(v) for v in r["q"]] for r in seeds}
    new = {r["vec_id"]: r["cluster"] for r in km_assign(q, cent).collect()}
    old = {
        r["vec_id"]: r["cluster"]
        for r in _km_assign_literal_reference(q, cent).collect()
    }
    assert new == old and len(new) > 0


def test_km_assign_arrow_degenerate_rows(spark):
    """NULL vector / NULL element / ragged length all had every dot
    NULL under the literal expression, which fell through to
    max(neg_cid) = the LOWEST centroid id; ties break low too."""
    from coviddatapipeline_spark.operators.datapipe import KM_DIM, km_assign

    cent = {3: [1] * KM_DIM, 5: [2] * KM_DIM, 7: [-1] * KM_DIM}
    rows = [
        (1, [1] * KM_DIM),  # clear argmax -> 5
        (2, None),  # NULL vector -> lowest cid
        (3, [None] + [1] * (KM_DIM - 1)),  # NULL element -> lowest cid
        (4, [1] * (KM_DIM - 2)),  # ragged -> lowest cid
        (5, [0] * KM_DIM),  # all dots 0: tie -> lowest cid
        (6, [-1] * KM_DIM),  # clear argmax -> 7
    ]
    df = spark.createDataFrame(rows, "vec_id long, q array<bigint>")
    got = {r["vec_id"]: r["cluster"] for r in km_assign(df, cent).collect()}
    exp = {1: 5, 2: 3, 3: 3, 4: 3, 5: 3, 6: 7}
    assert got == exp
    old = {
        r["vec_id"]: r["cluster"]
        for r in _km_assign_literal_reference(df, cent).collect()
    }
    assert got == old


def _prune_join_reference(cells):
    """The pre-r12 semdedup_prune_report: pair-exploding self-join +
    zip_with/aggregate fold — kept verbatim as the semantics reference."""
    from coviddatapipeline_spark.operators.similarity import (
        NO_EARLIER,
        SEMDEDUP_TAU,
        _dot,
    )

    a = cells.select(
        F.col("vec_id").alias("aid"),
        F.col("cell").alias("al"),
        F.col("v").alias("av"),
    )
    b = cells.select("vec_id", "cell", F.col("v").alias("bv"))
    mx = (
        a.join(b, (F.col("al") == F.col("cell")) & (F.col("aid") < F.col("vec_id")))
        .withColumn("cos", _dot("av", "bv"))
        .groupBy("vec_id", "cell")
        .agg(F.max("cos").alias("mx"))
    )
    base = cells.select("vec_id", "cell")
    return (
        base.join(mx.select("vec_id", "mx"), "vec_id", "left")
        .withColumn("mxf", F.coalesce(F.col("mx"), F.lit(NO_EARLIER)))
        .select(
            "vec_id",
            "cell",
            F.round("mxf", 4).alias("max_earlier_cos"),
            (F.col("mxf") > SEMDEDUP_TAU).cast("int").alias("pruned"),
        )
    )


def _rows_key(rows):
    return sorted(
        (r["vec_id"], r["cell"], repr(r["max_earlier_cos"]), r["pruned"])
        for r in rows
    )


def test_prune_kernel_equals_join_on_corpus(spark):
    from coviddatapipeline_spark.operators.similarity import (
        _emb,
        semdedup_prune_report,
    )

    d = sf_dir("0.01")
    cells = _emb(spark, d).select("vec_id", F.col("label").alias("cell"), "v")
    new = _rows_key(semdedup_prune_report(cells).collect())
    old = _rows_key(_prune_join_reference(cells).collect())
    assert new == old and len(new) > 0


def test_prune_kernel_degenerate_rows(spark):
    """Crafted rows covering every seam the kernel must reproduce from
    the join formulation: NULL cell (never equi-joins), NULL vector and
    NULL element (NULL dot with every partner: excluded as a partner,
    own mx NULL -> NO_EARLIER), a NaN coordinate (NaN dot wins the max:
    Spark orders NaN greatest), and a single-vector cell."""
    from coviddatapipeline_spark.operators.similarity import (
        semdedup_prune_report,
    )
    from coviddatapipeline_spark.operators.common import EMB_DIM

    def vec(x0, fill=0.0):
        return [float(x0)] + [float(fill)] * (EMB_DIM - 1)

    nanv = [float("nan")] + [0.0] * (EMB_DIM - 1)
    nullelem = [None] + [1.0] * (EMB_DIM - 1)
    rows = [
        (1, "a", vec(1.0)),
        (2, "a", vec(2.0)),        # dot(1,2)=2.0 > tau -> pruned
        (3, "a", nullelem),        # NULL elem: own mx NULL, no pairing
        (4, "a", None),            # NULL vec: own mx NULL, no pairing
        (5, "a", nanv),            # NaN coord: dot NaN, wins max
        (6, None, vec(5.0)),       # NULL cell: never joins
        (7, None, vec(5.0)),
        (8, "b", vec(3.0)),        # single (valid) vector in its cell
    ]
    cells = spark.createDataFrame(
        rows, f"vec_id long, cell string, v array<double>"
    )
    new = _rows_key(semdedup_prune_report(cells).collect())
    old = _rows_key(_prune_join_reference(cells).collect())
    assert new == old
    byid = {r[0]: r for r in new}
    assert byid[2][3] == 1  # pruned by vec 1
    assert byid[3][2] == repr(-2.0) and byid[4][2] == repr(-2.0)
    assert byid[6][2] == repr(-2.0) and byid[7][2] == repr(-2.0)
    assert byid[8][2] == repr(-2.0)
    assert "nan" in byid[5][2].lower()  # NaN survives the max

    # Duplicate vec_ids: the join never pairs two copies of one id
    # (a.vec_id < b.vec_id), and its max is grouped per id, so every
    # copy gets the max over all copies.
    dup_cases = [
        ([(5, "c", vec(1.0)), (5, "c", vec(2.0))], {5: repr(-2.0)}),
        (
            [(4, "c", vec(-1.0)), (5, "c", vec(1.0)), (5, "c", vec(2.0))],
            {4: repr(-2.0), 5: repr(-1.0)},
        ),
    ]
    for rows, want in dup_cases:
        cells = spark.createDataFrame(rows, "vec_id long, cell string, v array<double>")
        new = _rows_key(semdedup_prune_report(cells).collect())
        old = _rows_key(_prune_join_reference(cells).collect())
        assert new == old
        assert [(r[0], r[2]) for r in new] == [(r[0], want[r[0]]) for r in rows]


# --- §C1: bm25/rrf single-tokenize base ------------------------------------


def test_bm25_mapside_tf_equals_explode_formulation(spark):
    """OPTIMIZATION_r12 §C1: the map-side per-term counts
    (size(filter(toks, = term)) with the tf >= 1 gate) must reproduce
    the old explode + groupBy(doc, term) counts on degenerate rows:
    NULL text, empty text, whitespace-only text, repeated terms, and
    terms embedded inside longer words (no substring matches)."""
    from coviddatapipeline_spark.operators.retrieval import BM25_QUERY
    from coviddatapipeline_spark.operators.text import _tokens

    rows = [
        (0, None),
        (1, ""),
        (2, "   \t\n  "),
        (3, "table table hash"),
        (4, "tablecloth hashing windows"),  # no exact-token matches
        (5, "window"),
        (6, "a b c"),
        (7, " table  hash\twindow hash "),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    toks = _tokens(F.col("text"))

    # old formulation: explode + filter + groupBy
    old = (
        docs.select("doc_id", F.explode(toks).alias("term"))
        .filter(F.col("term").isin(*BM25_QUERY))
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
    )
    # new formulation: map-side filter counts + tf >= 1 gate
    def tf_of(term):
        return F.size(F.filter(toks, lambda x: x == F.lit(term)))

    tf_structs = F.array(
        *[
            F.struct(F.lit(w).alias("term"), tf_of(w).alias("tf"))
            for w in BM25_QUERY
        ]
    )
    new = (
        docs.select("doc_id", F.explode(tf_structs).alias("t"))
        .select("doc_id", F.col("t.term").alias("term"), F.col("t.tf").alias("tf"))
        .filter(F.col("tf") >= 1)
    )
    old_rows = sorted((tuple(r) for r in old.collect()), key=lambda x: x[:2])
    new_rows = sorted((tuple(r) for r in new.collect()), key=lambda x: x[:2])
    assert old_rows == new_rows
    # sanity on the crafted data itself: doc 3 counts, docs 0-2/4/6 absent
    as_map = {(d, t): c for d, t, c in new_rows}
    assert as_map[(3, "table")] == 2 and as_map[(3, "hash")] == 1
    assert as_map[(7, "hash")] == 2
    assert not any(d in (0, 1, 2, 4, 6) for d, _ in as_map)


# --- §C6: winnow map-only fingerprint ---------------------------------------


def test_winnow_plan_single_md5_no_window(spark, parity_sf_dir):
    """OPTIMIZATION_r12 §C6: the k-gram hash array must materialize
    ONCE (CollapseProject re-inlining the md5 walk into every window
    slice would turn O(m·w) back into O(m²) md5 calls), and the
    sliding minima live in array space — no WindowExec, no Generate,
    no data-sized exchange (the only allowed Exchange is t_fanout's
    round-robin)."""
    from coviddatapipeline_spark.plans import executed_plan
    from coviddatapipeline_spark.queries.catalog import all_queries

    df = all_queries()["text_winnow_fingerprint"].fn(spark, parity_sf_dir)
    plan = executed_plan(df)
    assert plan.count("md5") == 1, plan
    assert "Window" not in plan
    assert "Generate" not in plan
    assert plan.count("Exchange") <= 2  # fanout round-robin only (+AQE read)
