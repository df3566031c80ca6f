"""Shared helpers for operator modules."""

from __future__ import annotations

import math
import os
from weakref import WeakKeyDictionary

from pyspark.sql import DataFrame, SparkSession

# DuckDB (1.0) has no initcap; this template reproduces Spark's
# F.initcap semantics exactly (lowercase, then uppercase the first
# character of each whitespace-delimited word): verified equal on
# "  o'BRIEN new  YORK " -> "O'brien New  York".
DUCKDB_INITCAP = (
    "array_to_string(list_transform(string_split(lower({x}), ' '), "
    "w -> upper(w[1]) || w[2:]), ' ')"
)

# Oracle-side twin of Spark's floor(double) -> BIGINT semantics, which
# are TOTAL: NaN -> 0, -inf -> Long.MIN, +inf -> Long.MAX (measured on
# this PySpark build; floor() itself returns LongType, so no ANSI cast
# runs). DuckDB's CAST(floor(x) AS BIGINT) instead raises a conversion
# error on any non-finite double, so every oracle that buckets a
# possibly-poisoned measure with floor uses this template — a no-op on
# finite (clean) data, it makes the verification SQL total on poison
# corpora with the identical bucket values (round-7 parity pass).
def duck_floor_long(x: str) -> str:
    """DuckDB SQL snippet: Spark-semantics floor(``x``) as BIGINT."""
    return (
        f"CASE WHEN isnan({x}) THEN 0 "
        f"WHEN {x} = 'infinity'::DOUBLE THEN 9223372036854775807 "
        f"WHEN {x} = '-infinity'::DOUBLE THEN -9223372036854775808 "
        f"ELSE CAST(floor({x}) AS BIGINT) END"
    )


# Whitespace-run regex shared verbatim by BOTH engines' normalization
# chains (text._NORM/_norm, datapipe curation, HTML extract). Java's
# \s is exactly [ \t\n\x0B\f\r] but RE2's \s omits \x0B (vertical
# tab), so the class is spelled out explicitly — byte-identical
# semantics to Spark's previous \s+, and it closes the \x0B parity gap
# on the DuckDB side (ADVICE r08). Valid and identical in Java regex
# and RE2; contains no quote/backslash characters that would need SQL
# escaping.
WS_RE = r"[ \t\n\x0b\f\r]+"


# Corpus embedding dimensionality contract. Operators whose algebra
# requires uniform vector dimensions (k-means training, blocked exact
# GEMM) filter to exactly this size: a NULL / empty / wrong-dimension
# vector cannot be assigned a cell or stacked into a BLAS matrix, and
# without the filter one poison row aborts the entire job (ANSI
# INVALID_ARRAY_INDEX on q[i], ragged np.vstack). At 100 TB this value
# comes from the embedding model card; testdata is 64-d at every SF.
EMB_DIM = 64


# Table-resolution memo (OPTIMIZATION_r12 §A1, guide §1.2/§5): every
# ``spark.read.parquet`` call re-creates a DataSource + InMemoryFileIndex
# and re-reads the parquet footer for schema inference — ~0.25 s of
# driver-side py4j/JVM work per call on the bench host, paid again for
# every table of every rebuilt query. Production engines resolve a
# table once through a catalog; this memo is that catalog: it caches the
# *unexecuted logical plan* (never data — every action still scans the
# parquet files) keyed by (session, absolute path, mtime_ns, size /
# shallow listing signature), so any rewrite of the underlying file or
# dataset directory invalidates the entry and a fresh resolution sees
# the new bytes. WeakKeyDictionary: entries die with their session.
_DF_CACHE: WeakKeyDictionary = WeakKeyDictionary()


def _path_signature(path: str):
    """Freshness token for a parquet file OR dataset directory: file
    (mtime_ns, size), directory (dir mtime_ns + sorted shallow listing
    of (name, mtime_ns, size)). Any writer that adds/replaces/removes a
    part file changes the signature."""
    st = os.stat(path)
    if not os.path.isdir(path):
        return (st.st_mtime_ns, st.st_size)
    entries = []
    with os.scandir(path) as it:
        for e in it:
            es = e.stat()
            entries.append((e.name, es.st_mtime_ns, es.st_size))
    entries.sort()
    return (st.st_mtime_ns, tuple(entries))


def t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one driver testdata table as a DataFrame (lazy parquet scan).

    Resolution is memoized per (session, path, content signature) — see
    ``_DF_CACHE``. The returned DataFrame is an immutable lazy plan;
    sharing it across builders never shares computed results.
    """
    path = os.path.join(sf_dir, f"{name}.parquet")
    try:
        key = (os.path.abspath(path), _path_signature(path))
    except OSError:
        # path missing/unstatable: let Spark raise its own error lazily
        return spark.read.parquet(path)
    per = _DF_CACHE.get(spark)
    if per is None:
        per = {}
        _DF_CACHE[spark] = per
    df = per.get(key)
    if df is None:
        df = per[key] = spark.read.parquet(path)
    return df


def _dataset_bytes(path: str) -> int:
    """Total bytes of a parquet file or (shallow) dataset directory."""
    st = os.stat(path)
    if not os.path.isdir(path):
        return st.st_size
    total = 0
    with os.scandir(path) as it:
        for e in it:
            if e.is_file():
                total += e.stat().st_size
    return total


def _conf_bytes(spark: SparkSession, key: str, default: str) -> int:
    """Parse a Spark size conf ('128m', '1g', plain bytes) to bytes."""
    raw = str(spark.conf.get(key, default)).strip().lower()
    units = {"k": 1024, "m": 1024**2, "g": 1024**3, "t": 1024**4}
    if raw and raw[-1] == "b" and len(raw) > 1 and raw[-2] in units:
        raw = raw[:-1]
    if raw and raw[-1] in units:
        return int(float(raw[:-1]) * units[raw[-1]])
    return int(raw)


def t_fanout(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Like :func:`t`, but guarantees at least ``defaultParallelism``
    partitions before CPU-heavy per-row work (shingling, hashing,
    per-pair math). A small file arrives as ONE scan partition, which
    would serialize the compute on a single core; the repartition is a
    no-op shuffle of a tiny input. Guarded: a table that already spans
    >= cores partitions (any real table at 100 TB under
    files.maxPartitionBytes) is returned untouched — this never adds a
    shuffle at scale.

    The guard is computed from the dataset's on-disk bytes vs
    ``spark.sql.files.maxPartitionBytes`` (a conservative floor on the
    scan's split count — split packing with openCostInBytes only ever
    produces MORE splits than bytes/maxPartitionBytes). The previous
    ``df.rdd.getNumPartitions()`` probe forced a full physical-plan
    materialization through py4j on every build (~0.5 s of driver time
    per query on the bench host) for the same answer
    (OPTIMIZATION_r12 §A2, guide §1.2).
    """
    df = t(spark, sf_dir, name)
    target = spark.sparkContext.defaultParallelism
    path = os.path.join(sf_dir, f"{name}.parquet")
    try:
        nbytes = _dataset_bytes(path)
    except OSError:
        return df.repartition(target)
    max_pb = _conf_bytes(spark, "spark.sql.files.maxPartitionBytes", "128m")
    est_splits = max(1, math.ceil(nbytes / max(1, max_pb)))
    if est_splits < target:
        df = df.repartition(target)
    return df


def events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events table with ``ts`` as a usable TimestampType column.

    Handles both physical layouts the driver has generated across
    rounds: TIMESTAMP(MICROS) arrives as a native (ntz) timestamp and
    is used as-is; TIMESTAMP(NANOS) is rejected by Spark's vectorized
    reader, so with ``spark.sql.legacy.parquet.nanosAsLong`` it arrives
    as an epoch-nanos long, which we integer-divide (never
    float-divide — doubles lose precision above 2^53) to micros. Both
    paths match DuckDB's µs TIMESTAMP view of the same column.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType

    df = t(spark, sf_dir, "events")
    if isinstance(df.schema["ts"].dataType, LongType):
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
    else:
        # MICROS files arrive as TIMESTAMP_NTZ; cast to TimestampType so
        # every downstream comparison/window sees the same type round 1
        # produced. Session zone is pinned UTC, so the cast is the
        # identity on wall-clock values.
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


# Deterministic HTML page template shared by text.text_html_extract
# (which must strip it back off) and multimodal's WARC container entry
# (which wraps it into HTTP payloads). Lives HERE because both import
# common.py, so editing the template re-gates the sweep stamps of every
# consumer (catalog.entry_fingerprint hashes each entry's imports).
HTML_PRE = (
    "<html><head><title>Doc</title>"
    '<style type="text/css">p{margin:0;padding:0}</style>'
    "<script>var t = 1 < 2 && 3 > 2;</script></head>"
    '<body><nav><a href="/">Home</a> | <a href="/about">About</a></nav>'
    '<div id="main"><p>'
)
HTML_POST = (
    "</p></div><footer>&copy; 2026 Example &amp; Sons</footer></body></html>"
)
