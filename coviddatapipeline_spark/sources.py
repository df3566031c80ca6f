"""Sources & sinks (SURVEY §2.1).

The reference's storage surface is CSV → Elasticsearch → Postgres
(/root/reference/ingest_csv_to_elastic.py, /root/reference/dags/ETL.py).
Spark-first, that collapses to Parquet medallion tables:

- S1 CSV full scan            -> read_csv (header, explicit/permissive schema)
- S3 ES bulk sink             -> write_parquet(mode="append"|"overwrite") Bronze
- S4 create-index-if-absent   -> write mode "ignore"
- S5 truncate index           -> write mode "overwrite"
- S6 ES incremental search    -> read_parquet + watermark filter
- S7 Postgres DDL             -> saveAsTable / CREATE TABLE IF NOT EXISTS
- S8 Postgres row-append sink -> write_parquet(mode="append") Silver

Every reader returns a lazy DataFrame; Catalyst pushes projections and
predicates into the Parquet scan (check with ``df.explain`` →
``PushedFilters`` / ``ReadSchema``). No covid table is date-partitioned,
and the watermark filter applies to a date parsed from a raw Bronze
string, so the incremental extract scans Bronze in full (watermark.py).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """Columnar scan with pushdown — the engine's default source (S1/S6)."""
    return spark.read.parquet(path)


def read_csv(
    spark: SparkSession,
    path: str,
    schema: T.StructType | None = None,
    header: bool = True,
    mode: str = "PERMISSIVE",
) -> DataFrame:
    """CSV scan (S1). Without a schema every column is a string — the same
    no-types-at-source posture as the reference's csv.DictReader
    (/root/reference/ingest_csv_to_elastic.py:79). ``mode`` may be
    DROPMALFORMED to push the reference's malformed-row skip (P4) into
    the scan itself.
    """
    reader = spark.read.option("header", str(header).lower()).option("mode", mode)
    if schema is not None:
        reader = reader.schema(schema)
    return reader.csv(path)


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one driver testdata table (TESTDATA.md)."""
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def write_parquet(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    partition_by: tuple[str, ...] | None = None,
) -> None:
    """Parquet sink (S3/S5/S8).

    - mode="overwrite"  ≙ reference truncate-then-write (S5,
      /root/reference/ingest_csv_to_elastic.py:58-70)
    - mode="append"     ≙ reference batched INSERTs (S8,
      /root/reference/dags/ETL.py:131-143)
    - mode="ignore"     ≙ create-if-absent DDL (S4,
      /root/reference/ingest_csv_to_elastic.py:36-55)

    ``partition_by`` writes one directory per value, so filters on it
    prune directories. The covid tables pass none, so nothing replaces
    the reference's B-tree indexes (scripts/postgres_db_scripts.sql:17-19).
    """
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def read_csv_with_quarantine(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    header: bool = True,
) -> tuple[DataFrame, DataFrame]:
    """PERMISSIVE CSV scan split into (good_rows, quarantined_rows).

    The engine's P4 surface for dirty ingest at scale: rows that fail
    the schema land in a corrupt-record column instead of aborting the
    job or silently vanishing (the reference's try/except skip,
    /root/reference/dags/ETL.py:95-105, drops them without a trace).
    Quarantined rows keep their raw text for replay after a schema fix.
    The parsed frame is cached: both splits share one scan, and Spark
    requires it — filtering on only `_corrupt_record` directly over a
    raw CSV scan is disallowed (QUERY_ONLY_CORRUPT_RECORD_COLUMN).
    """
    fields = list(schema.fields) + [T.StructField("_corrupt_record", T.StringType())]
    df = (
        spark.read.schema(T.StructType(fields))
        .option("header", str(header).lower())
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .csv(path)
    ).cache()
    from pyspark.sql import functions as F

    good = df.filter(F.col("_corrupt_record").isNull()).drop("_corrupt_record")
    bad = df.filter(F.col("_corrupt_record").isNotNull()).select("_corrupt_record")
    return good, bad


def read_jsonl(
    spark: SparkSession,
    path: str,
    schema: T.StructType | None = None,
) -> DataFrame:
    """Newline-delimited JSON source — the shape of the reference's ES
    `_bulk` bodies (/root/reference/ingest_csv_to_elastic.py:104-108)
    and of most LLM training-data drops. With an explicit ``schema`` the
    reader skips the inference pass (one full scan saved — mandatory at
    100 TB); without one, Spark samples to infer.
    """
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)


def write_jsonl(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """NDJSON sink (interchange with JSON-native downstreams). Parquet
    remains the engine-internal format; this exists for egress parity
    with the reference's document-oriented sink."""
    df.write.mode(mode).json(path)


def write_bucketed_table(
    df: DataFrame,
    name: str,
    path: str,
    bucket_cols: tuple[str, ...],
    num_buckets: int = 8,
    sort_cols: tuple[str, ...] | None = None,
    mode: str = "overwrite",
) -> None:
    """Bucketed managed-metadata table (external data at ``path``).

    Bucketing pre-shuffles data by ``bucket_cols`` at write time so that
    joins/aggregations on those keys read co-located buckets and skip
    the runtime Exchange entirely — the Spark analogue of co-partitioned
    table layouts. At 100 TB this converts every fact-fact join on the
    bucket key from a full shuffle into a local merge; pick
    ``num_buckets`` ~ total cluster cores and keep it identical across
    tables meant to join.
    """
    writer = df.write.mode(mode).option("path", path).bucketBy(num_buckets, *bucket_cols)
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.saveAsTable(name)


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    """ORC source — the second columnar format large warehouses hold
    (Hive-lineage lakes are ORC-first). Spark's native vectorized ORC
    reader supports the same predicate pushdown / column pruning
    contract as parquet, so every operator in the catalog runs on ORC
    tables unchanged."""
    return spark.read.orc(path)


def write_orc(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    partition_by: tuple[str, ...] | None = None,
) -> None:
    """ORC sink with the same mode/partitioning contract as
    :func:`write_parquet`."""
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.orc(path)


def read_parquet_merged_schema(spark: SparkSession, path: str) -> DataFrame:
    """Schema-evolution read: union the schemas of every parquet footer
    under ``path`` (``mergeSchema``) so batches written before a column
    existed surface it as NULL instead of failing the scan — the read
    side of additive schema evolution, which is the only kind the
    bronze layer accepts (dropping/retyping requires a rewrite, per
    warehouse_snapshot_diff_cdc's migration path). Spark only pays the
    footer union at planning time; at 100 TB keep it ON for bronze
    (heterogeneous history) and OFF for silver/gold (single schema,
    planning cost avoided)."""
    return spark.read.option("mergeSchema", "true").parquet(path)


def compact_small_files(
    spark: SparkSession, path: str, target_rows_per_file: int = 1_000_000
) -> tuple[int, int]:
    """Small-file compaction: rewrite ``path`` so each output file
    carries ~``target_rows_per_file`` rows, returning (files_before,
    files_after). Streaming sinks and per-batch dynamic overwrites
    accrete kilobyte files whose per-file open/footer cost eventually
    dominates scans (the classic small-file problem); compaction is one
    narrow ``coalesce`` — no shuffle — into ceil(rows/target) files,
    staged to a sibling directory and swapped in. The swap is two
    renames, NOT atomic: a concurrent reader can observe a missing
    table directory between them (a real lakehouse closes this window
    with a manifest/pointer the way Delta/Iceberg commit a snapshot —
    directory swaps cannot). Crash-safe, though: stale ``_compact_tmp``
    / ``_compact_old`` leftovers from a prior failed run are cleaned up
    at entry, and a failure between the renames restores the original
    path before re-raising. Run it where a real lakehouse runs
    OPTIMIZE: off the write path, per partition, readers quiesced."""
    import math
    import os
    import shutil

    staged = path.rstrip("/") + "._compact_tmp"
    old = path.rstrip("/") + "._compact_old"
    # recover from a prior failed run: a stranded _compact_old means the
    # swap crashed mid-way with nothing at `path` — restore it first.
    if os.path.exists(old) and not os.path.exists(path):
        os.rename(old, path)
    for stale in (staged, old):
        if os.path.exists(stale):
            shutil.rmtree(stale)

    df = spark.read.parquet(path)
    n_rows = df.count()
    files_before = len(
        [f for f in os.listdir(path) if f.endswith(".parquet")]
    )
    n_files = max(1, math.ceil(n_rows / max(target_rows_per_file, 1)))
    df.coalesce(n_files).write.mode("overwrite").parquet(staged)
    os.rename(path, old)
    try:
        os.rename(staged, path)
    except BaseException:
        os.rename(old, path)  # restore the original table, then re-raise
        raise
    shutil.rmtree(old)
    files_after = len(
        [f for f in os.listdir(path) if f.endswith(".parquet")]
    )
    return files_before, files_after


# --- versioned tables: atomic snapshot commits via a pointer file ----------
#
# The directory-swap compaction above has an unavoidable reader-visible
# window (two renames). This is the lakehouse answer in miniature — the
# same commit protocol Delta/Iceberg use, reduced to one JSON pointer:
# data lives in immutable versioned directories `<root>/v{N}`, and
# `<root>/_CURRENT` names the live one. Writers stage a NEW version
# directory (invisible to readers), then commit with a single
# `os.replace` of the pointer — atomic on POSIX, so every reader sees
# either the old snapshot or the new one, never a missing or
# half-written table. Crash before the pointer flip leaves an orphan
# directory (garbage-collected on the next commit), never a broken
# table. On a real object store the pointer is a conditional PUT /
# rename of the manifest, and old versions double as time travel.

_POINTER = "_CURRENT"


def versioned_table_path(root: str) -> str:
    """Resolve the live snapshot directory of a versioned table."""
    import json
    import os

    with open(os.path.join(root, _POINTER)) as f:
        return os.path.join(root, json.load(f)["version_dir"])


def read_versioned(spark: SparkSession, root: str) -> DataFrame:
    """Read the live snapshot of a versioned table."""
    return spark.read.parquet(versioned_table_path(root))


def read_versioned_at(spark: SparkSession, root: str, version: int) -> DataFrame:
    """Time-travel read of a RETAINED version. The protocol keeps the
    live version N and its immediate predecessor N-1 (GC lag for
    in-flight readers), so those are the only versions guaranteed
    readable; anything older raises FileNotFoundError rather than
    silently reading a partially-GC'd directory."""
    import os

    path = os.path.join(root, f"v{version}")
    if not os.path.isdir(path):
        raise FileNotFoundError(
            f"version {version} of {root} is not retained "
            f"(the protocol keeps only the live version and its predecessor)"
        )
    return spark.read.parquet(path)


def write_versioned(spark: SparkSession, df: DataFrame, root: str) -> str:
    """Commit ``df`` as the table's next immutable snapshot; returns the
    new version directory. Safe under concurrent readers: they hold the
    previous snapshot's path, whose files are never modified — only the
    pointer moves (atomically), and superseded versions are removed on
    the commit AFTER next, giving in-flight readers of version N a full
    commit cycle to finish before N's files disappear. Single WRITER
    assumed (like Delta without a commit service); a racing second
    writer fails cleanly at the ``errorifexists`` data write, before
    any pointer motion."""
    import json
    import os
    import re
    import shutil
    import tempfile

    os.makedirs(root, exist_ok=True)
    ptr = os.path.join(root, _POINTER)
    prev = None
    version = 0
    if os.path.exists(ptr):
        with open(ptr) as f:
            prev = json.load(f)
        version = prev["version"] + 1
    # Pre-write GC: a commit that crashed AFTER its data write but BEFORE
    # its pointer flip leaves an orphan directory at exactly
    # v{pointer_version + 1} — the very slot this commit computes — so
    # the errorifexists write below would fail forever and the table
    # would be permanently write-blocked. Any version directory NEWER
    # than the pointer (or any at all, if no pointer was ever committed)
    # is by construction an uncommitted orphan: no reader can hold it,
    # because readers only ever resolve paths through the pointer.
    for entry in os.listdir(root):
        m = re.fullmatch(r"v(\d+)", entry)
        full = os.path.join(root, entry)
        if m and os.path.isdir(full) and (prev is None or int(m.group(1)) > prev["version"]):
            shutil.rmtree(full)
    vdir = f"v{version}"
    df.write.mode("errorifexists").parquet(os.path.join(root, vdir))
    # single atomic commit point: readers see old or new, never neither
    fd, tmp = tempfile.mkstemp(dir=root, prefix="._ptr_")
    with os.fdopen(fd, "w") as f:
        json.dump({"version": version, "version_dir": vdir}, f)
    os.replace(tmp, ptr)
    # Post-commit GC: keep the immediately-superseded version (in-flight
    # readers may still hold it); drop anything older, plus ._ptr_* temp
    # files from writers that died before their os.replace. Orphans ABOVE
    # the pointer were already collected pre-write.
    keep = {vdir, prev["version_dir"]} if prev else {vdir}
    for entry in os.listdir(root):
        full = os.path.join(root, entry)
        if re.fullmatch(r"v\d+", entry) and os.path.isdir(full) and entry not in keep:
            shutil.rmtree(full)
        elif entry.startswith("._ptr_") and os.path.isfile(full):
            os.unlink(full)
    return os.path.join(root, vdir)


def compact_versioned(
    spark: SparkSession, root: str, target_rows_per_file: int = 1_000_000
) -> tuple[int, int]:
    """OPTIMIZE for versioned tables: rewrite the live snapshot into
    ceil(rows/target) files as a NEW version with an atomic pointer
    commit — no reader-visible window at all, unlike the directory-swap
    `compact_small_files`. Returns (files_before, files_after)."""
    import math
    import os

    live = versioned_table_path(root)
    df = spark.read.parquet(live)
    n_rows = df.count()
    files_before = len([f for f in os.listdir(live) if f.endswith(".parquet")])
    n_files = max(1, math.ceil(n_rows / max(target_rows_per_file, 1)))
    new_dir = write_versioned(spark, df.coalesce(n_files), root)
    files_after = len([f for f in os.listdir(new_dir) if f.endswith(".parquet")])
    return files_before, files_after
