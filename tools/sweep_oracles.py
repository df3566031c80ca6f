"""Sweep every registered oracle with the driver-faithful compare.

Runs each Spark query and its DuckDB oracle at sf0.01 (the driver's
correctness scale) through tests.parity.compare and prints one line per
failure. Exit 0 iff all green.

Each green entry is STAMPED into tools/sweep_stamps/<sf>.json with
catalog.entry_fingerprint (its docstring says what the hash covers) as
soon as it passes, so a run killed part-way keeps the greens before it;
the committed stamps are what tests/test_window_swept.py checks, so an
entry cannot
rotate into the driver's 50-slot window without a current local green
at sf0.001 AND sf0.1 (VERDICT r03 #6 — this gate is what caught the
rounding-tie and HUGEINT oracle classes in earlier rounds).

Usage: python tools/sweep_oracles.py [name_substring ...]
       SWEEP_SF_DIR=/root/testdata/sf0.1 python tools/sweep_oracles.py
"""

from __future__ import annotations

import os
import sys
import time

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from coviddatapipeline_spark.queries import catalog
from coviddatapipeline_spark.session import get_spark
from tests.parity import compare

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


STAMP_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "sweep_stamps")


def _stamp_path(sf_dir: str) -> str:
    return os.path.join(STAMP_DIR, os.path.basename(sf_dir.rstrip("/")) + ".json")


def record_stamp(sf_dir: str, name: str, fingerprint: str) -> None:
    """Merge the fingerprint of a freshly-green entry into the SF's
    stamp file. The fingerprints are captured BEFORE the sweep runs, so
    a source edit made while the sweep is in flight yields a stale
    stamp (gate stays red) rather than a stamp for untested code."""
    import json

    os.makedirs(STAMP_DIR, exist_ok=True)
    path = _stamp_path(sf_dir)
    stamps: dict[str, str] = {}
    if os.path.exists(path):
        with open(path) as f:
            stamps = json.load(f)
    stamps[name] = fingerprint
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(dict(sorted(stamps.items())), f, indent=1)
    os.replace(tmp, path)


def main() -> int:
    filters = sys.argv[1:]
    sf = os.environ.get("SWEEP_SF_DIR", "/root/testdata/sf0.01")
    spark = get_spark(app_name="oracle-sweep", shuffle_partitions=8)
    con = duckdb.connect()
    for name in TABLES:
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{sf}/{name}.parquet')"
        )
    all_q = catalog.all_queries()
    names = [n for n, q in all_q.items() if q.oracle is not None]
    if filters:
        names = [n for n in names if any(f in n for f in filters)]
    fingerprints = {n: catalog.entry_fingerprint(n) for n in names}
    failures = []
    for i, name in enumerate(names):
        q = all_q[name]
        t0 = time.time()
        try:
            ok, msg = compare(q.fn(spark, sf), con, q.oracle)
        except Exception as e:  # noqa: BLE001
            ok, msg = False, f"EXC {type(e).__name__}: {e}"
        dt = time.time() - t0
        status = "ok" if ok else "FAIL"
        print(f"[{i+1}/{len(names)}] {status:4s} {dt:6.2f}s {name}" + ("" if ok else f" :: {msg[:300]}"), flush=True)
        if ok:
            record_stamp(sf, name, fingerprints[name])
        else:
            failures.append((name, msg))
    print(f"stamps -> {_stamp_path(sf)}")
    print(f"\n{len(names) - len(failures)}/{len(names)} green")
    for name, msg in failures:
        print(f"FAIL {name}: {msg[:400]}")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
