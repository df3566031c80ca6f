"""The window planner's oracle-hash ledger must replay snapshots
correctly: latest in-window sighting wins, out-of-window entries never
enter the ledger, and the changed-debt rule compares current oracle
md5s against the last-verified ones."""

from __future__ import annotations

import hashlib
import importlib.util
import json
import os
import sys


def _load_planner():
    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "tools",
        "plan_next_window.py",
    )
    spec = importlib.util.spec_from_file_location("plan_next_window", path)
    mod = importlib.util.module_from_spec(spec)
    sys.modules["plan_next_window"] = mod
    spec.loader.exec_module(mod)
    return mod


def test_verified_ledger_latest_in_window_sighting_wins(tmp_path, monkeypatch):
    p = _load_planner()
    monkeypatch.setattr(p, "HISTORY_DIR", str(tmp_path))
    # r01: a and b verified at v1; c exists but sat OUTSIDE the window.
    # No impls map (pre-r11 snapshot shape): impl ledger stays empty.
    json.dump(
        {"window": ["a", "b"], "oracles": {"a": "v1", "b": "v1", "c": "v1"}},
        open(tmp_path / "r01.json", "w"),
    )
    # r02: a re-verified at v2; b not in window (its v1 sighting
    # stands); impl hashes recorded (the r11+ snapshot shape)
    json.dump(
        {
            "window": ["a"],
            "oracles": {"a": "v2", "b": "v9", "c": "v1"},
            "impls": {"a": "i2", "b": "i9", "c": "i1"},
        },
        open(tmp_path / "r02.json", "w"),
    )
    ledger, impl_ledger = p.verified_ledger()
    assert ledger == {"a": "v2", "b": "v1"}
    assert "c" not in ledger, "never-in-window entries must stay unledgered"
    # impl ledger: same latest-in-window-sighting rule; b's only
    # in-window sighting (r01) predates impl recording -> unledgered
    assert impl_ledger == {"a": "i2"}
    assert "c" not in impl_ledger


def test_snapshot_roundtrip_matches_live_registry(tmp_path, monkeypatch):
    p = _load_planner()
    monkeypatch.setattr(p, "HISTORY_DIR", str(tmp_path))
    assert p.take_snapshot("rTEST", 50) == 0
    snap = json.load(open(tmp_path / "rTEST.json"))
    from coviddatapipeline_spark.queries import catalog

    qs = catalog.all_queries()
    assert snap["window"] == [n for n in list(qs)[:50] if qs[n].oracle is not None]
    # every recorded hash is the md5 of the live oracle text, with the
    # checkout root tokenized
    for n, h in snap["oracles"].items():
        assert h == hashlib.md5(catalog.portable_oracle(qs[n].oracle).encode()).hexdigest()
    # the one oracle that names a checkout path hashes without it
    binary = qs["mm_binary_file_ingest"].oracle
    assert catalog._ROOT in binary
    assert catalog._ROOT not in catalog.portable_oracle(binary)
    assert len(snap["oracles"]) == sum(1 for q in qs.values() if q.oracle)
    # impl hashes: md5 of the live builder-function source (r11+)
    import inspect

    for n, h in list(snap["impls"].items())[:20]:
        src = inspect.getsource(qs[n].src or qs[n].fn)
        assert h == hashlib.md5(src.encode()).hexdigest()
    assert len(snap["impls"]) == len(snap["oracles"])


def test_committed_r09_snapshot_is_current(tmp_path):
    """The committed r09 snapshot must match the live registry — a
    post-snapshot oracle edit without a re-snapshot (or a hand-edited
    snapshot) fails here, keeping the ledger truthful."""
    p = _load_planner()
    snaps = sorted(os.listdir(p.HISTORY_DIR))
    assert snaps, "window_history is empty"
    latest = json.load(open(os.path.join(p.HISTORY_DIR, snaps[-1])))
    live = p._oracle_md5s()
    drifted = sorted(
        n for n, h in live.items() if latest["oracles"].get(n) not in (None, h)
    )
    assert not drifted, (
        f"oracles changed after the last snapshot — re-run "
        f"plan_next_window.py --snapshot <round>: {drifted[:10]}"
    )
    live_impls = p._impl_md5s()
    impl_drifted = sorted(
        n for n, h in live_impls.items()
        if latest.get("impls", {}).get(n) not in (None, h)
    )
    assert not impl_drifted, (
        f"entry functions changed after the last snapshot — re-run "
        f"plan_next_window.py --snapshot <round>: {impl_drifted[:10]}"
    )
