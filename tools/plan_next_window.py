"""Propose the next driver-window rotation from the CORRECTNESS history
AND the oracle-hash snapshot ledger.

Reads every CORRECTNESS_r*.json in the repo root plus the per-round
snapshots in tools/window_history/ (entry oracle md5s + entry IMPL
md5s + the window that round installed), and prints:

  - coverage accounting (checked / never-checked, per module),
  - the CHANGED-ORACLE debt: entries whose current oracle text differs
    from the one in force when they last sat in a driver window (the
    round-9 lesson — a shared-template oracle edit can rewrite more
    oracles than one 50-slot window holds, and the leftover rotation
    debt must be COMPUTED, not remembered),
  - the IMPL-CHANGED debt (VERDICT r10 #2): entries whose oracle text
    is unchanged but whose ENTRY-FUNCTION source differs from the one
    in force at their last window — the round-10 sort-sweep class,
    previously a hand-maintained prose list in NEXT.md. Granularity:
    the hash is the entry function's own source (inspect.getsource of
    the registered builder), so a rewrite of the entry is always
    caught; an edit to a SHARED helper the function calls is not
    flagged here. The sweep stamps re-gate that class locally; what
    they cover is defined in catalog.entry_fingerprint's docstring.
  - a proposed next `_PRIORITY` fill: the pinned sentinels, then
    never-checked entries breadth-first by module, then the
    changed-oracle debt, then the impl-changed debt, then (if slots
    remain) STALE rotation — unchanged entries that have sat out of a
    driver window longest, oldest snapshot first, so every entry keeps
    earning periodic fresh rows even with zero debt.

ready to paste into `coviddatapipeline_spark/queries/catalog.py`. The
sentinel list mirrors the one pinned there; edit SENTINELS when the
canary set changes.

Usage: python tools/plan_next_window.py [window_size]
       python tools/plan_next_window.py --snapshot r09
           # record the just-installed window + ALL current entry
           # oracle hashes; run this right after editing _PRIORITY for
           # a round, then commit tools/window_history/r09.json
"""

from __future__ import annotations

import glob
import json
import os
import sys
from collections import defaultdict

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from coviddatapipeline_spark.queries import catalog

SENTINELS = (
    "flagship_revenue_by_nation",
    "s1_scan_count_orders",
    "q4_topk_other_share",
    "dedup_minhash_lsh",
    "ann_cosine_topk_ivf",
    "text_token_stats",
    "events_sessionization",
)


HISTORY_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "window_history")


def _oracle_md5s() -> dict[str, str]:
    import hashlib

    qs = catalog.all_queries()
    return {
        n: hashlib.md5(catalog.portable_oracle(q.oracle).encode()).hexdigest()
        for n, q in qs.items()
        if q.oracle is not None
    }


def _impl_md5s() -> dict[str, str]:
    """Per-entry md5 of the registered builder FUNCTION's source —
    function-level on purpose (see module docstring): precise enough to
    reproduce the sort-sweep class, narrow enough not to flood the
    window when one module is touched."""
    import hashlib
    import inspect

    qs = catalog.all_queries()
    return {
        n: hashlib.md5(inspect.getsource(q.src or q.fn).encode()).hexdigest()
        for n, q in qs.items()
        if q.oracle is not None
    }


def take_snapshot(tag: str, window: int) -> int:
    """Record {window: [...], oracles: {entry: md5}} for this round.
    The planner replays snapshots in tag order to build the
    last-driver-verified-oracle ledger. Oracle text (not the sweep
    fingerprint, catalog.entry_fingerprint) is the right granularity
    here: one shared-helper edit changes the fingerprints of every
    entry that imports it — correct for stamp re-gating, far too wide
    for window planning. Oracle text is hashed through
    catalog.portable_oracle, so snapshots do not depend on the checkout
    path. Implementation-only changes (oracle untouched) still get
    hand-added to the window per the changed-impl policy; the impls
    map (function-source md5s) computes THAT debt too since r11."""
    qs = catalog.all_queries()
    md5s = _oracle_md5s()
    snap = {
        "window": [n for n in list(qs)[:window] if n in md5s],
        "oracles": md5s,
        "impls": _impl_md5s(),
    }
    os.makedirs(HISTORY_DIR, exist_ok=True)
    path = os.path.join(HISTORY_DIR, f"{tag}.json")
    with open(path, "w") as f:
        json.dump(snap, f, indent=1, sort_keys=True)
    print(f"snapshot {tag}: {len(snap['window'])}-entry window, "
          f"{len(md5s)} oracle hashes -> {path}")
    return 0


def verified_ledger() -> tuple[dict[str, str], dict[str, str]]:
    """(oracle_ledger, impl_ledger): entry -> the oracle / entry-
    function md5 in force the last time the entry sat in an installed
    driver window (replayed from the snapshots in tag order). Entries
    never snapshotted-in-window are absent; pre-r11 snapshots carry
    impl hashes backfilled from the git trees at their commits."""
    oracles: dict[str, str] = {}
    impls: dict[str, str] = {}
    for path in sorted(glob.glob(os.path.join(HISTORY_DIR, "*.json"))):
        with open(path) as f:
            snap = json.load(f)
        for n in snap["window"]:
            h = snap["oracles"].get(n)
            if h:
                oracles[n] = h
            hi = snap.get("impls", {}).get(n)
            if hi:
                impls[n] = hi
    return oracles, impls


def last_window_tag() -> dict[str, str]:
    """entry -> tag of the most recent snapshot whose window held it."""
    out: dict[str, str] = {}
    for path in sorted(glob.glob(os.path.join(HISTORY_DIR, "*.json"))):
        tag = os.path.splitext(os.path.basename(path))[0]
        with open(path) as f:
            snap = json.load(f)
        for n in snap["window"]:
            out[n] = tag
    return out


def main() -> int:
    if len(sys.argv) > 1 and sys.argv[1] == "--snapshot":
        return take_snapshot(sys.argv[2], int(sys.argv[3]) if len(sys.argv) > 3 else 50)
    window = int(sys.argv[1]) if len(sys.argv) > 1 else 50
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    checked: set[str] = set()
    for path in sorted(glob.glob(os.path.join(root, "CORRECTNESS_r*.json"))):
        with open(path) as f:
            for name, row in json.load(f).items():
                # Only a HASH-verified row counts as coverage: an entry
                # that historically ran as rows-only (err: no_oracle)
                # and has since gained an oracle still needs its first
                # hash-checked driver row.
                if row.get("hash_match"):
                    checked.add(name)
    qs = catalog.all_queries()
    oracle_backed = [n for n, q in qs.items() if q.oracle is not None]
    # The CURRENT window is about to be (or was just) driver-checked;
    # treat it as covered even if this round's CORRECTNESS file hasn't
    # been written yet, so planning before the driver runs is safe.
    current_window = set(list(qs)[:window])
    never = [
        n for n in oracle_backed if n not in checked and n not in current_window
    ]
    by_mod: dict[str, list[str]] = defaultdict(list)
    for n in never:
        q = qs[n]
        by_mod[(q.src or q.fn).__module__.rsplit(".", 1)[-1]].append(n)

    # CHANGED debt: last-window-verified fingerprint differs from the
    # current one. Window membership does NOT exempt an entry: the
    # round-end snapshot re-records final hashes, so ledger == what the
    # driver actually checked — if the current hash differs, the entry
    # was edited SINCE that check and needs a fresh row even if it sat
    # in the outgoing window (r11 lesson: the separator fix touched a
    # just-verified r10-window entry, which the old exclusion hid).
    # Sentinels are exempt — they are in every window by construction.
    ledger, impl_ledger = verified_ledger()
    md5s = _oracle_md5s()
    changed = sorted(
        n
        for n in oracle_backed
        if n in ledger
        and n not in SENTINELS
        and md5s.get(n) != ledger[n]
    )
    # IMPL-CHANGED debt: oracle text unchanged (else it is already in
    # `changed`), but the entry function was rewritten since its last
    # window — the changed-impl re-verification policy, computed.
    impl_md5s = _impl_md5s()
    impl_changed = sorted(
        n
        for n in oracle_backed
        if n in impl_ledger
        and n not in SENTINELS
        and n not in set(changed)
        and impl_md5s.get(n) != impl_ledger[n]
    )
    unledgered = [
        n for n in oracle_backed
        if n not in ledger and n in checked and n not in current_window
    ]

    print(f"registry: {len(qs)} ({len(oracle_backed)} oracle-backed)")
    print(f"driver-checked (all rounds): {len(checked & set(qs))}")
    print(f"never-checked backlog: {len(never)}")
    for m in sorted(by_mod):
        print(f"  {m} ({len(by_mod[m])}): {', '.join(sorted(by_mod[m]))}")
    print(f"changed-oracle debt: {len(changed)}")
    for n in changed:
        print(f"  {n}")
    print(f"impl-changed debt (oracle unchanged): {len(impl_changed)}")
    for n in impl_changed:
        print(f"  {n}")
    if unledgered:
        print(
            f"(no oracle-hash ledger for {len(unledgered)} historically-"
            f"checked entries — predates tools/window_history/; they "
            f"surface here only once a snapshot records them in-window)"
        )

    slots = window - len(SENTINELS)
    # first-time coverage first (the unfreeze discipline: every entry
    # earns a driver row ASAP, round-robin across modules so breadth
    # comes before depth), then the changed-oracle debt (a verified
    # hash row exists but for OLD oracle text)
    fill: list[str] = []
    order = sorted(by_mod, key=lambda m: -len(by_mod[m]))
    queues = {m: sorted(by_mod[m]) for m in order}
    while len(fill) < slots and any(queues.values()):
        for m in order:
            if queues[m] and len(fill) < slots:
                fill.append(queues[m].pop(0))
    n_first = len(fill)
    fill.extend(changed[: slots - n_first])
    n_changed = len(fill) - n_first
    fill.extend(impl_changed[: slots - len(fill)])
    n_impl = len(fill) - n_first - n_changed
    # stale rotation: fill leftover slots with the entries whose last
    # in-window snapshot is OLDEST (ties alphabetical) — keeps every
    # entry cycling through driver verification even at zero debt
    taken = set(SENTINELS) | set(fill)
    tags = last_window_tag()
    stale = sorted(
        (n for n in oracle_backed if n not in taken and n in tags),
        key=lambda n: (tags[n], n),
    )
    fill.extend(stale[: slots - len(fill)])
    n_stale = len(fill) - n_first - n_changed - n_impl
    print(
        f"\nproposed _PRIORITY ({len(SENTINELS)} sentinels + "
        f"{n_first} first-time + {n_changed} changed-oracle + "
        f"{n_impl} impl-changed + {n_stale} stale-rotation):"
    )
    print("_PRIORITY: tuple[str, ...] = (")
    for n in SENTINELS:
        print(f'    "{n}",')
    print("    # --- rotation (first-time, changed-oracle, impl-changed, stale) ---")
    for n in fill:
        print(f'    "{n}",')
    print(")")
    print(f"\nbacklog after this window: never-checked "
          f"{max(0, len(never) - n_first)}, "
          f"changed-oracle {max(0, len(changed) - n_changed)}, "
          f"impl-changed {max(0, len(impl_changed) - n_impl)}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
