"""Query registry.

Operator modules call :func:`register` at import time; the driver-facing
``queries()`` / ``oracle_sql()`` mappings are assembled from the
registry. Column names are part of the contract: the driver compares a
Spark result against the DuckDB oracle by (row count, schema, order-
insensitive value hash) with columns sorted by name, so every computed
column must carry the same alias on both sides.
"""

from __future__ import annotations

import ast
import functools
import hashlib
import importlib
import importlib.util
import os
import weakref
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from coviddatapipeline_spark.session import RESULT_CONFS

QueryFn = Callable[[SparkSession, str], DataFrame]

# Modules whose import populates the registry.
_OPERATOR_MODULES = (
    "coviddatapipeline_spark.operators.relational",
    "coviddatapipeline_spark.operators.relational_ext",
    "coviddatapipeline_spark.operators.advanced",
    "coviddatapipeline_spark.operators.reshape",
    "coviddatapipeline_spark.operators.covid",
    "coviddatapipeline_spark.operators.dedup",
    "coviddatapipeline_spark.operators.similarity",
    "coviddatapipeline_spark.operators.text",
    "coviddatapipeline_spark.operators.events",
    "coviddatapipeline_spark.operators.multimodal",
    "coviddatapipeline_spark.operators.tpch_more",
    "coviddatapipeline_spark.operators.tpch_rest",
    "coviddatapipeline_spark.operators.datapipe",
    "coviddatapipeline_spark.operators.warehouse",
    "coviddatapipeline_spark.operators.retrieval",
    "coviddatapipeline_spark.operators.graph",
    "coviddatapipeline_spark.operators.timeseries",
    "coviddatapipeline_spark.operators.linalg",
    "coviddatapipeline_spark.operators.sketch",
)


@dataclass
class Query:
    name: str
    fn: QueryFn
    oracle: str | None = None  # DuckDB ANSI SQL, None => rows-only check
    doc: str = ""
    tags: tuple[str, ...] = field(default_factory=tuple)
    src: QueryFn | None = None  # unwrapped builder (for fingerprinting)


# A fingerprint reads package modules below the checkout root. The
# registry package is not followed: every operator imports `register`
# from it, but it holds _PRIORITY, which each window rotation rewrites
# and which changes no result.
_ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
_PACKAGE = __name__.split(".")[0]
_UNFOLLOWED = _PACKAGE + ".queries"


def portable_oracle(oracle: str) -> str:
    """``oracle`` with the checkout root replaced by a fixed token (the
    binary-ingest oracle names its fixture directory)."""
    return oracle.replace(_ROOT, "<checkout>")


def _module_path(mod: str) -> str | None:
    base = os.path.join(_ROOT, *mod.split("."))
    return next(filter(os.path.isfile, (base + ".py", os.path.join(base, "__init__.py"))), None)


@functools.cache
def _parsed(mod: str) -> tuple[str, frozenset[str]]:
    """(``ast.dump`` without docstrings, package modules it imports)."""
    path = _module_path(mod)
    with open(path) as f:
        tree = ast.parse(f.read())
    package = mod if path.endswith("__init__.py") else mod.rpartition(".")[0]
    imported: set[str] = set()
    for node in ast.walk(tree):
        if isinstance(node, (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)) \
                and ast.get_docstring(node, clean=False) is not None:
            del node.body[0]
        elif isinstance(node, ast.Import):
            imported.update(alias.name for alias in node.names)
        elif isinstance(node, ast.ImportFrom):
            # `from a.b import c` imports module a.b, and a.b.c too if c
            # is a submodule
            base = importlib.util.resolve_name("." * node.level + (node.module or ""), package)
            imported.update([base, *(f"{base}.{alias.name}" for alias in node.names)])
    return ast.dump(tree), frozenset(
        m for m in imported if m.split(".")[0] == _PACKAGE
        and not f"{m}.".startswith(f"{_UNFOLLOWED}.") and _module_path(m))


def entry_fingerprint(name: str) -> str:
    """What a sweep stamp certifies: sha256 over the oracle text (through
    :func:`portable_oracle`) and over ``ast.dump``, docstrings removed, of
    every package module the entry imports, transitively and inside
    functions too, from its own module and the session module (a stamp
    certifies a green under ``get_spark``'s confs), not entering
    ``_UNFOLLOWED``. Only code edits change it, a constant included; a new
    Python version may change ``ast.dump`` and so re-gate every entry."""
    q = get(name)
    seen: set[str] = set()
    todo = {(q.src or q.fn).__module__, _PACKAGE + ".session"}
    while todo:
        seen |= todo
        todo = set().union(*(_parsed(mod)[1] for mod in todo)) - seen
    h = hashlib.sha256()
    for mod in sorted(seen):
        h.update(f"{mod}\n{_parsed(mod)[0]}\n".encode())
    h.update(portable_oracle(q.oracle or "").encode())
    return h.hexdigest()


_REGISTRY: dict[str, Query] = {}
_LOADED = False

# The driver's correctness gate covers the FIRST 50 entries of queries()
# iteration order; the window is 50 of ~180 registered entries, so the
# list ROTATES each round (VERDICT.md round 2, fix #6): a small sentinel
# set of previously-green rows stays pinned, every entry whose oracle or
# implementation changed this round enters the window for verification,
# and the remaining slots cycle through families no CORRECTNESS file has
# covered yet. Rows-only entries (no oracle) are kept BELOW the window —
# a slot the driver can't hash-check is a wasted slot (round-2 fix #3).
# Names not (yet) registered are skipped harmlessly.
_PRIORITY: tuple[str, ...] = (
    # --- Round-11 window: the LEDGER-ZEROING round (VERDICT r10 #1),
    # installed verbatim from `tools/plan_next_window.py`, which now
    # computes ALL debt classes from the tools/window_history/
    # snapshots: (a) 9 first driver rows (the round-10/11 additions:
    # unigram train/encode/coverage, semdedup_trained_cells, plus this
    # round's text_unigram_encode_arrow and
    # text_unigram_oov_admission), (b) 11 changed-oracle debt entries
    # (the 7-entry WS_RE remainder + stats_mad_per_segment +
    # mm_binary_file_ingest + the two BPE encoders whose enc separator
    # changed this round), (c) the 15 impl-changed sort-sweep entries
    # — now COMPUTED from per-entry function-source hashes (VERDICT
    # r10 #2), no longer a prose list — and (d) 8 stale-rotation
    # fills (oldest last-in-window snapshot first). Backlog after
    # this window: never-checked 0, changed-oracle 0, impl-changed 0.
    "flagship_revenue_by_nation",
    "s1_scan_count_orders",
    "q4_topk_other_share",
    "dedup_minhash_lsh",
    "ann_cosine_topk_ivf",
    "text_token_stats",
    "events_sessionization",
    # --- rotation (first-time, changed-oracle, impl-changed, stale) ---
    "text_unigram_encode",
    "semdedup_trained_cells",
    "text_unigram_encode_arrow",
    "text_unigram_oov_admission",
    "semdedup_drift_work_audit",
    "text_tokenizer_bakeoff",
    "mm_zip_member_extract",
    "text_unigram_train",
    "text_unigram_vocab_coverage",
    "mm_binary_file_ingest",
    "stats_mad_per_segment",
    "text_bpe_tokenize_apply",
    "text_bpe_train_encode",
    "text_repetition_ratio",
    "text_unigram_logprob",
    "text_vocab_growth_curve",
    "text_winnow_fingerprint",
    "text_word_entropy",
    "text_word_trigrams_top",
    "train_order_global_shuffle",
    "dedup_embedding_cosine_pairs",
    "dedup_exact_keep_first",
    "dedup_exact_substring_removal",
    "dedup_near_dup_components",
    "events_asof_last_click_before_purchase",
    "events_user_gap_median_pandas",
    "graph_semantic_clusters",
    "knn_graph_within_cell",
    "mm_frame_hashes",
    "range_join_clicks_before_purchase",
    "semdedup_cell_prune",
    "text_html_extract",
    "text_pii_scrub",
    "text_quality_score",
    "tfidf_top_terms",
    "ann_cosine_topk_bruteforce",
    "ann_cosine_topk_ivf_trained",
    "ann_cosine_topk_multiprobe",
    "ann_hard_negative_mining",
    "ann_ivf_nprobe_curve",
    "ann_lsh_hyperplane_topk",
    "ann_matryoshka_recall",
    "ann_recall_ivf_vs_exact",
)


def _ordered() -> dict[str, Query]:
    """Registry with _PRIORITY names first, then registration order."""
    _load()
    out: dict[str, Query] = {}
    for name in _PRIORITY:
        if name in _REGISTRY:
            out[name] = _REGISTRY[name]
    for name, q in _REGISTRY.items():
        if name not in out:
            out[name] = q
    return out


# RESULT_CONFS are applied again at call time: the driver passes its
# OWN SparkSession, which need not have been built by get_spark.
# Sessions already checked by _ensure_confs: each conf.get/set is a
# py4j round-trip paid on EVERY query build otherwise (3 gets x every
# builder call adds up across a 50-entry driver pass and a min-of-5
# bench). A session whose confs were ensured once stays ensured — these
# keys are only ever set, never unset, by this module (a caller who
# mutates them afterwards is outside the driver contract).
_CONFS_ENSURED: weakref.WeakSet[SparkSession] = weakref.WeakSet()


def _ensure_confs(spark: SparkSession) -> None:
    if spark in _CONFS_ENSURED:
        return
    for k, v in RESULT_CONFS.items():
        try:
            if spark.conf.get(k, None) != v:
                spark.conf.set(k, v)
        except Exception:
            pass  # non-settable on some future version: query may still work
    _CONFS_ENSURED.add(spark)


def register(name: str, oracle: str | None = None, doc: str = "", tags: tuple[str, ...] = ()):
    """Decorator: register a (spark, sf_dir) -> DataFrame query builder."""

    def deco(fn: QueryFn) -> QueryFn:
        def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
            _ensure_confs(spark)
            return fn(spark, sf_dir)

        wrapped.__name__ = fn.__name__
        wrapped.__doc__ = fn.__doc__
        if name in _REGISTRY:
            raise ValueError(f"duplicate query name: {name}")
        _REGISTRY[name] = Query(
            name=name, fn=wrapped, oracle=oracle,
            doc=doc or (fn.__doc__ or ""), tags=tags, src=fn,
        )
        return fn

    return deco


def _load() -> None:
    global _LOADED
    if _LOADED:
        return
    for mod in _OPERATOR_MODULES:
        importlib.import_module(mod)
    _LOADED = True


def all_queries() -> dict[str, Query]:
    return _ordered()


def get(name: str) -> Query:
    _load()
    return _REGISTRY[name]


def queries() -> dict[str, QueryFn]:
    """Driver contract: name -> (spark, sf_dir) -> DataFrame."""
    return {name: q.fn for name, q in _ordered().items()}


def oracle_sql() -> dict[str, str]:
    """Driver contract: name -> DuckDB SQL (omitted for rows-only ops)."""
    return {name: q.oracle for name, q in _ordered().items() if q.oracle is not None}
