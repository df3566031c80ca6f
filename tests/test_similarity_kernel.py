"""The shared within-cell Gram kernel behind ``semdedup_prune_report``
and ``knn_within_cell_report`` (``operators/similarity.py``).

The corpus and degenerate-row differentials live beside their join
references in ``test_optimization_r12.py`` and ``test_optimization_r13.py``.
These tests cover what those cannot reach:

- the slab loop: no testdata cell is larger than the chunk, so the
  chunk is shrunk until every cell spans several slabs;
- the pickling of the kernel: a driver whose cwd is outside the
  checkout, with no ``PYTHONPATH``, so the Python workers cannot import
  the package and must receive every kernel function by value.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest
from pyspark.sql import functions as F

from coviddatapipeline_spark.operators import similarity
from tests.conftest import sf_dir
from tests.test_optimization_r12 import _prune_join_reference, _rows_key
from tests.test_optimization_r13 import _knn_join_reference, _knn_rows_key

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.mark.parametrize("chunk", [1, 2, 7])
def test_reports_equal_join_references_across_slabs(spark, monkeypatch, chunk):
    emb = similarity._emb(spark, sf_dir("0.001")).cache()
    biggest = emb.groupBy("label").count().agg(F.max("count")).first()[0]
    assert biggest > chunk  # every path through the slab loop runs

    monkeypatch.setattr(similarity, "_GRAM_CHUNK", chunk)
    cells = emb.select("vec_id", F.col("label").alias("cell"), "v")
    new = _rows_key(similarity.semdedup_prune_report(cells).collect())
    old = _rows_key(_prune_join_reference(cells).collect())
    assert new == old and len(new) > 0

    new = _knn_rows_key(similarity.knn_within_cell_report(emb).collect())
    old = _knn_rows_key(_knn_join_reference(emb).collect())
    assert new == old and len(new) > 0
    emb.unpersist()


_FOREIGN_CWD_DRIVER = """
import json, sys
sys.path.insert(0, {root!r})
from coviddatapipeline_spark.operators.common import EMB_DIM
from coviddatapipeline_spark.operators.similarity import (
    knn_within_cell_report, semdedup_prune_report,
)
from coviddatapipeline_spark.session import get_spark

spark = get_spark(app_name="foreign-cwd", master="local[2]", shuffle_partitions=2)
rows = [(i, "a", [float(i)] + [0.0] * (EMB_DIM - 1)) for i in (1, 2, 3, 4)]
cells = spark.createDataFrame(rows, "vec_id long, cell string, v array<double>")
prune = semdedup_prune_report(cells).orderBy("vec_id").collect()
knn = knn_within_cell_report(cells.withColumnRenamed("cell", "label"))
print(json.dumps({{
    "prune": [[r.vec_id, r.max_earlier_cos, r.pruned] for r in prune],
    "knn": sorted([r.vec_id, r.rank, r.neighbor_id, r.cosine] for r in knn.collect()),
}}))
spark.stop()
"""


def test_reports_run_from_foreign_cwd(tmp_path):
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [sys.executable, "-c", _FOREIGN_CWD_DRIVER.format(root=ROOT)],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    got = json.loads(proc.stdout.strip().splitlines()[-1])
    # dot(i, j) = i * j, so vector j's max earlier cosine is (j - 1) * j
    assert got["prune"] == [[1, -2.0, 0], [2, 2.0, 1], [3, 6.0, 1], [4, 12.0, 1]]
    # and each vector's neighbours rank by descending id
    want = []
    for i in (1, 2, 3, 4):
        others = sorted((j for j in (1, 2, 3, 4) if j != i), reverse=True)
        want += [[i, rank, j, float(i * j)] for rank, j in enumerate(others, 1)]
    assert got["knn"] == sorted(want)
