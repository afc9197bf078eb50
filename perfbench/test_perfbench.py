"""Tests of the benchmark's own inputs and arithmetic (no Spark needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pytest

from perfbench import data
from perfbench.stats import covered, geomean, percentile, self_times


def test_same_seed_same_blobs_and_chunk_count():
    a = data.blob_batches(7, 4)
    b = data.blob_batches(7, 4)
    assert a == b
    flat = [x for batch in a for x in batch]
    assert data.expected_chunk_count(flat) == data.expected_chunk_count(
        [x for batch in b for x in batch]
    )
    assert data.blob_batches(8, 4) != a


def test_batches_cover_every_tier_and_repeat_earlier_content():
    batches = data.blob_batches(3, 8)
    flat = [x for batch in batches for x in batch]
    assert any(len(x) <= data.RAW_MAX for x in flat)
    assert any(1 << 10 <= len(x) <= 64 << 10 for x in flat)
    assert any(len(x) > data.MAX_SINGLE for x in flat)
    # most single-chunk bytes are in 1-64 KiB blobs
    single = [x for x in flat if data.RAW_MAX < len(x) <= data.MAX_SINGLE]
    small = sum(len(x) for x in single if len(x) <= 64 << 10)
    assert small > sum(map(len, single)) / 2
    for i in range(1, len(batches)):
        earlier = {hashlib.sha256(x).digest() for batch in batches[:i] for x in batch}
        repeats = sum(hashlib.sha256(x).digest() in earlier for x in batches[i])
        assert 0.2 <= repeats / len(batches[i]) <= 0.4


def test_expected_chunk_count_by_hand():
    tree = bytes(range(256)) * (5 * data.TREE_CHUNK // 256 + 7)  # 6 children, 5 full ones equal
    blobs = [b"x" * 10, b"y" * 200, b"y" * 200, b"z" * 5000, tree, tree]
    # raw: nothing; two distinct single chunks; tree children: 5 equal full
    # chunks (one row) + the tail; the sentinel
    assert data.expected_chunk_count(blobs) == 2 + 2 + 1


def test_zipf_ranks_seeded_and_skewed():
    a = data.zipf_ranks(np.random.default_rng(1), 50, 2000)
    b = data.zipf_ranks(np.random.default_rng(1), 50, 2000)
    assert (a == b).all()
    counts = np.bincount(a, minlength=50)
    assert counts[0] > counts[10] > 0 and a.max() < 50 and len(a) == 2000
    # counts per index are the same for every seed; only the order differs
    c = data.zipf_ranks(np.random.default_rng(2), 50, 2000)
    assert (np.bincount(c, minlength=50) == counts).all() and (c != a).any()
    p = 1.0 / np.arange(1, 51) ** data.ZIPF_S
    assert np.abs(counts - 2000 * p / p.sum()).max() < 1


def test_tables_are_seeded(tmp_path):
    import pyarrow.parquet as pq

    n1 = data.write_tables(str(tmp_path / "a"), 5, 0.002)
    n2 = data.write_tables(str(tmp_path / "b"), 5, 0.002)
    assert n1 == n2
    for name in n1:
        ta = pq.read_table(os.path.join(tmp_path, "a", f"{name}.parquet"))
        tb = pq.read_table(os.path.join(tmp_path, "b", f"{name}.parquet"))
        assert ta.equals(tb), name


def test_percentile_matches_numpy():
    rng = np.random.default_rng(0)
    for n in (1, 2, 5, 18, 101):
        xs = rng.exponential(1.0, n).tolist()
        for q in (0, 10, 50, 90, 100):
            assert percentile(xs, q) == pytest.approx(float(np.percentile(xs, q)))
    with pytest.raises(ValueError):
        percentile([], 50)


def test_geomean():
    assert geomean([1.0, 4.0]) == pytest.approx(2.0)
    assert geomean([0.5, 2.0, 8.0]) == pytest.approx(2.0)
    with pytest.raises(ValueError):
        geomean([1.0, 0.0])


def test_covered_merges_overlaps_and_clips():
    assert covered([(1, 3), (2, 5), (7, 8)], 0, 10) == pytest.approx(5)
    assert covered([(1, 3), (2, 5)], 2.5, 4) == pytest.approx(1.5)
    assert covered([], 0, 1) == 0


def test_self_time_of_a_tiny_trace():
    # op [0,10] -> lake.get [1,6] -> store.get [1,3], store.get [3.5,5.5]
    #           -> put [7,9] -> decrypt [8,8.5]
    spans = [
        {"name": "op", "start": 0.0, "end": 10.0, "parent": None},
        {"name": "lake.get", "start": 1.0, "end": 6.0, "parent": 0},
        {"name": "store.get", "start": 1.0, "end": 3.0, "parent": 1},
        {"name": "store.get", "start": 3.5, "end": 5.5, "parent": 1},
        {"name": "put", "start": 7.0, "end": 9.0, "parent": 0},
        {"name": "decrypt", "start": 8.0, "end": 8.5, "parent": 4},
    ]
    assert self_times(spans) == pytest.approx([3.0, 1.0, 2.0, 2.0, 1.5, 0.5])


def test_every_workload_reports_every_named_metric():
    """Both result shapes carry exactly the metrics BENCHMARK.json names,
    whatever layers the workload called."""
    import json

    from perfbench import metrics
    from perfbench.trace import Tracer
    from perfbench.workloads import Run

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        bench = json.load(f)
    tracer = Tracer(spark=None, enabled=False)
    tracer.spans = [
        {"name": "op.query", "start": 0.0, "end": 2.0, "parent": None, "attrs": {},
         "own_jobs": 1, "own_stages": 1, "own_tasks": 4},
        {"name": "queries.b18_topk", "start": 0.5, "end": 1.5, "parent": 0, "attrs": {},
         "own_jobs": 3, "own_stages": 4, "own_tasks": 9},
    ]
    run = Run(tracer)
    run.fg_s, run.work_s = [2.0], 2.0
    run.fg_cpu_s, run.work_cpu_s = [3.0, 1.0, 8.0], 12.0
    layer = metrics.per_layer(tracer, run, seed=1, rss_mb=100.0)
    assert list(layer) == [m["name"] for m in bench["per_layer"]]
    assert {k: v["unit"] for k, v in layer.items()} == {m["name"]: m["unit"] for m in bench["per_layer"]}
    assert layer["queries.b18_topk.jobs"]["value"] == 3
    assert layer["queries.b18_topk.s"]["value"] == pytest.approx(1.0)
    assert layer["session.jobs"]["value"] == 4 and layer["session.tasks"]["value"] == 13
    run.setup_cpu_s = 5.0
    e2e = metrics.end_to_end(run)
    assert list(e2e) == [m["name"] for m in bench["end_to_end"]]
    assert e2e["op_cpu_ms"]["value"] == pytest.approx(4000.0)
    assert e2e["work_cpu_s"]["value"] == pytest.approx(12.0)
    assert metrics.wall(run)["op_p50_ms"][0] == pytest.approx(2000.0)


def test_tree_cpu_counts_descendants_that_ended():
    import subprocess
    import sys

    from perfbench.proc import tree_cpu_s

    c0 = tree_cpu_s()
    subprocess.run(
        [sys.executable, "-c", "import time\nt = time.process_time()\nwhile time.process_time() - t < 0.3: pass"],
        check=True,
    )
    assert tree_cpu_s() - c0 >= 0.25
