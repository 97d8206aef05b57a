"""Tests of the benchmark's own machinery (no Spark needed):

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import hashlib
import json
import os
import random

import pytest

import gen
import metrics
import workloads
from spans import interval_union, stage_counters

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _digest(root: str) -> dict[str, str]:
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = hashlib.sha256(fh.read()).hexdigest()
    return out


def _inputs(root: str, seed: int) -> dict[str, str]:
    gen.bronze_tree(os.path.join(root, "tree"), seed, 3, 20)
    gen.bronze_day(os.path.join(root, "drop"), seed, 3, 20)
    gen.corpus_tables(os.path.join(root, "corpus"), seed, 120, 60, 0.1)
    return _digest(root)


def test_same_seed_same_bytes_other_seed_other_bytes(tmp_path):
    a = _inputs(str(tmp_path / "a"), 7)
    b = _inputs(str(tmp_path / "b"), 7)
    c = _inputs(str(tmp_path / "c"), 8)
    assert a == b
    assert a.keys() == c.keys()
    assert all(a[k] != c[k] for k in a)


def test_bronze_documents_have_the_reference_shape(tmp_path):
    truth = gen.bronze_tree(str(tmp_path), 1, 2, 3)
    assert len(truth) == 6
    path = tmp_path / "bitcoin" / "bitcoin_2024-09-02.json"
    doc = json.loads(path.read_text())
    assert path.read_text().startswith("{\n  ")  # pretty-printed, like the reference
    assert len(doc["market_data"]["current_price"]) == 63
    assert doc["market_data"]["current_price"]["usd"] == truth[("bitcoin", "2024-09-02")]


def test_corpus_duplicate_share(tmp_path):
    import pyarrow.parquet as pq

    gen.corpus_tables(str(tmp_path), 3, 200, 10, 0.2)
    texts = pq.read_table(tmp_path / "documents.parquet").column("text").to_pylist()
    copies = [t for t in texts if t.endswith(" dup")]
    assert len(copies) == 40
    bases = {t for t in texts if not t.endswith(" dup")}
    assert sum(t[:-4] in bases for t in copies) >= 20  # the exact half, and any no-op edits


@pytest.mark.parametrize("ivals, want", [
    ([], 0.0),
    ([(0, 1)], 1.0),
    ([(0, 1), (2, 3)], 2.0),
    ([(0, 2), (1, 3)], 3.0),  # overlap counts once
    ([(0, 10), (2, 3), (4, 5)], 10.0),  # nested
    ([(0, 1), (1, 2)], 2.0),  # touching
    ([(5, 6), (0, 1), (0.5, 5.5)], 6.0),  # unsorted chain
    ([(3, 1), (2, 2)], 0.0),  # inverted and empty
])
def test_interval_union(ivals, want):
    assert interval_union(ivals) == pytest.approx(want)


def test_interval_union_matches_a_grid_count():
    rng = random.Random(5)
    for _ in range(50):
        ivals = [(a, a + rng.randint(0, 20)) for a in (rng.randint(0, 100) for _ in range(8))]
        covered = sum(any(s <= x < e for s, e in ivals) for x in range(130))
        assert interval_union(ivals) == covered


def _stage(sid, sub, done, status="COMPLETE", **kw):
    rec = dict(stageId=sid, status=status, submissionTime=sub, completionTime=done,
               numCompleteTasks=2, executorRunTime=100, executorCpuTime=50_000_000,
               jvmGcTime=10, shuffleWriteBytes=7, shuffleReadBytes=5,
               memoryBytesSpilled=1, diskBytesSpilled=2)
    rec.update(kw)
    return rec


def test_stage_counters_driver_time_is_wall_minus_stage_union():
    stages = [
        _stage(1, 1000, 1400),
        _stage(2, 1200, 1600),  # overlaps stage 1
        _stage(3, 1800, 1900),
        _stage(4, None, None, status="SKIPPED"),
    ]
    c = stage_counters(stages, n_jobs=2, lo_ms=900.0, hi_ms=2000.0)
    # busy = [1000,1600] + [1800,1900] = 0.7 s of a 1.1 s span
    assert c["driver_s"] == pytest.approx(0.4)
    assert (c["jobs"], c["stages"], c["tasks"]) == (2, 3, 6)
    assert c["task_s"] == pytest.approx(0.3)
    assert c["task_cpu_s"] == pytest.approx(0.15)
    assert c["spill_bytes"] == 9


def test_stage_counters_clip_to_the_span():
    c = stage_counters([_stage(1, 0, 5000)], n_jobs=1, lo_ms=1000.0, hi_ms=2000.0)
    assert c["driver_s"] == 0.0


def test_benchmark_json_matches_the_code():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert {w["name"] for w in spec["workloads"]} == set(workloads.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == metrics.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == metrics.PER_LAYER
    assert len(spec["per_layer"]) <= 128
