"""The benchmark's own tests: generator determinism, the metric list
against BENCHMARK.json, and a smoke run (scale 0.001) of every workload.

Run from the repository root:

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402


def _bench() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_inputs_follow_the_seed():
    a, b, c = gen.log_events(7, 2000), gen.log_events(7, 2000), gen.log_events(8, 2000)
    for k in a:
        assert np.array_equal(a[k], b[k])
    assert not np.array_equal(a["user_id"], c["user_id"])
    x, y = gen.Crawl(7, 60, 20), gen.Crawl(7, 60, 20)
    assert x.pool[0].texts == y.pool[0].texts
    assert x.pool[1].survivors == y.pool[1].survivors


def test_crawl_batches_plant_copies_and_gate_failures():
    crawl = gen.Crawl(3, 400, 100)
    stop = set(gen._STOPWORDS)
    for b in crawl.pool:
        assert b.planted and b.gate_fail and b.survivors
        assert not (b.planted & b.survivors or b.gate_fail & b.survivors)
        assert len(b.planted | b.gate_fail | b.survivors) == len(b.doc_ids)
        for i, text in zip(b.doc_ids, b.texts):
            words = text.split(" ")
            # the gopher word-count and stopword rules decide the gate
            passes = len(words) >= 50 and len(set(words) & stop) >= 2
            assert passes == (int(i) not in b.gate_fail)


def test_per_layer_list_matches_benchmark_json():
    sys.path.insert(0, ROOT)
    import workloads

    declared = {m["name"]: m["unit"] for m in _bench()["per_layer"]}
    assert declared == workloads.PER_LAYER
    assert {w["name"] for w in _bench()["workloads"]} == set(workloads.WORKLOADS)


def _run(args, cwd=ROOT, timeout=300):
    return subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"), *args],
        cwd=cwd, capture_output=True, text=True, timeout=timeout,
    )


@pytest.mark.parametrize("workload", ["ingest_consume", "log_queries", "crawl_curation"])
@pytest.mark.parametrize("trace", ["0", "1"])
def test_smoke_run(workload, trace):
    p = _run(["--workload", workload, "--seed", "5", "--seconds", "1",
              "--trace", trace, "--smoke"])
    assert p.returncode == 0, p.stderr[-3000:]
    lines = p.stdout.strip().splitlines()
    record, result = json.loads(lines[-2])["record"], json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0, record["failures"]
    kind = "per_layer" if trace == "1" else "end_to_end"
    assert set(result["metrics"]) == {m["name"] for m in _bench()[kind]}
    assert {"spin_before_ms", "spin_after_ms", "steal_jiffies", "loadavg_after"} <= set(record["host"])


def test_fails_without_the_engine(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    p = _run(["--workload", "ingest_consume", "--seed", "1", "--seconds", "1", "--trace", "0"],
             cwd=str(tmp_path), timeout=120)
    assert p.returncode != 0
    assert p.stdout.strip() == ""
