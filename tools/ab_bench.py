"""Interleaved A/B bench protocol (BASELINE.md): alternate runs of the
SAME queries from two git trees on the same box, each run a fresh
subprocess (fresh JVM), so host-load swings hit both trees equally and
a code regression shows as a STABLE A-vs-B gap across interleaves.

Usage:
    python tools/ab_bench.py TREE_A TREE_B [--rounds 4] [--sf SF_DIR]
                             [--queries x5,x3]

Prints per-round raw timings and a min/median summary per tree per
query, plus the steal sentinel of every subprocess.
"""
from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

_RUNNER = r"""
import json, os, sys, time
sys.path.insert(0, os.getcwd())

def spin_ms():
    t0 = time.perf_counter(); x = 0
    for i in range(3_000_000): x += i
    return round((time.perf_counter() - t0) * 1000.0, 1)

sf_dir, queries = sys.argv[1], sys.argv[2].split(",")
before = spin_ms()
from pyspark.sql import functions as F
from pulsar_spark import get_spark
from pulsar_spark.sources import load_table
spark = get_spark("ab-bench"); spark.sparkContext.setLogLevel("ERROR")
docs = load_table(spark, sf_dir, "documents"); docs.count()

from pulsar_spark.functions import (cosine_topk, dup_span_fraction,
                                    hash_sample, redact_pii)

def x5():
    d = hash_sample(docs, 0.5, key_col="doc_id", seed=1).select(
        "doc_id", redact_pii(F.col("text")).alias("text"))
    return dup_span_fraction(d, n=5).count()

emb = load_table(spark, sf_dir, "embeddings")
qvec = list(emb.where(F.col("vec_id") == 0).select("embedding").head()[0])

def x3():
    return cosine_topk(emb, qvec, k=10, exclude_id=0).collect()

_b2_state = {}

def b2():
    # bench.py's B2: visibility predicates over the cached fixture
    # envelope (built once, like bench's b1b + cache)
    if "messages" not in _b2_state:
        import tempfile
        from pulsar_spark import events_to_messages
        from pulsar_spark.sources.topics import write_topic
        ev = load_table(spark, sf_dir, "events")
        tmp = tempfile.mkdtemp(prefix="ab_b2_")
        write_topic(events_to_messages(ev), tmp + "/topic", repartition=False)
        m = spark.read.parquet(tmp + "/topic").cache()
        m.count()
        _b2_state["messages"] = m
    from pulsar_spark.operators import ttl_filter, user_visible, visible_messages
    return user_visible(
        visible_messages(
            ttl_filter(_b2_state["messages"], "2024-01-10 00:00:00"),
            "2024-01-25 00:00:00")
    ).count()

def x2():
    # bench.py's x2: MinHash near-dups with the star guard; the cache
    # clear mirrors bench's clear_cache=True (minhash persists its
    # candidate frames internally)
    from pulsar_spark.functions import minhash_near_duplicates
    spark.catalog.clearCache()
    return minhash_near_duplicates(
        docs, threshold=0.5, max_bucket_size=512
    ).count()

def x6():
    # bench.py's x6: pretraining pipeline v3 to packed shards (no
    # cache clear between runs — mirrors bench.py's remeasure shape)
    import __spark_entry__ as _e
    return _e.queries()["pretraining_pipeline_v3"](spark, sf_dir).count()

def x7():
    # bench.py's x7: curation v4 (gopher -> classifier -> mix -> pack)
    import __spark_entry__ as _e
    return _e.queries()["pretraining_pipeline_v4"](spark, sf_dir).count()

_b1_state = {}

def b1():
    # bench.py's B1: full-envelope produce to a fresh topic path, after
    # the same four full-size warm produces bench.py uses; each call is
    # ONE produce (the caller's 3-run loop provides the repeats, so one
    # A/B "run" = one append, directly comparable to runs_detail lines)
    import tempfile
    from pulsar_spark.sources.topics import produce
    if "tmp" not in _b1_state:
        ev = load_table(spark, sf_dir, "events")
        _b1_state.update(tmp=tempfile.mkdtemp(prefix="ab_b1_"), ev=ev, i=0)
        for wi in range(4):
            produce(ev, f"{_b1_state['tmp']}/warm_{wi}", key_col="user_id",
                    num_partitions=32, mode="append")
    _b1_state["i"] += 1
    produce(_b1_state["ev"], f"{_b1_state['tmp']}/t_{_b1_state['i']}",
            key_col="user_id", num_partitions=32, mode="append")

def x4b():
    # bench.py's x4b: no-global-sort token-budget selection
    import __spark_entry__ as _e
    return _e.queries()["training_set_select_scalable"](spark, sf_dir).count()

_x10_state = {}

def x10():
    # bench.py's x10: incremental near-dup probe against a prebuilt
    # 2x-documents band store (store build untimed, like bench.py)
    import tempfile
    from pulsar_spark.functions.dedupe import (
        commit_near_fingerprints, incremental_near_dedup)
    if "store" not in _x10_state:
        store = tempfile.mkdtemp(prefix="ab_near_") + "/store"
        commit_near_fingerprints(
            docs.crossJoin(spark.range(2).withColumnRenamed("id", "rep"))
            .withColumn("doc_id", F.col("doc_id") + F.col("rep") * 10_000_000)
            .drop("rep").select("doc_id", "text"), store, epoch=1)
        _x10_state["store"] = store
        _x10_state["probe"] = docs.select(
            (F.col("doc_id") + 999_000_000).alias("doc_id"), "text")
    return incremental_near_dedup(
        _x10_state["probe"], _x10_state["store"], threshold=0.7,
        update_store=False, epoch=2).count()

FNS = {"x5": x5, "x3": x3, "b2": b2, "x2": x2, "x6": x6, "x7": x7,
       "b1": b1, "x4b": x4b, "x10": x10}
out = {}
for q in queries:
    fn = FNS[q]
    if q == "b1":
        fn()  # untimed: fixture + four full-size warm produces + 1 append
    runs = []
    for _ in range(6 if q == "b1" else 3):
        t = time.perf_counter(); fn()
        runs.append(round(time.perf_counter() - t, 3))
    out[q] = runs
print("ABRESULT " + json.dumps(
    {"runs": out, "spin_before": before, "spin_after": spin_ms()}))
"""


def run_tree(tree: str, sf_dir: str, queries: str) -> dict:
    env = dict(os.environ)
    env.setdefault("SPARK_GRAFT_CPUS", "32")
    p = subprocess.run(
        [sys.executable, "-c", _RUNNER, sf_dir, queries],
        cwd=tree, env=env, capture_output=True, text=True, timeout=1800,
    )
    for line in p.stdout.splitlines():
        if line.startswith("ABRESULT "):
            return json.loads(line[len("ABRESULT "):])
    raise RuntimeError(f"no ABRESULT from {tree}\n{p.stdout[-2000:]}\n{p.stderr[-2000:]}")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("tree_a")
    ap.add_argument("tree_b")
    ap.add_argument("--rounds", type=int, default=4)
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--queries", default="x5,x3")
    args = ap.parse_args()

    acc: dict[str, dict[str, list[float]]] = {"A": {}, "B": {}}
    spins: dict[str, list[float]] = {"A": [], "B": []}
    for rnd in range(args.rounds):
        for label, tree in (("A", args.tree_a), ("B", args.tree_b)):
            r = run_tree(tree, args.sf, args.queries)
            spins[label] += [r["spin_before"], r["spin_after"]]
            for q, runs in r["runs"].items():
                acc[label].setdefault(q, []).extend(runs)
            print(f"round {rnd} {label} ({tree}): "
                  + json.dumps(r["runs"])
                  + f" spin {r['spin_before']}/{r['spin_after']}",
                  flush=True)

    print("\n| query | A min | A med | B min | B med | B/A (min) |")
    print("|---|---|---|---|---|---|")
    for q in args.queries.split(","):
        a, b = acc["A"].get(q, []), acc["B"].get(q, [])
        if not a or not b:
            continue
        print(f"| {q} | {min(a):.3f} | {statistics.median(a):.3f} "
              f"| {min(b):.3f} | {statistics.median(b):.3f} "
              f"| {min(b) / min(a):.2f}x |")
    for lab in ("A", "B"):
        s = spins[lab]
        print(f"sentinel {lab}: min {min(s)} med {statistics.median(s)} max {max(s)}")


if __name__ == "__main__":
    main()
