"""Tiered storage — offload sealed/old data to a cold tier with
read-through.

Reference semantics (SURVEY.md §2.1): sealed ledgers past an age/size
threshold move to S3/GCS/filesystem via LedgerOffloader
(managed-ledger/.../LedgerOffloader.java; tiered-storage/jcloud,
tiered-storage/file-system); reads transparently stitch hot + cold.

Spark-first: offload = move parquet files whose max publish_time is
older than the cutoff into the cold directory (a different bucket /
storage class in production); the read-through view is a UNION ALL of
both tiers — Catalyst prunes whichever side a time predicate excludes.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pulsar_spark.durable import recover_swap, rewrite_path, swap_in


def offload_partitions(
    spark: SparkSession,
    hot_path: str,
    cold_path: str,
    cutoff_ts: str,
    time_col: str = "publish_time",
) -> dict[str, int]:
    """Move rows older than ``cutoff_ts`` to the cold tier.

    Rewrites per topic-partition: cold rows append to the cold dir, hot
    dir is rewritten without them (the reference offloads whole sealed
    ledgers; parquet's unit is the file/row-group, so the rewrite is the
    honest equivalent).

    Crash ordering: the hot rewrite lands in a side directory FIRST,
    then cold rows are appended, then the directory swap happens last.
    The offload is crash-idempotent end to end:

    - The cold append anti-joins against (partition, offset) pairs
      already in the cold tier, so a re-run after a failure between the
      cold append and the swap re-offloads nothing — duplicates never
      accumulate in cold (the reference cleans partial offloads by
      ledger UUID via OffloadUtils.cleanupOffloaded; the anti-join is
      the storage-level equivalent).
    - The swap is ``durable.swap_in``: the hot tier is readable under
      one of its names at every instant, and ``durable.recover_swap``
      (run on entry here and by ``tiered_view``) completes or rolls
      back an interrupted swap.

    The ``_topic.json`` metadata sidecar is copied into the rewrite dir
    before the swap so topic identity survives.
    """
    recover_swap(spark, hot_path)
    hot = spark.read.parquet(hot_path)
    cutoff = F.lit(cutoff_ts).cast("timestamp")
    cold_rows = hot.where(F.col(time_col) < cutoff)
    keep_rows = hot.where(F.col(time_col) >= cutoff)

    n_cold = cold_rows.count()
    if n_cold == 0:
        return {"offloaded": 0, "hot": keep_rows.count()}

    tmp = rewrite_path(hot_path)
    keep_rows.repartition("partition").write.mode("overwrite").partitionBy("partition").parquet(tmp)
    copy_sidecars(hot_path, tmp)
    # Idempotent cold append: a prior run may have appended these rows
    # already (crash before the swap); (partition, offset) identifies a
    # message, so an anti-join drops the already-offloaded ones. The
    # existing-cold side reads only two columns (footer-stat-cheap) and
    # the join is per-partition-keyed. Only a genuinely ABSENT cold tier
    # skips the anti-join — a read error on an existing cold dir must
    # propagate, not silently disable the dedup (a swallowed error here
    # would cause the exact duplicate accumulation this join prevents).
    if os.path.exists(cold_path):
        cold_existing = spark.read.parquet(cold_path).select("partition", "offset")
        cold_rows = cold_rows.join(
            cold_existing, on=["partition", "offset"], how="left_anti"
        )
    cold_rows.repartition("partition").write.mode("append").partitionBy("partition").parquet(
        cold_path
    )
    swap_in(spark, hot_path)
    return {"offloaded": n_cold, "hot": spark.read.parquet(hot_path).count()}


def copy_sidecars(src_dir: str, dst_dir: str) -> None:
    """Carry EVERY metadata sidecar through a directory-rewrite swap —
    topic identity (_topic.json), stored policies (_policies.json —
    losing it would silently disable the very policy that triggered
    the rewrite), subscriptions, replication state. Shared by every
    rewrite that swaps a topic directory (offload, transaction
    materialization).

    Deliberately NOT carried: ``_replsub_ckpt`` (the replicated-
    subscriptions controller's streaming file-source checkpoints). The
    rewrite replaces every data file path, so a carried checkpoint
    would be a stale seen-file list — the next tick re-reads the whole
    rewritten topic anyway (all paths unseen). Dropping it makes that
    post-rewrite full re-drain deliberate and bounded: the controller
    starts a fresh checkpoint, and correctness holds because marker
    processing dedups on watermark state and replicate-out anti-joins
    presence on the remote (streaming/replicated_subscriptions.py)."""
    for name in os.listdir(src_dir):
        if name == "_replsub_ckpt":
            continue
        src = os.path.join(src_dir, name)
        if name.startswith("_") and not name.endswith(".parquet"):
            if os.path.isdir(src):
                shutil.copytree(src, os.path.join(dst_dir, name), dirs_exist_ok=True)
            else:
                shutil.copy2(src, os.path.join(dst_dir, name))


def tiered_view(spark: SparkSession, hot_path: str, cold_path: str) -> DataFrame:
    """Read-through union of hot + cold tiers (time predicates prune
    whole tiers via partition/file statistics). Reads repair an
    interrupted swap only when the hot dir is otherwise unreadable, and
    never delete anything (no storage mutation on the happy path)."""
    if not os.path.exists(hot_path):
        recover_swap(spark, hot_path, cleanup=False)
    hot = spark.read.parquet(hot_path)
    try:
        cold = spark.read.parquet(cold_path)
    except Exception:
        return hot
    return hot.unionByName(cold)
