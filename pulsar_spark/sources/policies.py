"""Durable topic/namespace policy registry — the stored configuration
that maintenance operators read, instead of per-call arguments.

Reference: the reference persists these as namespace/topic policies
that brokers consult on every maintenance cycle —
pulsar-client-admin-api/.../admin/Namespaces.java ``setRetention``
(:2116), ``setNamespaceMessageTTL``, ``setBacklogQuota``,
``setDeduplicationStatus``, ``setDelayedDeliveryMessages``,
``setCompactionThreshold``, and the PIP-483
``scalableTopicAutoScalePolicy`` override — with topic-level policies
overriding namespace-level ones field by field.

Rendering: one ``_policies.json`` sidecar per directory (a topic dir
for topic policies, the parent namespace dir for namespace policies),
written with the same atomic temp-file + rename pattern as every other
durable sidecar in this engine. ``effective_policies`` overlays
topic-level keys onto namespace-level ones; ``apply_policies`` turns
the stored configuration into the engine's maintenance operators
(ttl_filter / visible_messages / retention_plan / backlog_quota_evict /
compaction_due), which is the part the reference calls "the broker
enforces the policy" — a restart loses nothing because the file IS the
state.

Scale: policies are model-sized JSON; enforcement operators keep their
own documented shapes (narrow per-partition windows/aggregates).
"""
from __future__ import annotations

import os

from pulsar_spark.durable import read_json, write_atomic

_POLICIES = "_policies.json"

#: key -> reference setter (documentation + validation surface)
KNOWN_KEYS = {
    "message_ttl_seconds": "Namespaces.setNamespaceMessageTTL / Topics TTL",
    "retention": "Namespaces.setRetention (Namespaces.java:2116)",
    "backlog_quota": "Namespaces.setBacklogQuota",
    "deduplication_enabled": "Namespaces.setDeduplicationStatus",
    "delayed_delivery": "Namespaces.setDelayedDeliveryMessages",
    "compaction_threshold_bytes": "Namespaces.setCompactionThreshold",
    "scalable_auto_scale_policy": "PIP-483 namespace AutoScalePolicyOverride",
    "schema_compatibility_strategy": "Namespaces.setSchemaCompatibilityStrategy",
    "is_allow_auto_update_schema": "Namespaces.setIsAllowAutoUpdateSchema",
    "schema_validation_enforced": "Namespaces.setSchemaValidationEnforced",
    "offload_policies": "Namespaces.setOffloadPolicies (Namespaces.java:4232)",
    "replicated_subscriptions_enabled": (
        "Namespaces.setReplicatedSubscriptionStatus analog (per-namespace "
        "enablement of the snapshot-marker protocol)"
    ),
}


def _path(dir_path: str) -> str:
    return os.path.join(dir_path, _POLICIES)


def get_policies(dir_path: str) -> dict:
    return read_json(_path(dir_path), {})


def set_policy(dir_path: str, key: str, value) -> None:
    if key not in KNOWN_KEYS:
        raise ValueError(
            f"unknown policy key {key!r}; known: {sorted(KNOWN_KEYS)}"
        )
    pol = get_policies(dir_path)
    pol[key] = value
    write_atomic(_path(dir_path), pol)


def remove_policy(dir_path: str, key: str) -> bool:
    pol = get_policies(dir_path)
    if key not in pol:
        return False
    del pol[key]
    write_atomic(_path(dir_path), pol)
    return True


def effective_policies(topic_path: str, namespace_dir: str | None = None) -> dict:
    """Namespace policies overlaid by topic policies, key by key — the
    reference's resolution order (broker defaults < namespace < topic;
    broker defaults here are simply 'operator absent'). The namespace
    defaults to the topic's parent directory."""
    ns = namespace_dir or os.path.dirname(topic_path.rstrip("/"))
    out = dict(get_policies(ns))
    out.update(get_policies(topic_path))
    return out


def apply_policies(
    spark,
    topic_path: str,
    now,
    namespace_dir: str | None = None,
    size_expr=None,
    cursors=None,
):
    """Run the maintenance operators from STORED policy — the
    enforcement pass a broker schedules. Returns a dict with one entry
    per configured policy:

    - ``visible``: the consumer-visible slice after TTL expiry
      (cutoff = now - message_ttl_seconds) and delayed-delivery
      visibility (skipped when the stored delayed_delivery policy
      disables it — disabled means deliver_at is ignored, everything
      is immediately visible);
    - ``retention_plan``: rows flagged deletable under the stored
      RetentionPolicies (minutes window back from ``now``; size budget
      from size_bytes, or size_mb when that is the stored granularity;
      -1 means unlimited, like the reference);
    - ``backlog_quota``: cursor-advance plan (needs ``cursors``);
    - ``compaction_due``: per-partition threshold check;
    - ``deduplication_enabled``: surfaced for the produce path.

    ``now`` is an explicit timestamp literal/Column (deterministic
    enforcement, testable oracles). ``size_expr`` defaults to
    ``octet_length(props)`` when the envelope carries ``props``.
    """
    from pyspark.sql import functions as F

    from pulsar_spark.operators.retention import (
        backlog_quota_evict,
        retention_plan,
        ttl_filter,
        visible_messages,
    )

    from pulsar_spark.sources.topics import _read_topic_if_present

    pol = effective_policies(topic_path, namespace_dir)
    # a just-created topic holds only sidecars — an enforcement pass
    # scheduled on it must no-op, not crash on schema inference
    if _read_topic_if_present(spark, topic_path) is None:
        return {"policies": pol, "empty": True}
    m = spark.read.option("mergeSchema", "true").parquet(topic_path)
    now_ts = F.lit(now).cast("timestamp") if isinstance(now, str) else now
    out = {"policies": pol, "messages": m}

    def _size():
        # size columns are only resolvable when the caller supplies
        # size_expr or the envelope carries props; a size-based policy
        # on any other topic must fail loudly, not with an
        # UNRESOLVED_COLUMN deep inside the plan
        if size_expr is not None:
            return size_expr
        if "props" in m.columns:
            return F.octet_length("props")
        raise ValueError(
            "size-based policy needs size_expr: topic has no props column"
        )

    vis = m
    if "message_ttl_seconds" in pol:
        ttl = int(pol["message_ttl_seconds"])
        cutoff = now_ts - F.expr(f"make_interval(0, 0, 0, 0, 0, 0, {ttl})")
        out["ttl_cutoff"] = cutoff
        vis = ttl_filter(vis, cutoff)
    dd = pol.get("delayed_delivery", {"enabled": True})
    if dd.get("enabled", True) and "deliver_at" in m.columns:
        vis = visible_messages(vis, now_ts)
    out["visible"] = vis

    if "retention" in pol:
        r = pol["retention"]
        minutes = int(r.get("minutes", -1))
        cutoff = (
            now_ts - F.expr(f"make_interval(0, 0, 0, 0, 0, {minutes}, 0)")
            if minutes >= 0
            else F.lit("1970-01-01").cast("timestamp")
        )
        if "size_bytes" in r:
            budget = int(r["size_bytes"])
        else:
            budget = int(r.get("size_mb", -1)) * 1024 * 1024
        if budget < 0:
            budget = 1 << 62  # -1: unlimited size budget
            # time-only retention never consults the size column
            size = F.lit(0).cast("bigint") if size_expr is None and (
                "props" not in m.columns
            ) else _size()
        else:
            size = _size()
        out["retention_plan"] = retention_plan(
            m.withColumn("msg_size", size), cutoff, budget, "msg_size"
        )

    if "backlog_quota" in pol and cursors is not None:
        q = pol["backlog_quota"]
        out["backlog_quota"] = backlog_quota_evict(
            m,
            cursors,
            limit_rows=q.get("limit_rows"),
            limit_bytes=q.get("limit_bytes"),
            size_col=q.get("size_col"),
        )

    if "compaction_threshold_bytes" in pol:
        from pulsar_spark.operators.compaction import compaction_due

        out["compaction_due"] = compaction_due(
            m.withColumn("msg_size", _size()),
            int(pol["compaction_threshold_bytes"]),
            size_col="msg_size",
        )

    if "deduplication_enabled" in pol:
        out["deduplication_enabled"] = bool(pol["deduplication_enabled"])

    if "offload_policies" in pol:
        # planning arm only (apply_policies is read-only): the rows the
        # stored OffloadPolicies would move to the cold tier, and the
        # resolved cutoff; run_offload_policy performs the move
        cutoff = _offload_cutoff(pol["offload_policies"], now_ts)
        out["offload_cutoff"] = cutoff
        tcol = pol["offload_policies"].get("time_col", "publish_time")
        out["offload_candidates"] = m.where(F.col(tcol) < cutoff)
    return out


def _offload_cutoff(pol: dict, now_ts):
    """Resolved offload cutoff: rows older than ``age_seconds`` before
    ``now`` move cold (the time rendering of the reference's
    managedLedgerOffloadDeletionLag/threshold knobs; parquet's offload
    unit is the row/file, see sources/tiered.py)."""
    from pyspark.sql import functions as F

    age = int(pol["age_seconds"])
    return now_ts - F.expr(f"make_interval(0, 0, 0, 0, 0, 0, {age})")


def _hot_parquet_bytes(spark, topic_path: str) -> int:
    """Stored parquet bytes under ``topic_path``, resolved through the
    Hadoop FileSystem API so the managedLedgerOffloadThresholdInBytes
    trigger works on ANY topic filesystem (hdfs://, s3a://, file:/) —
    a driver-local ``os.walk`` would sum 0 bytes on a remote path and
    silently disable the stored offload policy forever."""
    jvm = spark._jvm
    path = jvm.org.apache.hadoop.fs.Path(topic_path)
    fs = path.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(path):
        return 0
    total = 0
    it = fs.listFiles(path, True)
    while it.hasNext():
        st = it.next()
        if st.getPath().getName().endswith(".parquet"):
            total += int(st.getLen())
    return total


def run_offload_policy(spark, topic_path: str, now: str, namespace_dir: str | None = None):
    """Enforce the stored OffloadPolicies (Namespaces.setOffloadPolicies,
    Namespaces.java:4232 / removeOffloadPolicies :4246): offload rows
    older than ``now - age_seconds`` to the policy's ``cold_path`` via
    the crash-idempotent ``offload_partitions`` rewrite. A
    ``threshold_bytes`` key is the reference's
    managedLedgerOffloadThresholdInBytes trigger: the offload only runs
    when the hot tier's stored bytes exceed it (below the threshold the
    pass is a metadata-only no-op). Returns the offload stats, or a
    skip record, or None when no offload policy is stored."""
    import datetime

    from pulsar_spark.sources.tiered import offload_partitions

    pol = effective_policies(topic_path, namespace_dir).get("offload_policies")
    if not pol:
        return None
    cold_path = pol["cold_path"]
    thr = pol.get("threshold_bytes")
    if thr is not None:
        hot_bytes = _hot_parquet_bytes(spark, topic_path)
        if hot_bytes <= int(thr):
            return {"skipped": True, "hot_bytes": hot_bytes, "threshold": int(thr)}
    now_dt = datetime.datetime.fromisoformat(now)
    cutoff = (now_dt - datetime.timedelta(seconds=int(pol["age_seconds"]))).isoformat(
        sep=" "
    )
    return offload_partitions(
        spark,
        topic_path,
        cold_path,
        cutoff,
        time_col=pol.get("time_col", "publish_time"),
    )
