"""PIP-483 auto split/merge — per-segment load sampling plus the pure
policy evaluator.

Reference semantics:
- ``SegmentLoadStats`` (pulsar-common/.../scalable/SegmentLoadStats.java):
  per-segment in/out message and byte rates (60 s rolling), written by
  the owning broker, read by the controller leader.
- ``AutoScalePolicyEvaluator.decide`` (pulsar-broker/.../service/
  scalable/AutoScalePolicyEvaluator.java:64): a pure, side-effect-free
  function over (layout, load samples, consumer counts, config, clock)
  returning exactly ONE decision — split pass first (consumer-driven,
  then hottest overload score), merge pass only if no split fired
  (adjacent actives, both durably cold, DAG-depth capped, coldest
  combined pair wins).
- ``AutoScaleConfig`` (AutoScaleConfig.java:40-75): thresholds,
  cooldowns, mergeWindow, min/max segments, maxDagDepth.
- ``SegmentLayout.mergeDepth`` (SegmentLayout.java:134): the number of
  merge nodes (segments with >= 2 parents) in a segment's ancestry.

Spark-first split: the LOAD SAMPLING is the distributed part — one
windowed aggregate over the stored segments with the publish-time
filter pushed into the scan; the DECISION runs driver-side over a
bounded dict (one entry per segment), exactly like the reference's
controller leader. The decision function performs no I/O, so it is
property-testable in isolation.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, SparkSession
from pyspark.sql import functions as F

from pulsar_spark.durable import read_json, write_atomic


@dataclass(frozen=True)
class SegmentLoadStats:
    """SegmentLoadStats.java: rolling per-segment rates."""

    msg_rate_in: float = 0.0
    bytes_rate_in: float = 0.0
    msg_rate_out: float = 0.0
    bytes_rate_out: float = 0.0


ZERO_LOAD = SegmentLoadStats()


@dataclass(frozen=True)
class SegmentLoadSample:
    """SegmentLoadSample.java: a load record plus the metadata store's
    last-modified time (the merge pass measures 'cold for at least
    mergeWindow' from it)."""

    stats: SegmentLoadStats
    modified_at_ms: int


@dataclass(frozen=True)
class AutoScaleConfig:
    """AutoScaleConfig.java:40-75 (defaults mirror the broker's
    cluster-wide policy shape; thresholds are per deployment)."""

    enabled: bool = True
    max_segments: int = 256
    min_segments: int = 1
    max_dag_depth: int = 8
    split_cooldown_s: float = 30.0
    merge_cooldown_s: float = 300.0
    merge_window_s: float = 600.0
    split_msg_rate_in: float = 10_000.0
    split_bytes_rate_in: float = 100 * 1024 * 1024
    split_msg_rate_out: float = 20_000.0
    split_bytes_rate_out: float = 200 * 1024 * 1024
    merge_msg_rate_in: float = 100.0
    merge_bytes_rate_in: float = 1024 * 1024
    merge_msg_rate_out: float = 200.0
    merge_bytes_rate_out: float = 2 * 1024 * 1024

    def __post_init__(self):
        for name in (
            "split_msg_rate_in",
            "split_bytes_rate_in",
            "split_msg_rate_out",
            "split_bytes_rate_out",
        ):
            # overload is scored as rate / threshold; zero would make
            # any traffic infinitely hot (AutoScaleConfig.java:185)
            if getattr(self, name) <= 0:
                raise ValueError(f"{name} must be > 0")
        if self.merge_window_s < 0:
            raise ValueError("mergeWindow must not be negative")


@dataclass(frozen=True)
class AutoScalePolicyOverride:
    """AutoScalePolicyOverride (pulsar-client-admin-api/.../policies/
    data/AutoScalePolicyOverride.java): a sparse per-namespace or
    per-topic override of the broker's auto split/merge defaults —
    every field optional, unset fields fall through to the layer
    below."""

    enabled: bool | None = None
    max_segments: int | None = None
    min_segments: int | None = None
    max_dag_depth: int | None = None
    split_cooldown_s: float | None = None
    merge_cooldown_s: float | None = None
    merge_window_s: float | None = None
    split_msg_rate_in: float | None = None
    split_bytes_rate_in: float | None = None
    split_msg_rate_out: float | None = None
    split_bytes_rate_out: float | None = None
    merge_msg_rate_in: float | None = None
    merge_bytes_rate_in: float | None = None
    merge_msg_rate_out: float | None = None
    merge_bytes_rate_out: float | None = None

    def to_dict(self) -> dict:
        from dataclasses import asdict

        return {k: v for k, v in asdict(self).items() if v is not None}

    @classmethod
    def from_dict(cls, d: dict | None) -> "AutoScalePolicyOverride | None":
        if d is None:
            return None
        from dataclasses import fields

        known = {f.name for f in fields(cls)}
        unknown = set(d) - known
        if unknown:
            raise ValueError(f"unknown override fields: {sorted(unknown)}")
        return cls(**d)


def set_autoscale_policy(topic_path: str, override: AutoScalePolicyOverride) -> None:
    """ScalableTopics.setAutoScalePolicy (ScalableTopics.java:156):
    persist the per-topic override inside the scalable metadata sidecar
    — the reference stores it on ScalableTopicMetadata, so it lives and
    dies with the topic and survives controller restarts."""
    from pulsar_spark.sources.scalable import _write_meta, scalable_metadata

    meta = scalable_metadata(topic_path)
    meta["auto_scale_policy"] = override.to_dict()
    _write_meta(topic_path, meta)


def get_autoscale_policy(topic_path: str) -> AutoScalePolicyOverride | None:
    """ScalableTopics.getAutoScalePolicy (ScalableTopics.java:172):
    the stored override, or None when unset."""
    from pulsar_spark.sources.scalable import scalable_metadata

    return AutoScalePolicyOverride.from_dict(
        scalable_metadata(topic_path).get("auto_scale_policy")
    )


def remove_autoscale_policy(topic_path: str) -> bool:
    """ScalableTopics.removeAutoScalePolicy (ScalableTopics.java:188):
    drop the override, letting namespace policy / defaults apply."""
    from pulsar_spark.sources.scalable import _write_meta, scalable_metadata

    meta = scalable_metadata(topic_path)
    if "auto_scale_policy" not in meta:
        return False
    del meta["auto_scale_policy"]
    _write_meta(topic_path, meta)
    return True


def resolve_autoscale_config(
    defaults: "AutoScaleConfig | None" = None,
    namespace_override: AutoScalePolicyOverride | None = None,
    topic_override: AutoScalePolicyOverride | None = None,
) -> "AutoScaleConfig":
    """AutoScaleConfig.resolve (AutoScaleConfig.java:99): broker
    defaults overlaid by the namespace override then the topic
    override, field by field, then validated. An INVALID resolved
    combination disables auto split/merge for the topic instead of
    failing the evaluation (ScalableTopicController.java:400
    resolveAutoScaleConfig's catch) — predictable until an operator
    fixes the overrides."""
    from dataclasses import asdict, fields

    base = asdict(defaults or AutoScaleConfig())
    for o in (namespace_override, topic_override):
        if o is not None:
            base.update(o.to_dict())
    try:
        cfg = AutoScaleConfig(**base)  # __post_init__ validates rates
        if cfg.min_segments < 1:
            raise ValueError("minSegments must be >= 1")
        if cfg.max_segments < cfg.min_segments:
            raise ValueError("maxSegments must be >= minSegments")
        if cfg.max_dag_depth < 0:
            raise ValueError("maxDagDepth must be >= 0")
        if cfg.split_cooldown_s < 0 or cfg.merge_cooldown_s < 0:
            raise ValueError("cooldowns must not be negative")
        for f in fields(AutoScaleConfig):
            if f.name.startswith("merge_") and f.name.endswith(
                ("rate_in", "rate_out")
            ) and getattr(cfg, f.name) < 0:
                raise ValueError(f"{f.name} must be >= 0")
        return cfg
    except ValueError:
        d = asdict(defaults or AutoScaleConfig())
        d["enabled"] = False
        return AutoScaleConfig(**d)


def resolve_topic_autoscale_config(
    topic_path: str,
    defaults: "AutoScaleConfig | None" = None,
    namespace_dir: str | None = None,
) -> "AutoScaleConfig":
    """The per-topic effective config a controller tick uses: broker
    defaults < namespace ``scalable_auto_scale_policy`` (the PIP-483
    namespace policy, stored in the policies registry) < the topic's
    persisted override. Both stores are durable sidecars, so an
    operator-tuned policy survives a fresh process."""
    from pulsar_spark.sources.policies import get_policies

    import os as _os

    ns = namespace_dir or _os.path.dirname(topic_path.rstrip("/"))
    ns_pol = get_policies(ns).get("scalable_auto_scale_policy")
    return resolve_autoscale_config(
        defaults,
        AutoScalePolicyOverride.from_dict(ns_pol),
        get_autoscale_policy(topic_path),
    )


@dataclass(frozen=True)
class AutoScaleDecision:
    """AutoScaleDecision.java: none | split(segment) | merge(a, b)."""

    kind: str  # "none" | "split" | "merge"
    segment_id: int | None = None
    merge_with: int | None = None
    reason: str | None = None

    NONE = None  # set after class definition


AutoScaleDecision.NONE = AutoScaleDecision("none")


def segment_load_stats(
    spark: SparkSession,
    topic_path: str,
    window_s: float = 60.0,
    now: Column | str | None = None,
    bytes_expr: Column | None = None,
    dispatched=None,
) -> dict[int, SegmentLoadStats]:
    """Per-ACTIVE-segment rolling load over the trailing ``window_s``
    (the SegmentLoadReporter's 60 s TopicStats average, computed from
    the stored log): one aggregate whose publish-time filter pushes
    into the parquet scan, returning a bounded driver-side dict — one
    entry per segment, never the data.

    ``bytes_expr`` sizes a row (e.g. ``F.octet_length("val")``);
    without it byte rates are 0. ``dispatched`` is an optional frame of
    delivered rows (same segment/publish_time shape) for the out-rates;
    a batch store has no dispatch log of its own, so out-rates default
    to 0 — the decision function treats them symmetrically either way.
    """
    from pulsar_spark.sources.scalable import (
        _read_if_present,
        active_segments,
        scalable_metadata,
    )

    meta = scalable_metadata(topic_path)
    active = {s["segment_id"] for s in active_segments(meta)}
    # Explicit branches: `col or default` would invoke Column.__bool__,
    # which PySpark unconditionally raises (CANNOT_CONVERT_COLUMN_INTO_BOOL).
    if now is None:
        now_col = F.current_timestamp()
    elif isinstance(now, str):
        now_col = F.lit(now).cast("timestamp")
    else:
        now_col = now
    cutoff = now_col - F.make_interval(secs=F.lit(float(window_s)))

    def rates(df) -> dict[int, tuple[float, float]]:
        if df is None:
            return {}
        sized = df.where(F.col("publish_time") >= cutoff).groupBy("segment").agg(
            F.count("*").alias("n"),
            (
                F.sum(bytes_expr).alias("b")
                if bytes_expr is not None
                else F.lit(0).alias("b")
            ),
        )
        return {
            int(r.segment): (r.n / window_s, (r.b or 0) / window_s)
            for r in sized.collect()
        }

    in_rates = rates(_read_if_present(spark, topic_path))
    out_rates = rates(dispatched)
    out: dict[int, SegmentLoadStats] = {}
    for sid in active:
        mi, bi = in_rates.get(sid, (0.0, 0.0))
        mo, bo = out_rates.get(sid, (0.0, 0.0))
        out[sid] = SegmentLoadStats(mi, bi, mo, bo)
    return out


def is_material_change(
    last: SegmentLoadStats, current: SegmentLoadStats, threshold: float = 0.25
) -> bool:
    """SegmentLoadReporter.isMaterialChange: any of the four rates moved
    by more than ``threshold`` (relative), or crossed to/from zero —
    any move off zero (idle -> active) is always material, staying at
    zero never is."""

    def changed(last_v: float, cur_v: float) -> bool:
        if last_v == 0.0:
            return cur_v != 0.0
        return abs(cur_v - last_v) / last_v > threshold

    return (
        changed(last.msg_rate_in, current.msg_rate_in)
        or changed(last.bytes_rate_in, current.bytes_rate_in)
        or changed(last.msg_rate_out, current.msg_rate_out)
        or changed(last.bytes_rate_out, current.bytes_rate_out)
    )


_LOAD_DIR = "_segment_load"


def report_if_changed(
    topic_path: str,
    segment_id: int,
    current: SegmentLoadStats,
    threshold: float = 0.25,
) -> bool:
    """SegmentLoadReporter.reportIfChanged: persist the segment's load
    record only when it materially changed since the LAST STORED value
    (default ±25%, or a zero crossing). An immaterial sample is skipped
    WITHOUT touching the record, so its modification time — what the
    controller reads as "cold since" for the merge window — keeps
    aging; rewriting on every tick would starve merges. The baseline is
    re-seeded from the stored record (not reset) after an ownership
    move, for the same reason. Returns True iff a write happened."""
    import os

    path = os.path.join(topic_path, _LOAD_DIR, f"{int(segment_id)}.json")
    v = read_json(path)
    if v is not None:
        last = SegmentLoadStats(
            v["msg_rate_in"], v["bytes_rate_in"], v["msg_rate_out"], v["bytes_rate_out"]
        )
        if not is_material_change(last, current, threshold):
            return False
    write_atomic(
        path,
        {
            "msg_rate_in": current.msg_rate_in,
            "bytes_rate_in": current.bytes_rate_in,
            "msg_rate_out": current.msg_rate_out,
            "bytes_rate_out": current.bytes_rate_out,
        },
    )
    return True


def load_samples(topic_path: str) -> dict[int, SegmentLoadSample]:
    """Read every stored load record plus its last-modified time — the
    controller leader's input to ``auto_scale_decide`` (the record
    store's Stat mtime is the 'cold since' clock)."""
    import os

    d = os.path.join(topic_path, _LOAD_DIR)
    if not os.path.isdir(d):
        return {}
    out: dict[int, SegmentLoadSample] = {}
    for name in os.listdir(d):
        if not name.endswith(".json"):
            continue
        path = os.path.join(d, name)
        v = read_json(path)
        out[int(name[:-5])] = SegmentLoadSample(
            SegmentLoadStats(
                v["msg_rate_in"],
                v["bytes_rate_in"],
                v["msg_rate_out"],
                v["bytes_rate_out"],
            ),
            int(os.path.getmtime(path) * 1000),
        )
    return out


_STATE_FILE = "_autoscale_state.json"


def load_autoscale_state(topic_path: str) -> dict:
    """Controller tick state persisted next to the load records —
    ScalableTopicController keeps lastSplitAt/lastMergeAt per topic so
    the split/merge cooldowns coalesce actions ACROSS ticks, not just
    within one evaluator call (ScalableTopicController.java — the
    evaluator itself is pure; the controller owns the clocks). Returns
    {"last_split_at_ms": int|None, "last_merge_at_ms": int|None}."""
    import os

    v = read_json(os.path.join(topic_path, _STATE_FILE), {})
    return {
        "last_split_at_ms": v.get("last_split_at_ms"),
        "last_merge_at_ms": v.get("last_merge_at_ms"),
    }


def seed_cooldowns_from_layout(meta: dict) -> dict:
    """ScalableTopicController.seedAutoScaleCooldownsFromLayout
    (ScalableTopicController.java:207): a fresh leader (or a topic whose
    state sidecar is missing) derives the cooldown clocks from segment
    lineage — the last split is the newest 1-parent segment's creation
    time, the last merge the newest >= 2-parent segment's — so a leader
    takeover right after a split does not immediately split again."""
    split_at, merge_at = None, None
    for s in meta["segments"].values():
        created = s.get("created_at_ms")
        if created is None:
            continue
        n_parents = len(s["parent_ids"])
        if n_parents == 1:
            split_at = created if split_at is None else max(split_at, created)
        elif n_parents >= 2:
            merge_at = created if merge_at is None else max(merge_at, created)
    return {"last_split_at_ms": split_at, "last_merge_at_ms": merge_at}


def record_autoscale_action(topic_path: str, kind: str, now_ms: int) -> None:
    """Persist the action timestamp after an applied split/merge so the
    next tick's ``auto_scale_decide`` sees the cooldown clock."""
    import os

    if kind not in ("split", "merge"):
        raise ValueError(f"kind must be split|merge, got {kind!r}")
    state = load_autoscale_state(topic_path)
    state[f"last_{kind}_at_ms"] = int(now_ms)
    write_atomic(os.path.join(topic_path, _STATE_FILE), state)


def autoscale_tick(
    spark,
    topic_path: str,
    window_s: float = 60.0,
    config: AutoScaleConfig | None = None,
    apply: bool = False,
    now_ms: int | None = None,
    stream_consumer_count: dict[str, int] | None = None,
) -> dict:
    """One composed controller tick: sample load -> report-if-changed ->
    decide (with persisted cooldown clocks) -> optionally apply and
    record the action timestamp. This is the loop the CLI ``autoscale``
    command runs; factored here so the cooldown composition is testable
    without the argparse layer."""
    import time

    from pulsar_spark.sources.scalable import (
        merge_segments,
        scalable_metadata,
        split_segment,
    )

    wall_ms = int(time.time() * 1000)
    if now_ms is None:
        now_ms = wall_ms
    for sid, st in segment_load_stats(spark, topic_path, window_s=window_s).items():
        report_if_changed(topic_path, sid, st)
    meta = scalable_metadata(topic_path)
    state = load_autoscale_state(topic_path)
    if state["last_split_at_ms"] is None and state["last_merge_at_ms"] is None:
        # no persisted tick state (fresh controller / lost sidecar):
        # seed the clocks from segment lineage like a new leader does
        seeded = seed_cooldowns_from_layout(meta)
        if now_ms != wall_ms:
            # lineage stamps are wall-clock too — shift into the pinned frame
            seeded = {
                k: (v + (now_ms - wall_ms) if v is not None else None)
                for k, v in seeded.items()
            }
        state = seeded
    samples = load_samples(topic_path)
    if now_ms != wall_ms:
        # Samples carry WALL-clock mtimes. Under a pinned logical clock
        # the merge pass would compare incoherent frames (a 1970-pinned
        # now makes every sample look from the future; a future-pinned
        # now makes fresh samples look durably cold) — shift the mtimes
        # into the pinned frame so sample AGE stays the wall-measured age.
        shift = now_ms - wall_ms
        samples = {
            sid: SegmentLoadSample(s.stats, s.modified_at_ms + shift)
            for sid, s in samples.items()
        }
    if config is None:
        # no explicit config: resolve the persisted per-topic override
        # over the namespace policy over defaults — a controller
        # restart (or a fresh CLI process) keeps operator-tuned
        # thresholds (ScalableTopicController.java:400)
        config = resolve_topic_autoscale_config(topic_path)
    dec = auto_scale_decide(
        meta,
        samples,
        stream_consumer_count or {},
        config,
        now_ms,
        last_split_at_ms=state["last_split_at_ms"],
        last_merge_at_ms=state["last_merge_at_ms"],
    )
    out = {"decision": dec.kind, "segment": dec.segment_id, "reason": dec.reason}
    if dec.kind == "merge":
        out["merge_with"] = dec.merge_with
    if apply and dec.kind == "split":
        out["children"] = list(split_segment(topic_path, dec.segment_id))
        record_autoscale_action(topic_path, "split", now_ms)
    elif apply and dec.kind == "merge":
        out["child"] = merge_segments(topic_path, dec.segment_id, dec.merge_with)
        record_autoscale_action(topic_path, "merge", now_ms)
    return out


def merge_depth(meta: dict, segment_id: int) -> int:
    """SegmentLayout.mergeDepth (SegmentLayout.java:134): merge nodes
    (>= 2 parents) in the segment's ancestry, deduplicated."""
    segs = {int(s["segment_id"]): s for s in meta["segments"].values()}
    depth, seen, stack = 0, set(), [int(segment_id)]
    while stack:
        sid = stack.pop()
        if sid in seen:
            continue
        seen.add(sid)
        s = segs.get(sid)
        if s is None:
            continue
        if len(s["parent_ids"]) >= 2:
            depth += 1
        stack.extend(int(p) for p in s["parent_ids"])
    return depth


def auto_scale_decide(
    meta: dict,
    load_by_segment: dict[int, SegmentLoadSample],
    stream_consumer_count: dict[str, int],
    config: AutoScaleConfig,
    now_ms: int,
    last_split_at_ms: int | None = None,
    last_merge_at_ms: int | None = None,
) -> AutoScaleDecision:
    """AutoScalePolicyEvaluator.decide (AutoScalePolicyEvaluator.java:64)
    ported 1:1: pure function, no I/O, at most one action per tick.

    Split pass (coalesced by splitCooldown): (a) consumer-driven — if
    any managed subscription has more consumers than active segments,
    split the busiest-by-msgRateIn segment (smaller id wins ties);
    (b) load-driven — split the strictly-over-threshold segment with
    the highest overload ratio. Merge pass only if no split fired:
    adjacent ACTIVE pairs, both durably cold (sample present, older
    than mergeWindow, every rate below its merge threshold), neither
    at maxDagDepth, coldest combined pair wins.
    """
    from pulsar_spark.sources.scalable import active_segments

    if not config.enabled:
        return AutoScaleDecision.NONE
    active = active_segments(meta)

    def stats_of(sid: int) -> SegmentLoadStats:
        sample = load_by_segment.get(sid)
        return sample.stats if sample is not None else ZERO_LOAD

    def within_cooldown(last_at, cooldown_s) -> bool:
        return last_at is not None and now_ms - last_at < cooldown_s * 1000

    # --- split pass ---
    if len(active) < config.max_segments and not within_cooldown(
        last_split_at_ms, config.split_cooldown_s
    ):
        required = max(stream_consumer_count.values(), default=0)
        if required > len(active) and active:
            # busiest by msgRateIn, smaller id on ties (stable across ticks)
            target = max(
                active,
                key=lambda s: (stats_of(s["segment_id"]).msg_rate_in, -s["segment_id"]),
            )
            return AutoScaleDecision(
                "split", target["segment_id"], reason="consumer-count"
            )
        hottest, hottest_score, hottest_reason = None, 1.0, None
        for s in active:
            st = stats_of(s["segment_id"])
            ratios = [
                (st.msg_rate_in / config.split_msg_rate_in, "msgRateIn"),
                (st.bytes_rate_in / config.split_bytes_rate_in, "bytesRateIn"),
                (st.msg_rate_out / config.split_msg_rate_out, "msgRateOut"),
                (st.bytes_rate_out / config.split_bytes_rate_out, "bytesRateOut"),
            ]
            score, reason = max(ratios, key=lambda r: r[0])
            if score > 1.0 and score > hottest_score:
                hottest, hottest_score, hottest_reason = s, score, reason
        if hottest is not None:
            return AutoScaleDecision(
                "split", hottest["segment_id"], reason=hottest_reason
            )

    # --- merge pass ---
    if len(active) <= config.min_segments or within_cooldown(
        last_merge_at_ms, config.merge_cooldown_s
    ):
        return AutoScaleDecision.NONE

    def cold_enough(sid: int) -> bool:
        sample = load_by_segment.get(sid)
        if sample is None:
            return False  # no evidence of durable cold — never eligible
        if now_ms - sample.modified_at_ms < config.merge_window_s * 1000:
            return False
        st = sample.stats
        return (
            st.msg_rate_in < config.merge_msg_rate_in
            and st.bytes_rate_in < config.merge_bytes_rate_in
            and st.msg_rate_out < config.merge_msg_rate_out
            and st.bytes_rate_out < config.merge_bytes_rate_out
        )

    def combined(sid: int) -> float:
        st = stats_of(sid)
        return st.msg_rate_in + st.bytes_rate_in + st.msg_rate_out + st.bytes_rate_out

    ordered = sorted(active, key=lambda s: s["segment_id"])
    coldest, coldest_combined = None, float("inf")
    for i, a in enumerate(ordered):
        for b in ordered[i + 1 :]:
            adjacent = a["end"] + 1 == b["start"] or b["end"] + 1 == a["start"]
            if not adjacent:
                continue
            if (
                merge_depth(meta, a["segment_id"]) >= config.max_dag_depth
                or merge_depth(meta, b["segment_id"]) >= config.max_dag_depth
            ):
                continue
            if not (cold_enough(a["segment_id"]) and cold_enough(b["segment_id"])):
                continue
            c = combined(a["segment_id"]) + combined(b["segment_id"])
            if c < coldest_combined:
                coldest_combined = c
                coldest = AutoScaleDecision(
                    "merge", a["segment_id"], merge_with=b["segment_id"], reason="cold"
                )
    return coldest if coldest is not None else AutoScaleDecision.NONE
