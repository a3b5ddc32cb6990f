"""Drain-gated segment->consumer assignment for scalable-topic
subscriptions — the SubscriptionCoordinator / ConsumerSession /
SegmentDrainChecker trio.

Reference semantics:
- ``SubscriptionCoordinator`` (pulsar-broker/.../service/scalable/
  SubscriptionCoordinator.java:66): per-subscription controller state —
  durable consumer sessions keyed by consumerName, a drained-segment
  set, and the deterministic ``computeAssignment`` function
  (SubscriptionCoordinator.java:559).
- ``SegmentDrainChecker`` (SegmentDrainChecker.java:18): an ACTIVE
  child of a split/merge is assignable only once EVERY parent still in
  the layout has been drained for the subscription — that is what
  preserves per-key order across the split point. Sealed segments are
  always assignable (the per-segment reader drains them or sees
  end-of-topic immediately). No checker configured -> no ordering
  enforcement, everything assignable (SubscriptionCoordinator.java:346).
- ``ConsumerSession`` (ConsumerSession.java:53): session identity is
  the stable consumerName; a disconnect starts a grace-period timer and
  the assignment survives a reconnect within the window
  (SubscriptionCoordinator.java:55-64). Controller failover restores
  every persisted session in a "just disconnected" state with a fresh
  grace clock (SubscriptionCoordinator.java:258).
- ``ConsumerAssignment`` (ConsumerAssignment.java:22): layoutEpoch +
  assigned segments; an empty bucket-range list means the consumer owns
  the whole segment, a non-empty list means PIP-486 bucket sharing.
- ``EntryBucketSplits`` (EntryBucketSplits.java): bucketsForBudget =
  max(1, budget // segmentCount); equal-width split points over the
  16-bit entry-bucket ring.

Spark-first split: the coordinator is bounded metadata (dozens of
segments, a handful of consumers), so the whole state machine is pure
driver-side Python over the ``_scalable.json`` layout — exactly like
the reference's controller leader. The only distributed piece is the
drain CHECK, which reads per-segment high watermarks as one grouped
aggregate (``checkpoint_drain_checker``); the data itself is never
collected. Time is an explicit ``now_ms`` argument everywhere (no
wall-clock reads), so every transition is deterministic and
oracle-checkable.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pulsar_spark.sources.scalable import MAX_HASH

# SubscriptionCoordinator.java:72 / :79 / :87
DEFAULT_GRACE_PERIOD_S = 60.0
DEFAULT_DRAIN_INITIAL_DELAY_S = 2.0
DEFAULT_DRAIN_MAX_DELAY_S = 15 * 60.0


def buckets_for_budget(budget: int, segment_count: int) -> int:
    """EntryBucketSplits.bucketsForBudget: floor share, at least 1."""
    return max(1, budget // max(1, segment_count))


def equal_width_splits(bucket_count: int) -> list[int]:
    """EntryBucketSplits.equalWidth: ascending inclusive start hashes of
    buckets 1..N-1 over the full 16-bit entry-bucket ring."""
    if bucket_count <= 1:
        return []
    ring = MAX_HASH + 1
    return [i * ring // bucket_count for i in range(1, bucket_count)]


def bucket_ranges(splits: list[int]) -> list[tuple[int, int]]:
    """EntryBucketSplits.ranges: the i-th inclusive range is the i-th
    entry-bucket; empty splits = one range spanning the whole ring."""
    if not splits:
        return [(0, MAX_HASH)]
    out, start = [], 0
    for s in splits:
        out.append((start, int(s) - 1))
        start = int(s)
    out.append((start, MAX_HASH))
    return out


def assign_entry_buckets(topic_path: str, budget: int) -> dict[int, list[int]]:
    """Controller boundary-selection tick: give every ACTIVE segment
    ``bucketsForBudget(budget, activeCount)`` equal-width entry-buckets
    and persist the split points on the segment metadata (the wire form
    PIP-486 producers/dispatchers read). Returns segment_id -> splits."""
    from pulsar_spark.sources.scalable import (
        _write_meta,
        active_segments,
        scalable_metadata,
    )

    meta = scalable_metadata(topic_path)
    active = active_segments(meta)
    per_segment = buckets_for_budget(budget, len(active))
    splits = equal_width_splits(per_segment)
    out = {}
    for s in active:
        meta["segments"][str(s["segment_id"])]["entry_bucket_splits"] = splits
        out[int(s["segment_id"])] = splits
    _write_meta(topic_path, meta)
    return out


@dataclass(frozen=True)
class AssignedSegment:
    """ConsumerAssignment.AssignedSegment (ConsumerAssignment.java:46).

    Empty ``bucket_ranges``: the consumer owns the whole segment and
    subscribes exclusively; non-empty: the segment is shared by
    entry-bucket and the consumer subscribes Key_Shared STICKY with
    exactly these (immutable, full-boundary) ranges."""

    segment_id: int
    hash_start: int
    hash_end: int
    segment_topic: str
    bucket_ranges: tuple = ()


@dataclass(frozen=True)
class ConsumerAssignment:
    """ConsumerAssignment.java:22 — layoutEpoch + assigned segments."""

    layout_epoch: int
    segments: tuple = ()


@dataclass
class ConsumerSession:
    """ConsumerSession.java:53 — durable identity (consumer_name) plus
    transient keep-alive state. The grace timer is modeled as the
    ``disconnected_at_ms`` stamp; eviction happens when
    ``evict_expired(now_ms)`` sweeps past the grace window (same
    semantics as the scheduler timer, deterministic clock)."""

    consumer_name: str
    consumer_id: int = -1
    connected: bool = True
    disconnected_at_ms: int | None = None
    #: assignment updates this session would have been pushed
    #: (sendAssignmentUpdate is a no-op while disconnected —
    #: ConsumerSession.java:175)
    pushed: list = field(default_factory=list)

    def attach(self, consumer_id: int) -> None:
        """ConsumerSession.attach: reconnect cancels the grace timer."""
        self.consumer_id = consumer_id
        self.connected = True
        self.disconnected_at_ms = None

    def mark_disconnected(self, now_ms: int) -> None:
        self.connected = False
        self.disconnected_at_ms = int(now_ms)

    def send_assignment_update(self, assignment: ConsumerAssignment) -> None:
        if self.connected:
            self.pushed.append(assignment)


class SubscriptionCoordinator:
    """SubscriptionCoordinator.java:66 rendered as a deterministic state
    machine: all clocks are ``now_ms`` arguments, the drain poller is a
    pure backoff cadence (``next_drain_delay_s``) the caller drives."""

    def __init__(
        self,
        subscription_name: str,
        topic_path: str,
        layout: dict | None = None,
        grace_period_s: float = DEFAULT_GRACE_PERIOD_S,
        drain_checker=None,
        drain_initial_delay_s: float = DEFAULT_DRAIN_INITIAL_DELAY_S,
        drain_max_delay_s: float = DEFAULT_DRAIN_MAX_DELAY_S,
    ):
        from pulsar_spark.sources.scalable import scalable_metadata

        self.subscription_name = subscription_name
        self.topic_path = topic_path
        self.layout = layout if layout is not None else scalable_metadata(topic_path)
        self.grace_period_s = float(grace_period_s)
        self.drain_checker = drain_checker
        self.sessions: dict[str, ConsumerSession] = {}
        self.drained_segment_ids: set[int] = set()
        self._drain_delay_s = float(drain_initial_delay_s)
        self._drain_initial_delay_s = float(drain_initial_delay_s)
        self._drain_max_delay_s = float(drain_max_delay_s)

    # --- register / unregister / reconnect (SubscriptionCoordinator.java:184) ---

    def register_consumer(
        self, consumer_name: str, consumer_id: int = 0
    ) -> dict[str, ConsumerAssignment]:
        existing = self.sessions.get(consumer_name)
        if existing is not None:
            # Reconnect: attach, cancel grace, push the CURRENT assignment
            # without rebalancing other consumers.
            existing.attach(consumer_id)
            current = self.compute_assignment()
            if consumer_name in current:
                existing.send_assignment_update(current[consumer_name])
            return current
        self.sessions[consumer_name] = ConsumerSession(consumer_name, consumer_id)
        result = self._rebalance_and_notify()
        self.reset_drain_backoff()
        return result

    def unregister_consumer(self, consumer_name: str) -> dict[str, ConsumerAssignment]:
        if self.sessions.pop(consumer_name, None) is None:
            return self.compute_assignment()
        if not self.sessions:
            return {}
        return self._rebalance_and_notify()

    def on_consumer_disconnect(self, consumer_name: str, now_ms: int) -> None:
        s = self.sessions.get(consumer_name)
        if s is not None and s.connected:
            s.mark_disconnected(now_ms)

    def evict_expired(self, now_ms: int) -> list[str]:
        """The grace-period timer sweep: evict sessions disconnected for
        longer than the grace period, then rebalance once if anything
        was evicted. A session that re-attached meanwhile is skipped
        (the reconnect 'cancelled the timer')."""
        evicted = [
            name
            for name, s in self.sessions.items()
            if not s.connected
            and s.disconnected_at_ms is not None
            and now_ms - s.disconnected_at_ms >= self.grace_period_s * 1000
        ]
        for name in evicted:
            del self.sessions[name]
        if evicted and self.sessions:
            self._rebalance_and_notify()
        return evicted

    def restore_consumers(
        self, persisted_consumer_names, now_ms: int
    ) -> dict[str, ConsumerAssignment]:
        """Controller-leader failover (SubscriptionCoordinator.java:258):
        install persisted registrations 'just disconnected' with a fresh
        grace clock; no pushes — consumers get assignments on reconnect."""
        for name in persisted_consumer_names:
            if name not in self.sessions:
                s = ConsumerSession(name, -1, connected=False)
                s.disconnected_at_ms = int(now_ms)
                self.sessions[name] = s
        return self.compute_assignment()

    def on_layout_change(self, new_layout: dict) -> dict[str, ConsumerAssignment]:
        self.layout = new_layout
        if not self.sessions:
            return {}
        result = self._rebalance_and_notify()
        self.reset_drain_backoff()
        return result

    def install_drain_checker(self, checker) -> None:
        """First STREAM register against a restore-path coordinator
        (SubscriptionCoordinator.java:304): upgrade once, never downgrade."""
        if self.drain_checker is not None or checker is None:
            return
        self.drain_checker = checker
        if self.sessions:
            self._rebalance_and_notify()
        self.reset_drain_backoff()

    # --- drain tracking (SubscriptionCoordinator.java:329) ---

    def is_assignable(self, segment: dict) -> bool:
        """SubscriptionCoordinator.isAssignable (java:346): sealed —
        always; active — only when every parent still in the layout is
        drained for this subscription; no checker — always."""
        if self.drain_checker is None or segment["state"] != "ACTIVE":
            return True
        all_ids = {int(s["segment_id"]) for s in self.layout["segments"].values()}
        for pid in segment["parent_ids"]:
            if int(pid) in all_ids and int(pid) not in self.drained_segment_ids:
                return False
        return True

    def mark_segments_drained(self, segment_ids) -> bool:
        new = {int(i) for i in segment_ids} - self.drained_segment_ids
        if not new:
            return False
        self.drained_segment_ids |= new
        if self.sessions:
            self._rebalance_and_notify()
        self.reset_drain_backoff()
        return True

    def poll_drain_status(self) -> set[int]:
        """One poll iteration (java:423): check every sealed segment not
        yet known drained; errors count as 'not drained yet'. Advances
        the backoff when no progress was made."""
        if self.drain_checker is None:
            return set()
        to_check = [
            s
            for s in self.layout["segments"].values()
            if s["state"] != "ACTIVE"
            and int(s["segment_id"]) not in self.drained_segment_ids
        ]
        if not to_check:
            # fully drained topic: the reference resets the backoff and
            # stops polling when toCheck is empty (java:430) — advancing
            # it here would drift an idle topic to drain_max_delay_s
            self.reset_drain_backoff()
            return set()
        newly: set[int] = set()
        for s in to_check:
            try:
                if self.drain_checker(s):
                    newly.add(int(s["segment_id"]))
            except Exception:
                pass  # treat as not-drained; retry next poll (java:451)
        if newly:
            self.mark_segments_drained(newly)  # resets the backoff
        else:
            self._drain_delay_s = min(self._drain_delay_s * 2, self._drain_max_delay_s)
        return newly

    def next_drain_delay_s(self) -> float:
        """The Backoff cadence: current delay before the next poll."""
        return self._drain_delay_s

    def reset_drain_backoff(self) -> None:
        """Progress event (drain seen / layout change / new consumer):
        next poll fires at the initial delay again (java:390)."""
        self._drain_delay_s = self._drain_initial_delay_s

    # --- assignment (SubscriptionCoordinator.java:559) ---

    def compute_assignment(self) -> dict[str, ConsumerAssignment]:
        """The deterministic closed-form: sort assignable segments by
        (hashRange, segmentId), consumers by name; while consumers don't
        outnumber segments each whole segment goes to consumer
        ``i % consumerCount`` (empty bucket ranges = exclusive); when
        consumers outnumber segments, each segment absorbs surplus
        owners up to its bucketCount (round-robin in segment order) and
        shared segments hand every owner the full boundary list.
        Consumers beyond total bucket capacity stay idle. DAG replay:
        sealed segments are always included so an Earliest subscription
        can read pre-split history."""
        if not self.sessions:
            return {}
        segs = sorted(
            (s for s in self.layout["segments"].values() if self.is_assignable(s)),
            key=lambda s: (int(s["start"]), int(s["end"]), int(s["segment_id"])),
        )
        names = sorted(self.sessions)
        lists: dict[str, list[AssignedSegment]] = {n: [] for n in names}

        def assigned(seg: dict, ranges: tuple = ()) -> AssignedSegment:
            sid = int(seg["segment_id"])
            return AssignedSegment(
                sid,
                int(seg["start"]),
                int(seg["end"]),
                f"{self.topic_path}/segment-{seg['start']:04x}-{seg['end']:04x}-{sid}",
                ranges,
            )

        if len(names) <= len(segs):
            for i, seg in enumerate(segs):
                lists[names[i % len(names)]].append(assigned(seg))
        else:
            owners = [1] * len(segs)
            caps = [len(s.get("entry_bucket_splits") or []) + 1 for s in segs]
            surplus = len(names) - len(segs)
            any_left = True
            while surplus > 0 and any_left:
                any_left = False
                for i in range(len(segs)):
                    if surplus > 0 and owners[i] < caps[i]:
                        owners[i] += 1
                        surplus -= 1
                        any_left = True
            ci = 0
            for i, seg in enumerate(segs):
                if owners[i] == 1:
                    lists[names[ci]].append(assigned(seg))
                    ci += 1
                else:
                    boundaries = tuple(
                        bucket_ranges(list(seg.get("entry_bucket_splits") or []))
                    )
                    for _ in range(owners[i]):
                        lists[names[ci]].append(assigned(seg, boundaries))
                        ci += 1
            # consumers past ci found no spare bucket capacity: idle.
        epoch = int(self.layout["epoch"])
        return {n: ConsumerAssignment(epoch, tuple(lists[n])) for n in names}

    def _rebalance_and_notify(self) -> dict[str, ConsumerAssignment]:
        result = self.compute_assignment()
        for name, assignment in result.items():
            self.sessions[name].send_assignment_update(assignment)
        return result


def read_assignment(spark, topic_path: str, assignment: ConsumerAssignment):
    """A consumer's view of the topic under its ConsumerAssignment: rows
    of exactly the assigned segments, ordered for per-key replay as
    (segment, offset). The hive ``segment=N`` layout turns the
    membership filter into storage partition PRUNING — a consumer
    holding 2 of 64 segments scans 1/32 of the data, the same
    distribution property the reference gets from per-segment topics.
    Bucket-shared segments are scanned whole: WHICH entry-buckets this
    consumer ends up owning is decided dispatch-side (the broker's
    deterministic spread — ConsumerAssignment.java:40-45), so the
    storage layer cannot pre-filter them."""
    from pyspark.sql import functions as F

    from pulsar_spark.sources.scalable import read_scalable

    seg_ids = [s.segment_id for s in assignment.segments]
    df = read_scalable(spark, topic_path)
    return df.where(F.col("segment").isin(seg_ids)) if seg_ids else df.limit(0)


def cumulative_ack_vector(
    delivered,
    ack_index: int,
    segment_col: str = "segment",
    offset_col: str = "offset",
):
    """The v5 stream-consumer cumulative ack (ScalableStreamConsumer
    .java:66-73 + MessageIdV5 position vectors): every delivered message
    snapshots the latest-delivered position per segment, and
    ``acknowledgeCumulative(msg)`` advances EVERY segment to that
    vector — not just the segment the message came from. Delivery order
    for the multiplexed queue is modeled as the (offset, segment)
    interleave; acking the ``ack_index``-th delivered message yields one
    row per segment seen so far: (segment, acked_offset).

    Scale shape: ``orderBy().limit(k)`` compiles to TakeOrdered (a
    per-partition top-k + driver merge), not a global sort, and the
    follow-up is one small aggregation — no full-shuffle stage. A real
    consumer's delivered frame is additionally bounded by its receiver
    queue, so k is small by construction."""
    from pyspark.sql import functions as F

    first_k = (
        delivered.select(segment_col, offset_col)
        .orderBy(offset_col, segment_col)
        .limit(int(ack_index))
    )
    return first_k.groupBy(segment_col).agg(
        F.max(offset_col).alias("acked_offset")
    )


def checkpoint_drain_checker(
    spark, topic_path: str, checkpoint, highs: dict[int, int] | None = None
):
    """A SegmentDrainChecker over the stored log and a caller-held
    Checkpoint vector: a sealed segment is drained when the
    subscription's next-offset is past the segment's stored high
    watermark (the cursor on a sealed topic with msgBacklog == 0 is by
    definition at the end — SegmentDrainChecker.java:30). A ``latest``
    sentinel checkpoint is drained everywhere: a latest cursor is
    created at the end of every segment, so the drain check completes
    immediately (SegmentDrainChecker.java:33-35). Pass ``highs`` (from
    ``segment_high_watermarks``) to reuse an already-computed watermark
    map; otherwise one bounded grouped aggregate runs at construction.
    The returned callable is pure (``scalable._drained``, the one drain
    rule sealed-segment GC and ``delete_segment`` also apply)."""
    from pulsar_spark.sources.scalable import _drained, segment_high_watermarks

    if highs is None:
        highs = segment_high_watermarks(spark, topic_path)
    return lambda segment: _drained(checkpoint, int(segment["segment_id"]), highs)
