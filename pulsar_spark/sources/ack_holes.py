"""Individual-ack hole sets for scalable-topic subscriptions — the
``individualDeletedMessages`` analog.

Reference semantics: a classic cursor persists TWO pieces of ack state
(managed-ledger/.../ManagedCursorImpl.java:202): the markDelete
position (everything before it is acked — this engine's checkpoint
VECTOR) and ``individualDeletedMessages``, a range set of positions
acked PAST the markDelete point (the "holes"). Dispatch consults both:
a message is redelivered after failover only if it is at/after the
cursor AND not inside a hole. As holes become contiguous with the
cursor, the cursor advances and the ranges are consumed
(ManagedCursorImpl.mergeIndividualDeletedMessagesIfNeeded); the
persisted range count is capped (managedLedgerMaxUnackedRangesToPersist,
reference default 200000, broker.conf:1532) — ranges beyond the cap are
simply not persisted, and
those acks are redelivered after a crash (at-least-once, never lost).
``ScalableQueueConsumer.acknowledge`` (ScalableQueueConsumer.java:234)
is the v5 queue-discipline producer of exactly this state.

Spark-first: the hole set is BOUNDED METADATA (sorted disjoint closed
ranges per segment) stored beside the checkpoint vector in the topic's
subscription registry (sources/scalable.py); the visibility filter is
a literal map-of-range-arrays expression riding the segment scan — no
join, no shuffle, no data pass to ack. The range algebra below is pure Python
over the bounded metadata (property-tested); nothing here scans data.

This module closes the divergence note that ``sources/scalable_txn.py``
used to carry: committed individual acks past the contiguous prefix
are no longer redelivered after failover — they land in the hole set,
exactly like the reference.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: managedLedgerMaxUnackedRangesToPersist analog — the default cap on
#: persisted hole ranges PER SEGMENT. Ranges beyond the cap (the
#: HIGHEST ones — farthest from the cursor, latest to matter) are
#: dropped, so those acks redeliver after failover: at-least-once,
#: never message loss, same trade as the reference's unpersisted tail.
DEFAULT_MAX_RANGES = 1024


# ------------------------------------------------------------ range algebra


def merge_ranges(ranges) -> list[list[int]]:
    """Normalize a list of closed ``[lo, hi]`` ranges: sorted, disjoint,
    and non-adjacent (``[2,3]`` + ``[4,6]`` coalesce to ``[2,6]`` —
    offsets are integers, so touching ranges are one run)."""
    rs = sorted([int(lo), int(hi)] for lo, hi in ranges if int(lo) <= int(hi))
    out: list[list[int]] = []
    for lo, hi in rs:
        if out and lo <= out[-1][1] + 1:
            out[-1][1] = max(out[-1][1], hi)
        else:
            out.append([lo, hi])
    return out


def fold_cursor(cursor: int, ranges) -> tuple[int, list[list[int]]]:
    """Consume holes into the cursor: drop/trim every range below the
    cursor (already covered by the markDelete point), then advance the
    cursor through any hole that is contiguous with it — the
    ManagedCursorImpl markDelete-advance merge. Returns the new
    ``(cursor, ranges)``; ``ranges`` must already be normalized."""
    cursor = int(cursor)
    out: list[list[int]] = []
    for lo, hi in ranges:
        if hi < cursor:
            continue  # fully consumed
        lo = max(lo, cursor)
        if lo <= cursor <= hi + 1 and lo == cursor:
            cursor = hi + 1  # contiguous with the cursor: advance through
        else:
            out.append([lo, hi])
    return cursor, out


def add_acks(
    cursor: int, ranges, offsets
) -> tuple[int, list[list[int]]]:
    """Fold newly-acked individual ``offsets`` into ``(cursor, holes)``:
    offsets below the cursor are ignored (already acked), the rest merge
    into the range set, and the cursor advances through any now-
    contiguous prefix. Idempotent — re-acking is a no-op — so crash
    replay of a committed transaction's ack fold is safe."""
    cursor = int(cursor)
    new = [[int(o), int(o)] for o in offsets if int(o) >= cursor]
    merged = merge_ranges(list(ranges) + new)
    return fold_cursor(cursor, merged)


def cap_ranges(ranges, max_ranges: int | None) -> list[list[int]]:
    """Enforce the persisted-range cap by dropping the HIGHEST ranges
    (the reference persists the lowest ``maxUnackedRangesToPersist``
    ranges; unpersisted acks redeliver after a crash — at-least-once)."""
    if max_ranges is None or len(ranges) <= int(max_ranges):
        return list(ranges)
    return list(ranges)[: int(max_ranges)]


# ------------------------------------------------------ registry plumbing


def subscription_ack_holes(topic_path: str, subscription: str) -> dict[int, list[list[int]]]:
    """The persisted hole set for ``subscription``:
    ``{segment_id: [[lo, hi], ...]}`` (sorted, disjoint, all at/after
    the segment's cursor). Empty dict when no holes are stored."""
    from pulsar_spark.sources.scalable import _cursor

    return _cursor(topic_path, subscription)[1]


def acknowledge_individual(
    topic_path: str,
    subscription: str,
    acks: dict[int, list[int]],
    max_ranges_per_segment: int | None = DEFAULT_MAX_RANGES,
    spark=None,
):
    """Individually acknowledge message ids ``{segment: [offsets]}`` on
    a persisted subscription — the non-transactional
    ``QueueConsumer.acknowledge(MessageId)`` path. Per segment the
    offsets fold into ``(cursor, holes)`` via :func:`add_acks`; the
    updated vector + hole set persist atomically in one registry write
    (``scalable._edit_cursors``). Returns the advanced
    :class:`Checkpoint`.

    A subscription still at the LATEST sentinel is RESOLVED to its
    concrete high-watermark vector first (the floating-latest contract
    every slot edit follows): acks folded under an unresolved sentinel
    would be inert, because ``subscription_visible`` /
    ``checkpoint_start_filter`` ignore the offsets map while ``latest``
    is set. Resolution needs a ``SparkSession`` (the ``spark`` argument,
    or the active session); with neither available the ack raises
    rather than silently recording dead state."""
    from pyspark.sql import SparkSession

    from pulsar_spark.sources.scalable import Checkpoint, _edit_cursors

    def fold(ck, holes):
        offsets = dict(ck.offsets)
        for seg, offs in acks.items():
            seg = int(seg)
            offsets[seg], rs = add_acks(offsets.get(seg, 0), holes.get(seg, []), offs)
            holes[seg] = cap_ranges(rs, max_ranges_per_segment)
        return Checkpoint(offsets), holes

    return _edit_cursors(
        topic_path,
        fold,
        [subscription],
        spark or SparkSession.getActiveSession(),
        resolve_latest=True,
    )[subscription]


def reconcile_holes_with_cursor(
    old_offsets: dict[int, int],
    new_offsets: dict[int, int],
    holes: dict[int, list[list[int]]],
) -> dict[int, list[list[int]]]:
    """Hole maintenance for an EXTERNAL cursor move (cumulative ack,
    seek, clear-backlog — anything that writes the vector directly):

    - cursor moved FORWARD on a segment → drop/trim its holes below the
      new position (the markDelete advance consumed them);
    - cursor moved BACKWARD (a seek/resetCursor rewind) → clear that
      segment's holes entirely, the reference's resetCursor semantics
      (everything past the reset point redelivers, acked or not).

    Pure; the caller persists the result."""
    out: dict[int, list[list[int]]] = {}
    for seg, rs in holes.items():
        seg = int(seg)
        new_cur = int(new_offsets.get(seg, 0))
        if new_cur < int(old_offsets.get(seg, 0)):
            continue  # rewind: resetCursor clears individualDeleted
        kept = [[max(lo, new_cur), hi] for lo, hi in rs if hi >= new_cur]
        if kept:
            out[seg] = kept
    return out


# ------------------------------------------------------------ visibility


def ack_hole_filter(df: DataFrame, holes: dict[int, list[list[int]]]) -> DataFrame:
    """Exclude rows whose ``(segment, offset)`` sits inside a hole — the
    dispatch-side consult of individualDeletedMessages. The hole set is
    bounded metadata (capped per segment), so it compiles to ONE literal
    map-of-range-arrays lookup riding the scan: no join, no shuffle,
    O(ranges-in-own-segment) comparisons per row."""
    entries = []
    for seg, rs in sorted(holes.items()):
        if not rs:
            continue
        arr = F.array(
            *[
                F.struct(
                    F.lit(int(lo)).cast("bigint").alias("lo"),
                    F.lit(int(hi)).cast("bigint").alias("hi"),
                )
                for lo, hi in rs
            ]
        )
        entries += [F.lit(int(seg)).cast("int"), arr]
    if not entries:
        return df
    m = F.create_map(*entries)
    ranges = m[F.col("segment")]
    holed = F.when(
        ranges.isNotNull(),
        F.exists(
            ranges,
            lambda r: (F.col("offset") >= r["lo"]) & (F.col("offset") <= r["hi"]),
        ),
    ).otherwise(F.lit(False))
    return df.where(~holed)


def subscription_visible(
    spark,
    topic_path: str,
    subscription: str,
    coordinator=None,
) -> DataFrame:
    """The post-failover redelivery view of a persisted subscription:
    rows at/after the cursor vector, MINUS the individually-acked holes
    (never redelivered — the fix for the former at-least-once
    divergence), restricted to the committed view when a transaction
    ``coordinator`` is attached to the topic. This is what a recovering
    consumer receives; ``subscription_backlog`` counts the same set.

    A NEVER-produced topic has no schema anywhere, so its empty view is
    a ``(segment, offset)`` stub — the same documented contract as
    ``read_from_checkpoint``; callers aggregating payload columns must
    produce first (nothing can have been acked on an empty topic)."""
    from pulsar_spark.operators.transactions import committed_view
    from pulsar_spark.sources.scalable import (
        _cursor,
        _read_if_present,
        checkpoint_start_filter,
    )

    df = _read_if_present(spark, topic_path)
    ckpt, holes = _cursor(topic_path, subscription)
    if df is None:
        return spark.createDataFrame([], "segment int, offset bigint")
    if ckpt.latest:
        # an unresolved LATEST sentinel means "nothing stored is
        # delivered" (same reading as subscription_backlog's zeros) —
        # full-schema empty frame, not a checkpoint_start_filter error
        return df.limit(0)
    df = ack_hole_filter(checkpoint_start_filter(df, ckpt), holes)
    if coordinator is not None and "txn_id" in df.columns:
        df = committed_view(df, coordinator.state_df(spark))
    return df
