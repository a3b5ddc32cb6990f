"""Streaming delayed delivery — the stateful hold-back operator.

Reference semantics: ``deliverAfter``/``deliverAt`` messages are
tracked in a time-indexed structure and released only once their
deliver time passes (broker/delayed/InMemoryDelayedDeliveryTracker.java:49-50
priority-queue of ts -> positions; bucketed RoaringBitmap spill variant
BucketDelayedDeliveryTracker.java:70). Batch mode is a visibility
filter (operators/retention.visible_messages); streaming mode must
BUFFER not-yet-due rows across micro-batches and release them later —
this operator (SURVEY.md §4 custom item 2).

applyInPandasWithState keyed by topic partition: state holds the
pending rows (columnar arrays, bounded by the delay horizon);
each invocation releases everything due at processing time `now`. On
the wall clock it re-arms a processing-time timeout so release happens
even when no new input arrives — exactly the reference tracker's
scheduled tick.
"""

from __future__ import annotations

import time
from typing import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

OUT_SCHEMA = "partition int, offset bigint, key string, event_id bigint, deliver_at timestamp"
OUT_COLS = ["partition", "offset", "key", "event_id", "deliver_at"]
STATE_SCHEMA = (
    "p_offsets array<bigint>, p_keys array<string>, p_event_ids array<bigint>, "
    "p_deliver_us array<bigint>"
)


def delayed_release_stream(
    messages_stream: DataFrame,
    tick_ms: int = 1000,
    now_us: int | None = None,
) -> DataFrame:
    """Release messages whose ``deliver_at`` has passed; hold the rest
    in state. ``now_us`` pins "now" for deterministic tests; production
    leaves it None (wall clock per micro-batch).

    A pinned clock means no timeout: a held row can never come due, so
    re-arming would only run empty batches, and an AvailableNow query
    would never end. On the wall clock the operator keeps a
    processing-time timeout armed while rows are held, so each held
    row is released by a later tick: the query keeps running no-data
    batches until the last held row comes due. Run it with a
    processing-time trigger (``trigger(processingTime=...)``), not
    AvailableNow.

    The output stream contains ONLY delayed messages (deliver_at IS NOT
    NULL) as they come due. Immediate messages never enter this operator
    — the reference tracker likewise only tracks delayed messages — so
    callers must union the immediate stream
    (``messages.where(col("deliver_at").isNull())``) with this output
    themselves to get the full delivery stream (see
    tests/test_streaming.py::TestDelayedRelease for the pattern).
    """

    def fn(key, pdfs: Iterator, state: GroupState):
        import pandas as pd

        if state.exists:
            p_off, p_key, p_eid, p_dus = (list(x) for x in state.get)
        else:
            p_off, p_key, p_eid, p_dus = [], [], [], []

        for pdf in pdfs:
            for _, r in pdf.iterrows():
                p_off.append(int(r["offset"]))
                p_key.append(None if pd.isna(r["key"]) else str(r["key"]))
                p_eid.append(int(r["event_id"]))
                p_dus.append(int(r["deliver_at"].value // 1000))  # ns -> us

        now = now_us if now_us is not None else int(time.time() * 1_000_000)
        due_idx = [i for i, d in enumerate(p_dus) if d <= now]
        if due_idx:
            due = sorted(due_idx, key=lambda i: p_off[i])
            out = pd.DataFrame(
                {
                    "partition": [int(key[0])] * len(due),
                    "offset": [p_off[i] for i in due],
                    "key": [p_key[i] for i in due],
                    "event_id": [p_eid[i] for i in due],
                    "deliver_at": pd.to_datetime([p_dus[i] * 1000 for i in due], unit="ns"),
                }
            )
            keep = [i for i in range(len(p_off)) if i not in set(due_idx)]
            p_off = [p_off[i] for i in keep]
            p_key = [p_key[i] for i in keep]
            p_eid = [p_eid[i] for i in keep]
            p_dus = [p_dus[i] for i in keep]
            yield out[OUT_COLS]

        state.update((p_off, p_key, p_eid, p_dus))
        if p_off and now_us is None:
            state.setTimeoutDuration(tick_ms)

    delayed = messages_stream.where(F.col("deliver_at").isNotNull()).select(
        "partition", "offset", "key", "event_id", "deliver_at"
    )
    timeout = (
        GroupStateTimeout.ProcessingTimeTimeout
        if now_us is None
        else GroupStateTimeout.NoTimeout
    )
    return delayed.groupBy("partition").applyInPandasWithState(
        fn, OUT_SCHEMA, STATE_SCHEMA, "append", timeout
    )
