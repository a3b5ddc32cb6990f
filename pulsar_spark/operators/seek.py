"""Cursor operations: seek / peek / skip / backlog.

Reference semantics: seek repositions a cursor by MessageId or
timestamp, where timestamp seek binary-searches the ledger for the
first entry with publish_time >= ts
(pulsar-broker/.../persistent/PersistentMessageFinder.java:39,69);
``peekMessages(n)`` returns the first N messages past the cursor and
``skipMessages(n)`` advances it (admin Topics.java:1662, :1543);
backlog = number of rows past the cursor.

Spark-first: all are DataFrame queries over the envelope table keyed by
(partition, offset). Per-partition "first N" uses a window row_number
bounded per partition — at scale this is a per-partition top-N
(Spark pushes the limit into the sort), never a global sort.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def seek_offsets_by_timestamp(
    messages: DataFrame,
    ts: Column | str,
    partition_col: str = "partition",
    offset_col: str = "offset",
    publish_time_col: str = "publish_time",
) -> DataFrame:
    """Per partition, the first offset with publish_time >= ts
    (PersistentMessageFinder analog). Partitions with no such message
    are absent (cursor would go to end-of-topic)."""
    ts_c = F.lit(ts).cast("timestamp") if isinstance(ts, str) else ts
    return (
        messages.where(F.col(publish_time_col) >= ts_c)
        .groupBy(partition_col)
        .agg(F.min(offset_col).alias("seek_offset"))
    )


def peek_messages(
    messages: DataFrame,
    n: int,
    cursors: dict[int, int] | None = None,
    partition_col: str = "partition",
    offset_col: str = "offset",
) -> DataFrame:
    """First ``n`` messages past each partition's cursor, in offset order.

    ``cursors`` maps partition -> last-acked offset (exclusive start);
    missing partitions start at the beginning.
    """
    df = messages
    if cursors:
        cursor_expr = F.coalesce(
            *[
                F.when(F.col(partition_col) == p, F.lit(o))
                for p, o in cursors.items()
            ],
            F.lit(-1),
        )
        df = df.where(F.col(offset_col) > cursor_expr)
    w = Window.partitionBy(partition_col).orderBy(offset_col)
    return df.withColumn("_rn", F.row_number().over(w)).where(F.col("_rn") <= n).drop("_rn")


def skip_cursor(
    messages: DataFrame,
    n: int,
    partition_col: str = "partition",
    offset_col: str = "offset",
) -> DataFrame:
    """New cursor position per partition after skipping ``n`` messages:
    the n-th smallest offset per partition (or max offset if fewer)."""
    w = Window.partitionBy(partition_col).orderBy(offset_col)
    ranked = messages.withColumn("_rn", F.row_number().over(w))
    return (
        ranked.where(F.col("_rn") <= n)
        .groupBy(partition_col)
        .agg(F.max(offset_col).alias("cursor_offset"), F.count("*").alias("skipped"))
    )


def backlog(
    messages: DataFrame,
    cursors: DataFrame,
    partition_col: str = "partition",
    offset_col: str = "offset",
) -> DataFrame:
    """Backlog per partition: count of messages with offset > cursor.

    ``cursors`` has columns (partition, cursor_offset); broadcast —
    it is one row per partition.
    """
    return (
        messages.join(F.broadcast(cursors), on=partition_col, how="left")
        .where(
            F.col("cursor_offset").isNull() | (F.col(offset_col) > F.col("cursor_offset"))
        )
        .groupBy(partition_col)
        .agg(F.count("*").alias("backlog"))
    )


def get_message_by_id(
    messages: DataFrame,
    partition: int,
    offset: int,
    partition_col: str = "partition",
    offset_col: str = "offset",
) -> DataFrame:
    """Point lookup by MessageId = (partition, offset) — the
    ``getMessageById(ledgerId, entryId)`` admin query
    (pulsar-client-admin-api/.../admin/Topics.java:1746). Both
    predicates reach the parquet scan: the partition directory prunes
    and the offset min/max footer stats skip row groups."""
    return messages.where(
        (F.col(partition_col) == partition) & (F.col(offset_col) == offset)
    )


def examine_message(
    messages: DataFrame,
    initial_position: str = "earliest",
    n: int = 1,
    partition_col: str = "partition",
    offset_col: str = "offset",
) -> DataFrame:
    """Per partition, the n-th message from the earliest (or latest)
    position — ``examineMessage(initialPosition, messagePosition)``
    (admin Topics.java:1662-1691). A per-partition rank bounded at
    ``n`` executes as partial top-n, never a full sort."""
    if initial_position not in ("earliest", "latest"):
        raise ValueError(f"initial_position must be earliest|latest, got {initial_position}")
    order = F.col(offset_col) if initial_position == "earliest" else F.col(offset_col).desc()
    w = Window.partitionBy(partition_col).orderBy(order)
    return messages.withColumn("_rn", F.row_number().over(w)).where(F.col("_rn") == n).drop("_rn")


def ack_state(
    messages: DataFrame,
    acked: Column,
    partition_col: str = "partition",
    offset_col: str = "offset",
) -> DataFrame:
    """Cursor ack state per partition from an acked-predicate column:
    mark-delete position (greatest offset with every offset <= it
    acked) plus ack-hole accounting — individually-deleted messages
    past the mark-delete position
    (managed-ledger/.../ManagedCursorImpl.java:202
    ``individualDeletedMessages``).

    One aggregation pass: mark_delete = (min unacked offset) - 1, or
    the partition max when fully acked; ack holes = acked offsets
    beyond it.
    """
    flagged = messages.select(
        partition_col, offset_col, acked.cast("boolean").alias("_acked")
    )
    agg = flagged.groupBy(partition_col).agg(
        F.coalesce(
            F.min(F.when(~F.col("_acked"), F.col(offset_col))) - 1,
            F.max(offset_col),
        ).alias("mark_delete_offset"),
        F.max(offset_col).alias("max_offset"),
        F.sum(F.col("_acked").cast("long")).alias("total_acked"),
    )
    holes = (
        flagged.join(
            F.broadcast(agg.select(partition_col, "mark_delete_offset")), on=partition_col
        )
        .where(F.col("_acked") & (F.col(offset_col) > F.col("mark_delete_offset")))
        .groupBy(partition_col)
        .agg(F.count("*").alias("individually_acked"))
    )
    return (
        agg.join(holes, on=partition_col, how="left")
        .withColumn("individually_acked", F.coalesce("individually_acked", F.lit(0)))
        .select(
            partition_col, "mark_delete_offset", "max_offset", "total_acked", "individually_acked"
        )
    )


def last_message_ids(messages: DataFrame) -> DataFrame:
    """getLastMessageId analog (pulsar-client-admin-api/.../admin/
    Topics.java:2147): the highest stored (partition, offset) position
    per topic partition — what a reader compares against to decide
    ``hasMessageAvailable`` (capi/Reader.java:116).

    One map-side-combined groupBy over (topic, partition); on a
    parquet-backed topic it scans only the ``offset`` column (plus the
    grouping columns), after partition pruning.
    """
    return messages.groupBy("topic", "partition").agg(
        F.max("offset").alias("last_offset")
    )
