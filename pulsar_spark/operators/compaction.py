"""Topic compaction — latest value per key, with tombstone deletes.

Reference semantics (not code): the two-phase compactor
(pulsar-broker/.../compaction/AbstractTwoPhaseCompactor.java:64,100-174)
scans the log building key -> latest MessageId, then rewrites the
compacted horizon keeping only that entry per key; a null-value message
is a tombstone deleting the key. EventTimeOrderCompactor.java:39,62-115
keeps the max-event-time entry instead (ties -> later offset wins).
StrategicTwoPhaseCompactor.java allows a pluggable keep/replace order.

Spark-first design: compaction is a single aggregation,
``groupBy(key).agg(max_by(struct(*), <order>))`` — Catalyst runs it as
partial (map-side) + final hash aggregate, so at 100 TB it is one
shuffle of (num distinct keys) rows, not a sort of the whole log. No
two-phase scan is needed because the agg *is* phase one and the rewrite
is the output. Rows with null keys are DROPPED from compacted output —
the reference's modern default (topicCompactionRetainNullKey=false;
AbstractTwoPhaseCompactor.java:323 retains them only when that config
is flipped on). Callers who need the legacy retain-null-key behavior
can union ``messages.where(col(key).isNull())`` back themselves.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _compact(messages: DataFrame, order: Column, key_col: str) -> DataFrame:
    cols = messages.columns
    latest = (
        messages.where(F.col(key_col).isNotNull())
        .groupBy(key_col)
        .agg(F.max_by(F.struct(*[c for c in cols if c != key_col]), order).alias("_m"))
        .select(key_col, "_m.*")
        .select(*cols)
    )
    return latest


def compact_publish_order(
    messages: DataFrame,
    key_col: str = "key",
    offset_col: str = "offset",
    tombstone_col: str = "tombstone",
    strategy: str = "max_by",
) -> DataFrame:
    """Publish-order compaction: keep the highest-offset entry per key,
    then drop keys whose latest entry is a tombstone.

    Equivalent oracle: ``QUALIFY row_number() OVER (PARTITION BY key
    ORDER BY "offset" DESC) = 1`` then ``WHERE NOT tombstone``.

    A topic without a tombstone column (nothing ever published a null
    value) compacts as if every row were live — the reference behaves
    the same way, a tombstone being just a null-payload message.

    ``strategy``:
    - ``"max_by"`` (default): one-pass ``max_by(struct(*), offset)`` —
      a single shuffle, but the wide-struct aggregate runs sort-based
      (not hash-aggregable), which spills sooner on huge partitions.
    - ``"two_phase"``: ``groupBy(key).agg(max(offset*2^20 +
      partition))`` — the winner (offset, partition) packed into ONE
      long keeps the aggregate a TRUE HashAggregate (a ``max(struct)``
      would run as ObjectHashAggregate, which falls back to sort-based
      past its tiny fallback threshold) — then a left-semi join back on
      ``(key, offset, partition)``. Reads the input twice but never
      sorts it; the better shape when rows are wide and keys are many.
      Including ``partition`` in the winner makes the join exact even
      when a key appears in several partitions (non-key-routed input).
      Bounds: per-partition offsets < 2^43 and partition ids < 2^20
      (both far above any real topic). On a UNIONED multi-topic frame
      where (partition, offset) can repeat across topics, compact per
      topic before unioning.
    """
    if strategy == "two_phase":
        PACK = 1 << 20
        live = messages.where(F.col(key_col).isNotNull())
        has_part = "partition" in messages.columns
        packed = (
            F.col(offset_col) * PACK + F.col("partition")
            if has_part
            else F.col(offset_col) * PACK
        )
        tops = (
            live.groupBy(key_col)
            .agg(F.max(packed).alias("_p"))
            .select(
                F.col(key_col),
                F.floor(F.col("_p") / PACK).cast("bigint").alias(offset_col),
                *([F.pmod(F.col("_p"), F.lit(PACK)).cast("int").alias("partition")] if has_part else []),
            )
        )
        join_keys = [key_col, offset_col] + (["partition"] if has_part else [])
        latest = live.join(tops, on=join_keys, how="left_semi")
    else:
        latest = _compact(messages, F.col(offset_col), key_col)
    if tombstone_col in messages.columns:
        latest = latest.where(~F.col(tombstone_col))
    return latest


def compact_event_time_order(
    messages: DataFrame,
    key_col: str = "key",
    offset_col: str = "offset",
    event_time_col: str = "event_time",
    tombstone_col: str = "tombstone",
) -> DataFrame:
    """Event-time-order compaction: keep max (event_time, offset) per key
    (lexicographic struct max == later event time, ties -> later offset,
    matching the reference's >= comparison on replacement). Missing
    tombstone column == no tombstones, as in publish-order compaction."""
    latest = _compact(messages, F.struct(F.col(event_time_col), F.col(offset_col)), key_col)
    if tombstone_col in messages.columns:
        latest = latest.where(~F.col(tombstone_col))
    return latest


def compact_strategic(messages: DataFrame, order: Column, key_col: str = "key") -> DataFrame:
    """Strategic compaction: pluggable ordering expression decides which
    entry per key survives (TopicCompactionStrategy analog). ``order``
    is any orderable Column/struct; max wins. Tombstone handling is the
    caller's strategy choice, so no filter is applied here."""
    return _compact(messages, order, key_col)


def compact_topic_storage(
    spark,
    topic_path: str,
    event_time_order: bool = False,
    key_col: str = "key",
    strategy: str = "max_by",
) -> dict[int, int]:
    """Background compaction maintenance job — the storage analog of the
    two-phase compactor (AbstractTwoPhaseCompactor.java:100 phaseTwo
    rewrite): materialize latest-per-key (tombstone keys dropped) into a
    ``<topic>__compacted`` side table and record the compaction horizon
    (max offset per partition at compaction time).

    Returns the horizon map. Scale: the rewrite output is one row per
    live key — at 100 TB this runs as a single keyed aggregation and a
    partitioned write, scheduled off the hot path exactly like the
    reference's broker-triggered compaction.
    """
    from pulsar_spark.sources.topics import read_topic, stored_high_offsets, write_topic

    m = read_topic(spark, topic_path)
    horizon = stored_high_offsets(m)
    # publish-order rewrites can pick the hash-agg two_phase plan (see
    # compact_publish_order); event-time order keeps max_by (its winner
    # key is a timestamp tuple, not pack-able into one long) — an
    # explicit two_phase request there is a misconfiguration, surfaced
    # rather than silently downgraded
    if event_time_order and strategy != "max_by":
        raise ValueError(
            "event_time_order compaction supports only strategy='max_by'"
        )
    compacted = (
        compact_event_time_order(m, key_col=key_col)
        if event_time_order
        else compact_publish_order(m, key_col=key_col, strategy=strategy)
    )
    write_topic(compacted, topic_path.rstrip("/") + "__compacted", mode="overwrite")
    hdf = spark.createDataFrame(
        [(p, o) for p, o in sorted(horizon.items())], "partition int, horizon bigint"
    )
    hdf.coalesce(1).write.mode("overwrite").parquet(topic_path.rstrip("/") + "__horizon")
    return horizon


def read_compacted(spark, topic_path: str):
    """Reader with readCompacted=true semantics: the compacted ledger up
    to the recorded horizon, then the raw log past it
    (CompactionTest.java reader behavior). Falls back to the raw topic
    when no compaction has run."""
    from pulsar_spark.sources.topics import read_topic

    base = topic_path.rstrip("/")
    try:
        compacted = spark.read.parquet(base + "__compacted")
        horizon = spark.read.parquet(base + "__horizon")
    except Exception:
        return read_topic(spark, topic_path)
    raw = read_topic(spark, topic_path)
    tail = raw.join(F.broadcast(horizon), on="partition", how="left").where(
        F.col("horizon").isNull() | (F.col("offset") > F.col("horizon"))
    ).drop("horizon")
    return compacted.unionByName(tail)


def compaction_due(
    messages: DataFrame,
    threshold_bytes: int,
    size_col,
    horizon: DataFrame | None = None,
    partition_col: str = "partition",
    offset_col: str = "offset",
) -> DataFrame:
    """The compactionThreshold trigger policy (PersistentTopics
    setCompactionThreshold; the broker's checkCompaction runs the
    compactor when bytes accumulated since the last compaction horizon
    exceed the threshold). Returns per-partition
    (partition, bytes_since, msgs_since, due).

    ``horizon`` is (partition, compacted_offset) — the position the
    last compaction run sealed (None = never compacted, everything
    counts). ``size_col`` is a column or name giving each entry's
    stored size. One broadcast horizon join + one agg; rides the same
    partition key as every other per-partition stat.
    """
    size = F.col(size_col) if isinstance(size_col, str) else size_col
    df = messages
    if horizon is not None:
        df = df.join(F.broadcast(horizon), on=partition_col, how="left").where(
            F.col("compacted_offset").isNull()
            | (F.col(offset_col) > F.col("compacted_offset"))
        )
    return (
        df.groupBy(partition_col)
        .agg(
            F.sum(size.cast("bigint")).alias("bytes_since"),
            F.count("*").alias("msgs_since"),
        )
        .withColumn("due", F.col("bytes_since") > F.lit(int(threshold_bytes)))
    )
