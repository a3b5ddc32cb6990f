"""Subscriptions — durable named cursors as Structured Streaming queries.

Reference semantics: a subscription is a durable cursor over a topic
with an ack-state (SURVEY.md §1.1, §2.9); the four SubscriptionType
disciplines (capi/SubscriptionType.java:33-61) decide consumer fanout
and ordering:

- Exclusive / Failover -> one streaming query; per-partition order
  preserved by the source.
- Shared -> task-level parallelism inside the query (no ordering).
- Key_Shared -> ``repartition(n, sticky_key_hash(key))`` so each task
  owns a key range (per-key order).

A subscription has two positions. A stream's position is its Spark
checkpoint: the offset log + commit log give the same
at-least-once/effectively-once semantics as ack + dedup, and it
survives restarts via ``checkpoint_dir``. The registry cursor (the
topic's subscription registry, sources/scalable.py; classic topics
through sources/cursors.py) is what acks move and what
replicated-subscription sync and failover read; ``subscribe`` does not
read it, ``subscribe_assigned(subscription=...)`` starts from it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pulsar_spark.operators.subscriptions import sticky_key_hash


def subscribe(
    spark: SparkSession,
    topic_path: str,
    subscription_type: str = "exclusive",
    num_consumers: int = 1,
    max_files_per_trigger: int | None = None,
    interceptors=None,
    start_offset: int | None = None,
    start_time: str | None = None,
    initial_position: str = "earliest",
) -> DataFrame:
    """Open a streaming scan of a topic (consumer analog).

    ``max_files_per_trigger`` is the flow-control permit analog
    (ServerCnx.handleFlow — bound work per micro-batch).

    ``start_offset`` / ``start_time`` are the streaming seek analog —
    Consumer.seek(MessageId)/seek(timestamp) (capi/Consumer.java:523)
    and Reader.startMessageId/startMessageFromRollbackDuration
    (capi/Reader.java:148-:159): the subscription's cursor starts past
    the given per-partition offset / publish timestamp instead of the
    topic's beginning (resetCursor + resubscribe). Both are plain
    predicates on envelope columns, so they push down into the file
    scan (row-group pruning on publish_time/offset stats) rather than
    reading-then-dropping.

    ``interceptors``: ordered ``DataFrame -> DataFrame`` callables
    applied to the stream after dispatch partitioning — the
    ConsumerInterceptor.beforeConsume chain
    (capi/ConsumerInterceptor.java:118), streaming flavor; the same
    chain ``read_topic`` applies in batch mode.

    ``initial_position``: SubscriptionInitialPosition (capi-v5/config/
    SubscriptionInitialPosition.java): ``earliest`` (default) delivers
    the whole stored backlog; ``latest`` starts the new subscription's
    cursor PAST the current last message of every partition — the
    per-partition past-the-end vector is snapshotted at subscribe time
    (one grouped MAX scan of the ``offset`` column) and pushed down as
    the cursor start filter, so only rows appended after subscribe are
    delivered. Like the reference, the position applies at subscription
    CREATION only: when restarting from an existing checkpoint,
    resubscribe with the default — the checkpoint is the stream's
    position, and the skipped backlog files are already in its
    seen-files log.
    """
    if initial_position not in ("earliest", "latest"):
        raise ValueError(
            f"initial_position must be earliest|latest, got {initial_position}"
        )
    stream = _open_stream(spark, topic_path, max_files_per_trigger)

    if initial_position == "latest":
        from pulsar_spark.sources.scalable import Checkpoint, _past_end, checkpoint_start_filter

        start = Checkpoint(_past_end(spark, topic_path, lane="partition"))
        stream = checkpoint_start_filter(stream, start, lane="partition")
    if start_offset is not None:
        stream = stream.where(F.col("offset") >= start_offset)
    if start_time is not None:
        stream = stream.where(
            F.col("publish_time") >= F.lit(start_time).cast("timestamp")
        )
    return _dispatch(stream, subscription_type, num_consumers, interceptors)


def _open_stream(spark: SparkSession, topic_path: str, max_files_per_trigger):
    """The one topic stream opener. Its schema comes from a mergeSchema
    batch read, because a topic legitimately mixes file schemas
    (replicated-in files add src_* columns, protocol marker files add
    marker_type/props) and sampling one footer would silently drop
    those columns from the whole stream."""
    static = spark.read.option("mergeSchema", "true").parquet(topic_path)
    reader = spark.readStream.schema(static.schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(topic_path)


def _dispatch(stream: DataFrame, subscription_type: str, num_consumers: int, interceptors):
    """The one dispatch tail: Key_Shared repartitioning (each
    "consumer" = one shuffle partition owning a hash range), then the
    interceptor chain."""
    if subscription_type == "key_shared":
        stream = stream.repartition(num_consumers, sticky_key_hash(F.col("key")))
    for icept in interceptors or []:
        stream = icept(stream)
    return stream


def subscribe_typed(
    spark: SparkSession,
    topic_path: str,
    registry,
    topic: str | None = None,
    **subscribe_kwargs,
) -> DataFrame:
    """Typed consumer: subscription + schema-on-read against the
    topic's LATEST registered schema version (AUTO_CONSUME streaming
    flavor — SchemaType.java:175; the registry's projection/cast rules
    are the same ones the batch ``read_with_latest`` applies, and they
    are select/cast-only so they compose with a streaming frame).

    ``registry`` is a ``pulsar_spark.schema_registry.SchemaRegistry``;
    ``topic`` defaults to the topic path's basename (the registry key).
    """
    import os

    stream = subscribe(spark, topic_path, **subscribe_kwargs)
    key = topic or os.path.basename(topic_path.rstrip("/"))
    return registry.read_with_latest(stream, key)


def subscribe_assigned(
    spark: SparkSession,
    topic_path: str,
    assignment,
    start_checkpoint=None,
    max_files_per_trigger: int | None = None,
    ack_holes: dict | None = None,
    subscription: str | None = None,
) -> DataFrame:
    """Streaming consumer view of a scalable topic under a
    ``ConsumerAssignment`` (sources/coordinator.py — the consumer-side
    reaction to SubscriptionCoordinator.sendAssignmentUpdate,
    ConsumerSession.java:175): a streaming scan filtered to exactly the
    assigned segments, starting at the subscription's cursor.

    ``start_checkpoint`` (a ``sources.scalable.Checkpoint``) is the
    SUBSCRIPTION cursor: per-segment start offsets below which rows are
    not (re-)delivered. This is what makes assignment HANDOVER safe —
    when a rebalance moves a segment to a different consumer, the new
    owner resumes from the subscription's position, not from earliest,
    exactly like the reference where the cursor lives on the
    subscription rather than the consumer. On receiving an assignment
    update, stop the current stream and re-open with the advanced
    cursor (the bounded ``run_to_end`` drain per assignment epoch is
    the batch-ish rendering of that consumer loop).

    ``subscription`` names a PERSISTED subscription in the topic's
    registry: its cursor and its individually-acked hole set
    (individualDeletedMessages — sources/ack_holes.py) are loaded from
    the registry itself, so the SAFE path is the default path — a
    resumed consumer cannot forget the holes and silently redeliver
    acked offsets. Explicit ``start_checkpoint`` / ``ack_holes``
    arguments override the loaded values (the coordinator's in-memory
    assignment flow passes its own), and remain the only option for
    caller-held (CheckpointConsumer-style) cursors that never persist.

    Scale shape: the segment membership filter is a predicate on the
    hive ``segment=N`` partition column, so each micro-batch's file
    listing PRUNES to the assigned segments — a consumer holding 2 of
    64 segments streams 1/32 of the arriving files. The offset filter
    rides the scan as a row-group-stat predicate."""
    from pulsar_spark.sources.scalable import _cursor, _resolve_latest, checkpoint_start_filter

    if subscription is not None:
        ck, holes = _cursor(topic_path, subscription)
        start_checkpoint = ck if start_checkpoint is None else start_checkpoint
        ack_holes = holes if ack_holes is None else ack_holes

    seg_ids = [int(s.segment_id) for s in assignment.segments]
    stream = _open_stream(spark, topic_path, max_files_per_trigger)
    # empty assignment = a predicate that matches nothing, NOT
    # stream.limit(0): global limits on streaming frames are only
    # supported by append/complete-mode sinks, while a false filter
    # works in any output mode
    stream = (
        stream.where(F.col("segment").isin(seg_ids))
        if seg_ids
        else stream.where(F.lit(False))
    )
    if start_checkpoint is not None:
        # the LATEST sentinel means "nothing stored is delivered": start
        # past the high watermarks snapshotted at subscribe time (same
        # semantics as read_from_checkpoint — NOT 'read from earliest')
        stream = checkpoint_start_filter(
            stream, _resolve_latest(spark, topic_path, start_checkpoint)
        )
    if ack_holes:
        # individualDeletedMessages consult on the streaming dispatch
        # path: pass the subscription's persisted hole set
        # (sources/ack_holes.subscription_ack_holes) so a resumed
        # consumer never re-receives individually-acked offsets past
        # the cursor. A literal range filter — streaming-safe, rides
        # the scan like the cursor filter.
        from pulsar_spark.sources.ack_holes import ack_hole_filter

        stream = ack_hole_filter(stream, ack_holes)
    return stream


def await_drain(q, timeout_s: float = 300):
    """Wait for a bounded (AvailableNow) query to finish and return it.
    On timeout the query is stopped and ``TimeoutError`` raised: a
    caller must never read a sink that is still being written."""
    if not q.awaitTermination(timeout_s):
        q.stop()
        raise TimeoutError(
            f"streaming query {q.name or q.id} did not finish within {timeout_s} s"
        )
    return q


def run_to_end(stream_writer, timeout_s: int = 120):
    """Run a streaming query with Trigger.AvailableNow to the current
    end of the topic and wait (the reference's ``reachedEndOfTopic``
    bounded-consume pattern). Returns the finished query; raises
    ``TimeoutError`` (query stopped) when it is not done in time."""
    return await_drain(stream_writer.trigger(availableNow=True).start(), timeout_s)


def subscribe_multi(
    spark: SparkSession,
    topic_paths: list[str],
    subscription_type: str = "exclusive",
    num_consumers: int = 1,
    max_files_per_trigger: int | None = None,
    interceptors=None,
) -> DataFrame:
    """Multi-topic subscription (client/impl/MultiTopicsConsumerImpl
    .java; topicsPattern/topics list on capi/ConsumerBuilder.java):
    one logical consumer over N topics = streaming UNION ALL of the
    per-topic scans (SURVEY.md §2.7). Each source keeps its own offset
    tracking in the shared checkpoint; per-partition order holds
    within each topic, with no cross-topic order (reference behavior).

    Key_Shared repartitioning and interceptors are applied to the
    UNIONED stream, so key ranges span all topics like a single
    consumer's hash space does.
    """
    if not topic_paths:
        raise ValueError("subscribe_multi needs at least one topic path")
    streams = [
        subscribe(
            spark,
            p,
            subscription_type="exclusive",  # per-topic scan; fanout below
            max_files_per_trigger=max_files_per_trigger,
        )
        for p in topic_paths
    ]
    out = streams[0]
    for s in streams[1:]:
        out = out.unionByName(s)
    return _dispatch(out, subscription_type, num_consumers, interceptors)


def _glob_stream(
    spark: SparkSession,
    pattern: str,
    path_cols: dict,
    subscription_type: str,
    num_consumers: int,
    max_files_per_trigger: int | None,
    interceptors,
) -> DataFrame:
    """Shared core of the pattern subscriptions: a streaming file scan
    over a multi-topic glob. Hive partition discovery refuses multiple
    glob-matched topic roots (CONFLICTING_DIRECTORY_STRUCTURES — each
    topic dir is its own table root), so discovery is disabled via
    recursiveFileLookup and ``path_cols`` rebuilds the layout columns
    from ``_metadata.file_path`` (populated by the file source in both
    batch and streaming) — a narrow projection, no extra I/O. At least
    one matching topic must exist up front for schema discovery (the
    reference likewise resolves the schema from an existing topic)."""
    static = spark.read.option("recursiveFileLookup", "true").parquet(pattern)
    reader = spark.readStream.schema(static.schema).option(
        "recursiveFileLookup", "true"
    )
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(pattern).withColumns(path_cols)
    return _dispatch(stream, subscription_type, num_consumers, interceptors)


def subscribe_pattern(
    spark: SparkSession,
    pattern: str,
    subscription_type: str = "exclusive",
    num_consumers: int = 1,
    max_files_per_trigger: int | None = None,
    interceptors=None,
) -> DataFrame:
    """Pattern-based multi-topic subscription with runtime
    auto-discovery (client/impl/PatternMultiTopicsConsumerImpl.java:
    the consumer re-evaluates ``topicsPattern`` periodically and starts
    consuming topics created after subscribe).

    Spark-first: the file streaming source re-LISTS the glob on every
    micro-batch, so a topic directory created mid-stream starts being
    consumed on the next trigger with no restart — the re-glob IS the
    reference's discovery timer. ``pattern`` is a filesystem glob over
    topic directories (e.g. ``/data/topics/events-*``).

    The envelope's ``topic`` column identifies each row's origin, so
    downstream routing stays per-topic even though the scan is unified.
    """
    return _glob_stream(
        spark,
        pattern,
        {
            "partition": F.regexp_extract(
                F.col("_metadata.file_path"), r"partition=(\d+)", 1
            ).cast("int"),
        },
        subscription_type,
        num_consumers,
        max_files_per_trigger,
        interceptors,
    )


def subscribe_scalable_pattern(
    spark: SparkSession,
    namespace_glob: str,
    subscription_type: str = "exclusive",
    num_consumers: int = 1,
    max_files_per_trigger: int | None = None,
    interceptors=None,
) -> DataFrame:
    """Namespace-wide scalable-topics watch as a streaming subscription
    (ScalableTopicsWatcher.java:158 onSnapshot / :188 onDiff +
    DagWatchClient.java:155 onUpdate, folded into the file source's
    per-trigger re-list): one stream over every scalable topic matching
    ``namespace_glob`` (e.g. ``/ns/orders-*``).

    Both discovery events the reference watcher pushes arrive here for
    free, because both materialize as NEW FILES under the glob:

    - a topic CREATED mid-stream (watcher Diff: added) — its segment
      files appear under a new topic dir, consumed on the next trigger
      with no restart;
    - a segment SPLIT mid-stream (DAG update) — rows produced after the
      split land in ``segment=<child>`` dirs and are consumed on the
      next trigger; the sealed parent's already-consumed files are in
      the source's seen-files log, so nothing re-delivers.

    Rows carry ``topic_name`` and ``segment`` recovered from the file
    path. Per-key publish order across a split is (segment_id, offset)
    within a topic — the single-topic contract, unchanged by the union.
    Property-filtered membership (the watcher's AND-filters) composes
    via an interceptor: re-evaluate ``scalable_watch_snapshot`` in
    foreachBatch and semi-join on ``topic_name``.
    """
    return _glob_stream(
        spark,
        namespace_glob,
        {
            "segment": F.regexp_extract(
                F.col("_metadata.file_path"), r"segment=(\d+)", 1
            ).cast("int"),
            "topic_name": F.regexp_extract(
                F.col("_metadata.file_path"), r"([^/]+)/segment=\d+/", 1
            ),
        },
        subscription_type,
        num_consumers,
        max_files_per_trigger,
        interceptors,
    )
