"""Topic storage — the partitioned append-only log as a Parquet table.

Reference semantics (SURVEY.md §3.1): a producer routes each message to
a partition (key-hash Murmur3 or round-robin —
pulsar-client/.../impl/RoundRobinPartitionMessageRouterImpl.java:36,
MessageRouterBase.java:31-34), mints envelope metadata (producer_name,
sequence_id, publish_time), and the broker assigns (ledgerId, entryId)
positions — our (partition, offset).

Spark-first layout: one directory per topic, hive-partitioned by
``partition=N`` so partition pruning is free on read; per-partition
offsets are dense and monotonic. Writes repartition by the topic
partition BEFORE ``partitionBy`` so each partition directory is written
by exactly one task (avoids the tasks x partitions small-file
explosion — at 1000 executors that is the difference between 8 files
and 8000 per append).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from pulsar_spark.durable import read_json, write_atomic


class BacklogQuotaExceededError(RuntimeError):
    """ProducerBlockedQuotaExceededException analog: the topic's stored
    backlog is at or over its quota and the policy refuses the send."""


class ProducerBusyError(RuntimeError):
    """ProducerBusyException analog: another producer holds exclusive
    access to the topic (ProducerAccessMode.Exclusive javadoc: 'Fail
    immediately if there's already a producer connected')."""


class ProducerFencedError(RuntimeError):
    """ProducerFencedException analog: this producer's exclusive access
    was taken over by an ExclusiveWithFencing producer ('Any existing
    producer will be removed and invalidated immediately')."""


def _producer_lock_path(topic_path: str) -> str:
    import os

    return os.path.join(topic_path, "_producer_lock.json")


def producer_lock(topic_path: str) -> dict | None:
    """The topic's exclusive-producer registration, or None."""
    return read_json(_producer_lock_path(topic_path))


from contextlib import contextmanager


@contextmanager
def _lock_guard(topic_path: str):
    """Serialize lock-record read-modify-writes across processes: an
    fcntl.flock on a sidecar guard file (two concurrent producers on
    the old bare read-check-write could both pass the owner check and
    both believe they held exclusive access)."""
    import fcntl
    import os

    os.makedirs(topic_path, exist_ok=True)
    guard = _producer_lock_path(topic_path) + ".guard"
    with open(guard, "a+") as g:
        fcntl.flock(g, fcntl.LOCK_EX)
        try:
            yield
        finally:
            fcntl.flock(g, fcntl.LOCK_UN)


def _write_producer_lock(topic_path: str, record: dict) -> None:
    write_atomic(_producer_lock_path(topic_path), record)


def acquire_producer(
    topic_path: str,
    producer_name: str,
    access_mode: str = "exclusive",
    wait_timeout_s: float = 30.0,
    poll_interval_s: float = 0.05,
) -> int:
    """Register exclusive access (capi/ProducerAccessMode.java):

    - ``exclusive``: fail with ProducerBusyError if a DIFFERENT
      producer already holds the topic.
    - ``wait_for_exclusive``: queue for the lock — block (poll under
      the cross-process guard) until the current owner releases, then
      acquire with a bumped epoch; ProducerBusyError after
      ``wait_timeout_s``.
    - ``exclusive_with_fencing``: take over unconditionally; the
      previous owner is fenced and its next produce raises
      ProducerFencedError.

    Returns the topic epoch (bumped on every ownership change — the
    broker's topic-epoch fencing counter). The read-modify-write runs
    under an fcntl guard and the record lands via temp-file +
    atomic-rename, so concurrent producers cannot both acquire.
    """
    import time

    if access_mode not in ("exclusive", "wait_for_exclusive", "exclusive_with_fencing"):
        raise ValueError(f"unknown access mode: {access_mode}")
    deadline = time.monotonic() + wait_timeout_s
    while True:
        with _lock_guard(topic_path):
            lock = producer_lock(topic_path)
            if lock and lock["owner"] == producer_name:
                return lock["epoch"]
            if lock and producer_name in lock.get("fenced", []):
                # a fenced producer stays invalid however it reconnects
                raise ProducerFencedError(
                    f"producer {producer_name} was fenced off {topic_path} "
                    f"(current owner: {lock['owner']})"
                )
            busy = lock is not None and lock["owner"] is not None
            if busy and access_mode == "exclusive":
                raise ProducerBusyError(
                    f"topic {topic_path} exclusively held by {lock['owner']}"
                )
            if not busy or access_mode == "exclusive_with_fencing":
                fenced = list(lock.get("fenced", [])) if lock else []
                if busy:
                    fenced.append(lock["owner"])
                epoch = lock["epoch"] + 1 if lock else 0
                _write_producer_lock(
                    topic_path,
                    {"owner": producer_name, "epoch": epoch, "fenced": fenced},
                )
                return epoch
        # wait_for_exclusive with a live owner: poll until release
        if time.monotonic() >= deadline:
            raise ProducerBusyError(
                f"timed out waiting for exclusive access to {topic_path}"
            )
        time.sleep(poll_interval_s)


def release_producer(topic_path: str, producer_name: str) -> None:
    """Producer.close analog for an exclusive producer: give up
    ownership (only the current owner may). The lock record is KEPT
    with a null owner so the topic epoch stays monotonic (it is the
    fencing counter — a regression would un-detect ownership changes)
    and already-fenced producers remain invalid."""
    with _lock_guard(topic_path):
        lock = producer_lock(topic_path)
        if lock is None:
            return
        if lock["owner"] != producer_name:
            raise ProducerBusyError(
                f"{producer_name} does not hold {topic_path} (owner: {lock['owner']})"
            )
        lock["owner"] = None
        _write_producer_lock(topic_path, lock)


def _sq(s: str) -> str:
    """SQL single-quoted string literal."""
    return "'" + s.replace("'", "''") + "'"


def _qi(c: str) -> str:
    """SQL backtick-quoted identifier (backticks double to escape):
    payload column names are caller data, not trusted SQL."""
    return "`" + c.replace("`", "``") + "`"


def _route_sql(
    key_sql: str | None, num_partitions: int, routing_mode: str, producer_name: str
) -> str:
    """Partition of a message as SQL text, per capi/MessageRoutingMode.java.
    Keyed messages ALWAYS hash-route via Murmur3 (Spark's ``hash`` is
    Murmur3 x86/32) regardless of routing mode
    (client/impl/MessageRouterBase.java:31-34 choosePartition: a present
    key wins over the mode); null or absent keys follow the mode:
    - ``round_robin`` (RoundRobinPartition, the default): spread across
      all partitions. The reference's per-producer counter is
      inherently sequential; the distributed analog is a narrow
      interleave over Spark's per-task monotonic id — no shuffle, even
      spread, each task cycles through every partition.
    - ``single`` (SinglePartition): every keyless message from this
      producer lands on ONE partition chosen by hashing the producer
      name (client/impl/SinglePartitionMessageRouterImpl — the impl
      picks a random-but-sticky index; we make it the producer-name
      hash so it is deterministic and stable across appends).
    """
    n = int(num_partitions)
    if routing_mode == "single":
        keyless = f"pmod(hash({_sq(producer_name)}), {n})"
    else:
        keyless = f"pmod(monotonically_increasing_id(), {n})"
    if key_sql is None:
        return f"CAST({keyless} AS INT)"
    return (
        f"CAST(CASE WHEN {key_sql} IS NOT NULL THEN pmod(hash({key_sql}), {n}) "
        f"ELSE {keyless} END AS INT)"
    )


def route_partition(
    key: str,
    num_partitions: int,
    routing_mode: str = "round_robin",
    producer_name: str = "producer-0",
):
    """Key column name -> partition Column, built from the routing text
    ``produce`` uses (see ``_route_sql``)."""
    return F.expr(_route_sql(_qi(key), num_partitions, routing_mode, producer_name))


def _sql_over(
    spark: SparkSession, df: DataFrame, prefix: str, suffix: str = ""
) -> DataFrame:
    """Run ``prefix + <temp view of df> + suffix`` WITHOUT PySpark's
    string.Formatter parameterization, so statements built from
    caller-supplied column names survive braces and other
    formatter-significant characters. The view name is spliced between
    the two halves rather than substituted at a marker, so no column
    name or literal — whatever bytes it contains — can ever collide
    with the splice point. Costs the same view register/drop the
    formatter pays internally."""
    import uuid

    view = "_ps_sql_over_" + uuid.uuid4().hex
    df.createOrReplaceTempView(view)
    try:
        return spark.sql(prefix + view + suffix)
    finally:
        spark.catalog.dropTempView(view)


def _append_log(
    payload: DataFrame,
    topic_path: str,
    lane: str,
    lanes: int,
    route_sql: str,
    producer_name: str,
    key_col: str | None,
    event_time_col: str | None,
    existing: DataFrame | None,
    codec: str,
    mode: str = "append",
    carry: dict[str, str] | None = None,
    stamps: dict[str, str] | None = None,
    seal: dict[str, str] | None = None,
    pre_step=None,
) -> None:
    """The log append of both topic kinds: mint the envelope, number
    offsets per lane in send order, rebase them on the stored high
    offsets, write. ``lane`` is the hive partition column
    (``partition`` on classic topics, ``segment`` on scalable ones),
    ``lanes`` its count and ``route_sql`` the SQL text that picks it.

    A caller adds its own columns as ``{name: sql}``: ``carry`` in the
    first projection, where every payload column is still in scope;
    ``stamps`` beside the envelope, above the shuffle; ``seal`` after
    the rebase, so it may read the final ``offset``. ``pre_step``
    (DataFrame -> DataFrame) runs between the mint and the offset
    window; it must keep ``_send_order``.

    The whole envelope is ONE SQL statement, i.e. ONE eager analyzer
    pass and one py4j round-trip. Classic PySpark analyzes on every
    transformation, so the former selectExpr/withColumn chain paid 4-5
    analyses of a growing tree: ~170 ms of pure driver time per append
    (measured r11, warm), the dominant fixed cost of a sub-second
    produce. The fused statement measured ~120 ms build+plan for the
    same tree; the identical tree built Column-by-Column cost another
    ~120 ms of driver time per append (r11, warm), so the expressions
    are SQL text (Murmur3 ``hash`` either way).
    """
    spark = payload.sparkSession
    carry, stamps, seal = carry or {}, stamps or {}, seal or {}
    # Envelope columns REPLACE same-named payload columns. The match
    # must follow the SESSION's resolution rule: under the default
    # case-insensitive resolution a payload column "Partition" collides
    # with the minted `partition` in the window's PARTITION BY
    # (AMBIGUOUS_REFERENCE), so fold case before matching. Under
    # spark.sql.caseSensitive=true there is no collision and
    # "Partition" is a DISTINCT user column that must survive, so match
    # exactly there (folding would silently drop it).
    minted = {lane, "producer_name", "offset", "publish_time", "event_time",
              "key", "_route", "_send_order", *carry, *stamps, *seal}
    fold = str(spark.conf.get("spark.sql.caseSensitive", "false")).lower() != "true"
    base = [_qi(c) for c in payload.columns if (c.lower() if fold else c) not in minted]
    ev_sql = _qi(event_time_col) if event_time_col else "current_timestamp()"
    key_sql = f"CAST({_qi(key_col)} AS STRING)" if key_col else "CAST(NULL AS STRING)"
    # Send order (_send_order) must be captured BEFORE any shuffle: a
    # monotonic id minted below the exchange is stable per input row,
    # while one computed above it would follow shuffle-fetch arrival
    # order — nondeterministic across runs/retries on a real cluster,
    # which would break the offset=publish-order contract that
    # compaction keep-latest and per-key reads rely on. (Catalyst never
    # collapses projections across a non-deterministic expression, so
    # the id stays below the REPARTITION node.)
    mint_sql = "SELECT " + ", ".join(
        base
        + [f"{sql} AS {_qi(name)}" for name, sql in carry.items()]
        + [
            f"{route_sql} AS {_qi(lane)}",
            f"{_sq(producer_name)} AS producer_name",
            f"{key_sql} AS key",
            f"{ev_sql} AS event_time",
            "monotonically_increasing_id() AS _send_order",
        ]
    ) + " FROM "
    if pre_step is not None:
        # the pre-step's own shuffle sits between the mint and the
        # window, so the mint runs alone and the statement reads its result
        payload = pre_step(_sql_over(spark, payload, mint_sql))
        mint_sql = "SELECT * FROM "
    # Pin the offset-window shuffle to min(lanes, cores) tasks, each
    # holding whole lanes. The window's ClusteredDistribution(lane) is
    # satisfied by this explicit hash partitioning, so no second
    # exchange, and each lane still gets one file per append. Unlike
    # the implicit window shuffle, an explicit repartition is exempt
    # from AQE partition coalescing, which on small appends was merging
    # the whole batch into ONE task and serializing the write (measured
    # ~40% of B1 wall time). More tasks than cores only add task
    # commits and scheduling: at local[2] an 8-partition append ran
    # 14.5 tasks in all with one task per lane, and 8.5-9 with this count.
    n_tasks = min(int(lanes), spark.sparkContext.defaultParallelism)
    env = ", ".join(
        base
        + [_qi(name) for name in carry]
        + [_qi(lane), "`producer_name`"]
        + [f"{sql} AS {_qi(name)}" for name, sql in stamps.items()]
        + [
            f"CAST(row_number() OVER (PARTITION BY {_qi(lane)} "
            "ORDER BY _send_order) - 1 AS BIGINT) AS offset",
            "current_timestamp() AS publish_time",
            "`event_time`",
            "`key`",
        ]
    )
    win = (
        f"SELECT {env} FROM (SELECT /*+ REPARTITION({n_tasks}, {_qi(lane)}) */ * "
        f"FROM ({mint_sql}"
    )
    sealed = ["*"] + [f"{sql} AS {_qi(name)}" for name, sql in seal.items()]
    # Offsets continue from each lane's stored high offset: a grouped
    # MAX scan of the `offset` column, joined as a broadcast.
    if existing is None:
        # fresh topic: no rebase, so the seal fuses into the statement
        df = _sql_over(spark, payload, "SELECT " + ", ".join(sealed) + " FROM (" + win, ")))")
    else:
        high = existing.groupBy(lane).agg(F.max("offset").alias("_base"))
        df = (
            _sql_over(spark, payload, win, "))")
            .join(F.broadcast(high), on=lane, how="left")
            .withColumn("offset", F.col("offset") + F.coalesce(F.col("_base") + 1, F.lit(0)))
            .drop("_base")
            .selectExpr(*sealed)
        )
    # AQE off for THIS write action (r12): the plan is scan -> fused
    # mint -> explicit REPARTITION(n, lane) -> offset window -> write.
    # AQE cannot improve that shape — there is no join to
    # re-strategize, skew handling applies only to joins, and the
    # explicit column+count repartition is exempt from partition
    # coalescing — but adaptive execution still materializes the
    # shuffle map stage as its own query-stage job and re-plans at the
    # boundary: a whole job per shuffle of a ~0.5 s append, at every
    # data size (re-measured at local[2] on 4 cores: 5 jobs per ingest
    # append without this scope against 3 with it, wall time within
    # noise). The offset-rebase broadcast
    # join carries an explicit broadcast hint, which the static planner
    # honors identically. Session confs are process-global, so the
    # scope is kept to the single write action and restored in
    # ``finally``; a concurrent query on another thread of the same
    # session during this sub-second window would plan without AQE —
    # correct, just not adaptive.
    # Hot-tier appends default to snappy (CompressionType.java:29-43 puts
    # the codec choice on the producer): encode cost sits on the ingest
    # critical path (snappy measured ~20% faster than lz4 end-to-end on
    # the partitioned append), while compaction / tiered offload rewrite
    # cold data to zstd where ratio matters more than speed.
    prev_aqe = spark.conf.get("spark.sql.adaptive.enabled", "true")
    try:
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        df.write.mode(mode).option("compression", codec).partitionBy(lane).parquet(topic_path)
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev_aqe)


def produce(
    payload: DataFrame,
    topic_path: str,
    key_col: str | None = None,
    num_partitions: int | None = None,
    producer_name: str = "producer-0",
    event_time_col: str | None = None,
    mode: str = "append",
    sequence_col: str | None = None,
    codec: str = "snappy",
    registry=None,
    interceptors=None,
    routing_mode: str = "round_robin",
    message_router=None,
    quota_rows: int | None = None,
    quota_policy: str = "exception",
    access_mode: str = "shared",
) -> None:
    """Append payload rows to a topic with full envelope minting.

    ``interceptors`` is an ordered list of ``DataFrame -> DataFrame``
    callables applied to the payload before routing/minting — the
    ProducerInterceptor.beforeSend chain
    (capi/interceptor/ProducerInterceptor.java:83); each sees the
    previous one's output. They run as plan transformations, not
    per-row callbacks, so an interceptor that sticks to built-in
    expressions costs nothing extra at scale.

    Offsets continue from the topic's current per-partition high
    watermark (a grouped MAX scan of the stored ``offset`` column,
    joined as a one-row-per-partition broadcast).

    Pass ``sequence_col`` to supply caller sequence ids and get
    broker-side effectively-once semantics: a row is silently dropped
    when its sequence is at or below the highest one this producer has
    already pushed, whether stored in the topic or sent earlier in the
    same batch (MessageDeduplication.java:279-281 isDuplicate). So
    in-batch repeats keep the first in send order, and a sequence lower
    than an earlier send is dropped too.

    Pass ``registry`` (a ``pulsar_spark.schema_registry.SchemaRegistry``)
    to enforce the topic's registered schema on the write path — the
    AUTO_PRODUCE_BYTES analog (Schema.java:450): an append whose frame
    doesn't match the latest registered version raises before any file
    is written.
    """
    # ProducerAccessMode enforcement: an exclusive holder excludes
    # every other producer (shared ones get Busy); a fenced ex-owner
    # gets Fenced (capi/ProducerAccessMode.java).
    if access_mode != "shared":
        acquire_producer(topic_path, producer_name, access_mode)
    else:
        lock = producer_lock(topic_path)
        if lock is not None and lock["owner"] != producer_name:
            if producer_name in lock.get("fenced", []):
                raise ProducerFencedError(
                    f"producer {producer_name} was fenced off {topic_path} "
                    f"(current owner: {lock['owner']})"
                )
            if lock["owner"] is not None:
                raise ProducerBusyError(
                    f"topic {topic_path} exclusively held by {lock['owner']}"
                )
    for icept in interceptors or []:
        payload = icept(payload)
    if registry is not None:
        # the topic directory doubles as its policy dir, so a stored
        # schema_validation_enforced policy gates schema-less appends
        registry.validate_produce(topic_path, payload, policy_dir=topic_path)
    # One read of the stored topic serves the quota check, the dedup
    # high-water map and the offset rebase below — not three separate
    # jobs per append. Presence is decided by the partition= dirs (a
    # metadata check), so a real read error on existing data PROPAGATES
    # instead of being silently treated as an empty topic.
    existing = (
        _stored_envelope(payload.sparkSession, topic_path, "partition")
        if mode == "append"
        else None
    )
    if quota_rows is not None and mode == "append":
        # Producer-side backlog-quota policies (BacklogQuotaManager:
        # producer_exception raises ProducerBlockedQuotaExceededException,
        # producer_request_hold blocks the send — in a batch engine both
        # refuse the append; consumer_backlog_eviction is the
        # cursor-advance path in operators/retention.backlog_quota_evict).
        # The row count is parquet-footer metadata, not a data scan.
        if quota_policy not in ("exception", "request_hold"):
            raise ValueError(f"unknown quota_policy: {quota_policy}")
        stored = existing.count() if existing is not None else 0
        if stored >= quota_rows:
            raise BacklogQuotaExceededError(
                f"topic {topic_path} holds {stored} rows >= quota {quota_rows} "
                f"(policy {quota_policy}); drain or evict before producing"
            )
    if num_partitions is None:
        # partition count comes from the topic metadata sidecar when the
        # topic was created explicitly (createPartitionedTopic analog);
        # ad-hoc topics default to 8
        meta = topic_metadata(topic_path)
        num_partitions = meta["num_partitions"] if meta else 8

    # Routing mirrors MessageRoutingMode (capi/MessageRoutingMode.java):
    # an explicit ``message_router`` (Column, or callable DataFrame ->
    # Column) is CustomPartition; otherwise keyed rows hash-route and
    # keyless rows follow ``routing_mode`` ("round_robin" | "single").
    if message_router is not None:
        router = message_router(payload) if callable(message_router) else message_router
        payload = payload.withColumn("_route", router.cast("bigint"))
        route_sql = f"CAST(pmod(_route, {int(num_partitions)}) AS INT)"
    else:
        route_sql = _route_sql(
            _qi(key_col) if key_col else None, num_partitions, routing_mode, producer_name
        )
    # sequence_id: the dedup contract (MessageDeduplication.java:279-281)
    # only needs strict monotonicity in send order per producer — reject
    # sequence <= highest-seen — not dense numbering. Mint it AFTER
    # offset rebasing as the bijection offset*num_partitions+partition
    # (send order = round-robin interleave across partitions): unique
    # per producer, strictly increasing along every partition's log
    # across appends, and a narrow expression — no extra pass, no
    # single-task global window (a window over producer_name would
    # serialize the whole batch into one task).
    carry = {}
    seal = {"sequence_id": f"CAST(offset * {int(num_partitions)} + `partition` AS BIGINT)"}
    pre_step = None
    if sequence_col is not None:
        carry, seal = {"sequence_id": f"CAST({_qi(sequence_col)} AS BIGINT)"}, {}
        high = _existing_sequences(existing)

        def pre_step(df: DataFrame) -> DataFrame:
            # MessageDeduplication.isDuplicate drops every sequence at or
            # below the highest one already pushed, so a row survives only
            # above both its producer's stored high and the running max
            # of the batch's earlier sends. That also drops in-batch
            # repeats, keeping the first in send order. The window keeps
            # each survivor's own _send_order, so offsets follow send
            # order. The stored high applies on append only: an overwrite
            # discards the stored log and its high-water map with it.
            prev = F.max("sequence_id").over(
                Window.partitionBy("producer_name")
                .orderBy("_send_order")
                .rowsBetween(Window.unboundedPreceding, -1)
            )
            if high is not None:
                df = df.join(F.broadcast(high), on="producer_name", how="left")
                prev = F.greatest(prev, F.col("_hiseq"))
            return (
                df.withColumn("_prevseq", prev)
                .where(F.col("_prevseq").isNull() | (F.col("sequence_id") > F.col("_prevseq")))
                .drop("_prevseq", "_hiseq")
            )

    import os

    topic_name = "persistent://public/default/" + os.path.basename(topic_path.rstrip("/"))
    # An overwrite clears the whole topic directory including the
    # _topic.json metadata sidecar; capture it first and restore after so
    # partition count / properties survive (truncate_topic keeps it too —
    # the sidecar is topic identity, not data).
    preserved_meta = topic_metadata(topic_path) if mode != "append" else None
    # the producer lock is topic identity too — an overwrite clears the
    # directory, so restore the registration afterwards
    preserved_lock = producer_lock(topic_path) if mode != "append" else None
    wrote_ok = False
    try:
        _append_log(
            payload, topic_path, "partition", num_partitions, route_sql,
            producer_name, key_col, event_time_col, existing, codec,
            mode="append" if mode == "append" else "overwrite",
            carry=carry, stamps={"topic": _sq(topic_name)}, seal=seal,
            pre_step=pre_step,
        )
        wrote_ok = True
    finally:
        # Restore the sidecar even if the data write failed partway —
        # topic identity (partition count, properties) must survive a
        # botched overwrite. The restored partition count must describe
        # the data actually ON DISK: after a successful overwrite that
        # is the resolved count the new data was routed over; after a
        # FAILED overwrite (e.g. analysis error before any file was
        # deleted) the old data may be fully intact, so the ORIGINAL
        # count is restored — stamping the caller's new count there
        # would desynchronize routing from storage.
        if preserved_meta is not None:
            create_topic(
                topic_path,
                num_partitions=(
                    num_partitions if wrote_ok else preserved_meta["num_partitions"]
                ),
                properties=preserved_meta.get("properties"),
            )
        if preserved_lock is not None:
            _write_producer_lock(topic_path, preserved_lock)


def _has_data(topic_path: str, prefix: str) -> bool:
    """Presence = ``{prefix}`` subdirectories exist (cheap metadata
    check, mirroring the hive layout the writers produce — ``partition=``
    for classic topics, ``segment=`` for scalable ones)."""
    import os

    return os.path.isdir(topic_path) and any(
        n.startswith(prefix) for n in os.listdir(topic_path)
    )


def _read_topic_if_present(
    spark: SparkSession, topic_path: str, prefix: str = "partition="
) -> DataFrame | None:
    """The stored topic table, or None when no data has ever been
    written (see ``_has_data``), so that an actual read error on
    present data raises instead of masquerading as an empty topic."""
    return spark.read.parquet(topic_path) if _has_data(topic_path, prefix) else None


def _stored_envelope(
    spark: SparkSession, topic_path: str, lane: str
) -> DataFrame | None:
    """The stored columns an append reads — ``<lane>``, ``offset``,
    ``producer_name``, ``sequence_id`` — or None for a topic with no
    data. The schema is declared, not inferred: inference reads a footer
    in a one-task Spark job on every append. Scalable topics store no
    ``sequence_id``; nothing reads it on their path, so the scan prunes it."""
    if not _has_data(topic_path, f"{lane}="):
        return None
    return spark.read.schema(
        f"{_qi(lane)} INT, offset BIGINT, producer_name STRING, sequence_id BIGINT"
    ).parquet(topic_path)


def _existing_sequences(existing: DataFrame | None) -> DataFrame | None:
    """Highest stored sequence per producer — the dedup high-water map
    (MessageDeduplication.java:112 highestSequencedPushed)."""
    if existing is None:
        return None
    return existing.groupBy("producer_name").agg(F.max("sequence_id").alias("_hiseq"))


def stored_high_offsets(stored: DataFrame, lane: str = "partition") -> dict[int, int]:
    """Highest stored offset per lane (``partition`` on classic topics,
    ``segment`` on scalable ones) of a topic frame, collected: one
    grouped MAX scan of the ``offset`` column (no aggregate pushdown on
    the v1 parquet source). The one aggregate behind past-the-end vectors
    (``scalable._past_end``), compaction horizons and marker offsets."""
    return {
        int(r[0]): int(r[1])
        for r in stored.groupBy(lane).agg(F.max("offset")).collect()
    }


def write_topic(
    messages: DataFrame,
    topic_path: str,
    mode: str = "overwrite",
    repartition: bool = True,
    codec: str | None = None,
) -> None:
    """Write an already-enveloped message DataFrame as a topic table.

    ``repartition(partition)`` first: one writer task per topic
    partition, one file per append per partition. Pass
    ``repartition=False`` when the input is already hash-partitioned by
    ``partition`` (e.g. straight out of the envelope window) to skip
    the redundant shuffle.

    ``codec=None`` (default) inherits the session parquet codec (zstd)
    — right for cold rewrites (compaction's ``__compacted`` side table,
    fixtures) where ratio beats encode speed. Pass ``codec='snappy'``
    on the hot ingest path, as ``produce`` does.
    """
    df = messages.repartition("partition") if repartition else messages
    w = df.write.mode(mode)
    if codec is not None:
        w = w.option("compression", codec)
    w.partitionBy("partition").parquet(topic_path)


def read_topic(
    spark: SparkSession,
    topic_path: str,
    start_offset: int | None = None,
    start_time: str | None = None,
    interceptors=None,
    end_offset: int | None = None,
    end_time: str | None = None,
) -> DataFrame:
    """Batch scan of a topic (Reader analog — capi/Reader.java:116-159:
    scan from explicit position or timestamp). Offset/time predicates
    push down to the parquet scan; the partition column prunes
    directories.

    ``end_offset`` / ``end_time`` bound the scan inclusively — the
    startTimestamp/endTimestamp consume window (PIP-435: client CLI
    consumes messages published within [start, end]).

    ``interceptors``: ordered ``DataFrame -> DataFrame`` callables
    applied to the scan before returning — the
    ConsumerInterceptor.beforeConsume chain
    (capi/ConsumerInterceptor.java:118). Interceptors that only add
    filters/projections still push down through them."""
    df = spark.read.parquet(topic_path)
    if start_offset is not None:
        df = df.where(F.col("offset") >= start_offset)
    if start_time is not None:
        df = df.where(F.col("publish_time") >= F.lit(start_time).cast("timestamp"))
    if end_offset is not None:
        df = df.where(F.col("offset") <= end_offset)
    if end_time is not None:
        df = df.where(F.col("publish_time") <= F.lit(end_time).cast("timestamp"))
    # interceptors run after cursor positioning, like beforeConsume
    # fires on messages already selected for delivery
    for icept in interceptors or []:
        df = icept(df)
    return df


def write_topic_bucketed(
    messages: DataFrame,
    table_name: str,
    n_buckets: int = 32,
    key_col: str = "key",
    path: str | None = None,
    mode: str = "overwrite",
) -> None:
    """Write a topic as a BUCKETED table: rows hash-clustered by key
    into ``n_buckets`` file groups, sorted by key within each bucket.

    This is the at-rest analog of Key_Shared dispatch (SURVEY.md §2.9:
    sticky key-hash ranges) and the scale path for every keyed
    operator: compaction, TableView materialization, and key-grouped
    aggregation read bucket metadata from the catalog and run with NO
    shuffle — at 100 TB that deletes the single biggest cost of a
    latest-per-key rewrite. A join between two topics bucketed the
    same way (same key, same bucket count) is likewise shuffle-free.

    Requires a table catalog (``saveAsTable``); pass ``path`` to keep
    the data external at a chosen location.
    """
    writer = (
        messages.write.mode(mode)
        .format("parquet")
        .bucketBy(n_buckets, key_col)
        .sortBy(key_col)
    )
    if path is not None:
        writer = writer.option("path", path)
    writer.saveAsTable(table_name)


def read_topic_table(spark: SparkSession, table_name: str) -> DataFrame:
    """Catalog read of a bucketed topic table (bucket metadata intact,
    so Catalyst elides exchanges on the bucket key)."""
    return spark.table(table_name)

def create_topic(
    topic_path: str, num_partitions: int = 8, properties: dict | None = None
) -> None:
    """Create a partitioned topic: record its metadata sidecar
    (``_topic.json``) — the createPartitionedTopic admin analog
    (pulsar-client-admin-api/.../admin/Topics.java createPartitionedTopic).
    ``produce`` reads the partition count from here when the caller
    doesn't pass one, so every writer routes over the same key space.
    """
    import os

    meta = {"num_partitions": int(num_partitions), "properties": properties or {}}
    write_atomic(os.path.join(topic_path, "_topic.json"), meta)


def update_partitions(topic_path: str, num_partitions: int) -> None:
    """Topics.updatePartitionedTopic analog (pulsar-client-admin-api/
    .../admin/Topics.java updatePartitionedTopic): grow a partitioned
    topic's partition count. The reference broker rejects a decrease
    (new count must exceed the current one) because consumers' hash
    ranges and existing data can't shrink — same rule here.

    Stored data is untouched: hive-partitioned parquet reads the old
    ``partition=N`` directories exactly as before, and the next
    ``produce`` picks up the new count from the sidecar and routes over
    the wider space. Keyed routing consequently remaps keys across the
    boundary — exactly the reference's documented behavior (key->
    partition assignment is only stable for a fixed partition count).
    """
    meta = topic_metadata(topic_path)
    if meta is None:
        raise ValueError(f"not a partitioned topic (no _topic.json): {topic_path}")
    if int(num_partitions) <= int(meta["num_partitions"]):
        raise ValueError(
            f"new partition count {num_partitions} must exceed current "
            f"{meta['num_partitions']} (the reference only grows topics)"
        )
    create_topic(topic_path, num_partitions=int(num_partitions), properties=meta.get("properties"))


def topic_metadata(topic_path: str) -> dict | None:
    """Read the topic's metadata sidecar, or None for an ad-hoc topic."""
    import os

    return read_json(os.path.join(topic_path, "_topic.json"))


def truncate_topic(topic_path: str) -> None:
    """Topics.truncate analog (pulsar-client-admin-api/.../admin/
    Topics.java:4435): delete every stored message but keep the topic
    itself — the metadata sidecar (partition count, properties)
    survives, so the next ``produce`` routes over the same key space
    and offsets restart at 0 per partition.

    Implemented as a directory-level delete of the ``partition=*``
    subtrees (no job, no scan): truncation is a metadata operation in
    the reference and stays one here.
    """
    import os
    import shutil

    for name in os.listdir(topic_path):
        p = os.path.join(topic_path, name)
        if name.startswith("partition=") and os.path.isdir(p):
            shutil.rmtree(p)
        elif name.startswith("_SUCCESS") or name.startswith("part-"):
            os.remove(p) if os.path.isfile(p) else shutil.rmtree(p)


def list_topics_by_metadata(
    namespace_dir: str, loader, property_filters: dict | None = None
) -> list[str]:
    """Shared namespace-listing walk (PIP-452 customizable topic
    listing): every directory whose ``loader`` yields a metadata dict,
    optionally filtered to those whose properties contain ALL given
    key/value pairs. ``loader(path) -> dict | None`` abstracts which
    sidecar defines topic-ness (classic ``_topic.json`` vs scalable
    ``_scalable.json``) so both listings share one filter semantic."""
    import os

    out = []
    if not os.path.isdir(namespace_dir):
        return out
    for name in sorted(os.listdir(namespace_dir)):
        p = os.path.join(namespace_dir, name)
        meta = loader(p) if os.path.isdir(p) else None
        if meta is None:
            continue
        if property_filters:
            props = meta.get("properties", {})
            if any(props.get(k) != v for k, v in property_filters.items()):
                continue
        out.append(p)
    return out


def list_topics(namespace_dir: str, property_filters: dict | None = None) -> list[str]:
    """Classic-topic namespace listing with property filters."""
    return list_topics_by_metadata(namespace_dir, topic_metadata, property_filters)


def check_topic_consistency(spark: SparkSession, topic_path: str) -> dict:
    """Topic integrity check (PIP-414 enforce topic consistency): one
    aggregation pass validating the storage invariants the engine
    relies on. Returns a report dict; ``ok`` is True when every
    invariant holds:

    - no duplicate (partition, offset) message ids;
    - offsets CONTIGUOUS per partition (max - min + 1 == count; the
      low end need not be 0 — tiered offload legitimately trims the
      hot tier's oldest offsets away);
    - every stored partition is within the sidecar's declared count
      (routing and storage agree).
    """
    df = _read_topic_if_present(spark, topic_path)
    if df is None:
        return {"ok": True, "partitions": 0, "rows": 0, "problems": []}
    per = (
        df.groupBy("partition")
        .agg(
            F.count("*").alias("rows"),
            F.min("offset").alias("min_offset"),
            F.max("offset").alias("max_offset"),
            F.countDistinct("offset").alias("distinct_offsets"),
        )
        .collect()
    )
    problems = []
    for r in per:
        if r.distinct_offsets != r.rows:
            problems.append(f"partition {r.partition}: duplicate offsets")
        if r.max_offset - r.min_offset + 1 != r.rows:
            problems.append(
                f"partition {r.partition}: offsets not contiguous "
                f"(range [{r.min_offset}, {r.max_offset}], rows {r.rows})"
            )
    meta = topic_metadata(topic_path)
    if meta is not None:
        declared = int(meta["num_partitions"])
        stored = {r.partition for r in per}
        extra = {p for p in stored if p >= declared}
        if extra:
            problems.append(
                f"partitions {sorted(extra)} outside declared count {declared}"
            )
    return {
        "ok": not problems,
        "partitions": len(per),
        "rows": sum(r.rows for r in per),
        "problems": problems,
    }
