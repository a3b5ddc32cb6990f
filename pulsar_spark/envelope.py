"""The message envelope — Pulsar's system columns as a Spark schema.

Reference: the wire model ``MessageMetadata`` in
pulsar-common/src/main/proto/PulsarApi.proto:108-166 and the accessor
surface pulsar-client-api/.../api/Message.java:49-281. Every message
carries producer_name, sequence_id, publish_time, event_time, key,
deliver_at, marker_type, ... (SURVEY.md §1.2). A topic is a partitioned
append-only log; a MessageId is (ledgerId, entryId) which we model as a
(partition, offset) pair with per-partition monotonic offsets.

Two mappings live here:

1. ``events_to_messages`` — the DETERMINISTIC mapping from the driver's
   ``events`` table to the envelope (FIXTURES.md F1-F4). It is defined
   with arithmetic only (modulo routing, row_number offsets) so the
   exact same view is expressible in DuckDB SQL — that is what lets the
   correctness driver oracle-check every log operator. The real produce
   path (pulsar_spark.sources.topics) uses Murmur3 key routing like the
   reference (Spark's ``hash()`` IS Murmur3x86/32, matching
   pulsar-client/.../MessageRouterBase.java:31-34).

2. ``messages_oracle_cte`` — the same view as a DuckDB CTE string,
   embedded by __spark_entry__.oracle_sql() queries.

Fixture rules (cross-checked with FIXTURES.md):
  partition   = user_id % N_PARTITIONS          (key routing stand-in)
  offset      = row_number() per partition ordered by (ts, event_id) - 1
  producer    = 'p' || event_id % N_PRODUCERS
  sequence_id = floor(event_id / N_PRODUCERS); rows with
                event_id % 97 == 0 re-emit the previous sequence
                (duplicate injection for dedup tests, F2)
  event_time  = ts - (event_id % 300) seconds   (bounded disorder, F5)
  publish_time= ts
  deliver_at  = ts + (event_id % 3600) s  when event_id % 10 < 3  (F4)
  tombstone   = event_id % 50 == 0              (~2% tombstones, F3)
  marker_type = 1 when event_id % 1000 == 999 else NULL
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

N_PARTITIONS = 8
N_PRODUCERS = 8
DUP_EVERY = 97          # event_id % 97 == 0 -> duplicate previous sequence
TOMBSTONE_EVERY = 50    # event_id % 50 == 0 -> null-value tombstone
MARKER_EVERY = 1000     # event_id % 1000 == 999 -> internal marker row
EVENT_TIME_SKEW_S = 300
DELAY_FRACTION_MOD = 10  # event_id % 10 < 3 -> delayed message
DELAY_RANGE_S = 3600

#: Envelope columns (name, spark type ddl) in canonical order.
ENVELOPE_FIELDS: list[tuple[str, str]] = [
    ("topic", "string"),
    ("partition", "int"),
    ("offset", "bigint"),
    ("producer_name", "string"),
    ("sequence_id", "bigint"),
    ("publish_time", "timestamp"),
    ("event_time", "timestamp"),
    ("key", "string"),
    ("tombstone", "boolean"),
    ("deliver_at", "timestamp"),
    ("redelivery_count", "int"),
    ("marker_type", "int"),
    ("schema_version", "bigint"),
    ("txn_id", "bigint"),
    ("replicated_from", "string"),
    # payload fields (kept scalar, not nested, so oracle value-hash
    # comparison stays engine-neutral)
    ("event_id", "bigint"),
    ("event_type", "string"),
    ("val", "double"),
    ("props", "string"),
]


def envelope_exprs() -> dict:
    """Column expressions for every envelope field, keyed by name.

    ``offset`` is the only windowed expression; everything else is a
    narrow projection over the raw ``events`` columns. Exposed so
    callers that need a subset (column pruning at the LOGICAL level,
    before Catalyst even sees the plan) can select just those exprs —
    a query that skips ``offset`` then carries no window/shuffle at all.
    """
    from pyspark.sql.window import Window

    part = (F.col("user_id") % N_PARTITIONS).cast("int")
    w = Window.partitionBy(part).orderBy("ts", "event_id")
    base_seq = F.floor(F.col("event_id") / N_PRODUCERS).cast("bigint")

    return {
        "topic": F.concat(F.lit("persistent://public/default/events-"), part),
        "partition": part,
        "offset": (F.row_number().over(w) - F.lit(1)).cast("bigint"),
        "producer_name": F.concat(F.lit("p"), (F.col("event_id") % N_PRODUCERS)),
        "sequence_id": F.when(
            ((F.col("event_id") % DUP_EVERY) == 0) & (base_seq > 0), base_seq - 1
        ).otherwise(base_seq),
        # .cast("timestamp") everywhere a raw parquet timestamp surfaces:
        # Spark 4 sessions with spark.sql.parquet.inferTimestampNTZ.enabled=true
        # (the correctness driver's default) read `ts` as TIMESTAMP_NTZ, which
        # breaks unix_millis()/watermarks downstream. The cast is a no-op when
        # the column is already TIMESTAMP and value-preserving under the UTC
        # session timezone when it is NTZ, so every envelope consumer is
        # NTZ-proof regardless of the reader session's inference conf.
        "publish_time": F.col("ts").cast("timestamp"),
        "event_time": F.expr(
            f"ts - make_interval(0, 0, 0, 0, 0, 0, event_id % {EVENT_TIME_SKEW_S})"
        ).cast("timestamp"),
        "key": F.col("user_id").cast("string"),
        "tombstone": (F.col("event_id") % TOMBSTONE_EVERY) == 0,
        "deliver_at": F.when(
            (F.col("event_id") % DELAY_FRACTION_MOD) < 3,
            F.expr(f"ts + make_interval(0, 0, 0, 0, 0, 0, event_id % {DELAY_RANGE_S})"),
        ).cast("timestamp"),
        "redelivery_count": F.lit(0).cast("int"),
        "marker_type": F.when(
            (F.col("event_id") % MARKER_EVERY) == MARKER_EVERY - 1, F.lit(1)
        ).cast("int"),
        "schema_version": F.lit(1).cast("bigint"),
        "txn_id": F.lit(None).cast("bigint"),
        "replicated_from": F.lit(None).cast("string"),
        "event_id": F.col("event_id"),
        "event_type": F.col("event_type"),
        "val": F.col("value"),
        "props": F.col("props"),
    }


def events_to_messages(events: DataFrame, columns: list[str] | None = None) -> DataFrame:
    """Map the driver ``events`` table to the message-envelope view.

    One flat projection + (only when ``offset`` is among the requested
    columns) one window — the only shuffle is the repartition implied by
    the window, which mirrors the topic's own partitioning, so downstream
    per-key operators (compaction, key-shared dispatch) reuse it without
    a second shuffle. Pass ``columns`` to prune at the source: a caller
    that skips ``offset`` gets a 0-exchange narrow plan.
    """
    exprs = envelope_exprs()
    names = [name for name, _ in ENVELOPE_FIELDS] if columns is None else list(columns)
    return events.select(*[exprs[n].alias(n) for n in names])


def messages_oracle_cte(events_view: str = "events") -> str:
    """DuckDB CTE body producing the identical envelope view.

    Returned string is a full ``messages AS (...)`` clause; embed as
    ``WITH {messages_oracle_cte()} SELECT ...``.
    """
    return f"""messages AS (
  SELECT
    'persistent://public/default/events-' || (user_id % {N_PARTITIONS}) AS topic,
    CAST(user_id % {N_PARTITIONS} AS INT) AS partition,
    CAST(row_number() OVER (PARTITION BY user_id % {N_PARTITIONS} ORDER BY ts, event_id) - 1 AS BIGINT) AS "offset",
    'p' || (event_id % {N_PRODUCERS}) AS producer_name,
    CAST(CASE WHEN event_id % {DUP_EVERY} = 0 AND event_id // {N_PRODUCERS} > 0
         THEN event_id // {N_PRODUCERS} - 1 ELSE event_id // {N_PRODUCERS} END AS BIGINT) AS sequence_id,
    ts AS publish_time,
    ts - to_seconds(CAST(event_id % {EVENT_TIME_SKEW_S} AS BIGINT)) AS event_time,
    CAST(user_id AS VARCHAR) AS key,
    (event_id % {TOMBSTONE_EVERY} = 0) AS tombstone,
    CASE WHEN event_id % {DELAY_FRACTION_MOD} < 3
         THEN ts + to_seconds(CAST(event_id % {DELAY_RANGE_S} AS BIGINT)) END AS deliver_at,
    CAST(0 AS INT) AS redelivery_count,
    CAST(CASE WHEN event_id % {MARKER_EVERY} = {MARKER_EVERY - 1} THEN 1 END AS INT) AS marker_type,
    CAST(1 AS BIGINT) AS schema_version,
    CAST(NULL AS BIGINT) AS txn_id,
    CAST(NULL AS VARCHAR) AS replicated_from,
    event_id,
    event_type,
    "value" AS val,
    props
  FROM {events_view}
)"""


def watermark_lookup(key_col, highs: dict, default: int = -1):
    """High-watermark literal-map lookup — the ONE shared builder for
    "offset past stored watermark" predicates (the cursor start filter
    ``scalable.checkpoint_start_filter``, the streaming replicator's
    per-source dedup). Explicit casts on both map sides: mixed
    int/long literals in one ``create_map`` is an AnalysisException
    once offsets pass 2^31, and string keys must not coerce. Returns
    the watermark COLUMN (``default`` for unseen keys); callers write
    ``F.col(off) > watermark_lookup(key, highs)``. An empty map short-
    circuits to the default literal (create_map() with zero args is an
    error)."""
    from pyspark.sql import functions as F

    if not highs:
        return F.lit(int(default)).cast("bigint")
    key_type = "string" if isinstance(next(iter(highs)), str) else "int"
    m = F.create_map(
        *[
            x
            for k, v in sorted(highs.items())
            for x in (F.lit(k).cast(key_type), F.lit(int(v)).cast("bigint"))
        ]
    )
    return F.coalesce(m[key_col], F.lit(int(default)).cast("bigint"))
