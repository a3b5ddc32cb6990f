"""Scalable topics — dynamic hash-range segments with split/merge and
checkpoint consumers.

Reference semantics (the v5 surface):
- A scalable topic is a set of SEGMENTS, each owning an inclusive hash
  range over the 16-bit space [0x0000, 0xFFFF]
  (pulsar-common/.../scalable/HashRange.java: MIN_HASH/MAX_HASH,
  contains/split/isAdjacentTo).
- A keyed message routes to the ACTIVE segment whose range contains its
  segment hash = high 16 bits of murmur3_32(key)
  (ScalableTopicHashing.java:segmentHash; SegmentRouter.java:route);
  keyless messages round-robin across active segments
  (SegmentRouter.routeRoundRobin).
- splitSegment halves a hot segment's range ([start, mid], [mid+1, end]
  — HashRange.split), sealing the parent (SegmentState.java ACTIVE ->
  SEALED) and recording parent/child links; mergeSegments fuses two
  ADJACENT active segments (client/admin/ScalableTopics.java
  splitSegment/mergeSegments; ScalableTopicMetadata.SegmentInfo).
- A CheckpointConsumer has NO broker-side cursor: its position is an
  opaque serializable vector over segments that the caller stores
  externally (capi-v5/Checkpoint.java toByteArray/fromByteArray with
  earliest()/latest() sentinels; CheckpointConsumer.java checkpoint()).
- migrateToScalable converts a classic partitioned topic
  (ScalableTopics.java migrateToScalable).

Spark-first layout: one directory per topic, hive-partitioned by
``segment=N`` (partition pruning over segments is free), plus a
``_scalable.json`` metadata sidecar (epoch, next id, per-segment range/
state/lineage — the ScalableTopicMetadata analog). Segment ids are
assigned monotonically, so a key's history reads in publish order as
(segment_id, offset): at any epoch the key lives in exactly one active
segment, and every later home has a larger id.

Divergence, documented: ``migrate_to_scalable`` REWRITES the data into
range-routed segments in one distributed job instead of keeping
mod-N "legacy segments" (SegmentRouter.routeModN). The reference
avoids a broker-side rewrite; on Spark the rewrite is one shuffle and
buys a uniform layout where split/merge need no special cases.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from pulsar_spark.durable import read_json, write_atomic

MIN_HASH = 0x0000
MAX_HASH = 0xFFFF

_META = "_scalable.json"


class SegmentGoneError(RuntimeError):
    """Send targeted a sealed/unknown segment (the condition
    ScalableTopicProducer retries on when a layout change races a
    send)."""


def _now_ms() -> int:
    import time

    return int(time.time() * 1000)


def _write_meta(topic_path: str, meta: dict) -> None:
    write_atomic(os.path.join(topic_path, _META), meta)


def scalable_metadata(topic_path: str) -> dict:
    """ScalableTopics.getMetadata analog."""
    meta = read_json(os.path.join(topic_path, _META))
    if meta is None:
        raise ValueError(f"not a scalable topic (no {_META}): {topic_path}")
    return meta


def create_scalable_topic(
    topic_path: str, num_initial_segments: int = 2, properties: dict | None = None
) -> None:
    """ScalableTopics.createScalableTopic: carve [0x0000, 0xFFFF] into
    ``num_initial_segments`` near-equal inclusive ranges."""
    if not 1 <= num_initial_segments <= MAX_HASH + 1:
        raise ValueError(f"numInitialSegments out of range: {num_initial_segments}")
    if os.path.exists(os.path.join(topic_path, _META)):
        raise ValueError(f"scalable topic already exists: {topic_path}")
    span = MAX_HASH + 1
    segments = {}
    for i in range(num_initial_segments):
        start = span * i // num_initial_segments
        end = span * (i + 1) // num_initial_segments - 1
        segments[str(i)] = {
            "segment_id": i,
            "start": start,
            "end": end,
            "state": "ACTIVE",
            "parent_ids": [],
            "child_ids": [],
            "created_at_epoch": 0,
            "sealed_at_epoch": None,
            "created_at_ms": _now_ms(),
            "sealed_at_ms": None,
        }
    _write_meta(
        topic_path,
        {
            "epoch": 0,
            "next_segment_id": num_initial_segments,
            "segments": segments,
            "properties": properties or {},
        },
    )


def active_segments(meta: dict) -> list[dict]:
    """Active segments sorted by hash range (SegmentRouter contract)."""
    segs = [s for s in meta["segments"].values() if s["state"] == "ACTIVE"]
    return sorted(segs, key=lambda s: s["start"])


def segment_hash(key, deterministic_mod: bool = False):
    """Key -> 16-bit segment hash. The reference takes the HIGH 16 bits
    of murmur3_32 (ScalableTopicHashing.segmentHash: ``(murmur >>> 16)
    & 0xFFFF``; Spark's ``hash`` IS murmur3_32). ``deterministic_mod``
    switches to the Knuth multiplicative slot the rest of the engine
    uses for cross-engine oracle tests (DuckDB has no murmur3)."""
    key_col = F.col(key) if isinstance(key, str) else key
    if deterministic_mod:
        # Non-numeric keys must not fall out of the routing CASE into
        # the NULL hive partition (invisible to stats / segment logic).
        # try_cast (a plain cast throws CAST_INVALID_INPUT under the
        # ANSI default) falls through to a crc32 of the string bytes,
        # masked to 31 bits so basis * 2654435761 stays inside int64;
        # the numeric path (the only one the DuckDB oracles exercise)
        # is unchanged.
        basis = F.coalesce(
            key_col.try_cast("bigint"),
            F.crc32(key_col.cast("string").cast("binary")).bitwiseAND(F.lit(0x7FFFFFFF)),
        )
        return F.pmod(basis * F.lit(2654435761), F.lit(MAX_HASH + 1)).cast("int")
    return (
        F.shiftrightunsigned(F.hash(key_col), 16).cast("bigint") % (MAX_HASH + 1)
    ).cast("int")


def route_hash_ranges(h, meta: dict):
    """Precomputed 16-bit hash COLUMN -> owning ACTIVE segment id as a
    literal CASE over the current layout. Callers that nest the route
    inside another conditional MUST pass an already-projected hash
    column here rather than inlining ``segment_hash``: the nested
    32-branch CASE with the hash expression repeated per branch blows
    past the codegen method limit and drops the whole projection to
    interpreted evaluation (measured 10x on the 50x produce path)."""
    segs = active_segments(meta)
    if not segs:
        raise SegmentGoneError("no active segments")
    # a terminated in-layout segment leaves a hash-range hole: keyed
    # rows routed into it would fall out of every CASE branch into a
    # NULL hive partition (invisible to stats and cursors). Refuse up
    # front — the engine-side TopicTerminatedException (driver-side
    # check over the bounded layout, costs nothing per row)
    cursor = 0
    for s in segs:
        if s["start"] != cursor:
            raise SegmentGoneError(
                f"active layout does not cover hash range [{cursor}, "
                f"{s['start'] - 1}] (terminated segment?): keyed produce refused"
            )
        cursor = s["end"] + 1
    if cursor != MAX_HASH + 1:
        raise SegmentGoneError(
            f"active layout does not cover hash range [{cursor}, {MAX_HASH}] "
            f"(terminated segment?): keyed produce refused"
        )
    expr = None
    for s in segs:
        cond = (h >= s["start"]) & (h <= s["end"])
        expr = F.when(cond, s["segment_id"]) if expr is None else expr.when(cond, s["segment_id"])
    return expr.cast("int")


def route_segment(key, meta: dict, deterministic_mod: bool = False):
    """Hash -> owning ACTIVE segment id as a literal CASE over the
    current layout (the SegmentRouter.route loop, compiled into the
    plan — assignment rides the scan, no join)."""
    return route_hash_ranges(segment_hash(key, deterministic_mod), meta)


def _null_safe_segment(df, key_col, meta, keyless, deterministic_mod):
    """Two-projection routing: project the key hash once (NULL for NULL
    keys), route the range CASE over that COLUMN, fall back to the
    keyless round-robin for NULL keys. The intermediate projection is
    deliberate — see ``route_hash_ranges`` on why inlining is 10x."""
    # internal temp name guarded against payloads that already carry it
    # (a bare "_seg_hash" would silently clobber and drop a user column)
    tmp = "__ps_seg_hash__"
    while tmp in df.columns:
        tmp += "_"
    df = df.withColumn(
        tmp,
        F.when(F.col(key_col).isNotNull(), segment_hash(key_col, deterministic_mod)),
    )
    seg = F.when(
        F.col(tmp).isNotNull(), route_hash_ranges(F.col(tmp), meta)
    ).otherwise(keyless)
    return df.withColumn("segment", seg).drop(tmp)


def _keyless_segment(segs: list[dict]):
    """Keyless messages round-robin over the active segments
    (SegmentRouter.routeRoundRobin) as a narrow interleave over Spark's
    per-task monotonic id."""
    idx = F.pmod(F.monotonically_increasing_id(), F.lit(len(segs))).cast("int")
    ids = [s["segment_id"] for s in segs]
    return F.create_map(*[F.lit(x) for i, sid in enumerate(ids) for x in (i, sid)])[idx]


def produce_scalable(
    payload: DataFrame,
    topic_path: str,
    key_col: str | None = None,
    producer_name: str = "producer-0",
    event_time_col: str | None = None,
    codec: str = "snappy",
    deterministic_mod: bool = False,
) -> None:
    """Append to a scalable topic: route each row to its active segment
    (keyed: hash-range; keyless: round-robin over active segments),
    then the classic ``produce``'s log append over ``segment`` lanes:
    envelope mint, per-segment offsets in send order, one stored-topic
    read for the rebase."""
    from pulsar_spark.sources.topics import _append_log, _stored_envelope

    meta = scalable_metadata(topic_path)
    segs = active_segments(meta)
    if not segs:
        raise SegmentGoneError(f"no active segments in {topic_path}")
    keyless = _keyless_segment(segs)
    if key_col:
        # NULL keys route like keyless messages (a TypedMessageBuilder
        # without a key round-robins) — also closes the hole where a
        # cast-null deterministic hash would fall through every CASE
        # branch into a NULL hive partition.
        df = _null_safe_segment(payload, key_col, meta, keyless, deterministic_mod)
    else:
        df = payload.withColumn("segment", keyless)
    _append_log(
        df, topic_path, "segment", len(segs), "`segment`", producer_name,
        key_col, event_time_col, _stored_envelope(df.sparkSession, topic_path, "segment"),
        codec,
    )


def _read_if_present(spark: SparkSession, topic_path: str) -> DataFrame | None:
    from pulsar_spark.sources.topics import _read_topic_if_present

    return _read_topic_if_present(spark, topic_path, prefix="segment=")


def read_scalable(
    spark: SparkSession, topic_path: str, include_sealed: bool = True
) -> DataFrame:
    """Scan a scalable topic. Per-key publish order is
    ``(segment_id, offset)``: segment ids are creation-ordered and a
    key occupies one active segment per epoch, so every later home of
    a key has a strictly larger id."""
    df = _read_if_present(spark, topic_path)
    if df is None:
        raise ValueError(f"empty scalable topic: {topic_path}")
    if not include_sealed:
        meta = scalable_metadata(topic_path)
        ids = [s["segment_id"] for s in active_segments(meta)]
        df = df.where(F.col("segment").isin(ids))
    return df


def split_segment(
    topic_path: str, segment_id: int, at: int | None = None
) -> tuple[int, int]:
    """ScalableTopics.splitSegment: seal the segment and create two
    children ([start, mid], [mid+1, end]). ``at`` overrides the
    default range-halving midpoint with an arbitrary boundary (the
    PIP-468 load-aware split: the controller picks the point that
    evens out TRAFFIC rather than hash-width for skewed key
    distributions — pip/pip-486.md cites it; a boundary-selection
    policy only, the split mechanics are identical). Stored data stays
    under the sealed parent; new produce routes over the children.
    Returns the child ids."""
    meta = scalable_metadata(topic_path)
    s = meta["segments"].get(str(segment_id))
    if s is None or s["state"] != "ACTIVE":
        raise SegmentGoneError(f"segment {segment_id} is not active in {topic_path}")
    if s["end"] - s["start"] + 1 < 2:
        raise ValueError(f"cannot split range of size {s['end'] - s['start'] + 1}")
    mid = s["start"] + (s["end"] - s["start"]) // 2 if at is None else int(at)
    if not s["start"] <= mid < s["end"]:
        raise ValueError(
            f"split point {mid} outside [{s['start']}, {s['end']}) — both children "
            f"must be non-empty"
        )
    epoch = meta["epoch"] + 1
    ids = (meta["next_segment_id"], meta["next_segment_id"] + 1)
    for cid, (lo, hi) in zip(ids, ((s["start"], mid), (mid + 1, s["end"]))):
        meta["segments"][str(cid)] = {
            "segment_id": cid,
            "start": lo,
            "end": hi,
            "state": "ACTIVE",
            "parent_ids": [segment_id],
            "child_ids": [],
            "created_at_epoch": epoch,
            "sealed_at_epoch": None,
            "created_at_ms": _now_ms(),
            "sealed_at_ms": None,
        }
    s["state"] = "SEALED"
    s["sealed_at_epoch"] = epoch
    s["sealed_at_ms"] = _now_ms()
    s["child_ids"] = list(ids)
    meta["epoch"] = epoch
    meta["next_segment_id"] += 2
    _write_meta(topic_path, meta)
    return ids


def merge_segments(topic_path: str, id_a: int, id_b: int) -> int:
    """ScalableTopics.mergeSegments: fuse two ADJACENT active segments
    (HashRange.isAdjacentTo) into one child covering the union."""
    meta = scalable_metadata(topic_path)
    a = meta["segments"].get(str(id_a))
    b = meta["segments"].get(str(id_b))
    for sid, s in ((id_a, a), (id_b, b)):
        if s is None or s["state"] != "ACTIVE":
            raise SegmentGoneError(f"segment {sid} is not active in {topic_path}")
    if not (a["end"] + 1 == b["start"] or b["end"] + 1 == a["start"]):
        raise ValueError(f"segments {id_a} and {id_b} are not adjacent")
    epoch = meta["epoch"] + 1
    cid = meta["next_segment_id"]
    meta["segments"][str(cid)] = {
        "segment_id": cid,
        "start": min(a["start"], b["start"]),
        "end": max(a["end"], b["end"]),
        "state": "ACTIVE",
        "parent_ids": [id_a, id_b],
        "child_ids": [],
        "created_at_epoch": epoch,
        "sealed_at_epoch": None,
        "created_at_ms": _now_ms(),
        "sealed_at_ms": None,
    }
    for sid, s in ((id_a, a), (id_b, b)):
        s["state"] = "SEALED"
        s["sealed_at_epoch"] = epoch
        s["sealed_at_ms"] = _now_ms()
        s["child_ids"] = [cid]
    meta["epoch"] = epoch
    meta["next_segment_id"] += 1
    _write_meta(topic_path, meta)
    return cid


def prune_segment(meta: dict, segment_id: int) -> dict:
    """SegmentLayout.pruneSegment (SegmentLayout.java:250): remove a
    SEALED segment from the DAG, rewriting its children's parent lists
    and its parents' child lists, and bump the epoch. Pure function on
    the metadata dict (the caller coalesces multiple prunes into one
    sidecar write — the reference's single-CAS contract). Consumers on
    the post-prune layout see the segment as 'no longer present', which
    the coordinator's parent-drain gate treats as drained."""
    s = meta["segments"].get(str(segment_id))
    if s is None:
        raise ValueError(f"segment not found: {segment_id}")
    if s["state"] == "ACTIVE":
        raise ValueError(f"cannot prune an active segment: {segment_id}")
    del meta["segments"][str(segment_id)]
    for cid in s["child_ids"]:
        child = meta["segments"].get(str(cid))
        if child is not None:
            child["parent_ids"] = [p for p in child["parent_ids"] if int(p) != segment_id]
    for pid in s["parent_ids"]:
        parent = meta["segments"].get(str(pid))
        if parent is not None:
            parent["child_ids"] = [c for c in parent["child_ids"] if int(c) != segment_id]
    meta["epoch"] += 1
    return meta


def gc_sealed_segments(
    spark: SparkSession,
    topic_path: str,
    retention_ms: int | None,
    subscriptions: dict | None = None,
    now_ms: int | None = None,
) -> list[int]:
    """One sealed-segment GC tick (ScalableTopicController.runGcTickAsync,
    ScalableTopicController.java:1125): sealed segments past the
    retention horizon whose data EVERY subscription has drained are
    pruned from the DAG — one coalesced sidecar write — and their
    backing storage deleted. Returns the pruned segment ids.

    ``retention_ms`` None = retain forever (no GC — the unset/negative
    policy contract). ``subscriptions`` maps subscription name to its
    ``Checkpoint`` position; a value of None models a CHECKPOINT
    subscription whose position the controller cannot see — it blocks
    pruning of every data-bearing segment while registered, exactly the
    reference's NotFoundException -> "still in use" behavior.

    The drain math reuses one ``segment_high_watermarks`` aggregate for
    all candidates; the data itself is never collected."""
    import shutil

    if retention_ms is None:
        return []
    if now_ms is None:
        now_ms = _now_ms()
    meta = scalable_metadata(topic_path)
    # lazily backfill seal stamps on segments sealed before the stamp
    # field existed (legacy sidecars): their retention clock starts at
    # first GC observation — without this they are silently never
    # GC-eligible while retention_ms appears to be in force
    backfilled = False
    for s in meta["segments"].values():
        if s["state"] != "ACTIVE" and s.get("sealed_at_ms") is None:
            s["sealed_at_ms"] = now_ms
            backfilled = True
    candidates = [
        s
        for s in meta["segments"].values()
        if s["state"] != "ACTIVE"
        and s.get("sealed_at_ms") is not None
        and now_ms - s["sealed_at_ms"] >= retention_ms
    ]
    if not candidates:
        if backfilled:
            _write_meta(topic_path, meta)
        return []
    highs = segment_high_watermarks(spark, topic_path)
    cursors = list((subscriptions or {}).values())
    pruned = [
        sid
        for sid in (int(s["segment_id"]) for s in candidates)
        if all(_drained(ck, sid, highs) for ck in cursors)
    ]
    if not pruned:
        if backfilled:
            _write_meta(topic_path, meta)
        return []
    for sid in pruned:
        prune_segment(meta, sid)
    # one coalesced metadata write for all prunes (the reference chains
    # pruneSegment per id — epoch + N — then persists via a single CAS),
    # THEN the per-segment storage deletes — a crash between the two
    # leaves orphaned directories, not a layout referencing deleted data
    _write_meta(topic_path, meta)
    for sid in pruned:
        shutil.rmtree(os.path.join(topic_path, f"segment={sid}"), ignore_errors=True)
    return pruned


def scalable_stats(spark: SparkSession, topic_path: str) -> DataFrame:
    """ScalableTopics.getStats analog: per-segment entry counts and key
    cardinality joined with the sidecar's range/state."""
    meta = scalable_metadata(topic_path)
    rows = [
        (s["segment_id"], s["start"], s["end"], s["state"])
        for s in sorted(meta["segments"].values(), key=lambda s: s["segment_id"])
    ]
    side = spark.createDataFrame(
        rows, "segment int, hash_start int, hash_end int, state string"
    )
    data = _read_if_present(spark, topic_path)
    counts = (
        data.groupBy("segment").agg(
            F.count("*").alias("msg_count"), F.countDistinct("key").alias("key_count")
        )
        if data is not None
        else spark.createDataFrame([], "segment int, msg_count long, key_count long")
    )
    return (
        side.join(counts, on="segment", how="left")
        .withColumn("msg_count", F.coalesce("msg_count", F.lit(0)))
        .withColumn("key_count", F.coalesce("key_count", F.lit(0)))
        .orderBy("segment")
    )


def auto_scale_plan(
    spark: SparkSession, topic_path: str, max_msgs_per_segment: int
) -> list[int]:
    """The auto-scale decision (setAutoScalePolicy): active segments
    whose stored backlog exceeds the policy threshold are due a split.
    Plan only — the caller invokes ``split_segment`` per id (the
    reference's controller does the same from SegmentLoadStats)."""
    meta = scalable_metadata(topic_path)
    active = {s["segment_id"] for s in active_segments(meta)}
    data = _read_if_present(spark, topic_path)
    if data is None:
        return []
    # plain counts only — the policy never looks at key cardinality, so
    # don't pay scalable_stats' countDistinct over the whole topic
    counts = data.groupBy("segment").count().collect()
    return sorted(
        r.segment for r in counts if r.segment in active and r["count"] > max_msgs_per_segment
    )


def migrate_to_scalable(
    spark: SparkSession,
    partitioned_topic_path: str,
    dest_path: str,
    num_segments: int | None = None,
    deterministic_mod: bool = False,
) -> None:
    """ScalableTopics.migrateToScalable: convert a classic partitioned
    topic into a scalable one. One distributed rewrite re-routes every
    stored row by hash range (see module docstring for the documented
    divergence from the reference's in-place legacy-segment scheme);
    offsets are re-minted per segment in (partition, offset) order so
    per-key relative order survives the move."""
    from pulsar_spark.sources.topics import topic_metadata

    src = spark.read.parquet(partitioned_topic_path)
    n = num_segments or src.select("partition").distinct().count()
    classic_meta = topic_metadata(partitioned_topic_path)
    create_scalable_topic(
        dest_path,
        num_initial_segments=n,
        properties=(classic_meta or {}).get("properties"),
    )
    meta = scalable_metadata(dest_path)
    segs = active_segments(meta)
    # keyless classic messages (NULL key) spread round-robin, same as
    # produce_scalable's keyless route
    w = Window.partitionBy("segment").orderBy("partition", "offset")
    (
        _null_safe_segment(src, "key", meta, _keyless_segment(segs), deterministic_mod)
        .withColumn("offset", (F.row_number().over(w) - 1).cast("bigint"))
        .drop("partition")
        .write.mode("append")
        .partitionBy("segment")
        .parquet(dest_path)
    )


def list_scalable_topics(
    namespace_dir: str, property_filters: dict[str, str] | None = None
) -> list[str]:
    """ScalableTopics.listScalableTopics / listScalableTopicsByProperties:
    every scalable topic under a namespace directory, optionally
    filtered to those whose sidecar properties contain ALL the given
    key/value pairs. Shares the walk + filter semantic with the
    classic listing (topics.list_topics_by_metadata)."""
    from pulsar_spark.sources.topics import list_topics_by_metadata

    def loader(p: str) -> dict | None:
        return scalable_metadata(p) if os.path.isfile(os.path.join(p, _META)) else None

    return list_topics_by_metadata(namespace_dir, loader, property_filters)


# ------------------------------------------------------- checkpoint consumer


class Checkpoint:
    """The capi-v5 Checkpoint analog: an opaque, serializable position
    vector over lanes, stored by the CALLER (Flink state, S3, a Spark
    checkpoint dir) or as a subscription's registry cursor. A lane is
    the column an offset counts within: ``segment`` on scalable
    topics, ``partition`` on classic ones.

    ``offsets`` maps lane id -> next offset to read (exclusive high
    water). Missing lanes read from their beginning, so a checkpoint
    taken before a split remains valid afterwards: the sealed parent's
    position is retained and new children start at 0.
    """

    def __init__(self, offsets: dict[int, int] | None = None, latest: bool = False):
        self.offsets = {int(k): int(v) for k, v in (offsets or {}).items()}
        self.latest = latest

    # Checkpoint.earliest() / latest() sentinels
    @classmethod
    def earliest(cls) -> "Checkpoint":
        return cls({})

    @classmethod
    def latest(cls) -> "Checkpoint":
        return cls({}, latest=True)

    # the one JSON shape of a position vector: Checkpoint bytes, the
    # subscription registry's "checkpoint" value, MultiCheckpoint slices
    def to_dict(self) -> dict:
        return {"latest": self.latest, "offsets": {str(k): v for k, v in self.offsets.items()}}

    @classmethod
    def from_dict(cls, d: dict) -> "Checkpoint":
        return cls(d.get("offsets", {}), latest=bool(d.get("latest")))

    # Checkpoint.toByteArray() / fromByteArray()
    def to_bytes(self) -> bytes:
        return json.dumps(self.to_dict(), sort_keys=True).encode("utf-8")

    @classmethod
    def from_bytes(cls, data: bytes) -> "Checkpoint":
        return cls.from_dict(json.loads(data.decode("utf-8")))


def segment_high_watermarks(
    spark: SparkSession, topic_path: str, segments: list[int] | None = None
) -> dict[int, int]:
    """Per-segment max stored offset: ``_past_end`` minus one, over the
    stored segments (all, or those of ``segments`` that hold data)."""
    return {k: e - 1 for k, e in _past_end(spark, topic_path, segments).items() if e}


def _past_end(
    spark, topic_path: str, ids: list[int] | None = None, lane: str = "segment"
) -> dict[int, int]:
    """The past-the-end cursor vector ``{lane: high + 1}`` and the ONE
    reader of stored highs per lane (``segment``, or ``partition`` on
    classic topics): the append's declared-schema envelope read
    (``topics._stored_envelope``, no footer-inference job), then one
    grouped MAX scan of the ``offset`` column. Covers every stored
    lane, or exactly the listed ``ids`` (partition-pruned; a listed
    lane with no stored rows gets 0). Empty for a never-produced topic."""
    from pulsar_spark.sources.topics import _stored_envelope, stored_high_offsets

    df = _stored_envelope(spark, topic_path, lane)
    if df is not None and ids is not None:
        df = df.where(F.col(lane).isin([int(i) for i in ids]))
    highs = {} if df is None else stored_high_offsets(df, lane)
    if ids is None:
        return {k: hi + 1 for k, hi in highs.items()}
    return {int(i): highs.get(int(i), -1) + 1 for i in ids}


def _resolve_latest(spark, topic_path: str, ck: Checkpoint) -> Checkpoint:
    """A LATEST sentinel resolved into its concrete "nothing stored is
    delivered" vector, so an edit or a streaming start cannot silently
    drop the flag and flip every OTHER segment back to earliest.
    Resolution needs a SparkSession for the one watermark aggregate;
    other vectors pass through unchanged."""
    if not ck.latest:
        return ck
    if spark is None:
        raise ValueError(
            "subscription cursor is a LATEST sentinel: resolving it into a "
            "concrete vector needs a SparkSession"
        )
    return Checkpoint(_past_end(spark, topic_path))


def _drained(ckpt: Checkpoint | None, segment_id: int, highs: dict[int, int]) -> bool:
    """The ONE drain rule (SegmentDrainChecker.java:30-35) shared by the
    coordinator's drain gate, sealed-segment GC and ``delete_segment``:
    a segment with no stored data is drained; an opaque (None) cursor
    is not; a LATEST cursor is; otherwise the cursor must be past the
    segment's stored high watermark."""
    if segment_id not in highs:
        return True
    if ckpt is None:
        return False
    return ckpt.latest or int(ckpt.offsets.get(segment_id, 0)) > highs[segment_id]


def checkpoint_start_filter(
    df: DataFrame, ckpt: Checkpoint, lane: str = "segment"
) -> DataFrame:
    """Apply a Checkpoint's per-lane start offsets as a literal-map
    predicate (``offset >= start[lane]``, unseen lanes start at 0, the
    map from ``envelope.watermark_lookup``). ``lane`` is ``segment``
    on scalable topics, ``partition`` on classic ones. The ONE place
    the cursor-filter expression lives: every cursor reader of both
    topic kinds shares it so cursor semantics cannot drift.

    A LATEST-sentinel checkpoint is rejected here rather than treated
    as earliest (empty offsets would otherwise return the FULL frame —
    the exact inverse of latest semantics): callers must first resolve
    latest into a concrete high-watermark vector, as
    ``read_from_checkpoint`` / ``subscription_visible`` /
    ``subscribe_assigned`` all do."""
    from pulsar_spark.envelope import watermark_lookup

    if ckpt.latest:
        raise ValueError(
            "checkpoint_start_filter got a LATEST sentinel: resolve it to a "
            "high-watermark vector first (see read_from_checkpoint)"
        )
    if not ckpt.offsets:
        return df
    return df.where(
        F.col("offset") >= watermark_lookup(F.col(lane), ckpt.offsets, default=0)
    )


def read_from_checkpoint(
    spark: SparkSession, topic_path: str, ckpt: Checkpoint
) -> tuple[DataFrame, Checkpoint]:
    """CheckpointConsumer.receive + checkpoint() as one bounded batch:
    every row at or past the vector, plus the ADVANCED checkpoint that
    resumes exactly after them (exclusive next-offset per segment, so
    resume is gap- and duplicate-free). The advanced vector is one
    8-ish-row aggregate — the data itself is never collected.

    A NEVER-produced topic has no schema anywhere, so its empty batch
    is a (segment, offset) stub; once any produce has defined the
    topic schema, empty polls carry the full envelope schema."""
    df = _read_if_present(spark, topic_path)
    if df is None:
        empty = spark.createDataFrame([], "segment int, offset bigint")
        return empty, Checkpoint(dict(ckpt.offsets), latest=False)
    ends = _past_end(spark, topic_path)
    if ckpt.latest:
        return df.limit(0), Checkpoint(ends)
    return checkpoint_start_filter(df, ckpt), Checkpoint({**ckpt.offsets, **ends})


def _first_offsets_at_timestamp(
    df: DataFrame, timestamp: str, segments: list[int] | None = None
) -> dict[int, int]:
    """Per-segment first offset whose ``publish_time >= timestamp``,
    falling back to past-the-end for segments with no qualifying rows —
    the PersistentMessageFinder binary search as ONE grouped
    min-aggregate over publish_time stats (row groups outside the range
    pruned by the scan). The ONE place this cursor math lives; shared by
    ``checkpoint_at_timestamp`` and ``seek_subscription``. ``segments``
    restricts the pass to the listed hive partitions."""
    if segments is not None:
        df = df.where(F.col("segment").isin([int(s) for s in segments]))
    ts = F.lit(timestamp).cast("timestamp")
    rows = (
        df.groupBy("segment")
        .agg(
            F.min(F.when(F.col("publish_time") >= ts, F.col("offset"))).alias("lo"),
            F.max("offset").alias("mx"),
        )
        .collect()
    )
    return {
        int(r.segment): (int(r.lo) if r.lo is not None else int(r.mx) + 1)
        for r in rows
    }


def checkpoint_at_timestamp(
    spark: SparkSession, topic_path: str, timestamp: str
) -> Checkpoint:
    """ScalableTopics.seekSubscription(timestamp) rendered for the
    checkpoint model: the position vector whose resume delivers every
    message with ``publish_time >= timestamp``."""
    df = _read_if_present(spark, topic_path)
    if df is None:
        return Checkpoint.earliest()
    return Checkpoint(_first_offsets_at_timestamp(df, timestamp))


# ------------------------------------------- subscription lifecycle (admin)

#: persisted subscription registry file inside the topic directory —
#: the SubscriptionMetadata store of ScalableTopicController.java. One
#: format for both topic kinds: a scalable entry carries its ``type``
#: and ``created_at_ms``, a classic one its ``replicated`` flag.
_SUBS = "_subscriptions.json"
#: the classic registry of earlier releases, ``{name: {replicated,
#: positions}}``: read only while ``_SUBS`` does not exist, so the first
#: registry write supersedes it; nothing deletes it
_LEGACY_SUBS = "_cursors.json"


def _read_subscriptions(topic_path: str) -> dict:
    subs = read_json(os.path.join(topic_path, _SUBS))
    if subs is not None:
        return subs
    return {
        name: _classic_entry(e.get("replicated"), e.get("positions"))
        for name, e in read_json(os.path.join(topic_path, _LEGACY_SUBS), {}).items()
    }


def _classic_entry(replicated, offsets: dict | None = None) -> dict:
    """A classic topic's registry entry: the ``replicateSubscriptionState``
    flag of CommandSubscribe and a per-partition cursor."""
    return {"replicated": bool(replicated), "checkpoint": Checkpoint(offsets).to_dict()}


def _write_subscriptions(topic_path: str, subs: dict) -> None:
    """Registry rewrite through ``durable.write_atomic``, so a crash
    mid-write can never corrupt the durable ack store (this file
    carries every subscription's persisted cursor). Single-writer
    assumption as in the reference's metadata-store compare-and-set —
    concurrent admin writers are last-writer-wins at file granularity,
    never torn JSON. Called only by ``_edit_registry``."""
    write_atomic(os.path.join(topic_path, _SUBS), subs)


def _edit_registry(topic_path: str, edit):
    """The ONE read-modify-write of the subscription registry.
    ``edit(subs)`` mutates the loaded registry and returns a result
    whose truth says whether it changed; the registry is rewritten
    (once, atomically) only then. Returns that result."""
    subs = _read_subscriptions(topic_path)
    result = edit(subs)
    if result:
        _write_subscriptions(topic_path, subs)
    return result


def _entry_cursor(entry: dict) -> tuple[Checkpoint, dict[int, list[list[int]]]]:
    """A registry entry's cursor: the markDelete vector and the
    individual-ack hole set beside it (``individualDeletedMessages``,
    sources/ack_holes.py — ManagedCursorImpl.java:202)."""
    holes = {
        int(k): [list(map(int, r)) for r in v]
        for k, v in entry.get("ack_holes", {}).items()
    }
    return Checkpoint.from_dict(entry.get("checkpoint", {})), holes


def _entry(topic_path: str, subscription: str) -> dict:
    """The persisted registry entry of ``subscription``."""
    subs = _read_subscriptions(topic_path)
    if subscription not in subs:
        raise ValueError(f"no such subscription: {subscription}")
    return subs[subscription]


def _cursor(topic_path: str, subscription: str):
    """The persisted ``(Checkpoint, holes)`` of ``subscription``."""
    return _entry_cursor(_entry(topic_path, subscription))


def _edit_cursors(
    topic_path: str, edit, names=None, spark=None, resolve_latest=False, create=None
) -> dict[str, Checkpoint]:
    """The ONE cursor edit. ``edit(ck, holes)`` gets each named entry's
    cursor (every entry when ``names`` is None) and returns its new
    ``(Checkpoint, holes)``, or None to leave it as is; all changed
    entries persist in ONE atomic registry write, so a cursor and its
    holes can never disagree. A named entry that does not exist raises,
    unless ``create`` gives the entry to add for it in the same write.
    ``resolve_latest`` (every slot edit) first resolves a LATEST
    sentinel into its past-end vector (``_resolve_latest``: needs
    ``spark``, raises without one) — a slot set under the flag would be
    inert, and a slot set that dropped it would flip every OTHER lane
    back to earliest. Returns the new checkpoint per changed entry."""

    def apply(subs: dict) -> dict[str, Checkpoint]:
        for name in names or ():
            if name not in subs:
                if create is None:
                    raise ValueError(f"no such subscription: {name}")
                subs[name] = dict(create)
        out = {}
        for name in subs if names is None else names:
            entry = subs[name]
            ck, holes = _entry_cursor(entry)
            if resolve_latest:
                ck = _resolve_latest(spark, topic_path, ck)
            new = edit(ck, holes)
            if new is None:
                continue
            ck, holes = new
            entry["checkpoint"] = ck.to_dict()
            entry.pop("ack_holes", None)
            if any(holes.values()):
                entry["ack_holes"] = {str(k): v for k, v in holes.items() if v}
            out[name] = ck
        return out

    return _edit_registry(topic_path, apply)


def _moved(old: Checkpoint, new: Checkpoint, holes: dict):
    """A cursor moved from ``old`` to ``new`` with its holes reconciled
    in the same edit: a forward advance consumes holes below the new
    cursor AND sweeps the cursor through any hole that became
    contiguous with it (the ManagedCursorImpl markDelete-advance
    merge); a rewind clears the segment's holes entirely (resetCursor
    semantics — everything past the reset point redelivers)."""
    from pulsar_spark.sources.ack_holes import fold_cursor, reconcile_holes_with_cursor

    offsets = dict(new.offsets)
    kept: dict[int, list[list[int]]] = {}
    for seg, rs in reconcile_holes_with_cursor(old.offsets, offsets, holes).items():
        offsets[seg], rest = fold_cursor(offsets.get(seg, 0), rs)
        if rest:
            kept[seg] = rest
    return Checkpoint(offsets, latest=new.latest), kept


def _acked(ck: Checkpoint, offsets: dict, holes: dict):
    """A cumulative ack: each acked lane's slot moves to the max of its
    stored and acked next offsets (AckType.Cumulative only moves a
    cursor forward), holes reconciled by ``_moved``. Monotone, so
    re-applying it after a crash is a no-op."""
    ahead = {
        int(k): max(int(ck.offsets.get(int(k), 0)), int(v)) for k, v in offsets.items()
    }
    return _moved(ck, Checkpoint({**ck.offsets, **ahead}), holes)


def _set_slots(spark, topic_path: str, subscription: str, slots: dict[int, int]) -> None:
    """The per-segment verbs' one write: set cursor slots on the
    LATEST-resolved vector, holes reconciled (a slot verb is the
    topic-wide move restricted to its segments)."""
    _edit_cursors(
        topic_path,
        lambda ck, holes: _moved(ck, Checkpoint({**ck.offsets, **slots}), holes),
        [subscription],
        spark,
        resolve_latest=True,
    )


def _drop_slot(topic_path: str, segment_id: int, names=None) -> bool:
    """Drop ONE segment's cursor slot and its ack holes from the named
    entries (all when None). resetCursor semantics: a slot back at the
    EARLIEST default clears the segment's individualDeletedMessages
    with it — a surviving hole entry would permanently suppress
    redelivery of those offsets. Never needs Spark (no LATEST
    resolution: the other slots are untouched). True if any entry
    changed."""
    sid = int(segment_id)

    def drop(ck: Checkpoint, holes: dict):
        if sid not in ck.offsets and sid not in holes:
            return None
        offsets = {k: v for k, v in ck.offsets.items() if k != sid}
        return Checkpoint(offsets, latest=ck.latest), {
            k: v for k, v in holes.items() if k != sid
        }

    return bool(_edit_cursors(topic_path, drop, names))


def create_subscription(
    topic_path: str, subscription: str, sub_type: str = "Stream"
) -> bool:
    """ScalableTopicController.createSubscription (java:851): persist
    the subscription entry, cursor at EARLIEST on every segment so no
    messages are lost. Idempotent — re-creating an existing
    subscription is a no-op (java:858 AlreadyExistsException swallow)
    and returns False.

    In the checkpoint model "cursor at earliest on each active segment"
    is the empty position vector (``Checkpoint.earliest()``): missing
    segments read from offset 0, which also covers segments created by
    LATER splits, exactly like the reference's lazily-propagated
    per-segment cursors."""
    scalable_metadata(topic_path)  # raises if not a scalable topic
    earliest = Checkpoint.earliest().to_dict()
    entry = {"type": sub_type, "created_at_ms": _now_ms(), "checkpoint": earliest}
    return _add_subscription(topic_path, subscription, entry)


def _add_subscription(topic_path: str, subscription: str, entry: dict) -> bool:
    """Persist a new registry entry; False, with no write, when the
    subscription already exists."""

    def add(subs: dict) -> bool:
        if subscription in subs:
            return False
        subs[subscription] = entry
        return True

    return _edit_registry(topic_path, add)


def delete_subscription(
    topic_path: str, subscription: str, coordinator=None
) -> bool:
    """ScalableTopicController.deleteSubscription (java:870): drop the
    in-memory coordinator's consumers FIRST (so no new consumer attaches
    mid-teardown), then delete the persisted metadata — which removes
    the per-segment cursors (they live inside the entry's checkpoint
    vector). Returns False if the subscription didn't exist."""

    def drop(subs: dict) -> bool:
        if subscription not in subs:
            # a no-op delete must NOT disconnect live consumers — check
            # existence before any teardown
            return False
        if coordinator is not None:
            for name in sorted(coordinator.sessions):
                coordinator.unregister_consumer(name)
        del subs[subscription]
        return True

    return _edit_registry(topic_path, drop)


def list_subscriptions(topic_path: str) -> list[str]:
    """Names of the persisted subscriptions, sorted."""
    return sorted(_read_subscriptions(topic_path))


def subscription_checkpoint(topic_path: str, subscription: str) -> Checkpoint:
    """The persisted position vector for ``subscription``."""
    return _cursor(topic_path, subscription)[0]


def save_subscription_checkpoint(
    topic_path: str, subscription: str, ckpt: Checkpoint
) -> None:
    """Persist an advanced position vector (the ack path for a
    persisted subscription). Individual-ack holes stored beside the
    vector (sources/ack_holes.py) are reconciled against the move in
    the SAME atomic registry write (``_moved``)."""
    _edit_cursors(
        topic_path, lambda ck, holes: _moved(ck, ckpt, holes), [subscription]
    )


def clear_backlog(spark: SparkSession, topic_path: str, subscription: str) -> Checkpoint:
    """ScalableTopicController.clearBacklog (java:941): skip every
    undelivered message by advancing EVERY segment cursor in the DAG —
    sealed segments included — to past-the-end. Closed form over the
    checkpoint vector: ``{segment_id: high_watermark + 1}`` for every
    layout segment (0 for never-produced segments), one bounded grouped
    aggregate (``_past_end``, shared with the per-segment clear).

    Coordinator composition: after a clear, this subscription's cursor
    is past the end of every sealed segment, so a
    ``checkpoint_drain_checker`` over the new vector reports every
    sealed parent drained — split children become assignable
    immediately (the backlog the drain gate was protecting no longer
    exists for this subscription)."""
    meta = scalable_metadata(topic_path)
    vector = Checkpoint(
        _past_end(spark, topic_path, [int(s["segment_id"]) for s in meta["segments"].values()])
    )
    save_subscription_checkpoint(topic_path, subscription, vector)
    return vector


def subscription_backlog(spark: SparkSession, topic_path: str, subscription: str):
    """Per-segment backlog (rows at or past the cursor, EXCLUDING
    individually-acked holes — those are delivered, not backlog) for a
    persisted subscription — the getBacklog admin view. Returns a
    DataFrame ``(segment int, backlog bigint)`` with an explicit 0 for
    every layout segment so a cleared subscription is visibly empty.

    Scale shape: one grouped count over ``subscription_visible`` (the
    redelivery view: cursor + hole filters riding the scan),
    left-joined onto the bounded layout segment list."""
    from pulsar_spark.sources.ack_holes import subscription_visible

    meta = scalable_metadata(topic_path)
    seg_rows = [(int(s["segment_id"]),) for s in meta["segments"].values()]
    segs = spark.createDataFrame(seg_rows, "segment int")
    counts = (
        subscription_visible(spark, topic_path, subscription)
        .groupBy("segment")
        .agg(F.count("*").alias("_c"))
    )
    return (
        segs.join(counts, "segment", "left")
        .select("segment", F.coalesce("_c", F.lit(0)).cast("bigint").alias("backlog"))
    )


def _parse_ts_ms(timestamp: str) -> int:
    """ISO timestamp -> epoch millis. Naive timestamps are UTC (the
    session timezone this engine pins); an explicit offset is
    CONVERTED, never overwritten."""
    from datetime import datetime, timezone

    dt = datetime.fromisoformat(timestamp)
    if dt.tzinfo is None:
        dt = dt.replace(tzinfo=timezone.utc)
    return int(dt.timestamp() * 1000)


def _seek_offsets(spark, topic_path: str, segs: list[dict], timestamp: str) -> dict[int, int]:
    """ScalableTopicController.seekSubscriptionOnSegment (java:950)
    over a list of layout segments: each segment's ``[created_at_ms,
    sealed_at_ms)`` lifetime against the target picks the cheapest op —
    ``skip_all`` (sealed strictly before: cursor past-the-end, one
    partition-pruned watermark aggregate over just those segments),
    ``earliest`` (created strictly after: offset 0, no scan), or
    ``scan`` (alive at the timestamp: one pruned min-aggregate over its
    ``publish_time`` stats). STRICT inequalities because stamps are
    ms-floored while publish_time carries microseconds — a segment
    sealed or created in the target's own millisecond falls through to
    the full-precision scan arm. The ONE home of the seek offsets,
    shared by the topic-wide and per-segment seek verbs; ``spark`` may
    be None when every segment classifies earliest."""
    ts_ms = _parse_ts_ms(timestamp)
    arms: dict[str, list[int]] = {"skip_all": [], "earliest": [], "scan": []}
    for s in segs:
        sealed_at, created_at = s.get("sealed_at_ms"), s.get("created_at_ms")
        if s["state"] != "ACTIVE" and sealed_at and int(sealed_at) < ts_ms:
            arm = "skip_all"
        elif created_at and int(created_at) > ts_ms:
            arm = "earliest"
        else:
            arm = "scan"
        arms[arm].append(int(s["segment_id"]))
    offsets = dict.fromkeys(arms["earliest"], 0)
    if arms["skip_all"]:
        offsets.update(_past_end(spark, topic_path, arms["skip_all"]))
    if arms["scan"]:
        df = _read_if_present(spark, topic_path)
        got = (
            _first_offsets_at_timestamp(df, timestamp, segments=arms["scan"])
            if df is not None
            else {}
        )
        offsets.update({sid: got.get(sid, 0) for sid in arms["scan"]})
    return offsets


def seek_subscription(
    spark, topic_path: str, subscription: str, timestamp: str
) -> Checkpoint:
    """ScalableTopicController.seekSubscription (java:933) +
    seekSubscriptionOnSegment's window dispatch: reset the
    subscription's cursor across every DAG segment to a wall-clock
    timestamp, using each segment's recorded
    ``[created_at_ms, sealed_at_ms)`` lifetime to pick the cheapest
    per-segment op (``_seek_offsets``) —

    - segment sealed at-or-before the timestamp: ALL its data predates
      it -> cursor past-the-end (the clearBacklog closed form, no scan);
    - segment created at-or-after the timestamp: all its data is
      at-or-after -> cursor at earliest (offset 0, no scan);
    - segment alive at the timestamp: one grouped min-aggregate over its
      ``publish_time`` stats (row groups outside the range pruned).

    At 100 TB this is the difference between timestamp-scanning the
    whole DAG and scanning only the few segments that straddle the seek
    point; the skip-all arm pays one partition-pruned watermark
    aggregate over just the sealed segments. When every segment
    classifies as earliest (seek before the topic existed) the function
    runs entirely driver-side — ``spark`` may even be None there; the
    test asserts that.

    Persists the vector on the subscription and returns it."""
    # validate BEFORE classifying/scanning — a typo'd subscription must
    # not pay (and then discard) the stats passes
    subscription_checkpoint(topic_path, subscription)
    meta = scalable_metadata(topic_path)
    vector = Checkpoint(
        _seek_offsets(spark, topic_path, list(meta["segments"].values()), timestamp)
    )
    save_subscription_checkpoint(topic_path, subscription, vector)
    return vector


# --------------------------------------------- per-segment admin verbs (v5)
#
# The reference exposes a segment-topic granular admin surface beside
# the topic-level lifecycle: ScalableTopics.java:354 createSegment /
# :366 terminateSegment / :379 deleteSegment, and the per-segment
# subscription cursor family (:397 createSegmentSubscriptionAsync,
# :410 deleteSegmentSubscriptionAsync, :427
# getSegmentSubscriptionBacklogAsync, :444 seekSegmentSubscriptionAsync,
# :454 clearSegmentSubscriptionBacklogAsync). In the checkpoint model
# every one of these is a thin closed form over the existing structures:
# the segment's hive partition dir, the layout metadata entry, and one
# (segment_id -> offset) slot of the subscription's persisted vector.


def _segment_entry(meta: dict, segment_id: int) -> dict:
    s = meta["segments"].get(str(int(segment_id)))
    if s is None:
        raise SegmentGoneError(f"segment not found: {segment_id}")
    return s


def create_segment(
    topic_path: str,
    segment_id: int,
    subscriptions: list[str] | tuple = (),
    spark=None,
) -> bool:
    """ScalableTopics.createSegment (ScalableTopics.java:354) /
    ScalableTopicController.createSegmentTopic (java:1416): ensure the
    segment's backing store exists and fan each named subscription's
    cursor to EARLIEST on this segment so a future consumer doesn't
    drop the backlog (java:1018 fan-out). Idempotent — re-creating an
    existing segment's store is a no-op (java:228) and returns False.

    In the hive model the "backing topic" is the ``segment=N``
    partition directory; the segment descriptor itself must already be
    in the layout (descriptors are minted by create/split/merge, the
    single-CAS owners of the hash-space invariant)."""
    meta = scalable_metadata(topic_path)
    _segment_entry(meta, segment_id)
    d = os.path.join(topic_path, f"segment={int(segment_id)}")
    created = not os.path.isdir(d)
    os.makedirs(d, exist_ok=True)
    for sub in subscriptions:
        create_segment_subscription(topic_path, segment_id, sub, spark=spark)
    return created


def terminate_segment(topic_path: str, segment_id: int) -> bool:
    """ScalableTopics.terminateSegment (ScalableTopics.java:366) /
    ScalableTopicController.terminateSegmentTopic (java:1405): no more
    publishes to this segment; stored data and cursors are untouched.
    Seals the layout entry (state SEALED + ``sealed_at_ms`` stamp, no
    children). Idempotent — terminating an already-sealed segment
    returns False.

    Composition notes: a terminated segment with no children satisfies
    the coordinator's sealed-is-assignable rule immediately, and once a
    subscription's cursor passes its high watermark the drain gate
    reports it drained (checkpoint_drain_checker). Terminating a
    segment that is still part of the ACTIVE routing layout leaves a
    hash-range hole, so a subsequent ``produce_scalable`` that routes
    into it raises — the engine-side rendering of the reference's
    TopicTerminatedException on publish."""
    meta = scalable_metadata(topic_path)
    s = _segment_entry(meta, segment_id)
    if s["state"] != "ACTIVE":
        return False
    epoch = meta["epoch"] + 1
    s["state"] = "SEALED"
    s["sealed_at_epoch"] = epoch
    s["sealed_at_ms"] = _now_ms()
    meta["epoch"] = epoch
    _write_meta(topic_path, meta)
    return True


def delete_segment(
    topic_path: str,
    segment_id: int,
    force: bool = False,
    spark: SparkSession | None = None,
) -> bool:
    """ScalableTopics.deleteSegment (ScalableTopics.java:379) /
    ScalableTopicController.deleteSegmentBackingTopic (java:1288):
    remove the segment from the layout DAG (``prune_segment`` rewires
    parent/child links), delete its backing data, and drop every
    subscription's now-orphan cursor slot for it (the java:1037
    no-orphan contract). An ACTIVE segment cannot be deleted —
    terminate, split or merge it out of the layout first.

    ``force=False`` refuses while any persisted subscription still has
    backlog on the segment (needs ``spark`` for one partition-pruned
    watermark aggregate); ``force=True`` deletes unconditionally and
    never touches Spark."""
    import shutil

    meta = scalable_metadata(topic_path)
    sid = int(segment_id)
    s = _segment_entry(meta, sid)
    if s["state"] == "ACTIVE":
        raise ValueError(f"cannot delete ACTIVE segment {sid}: terminate it first")
    if not force:
        if spark is None:
            raise ValueError("delete_segment(force=False) needs a SparkSession "
                             "to check subscription backlogs")
        highs = segment_high_watermarks(spark, topic_path, segments=[sid])
        subs = _read_subscriptions(topic_path)
        for name in sorted(subs):
            if not _drained(_entry_cursor(subs[name])[0], sid, highs):
                raise ValueError(
                    f"subscription {name!r} has backlog on segment {sid}; "
                    f"use force=True to delete anyway"
                )
    prune_segment(meta, sid)
    _write_meta(topic_path, meta)
    shutil.rmtree(os.path.join(topic_path, f"segment={sid}"), ignore_errors=True)
    _drop_slot(topic_path, sid)
    return True


def delete_scalable_topic(
    topic_path: str,
    force: bool = False,
    coordinator=None,
) -> bool:
    """ScalableTopics.deleteScalableTopic (ScalableTopics.java:203) /
    ScalableTopicService.deleteScalableTopic (java:247): tear down the
    whole scalable topic in the reference's order — release the
    controller (drop live consumer sessions FIRST, so no consumer
    attaches mid-teardown), delete every underlying segment topic, then
    the durable metadata (layout DAG, subscription registry, auto-scale
    state/samples, policy sidecars).

    ``force=False`` refuses while any persisted subscription exists
    (the admin surface's 'force deletion even if topic has active
    subscriptions' contract); ``force=True`` deletes unconditionally.
    Returns False when the path is not a scalable topic (idempotent
    delete of a missing topic, like the 404-swallowing admin client).
    """
    import shutil

    try:
        scalable_metadata(topic_path)
    except Exception:
        return False
    subs = list_subscriptions(topic_path)
    if subs and not force:
        raise ValueError(
            f"scalable topic {topic_path} has subscriptions {subs}; "
            f"use force=True to delete anyway"
        )
    if coordinator is not None:
        for name in sorted(coordinator.sessions):
            coordinator.unregister_consumer(name)
    shutil.rmtree(topic_path, ignore_errors=True)
    return True


def create_segment_subscription(
    topic_path: str, segment_id: int, subscription: str, spark=None
) -> bool:
    """ScalableTopics.createSegmentSubscriptionAsync
    (ScalableTopics.java:397): create the subscription's cursor on ONE
    segment at the earliest position — the per-segment fan-out step of
    topic-level createSubscription (java:1018). In the checkpoint model
    that is an explicit ``offsets[segment] = 0`` slot (value-identical
    to the missing-entry default, persisted for metadata parity with
    the reference's per-segment cursors). Creates the topic-level
    subscription entry first if none exists. Idempotent — an existing
    slot is left untouched and returns False.

    A subscription persisted at the LATEST sentinel is first resolved
    into its concrete high-watermark vector (needs ``spark``; raises
    without one): setting an earliest slot while leaving ``latest``
    true would be inert — the read paths would still skip everything —
    silently violating the "future consumer doesn't drop the backlog"
    guarantee this verb exists for."""
    sid = int(segment_id)
    _segment_entry(scalable_metadata(topic_path), sid)
    create_subscription(topic_path, subscription)  # no-op if present
    ck = subscription_checkpoint(topic_path, subscription)
    if sid in ck.offsets and not ck.latest:
        return False
    _set_slots(spark, topic_path, subscription, {sid: 0})
    return True


def delete_segment_subscription(
    topic_path: str, segment_id: int, subscription: str
) -> bool:
    """ScalableTopics.deleteSegmentSubscriptionAsync
    (ScalableTopics.java:410): drop the subscription's cursor slot on
    ONE segment (the per-segment teardown step of topic-level
    deleteSubscription, java:1037 — no orphan cursors). A missing slot
    reverts the segment to the EARLIEST default on next attach, exactly
    like the reference where a segment with no cursor re-delivers from
    the beginning. Returns False if no slot existed."""
    subscription_checkpoint(topic_path, subscription)  # raises if unknown
    _segment_entry(scalable_metadata(topic_path), segment_id)
    return _drop_slot(topic_path, segment_id, [subscription])


def get_segment_subscription_backlog(
    spark: SparkSession, topic_path: str, segment_id: int, subscription: str
) -> int:
    """ScalableTopics.getSegmentSubscriptionBacklogAsync
    (ScalableTopics.java:427): unconsumed entries on ONE segment's
    cursor — the probe the SubscriptionCoordinator uses to detect a
    drained sealed parent (ScalableTopicController.java:610). One
    COUNT over ``subscription_visible`` (so individually-acked holes
    are excluded exactly as in ``subscription_backlog``) whose
    ``segment=N`` predicate prunes the hive partition listing; the
    optimizer folds the cursor-map lookup on that constant segment into
    a pushed ``offset >= start`` row-group-stat filter. At 100 TB the
    query touches one segment's files, never the DAG."""
    from pulsar_spark.sources.ack_holes import subscription_visible

    sid = int(segment_id)
    _segment_entry(scalable_metadata(topic_path), sid)
    visible = subscription_visible(spark, topic_path, subscription)
    return visible.where(F.col("segment") == sid).count()


def seek_segment_subscription(
    spark, topic_path: str, segment_id: int, subscription: str, timestamp: str
) -> int:
    """ScalableTopics.seekSegmentSubscriptionAsync
    (ScalableTopics.java:444): reset ONE segment's cursor slot to a
    wall-clock timestamp — the per-segment dispatch target of
    topic-wide seekSubscription (ScalableTopicController.java:950).
    Shares ``_seek_offsets`` with the topic-wide verb, so the
    lifetime-window rules (strict ms-boundary inequalities, sealed
    -> past-the-end closed form, created-after -> earliest, straddler
    -> one pruned min-aggregate) cannot drift between the two.
    ``spark`` may be None when the segment classifies scan-free and the
    subscription is not at the LATEST sentinel. Persists the slot and
    returns the new offset."""
    subscription_checkpoint(topic_path, subscription)  # raises if unknown
    sid = int(segment_id)
    s = _segment_entry(scalable_metadata(topic_path), sid)
    new_off = _seek_offsets(spark, topic_path, [s], timestamp)[sid]
    _set_slots(spark, topic_path, subscription, {sid: new_off})
    return new_off


def clear_segment_subscription_backlog(
    spark: SparkSession, topic_path: str, segment_id: int, subscription: str
) -> int:
    """ScalableTopics.clearSegmentSubscriptionBacklogAsync
    (ScalableTopics.java:454): skip every undelivered message on ONE
    segment — the per-segment closed form of topic-wide clearBacklog
    (ScalableTopicController.java:996): ``offsets[segment] = high + 1``
    from one partition-pruned watermark aggregate (``_past_end``).
    Persists the slot and returns the new offset."""
    subscription_checkpoint(topic_path, subscription)  # raises if unknown
    sid = int(segment_id)
    _segment_entry(scalable_metadata(topic_path), sid)
    end = _past_end(spark, topic_path, [sid])[sid]
    _set_slots(spark, topic_path, subscription, {sid: end})
    return end


# ------------------------------------------- multi-topic checkpoint consumer


class MultiCheckpoint:
    """Combined position vector over SEVERAL scalable topics — the
    cross-topic analog of ``Checkpoint``, keyed by topic name
    (MultiTopicStreamConsumer.java:87-93: latest-delivered position per
    parent topic, each an immutable per-segment slice; the whole map is
    the cumulative-ack vector). One serialized blob holds every
    per-topic slice, so a caller resumes a namespace subscription from
    a single stored value.
    """

    def __init__(self, topics: dict[str, Checkpoint] | None = None):
        self.topics: dict[str, Checkpoint] = dict(topics or {})

    @classmethod
    def earliest(cls) -> "MultiCheckpoint":
        return cls({})

    def to_bytes(self) -> bytes:
        return json.dumps(
            {"topics": {name: ck.to_dict() for name, ck in sorted(self.topics.items())}},
            sort_keys=True,
        ).encode("utf-8")

    @classmethod
    def from_bytes(cls, data: bytes) -> "MultiCheckpoint":
        d = json.loads(data.decode("utf-8"))
        return cls(
            {name: Checkpoint.from_dict(s) for name, s in d.get("topics", {}).items()}
        )


def scalable_watch_snapshot(
    namespace_dir: str, property_filters: dict[str, str] | None = None
) -> list[str]:
    """ScalableTopicsWatcher.onSnapshot analog: the CURRENT full set of
    scalable topics in a namespace matching the (AND-ed) property
    filters, sorted — callers replace any local state with it
    (ScalableTopicsWatcher.java:158-185; empty filters = match all).
    Re-invoking per trigger is the discovery timer: the broker-push
    watch becomes a cheap sidecar re-list in this storage layout."""
    return sorted(
        os.path.basename(p.rstrip("/"))
        for p in list_scalable_topics(namespace_dir, property_filters)
    )


def scalable_watch_diff(
    previous: list[str], current: list[str]
) -> tuple[list[str], list[str]]:
    """ScalableTopicsWatcher.onDiff analog: (added, removed) between two
    snapshots. Callers must apply removed before added — that order
    covers a rapid remove-then-add of the same name
    (ScalableTopicsWatcher.java:188-198)."""
    prev, cur = set(previous), set(current)
    return sorted(cur - prev), sorted(prev - cur)


def read_namespace_from_checkpoint(
    spark: SparkSession,
    namespace_dir: str,
    ckpt: MultiCheckpoint,
    property_filters: dict[str, str] | None = None,
) -> tuple[DataFrame, MultiCheckpoint]:
    """Multi-topic checkpoint consume — MultiTopicStreamConsumer /
    MultiTopicQueueConsumer.java over this engine's batch model: the
    union of every matching scalable topic's rows at or past the
    combined vector, plus the ADVANCED vector that resumes exactly
    after them.

    Semantics carried over from the reference:
    - Topic discovery is a watcher snapshot per call
      (MultiTopicStreamConsumer.WatcherListener.onSnapshot): topics
      created since the last call are consumed from their beginning,
      no restart.
    - A topic that left the matching set is detached, NOT acked
      (MultiTopicStreamConsumer.closeTopic javadoc): its slice is
      retained verbatim in the advanced vector, so if it re-enters the
      set later, delivery resumes from where it left off —
      at-least-once, never silently advanced.
    - Per-topic per-segment order is (segment_id, offset), exactly the
      single-topic contract; rows carry ``topic_name`` so downstream
      routing stays per-topic (no cross-topic order, reference
      behavior).

    Scale shape: one partition-pruned scan + one 8-ish-row max-offset
    aggregate per topic; the union is plan-level (no shuffle). The
    data is never collected.

    Like the single-topic ``read_from_checkpoint``, a poll before ANY
    matching topic has been produced to returns a
    (topic_name, segment, offset) stub frame — the envelope schema
    exists only once data does; empty polls after the first produce
    carry the full schema.
    """
    names = scalable_watch_snapshot(namespace_dir, property_filters)
    frames: list[DataFrame] = []
    advanced: dict[str, Checkpoint] = {
        # retained slices for topics no longer (or not yet) matching
        name: Checkpoint(dict(ck.offsets), latest=ck.latest)
        for name, ck in ckpt.topics.items()
        if name not in names
    }
    for name in names:
        sub = ckpt.topics.get(name, Checkpoint.earliest())
        df, adv = read_from_checkpoint(
            spark, os.path.join(namespace_dir, name), sub
        )
        advanced[name] = adv
        if "key" in df.columns:  # skip never-produced stub frames
            frames.append(df.withColumn("topic_name", F.lit(name)))
    if not frames:
        empty = spark.createDataFrame(
            [], "topic_name string, segment int, offset bigint"
        )
        return empty, MultiCheckpoint(advanced)
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f, allowMissingColumns=True)
    return out, MultiCheckpoint(advanced)


def resolve_segment_lineage(segment_id: int, hash_value: int, meta: dict) -> int:
    """Stale-layout route resolution — ClientSegmentLayout.java:38 +
    ScalableTopicProducer's segment-gone retry: a client that routed
    ``hash_value`` to ``segment_id`` under a CACHED (possibly
    behind-an-epoch) layout resolves against the current ``meta`` by
    following the segment's lineage until an ACTIVE segment containing
    the hash is found. Split children partition the parent's range and
    merge children cover their parents', so exactly one path exists;
    routing against a stale sidecar therefore always lands in the
    unique ACTIVE segment that currently owns the hash."""
    segs = {int(s["segment_id"]): s for s in meta["segments"].values()}
    if segment_id not in segs:
        raise SegmentGoneError(f"unknown segment {segment_id}")
    s = segs[segment_id]
    hops = 0
    while s["state"] != "ACTIVE":
        nxt = None
        for cid in s["child_ids"]:
            c = segs[int(cid)]
            if c["start"] <= hash_value <= c["end"]:
                nxt = c
                break
        if nxt is None:
            raise SegmentGoneError(
                f"no active descendant of segment {segment_id} owns hash {hash_value}"
            )
        s = nxt
        hops += 1
        if hops > len(segs):
            raise SegmentGoneError("lineage cycle detected")
    return int(s["segment_id"])


def entry_bucket_hash(key, deterministic_mod: bool = False):
    """The 16-bit entry-bucket hash — the LOW 16 bits of the key's
    murmur3_32, independent of the segment hash taken from the HIGH 16
    bits of the same value (ScalableTopicHashing.entryBucketHash,
    PIP-486: one hash computed per key, split into two independent
    rings so a segment's keys spread evenly across its buckets).

    ``deterministic_mod`` mirrors the engine's oracle convention with a
    DIFFERENT multiplicative mix than the segment slot, keeping the
    two pseudo-rings independent cross-engine."""
    key_col = F.col(key) if isinstance(key, str) else key
    if deterministic_mod:
        # same non-numeric-key treatment as segment_hash: try_cast +
        # masked crc32 keeps the two pseudo-rings total over every
        # non-null key (a bare cast would throw under ANSI / NULL out
        # of the bucket ring otherwise)
        basis = F.coalesce(
            key_col.try_cast("bigint"),
            F.crc32(key_col.cast("string").cast("binary")).bitwiseAND(F.lit(0x7FFFFFFF)),
        )
        return F.pmod(basis * F.lit(2246822519), F.lit(MAX_HASH + 1)).cast("int")
    return F.hash(key_col).bitwiseAND(F.lit(MAX_HASH)).cast("int")


def bucket_of(hash_col, splits: list[int]):
    """Bucket index from ordered split boundaries — the producer-side
    bucketOf (EntryBucketBatchContainer.bucketOf: the count of splits
    at or below the hash), giving ranges [0, s1), [s1, s2), ...,
    [s_n, 0xFFFF]."""
    expr = F.lit(0)
    for s in splits:
        expr = expr + (hash_col >= F.lit(int(s))).cast("int")
    return expr.cast("int")


def key_shared_buckets(
    messages: DataFrame,
    splits: list[int],
    key_col: str = "key",
    deterministic_mod: bool = False,
) -> DataFrame:
    """PIP-486 key-shared consumption within a segment: every entry is
    assigned to ONE bucket at produce time (no broker-side per-key
    hashing at dispatch), a bucket goes to exactly one consumer, and
    per-key order holds because a key's bucket hash never changes.
    Adds ``entry_bucket`` and ``bucket`` columns; the controller's
    bucket->consumer map is a tiny broadcast the caller applies on
    top. Pure narrow expressions — rides the scan."""
    h = entry_bucket_hash(F.col(key_col), deterministic_mod)
    return messages.withColumn("entry_bucket", h).withColumn(
        "bucket", bucket_of(F.col("entry_bucket"), sorted(splits))
    )
