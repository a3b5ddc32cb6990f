"""Replicated subscriptions — cross-cluster cursor synchronization via
snapshot markers.

Reference semantics (pulsar-broker/.../persistent/
ReplicatedSubscriptionsController.java):

- a timer starts a snapshot (:104 scheduled ``startNewSnapshot``),
  skipped when no data was written since the last one or when a
  snapshot is already pending and none ever completed;
- the origin writes a SNAPSHOT_REQUEST marker into its own topic; the
  replicator forwards it like data (PersistentReplicator.java:847
  ``checkReplicatedSubscriptionMarker`` — markers travel through the
  replication channel, which is what makes the protocol a consistent
  cut);
- each remote, on seeing a request that arrived FROM the origin,
  answers with a SNAPSHOT_RESPONSE carrying its current last position
  (:171 ``receivedSnapshotRequest`` — the response is written locally
  and replicated back);
- the origin collects responses (:180 ``receivedSnapshotResponse`` →
  ReplicatedSubscriptionsSnapshotBuilder), running TWO request rounds
  when there is more than one remote (builder:`needTwoRounds` — the
  second round flushes messages exchanged between the other clusters
  in the meantime), then stores a SNAPSHOT marker locally;
- when a replicated subscription's mark-delete position advances past
  a completed snapshot's local position, the origin emits a
  SUBSCRIPTION_UPDATE marker (:133 ``localSubscriptionUpdated``) and
  every remote moves (or creates,
  :219-230) its copy of the subscription to the mapped position via a
  cumulative ack.

Marker type values follow pulsar-common's PulsarMarkers.proto:29-32.

Positions here are per-partition NEXT-OFFSET vectors (each topic
partition is an independent replication lane, exactly like the
reference where replicated subscriptions run per partition-topic).
The consistent-cut argument is per lane: a responder reads its high
watermark BEFORE writing its response rows, and writes ONE response
row into EACH lane — so when the origin has received the response row
of lane p through the replication channel, every remote row of lane p
below the response's watermark has already arrived at the origin
(per-lane FIFO of the replicator). The origin completes the snapshot
only when ALL lanes of ALL clusters have answered, at which point its
own high-watermark vector dominates every covered remote row — that
vector is the snapshot's ``local_position``.

Scale shape: markers are a handful of rows per snapshot, and the
controller is INCREMENTAL — both halves of ``tick()`` are driven by
checkpointed Structured Streaming legs over the local topic (the
file source's seen-files log), so each stored file is read a bounded
number of times ever (once by the marker drain, once per replicator
leg) and a tick with no new data plans ZERO batches and reads ZERO
data files. Protocol-marker writes are batched per call (one append,
not one file per marker), and the stored marker rows fold into the
ordinary ``compact_topic_storage`` maintenance rewrite like any other
log entry. The only non-incremental reads are the bounded
per-partition MAX watermark aggregates taken while answering or
completing a snapshot.
"""
from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pulsar_spark.durable import read_json, write_atomic
from pulsar_spark.streaming.subscribe import await_drain

#: PulsarMarkers.proto:29-32
MARKER_SNAPSHOT_REQUEST = 10
MARKER_SNAPSHOT_RESPONSE = 11
MARKER_SNAPSHOT = 12
MARKER_SUBSCRIPTION_UPDATE = 13

#: replicated-subscription marker types the replicator forwards
#: (PersistentReplicator.java:864-869; the terminal SNAPSHOT marker is
#: stored locally and never needs to travel)
REPLICATED_MARKER_TYPES = (
    MARKER_SNAPSHOT_REQUEST,
    MARKER_SNAPSHOT_RESPONSE,
    MARKER_SUBSCRIPTION_UPDATE,
)

_STATE = "_replsub_state.json"
#: streaming-checkpoint root inside the topic dir (underscore prefix =
#: invisible to parquet partition discovery, like the state sidecar)
_CKPT = "_replsub_ckpt"

_MIN_MARKER_SCHEMA = T.StructType(
    [
        T.StructField("topic", T.StringType()),
        T.StructField("partition", T.IntegerType()),
        T.StructField("offset", T.LongType()),
        T.StructField("producer_name", T.StringType()),
        T.StructField("sequence_id", T.LongType()),
        T.StructField("publish_time", T.TimestampType()),
        T.StructField("key", T.StringType()),
        T.StructField("marker_type", T.IntegerType()),
        T.StructField("replicated_from", T.StringType()),
        T.StructField("props", T.StringType()),
    ]
)


def _now_ms() -> int:
    return int(time.time() * 1000)


def high_watermarks(spark: SparkSession, topic_path: str) -> dict[int, int]:
    """Per-partition next-offset vector of a stored topic — the vector
    rendering of ``topic.getLastPosition()``: the shared past-the-end
    vector (``scalable._past_end``, one grouped MAX scan of the
    ``offset`` column); empty/missing topics are the empty vector."""
    from pulsar_spark.sources.scalable import _past_end

    return _past_end(spark, topic_path, lane="partition")


def write_marker_rows(
    spark: SparkSession,
    topic_path: str,
    rows: list[tuple[int, int, dict]],
) -> None:
    """Append marker rows — ``(partition, marker_type, payload)`` with
    the payload JSON-encoded into the envelope's ``props`` column —
    directly to the topic log, conforming to the topic's existing file
    schema (the reference's ``writeMarker`` also bypasses the producer
    path: Topic.publishMessage with a marker payload). Offsets continue
    each lane's watermark so markers are ordinary log entries to every
    scan."""
    from pulsar_spark.sources.topics import _read_topic_if_present, stored_high_offsets

    existing = _read_topic_if_present(spark, topic_path)
    if existing is None:
        schema = _MIN_MARKER_SCHEMA
        high: dict[int, int] = {}
    else:
        # extend the topic's file schema with the marker columns it may
        # not carry yet (plain produce topics have no marker rows);
        # readers merge schemas, so data files stay untouched
        fields = list(existing.schema.fields)
        have = {f.name for f in fields}
        for name, dtype in (
            ("marker_type", T.IntegerType()),
            ("replicated_from", T.StringType()),
            ("props", T.StringType()),
        ):
            if name not in have:
                fields.append(T.StructField(name, dtype))
        schema = T.StructType(fields)
        high = stored_high_offsets(existing)
    names = [f.name for f in schema.fields]
    out = []
    import datetime

    now = datetime.datetime.now(datetime.timezone.utc).replace(tzinfo=None)
    topic_name = "persistent://public/default/" + os.path.basename(
        topic_path.rstrip("/")
    )
    for partition, marker_type, payload in rows:
        p = int(partition)
        off = high[p] = high.get(p, -1) + 1
        vals = {
            "topic": topic_name,
            "partition": p,
            "offset": off,
            "producer_name": "__replsub__",
            "sequence_id": off,
            "publish_time": now,
            "marker_type": int(marker_type),
            "props": json.dumps(payload, sort_keys=True),
        }
        out.append(tuple(vals.get(n) for n in names))
    (
        spark.createDataFrame(out, schema)
        .write.mode("append")
        .partitionBy("partition")
        .parquet(topic_path)
    )


class ReplicatedSubscriptionsController:
    """Per-(topic, cluster) controller. ``remotes`` maps remote cluster
    name -> that cluster's topic directory (the transport address the
    replicator forwards to). All protocol state — pending snapshot
    builders, completed-snapshot cache, marker-processing watermarks —
    persists in ``_replsub_state.json`` inside the local topic dir, so
    a controller restart resumes instead of re-answering old markers.

    Clocks are explicit (``now_ms`` parameters) like every other
    time-dependent operator in this engine, so timeout behavior is
    testable without wall-clock sleeps."""

    def __init__(
        self,
        spark: SparkSession,
        topic_path: str,
        local_cluster: str,
        remotes: dict[str, str],
        snapshot_timeout_s: float = 30.0,
        max_cached_snapshots: int = 10,
    ) -> None:
        self.spark = spark
        self.topic_path = topic_path
        self.local_cluster = local_cluster
        self.remotes = dict(remotes)
        self.snapshot_timeout_ms = int(snapshot_timeout_s * 1000)
        self.max_cached_snapshots = int(max_cached_snapshots)
        # markers emitted while draining are buffered and flushed as ONE
        # append per processing pass — a snapshot cadence of seconds must
        # not grow the topic's file count one tiny file per marker
        self._marker_buffer: list[tuple[int, int, dict]] = []

    def _emit(self, rows: list[tuple[int, int, dict]]) -> None:
        self._marker_buffer.extend(rows)

    def _flush_markers(self) -> None:
        if self._marker_buffer:
            write_marker_rows(self.spark, self.topic_path, self._marker_buffer)
            self._marker_buffer = []

    def enabled(self) -> bool:
        """Per-namespace/topic enablement — the
        ``Namespaces.setReplicatedSubscriptionStatus`` analog, read from
        the durable policy registry
        (``replicated_subscriptions_enabled``, default ON like the
        reference's broker default). A disabled controller neither
        starts snapshots nor ticks — deployment matches the
        reference's per-namespace switch without code changes."""
        from pulsar_spark.sources.policies import effective_policies

        return bool(
            effective_policies(self.topic_path).get(
                "replicated_subscriptions_enabled", True
            )
        )

    def _has_data(self) -> bool:
        """Presence = partition= subdirectories exist — the same cheap
        metadata check _read_topic_if_present uses, without paying a
        reader's footer/schema inference just to probe."""
        if not os.path.isdir(self.topic_path):
            return False
        return any(n.startswith("partition=") for n in os.listdir(self.topic_path))

    # ------------------------------------------------------------ state

    def _state_path(self) -> str:
        return os.path.join(self.topic_path, _STATE)

    def _load(self) -> dict:
        return read_json(
            self._state_path(),
            {
                "marker_watermarks": {},
                "pending": {},
                "snapshots": [],
                "next_seq": 1,
                "last_completed_ms": 0,
                "last_snapshot_watermark": None,
            },
        )

    def _save(self, st: dict) -> None:
        write_atomic(self._state_path(), st)

    # ------------------------------------------------------- snapshotting

    def start_snapshot(self, now_ms: int | None = None) -> str | None:
        """``startNewSnapshot`` (:231): clean up timed-out builders,
        skip when a builder is pending and none ever completed (:246 —
        a remote with replication disabled would never answer; retry on
        the timeout cadence instead of flooding both topics), skip when
        no data arrived since the last snapshot (:259), else write a
        SNAPSHOT_REQUEST marker. Returns the snapshot id, or None when
        skipped."""
        if not self.enabled():
            return None
        now = _now_ms() if now_ms is None else int(now_ms)
        st = self._load()
        self._cleanup_timed_out(st, now)
        if st["pending"] and not st["last_completed_ms"]:
            self._save(st)
            return None
        wm = high_watermarks(self.spark, self.topic_path)
        if st["last_snapshot_watermark"] is not None and {
            str(k): v for k, v in wm.items()
        } == st["last_snapshot_watermark"]:
            # nothing written since the last snapshot
            self._save(st)
            return None
        sid = f"snap-{self.local_cluster}-{st['next_seq']}"
        st["next_seq"] += 1
        st["pending"][sid] = {
            "started_ms": now,
            "round": 1,
            "responses": {},
            "arrived": {},
        }
        self._save(st)
        write_marker_rows(
            self.spark,
            self.topic_path,
            [(0, MARKER_SNAPSHOT_REQUEST,
              {"snapshot_id": sid, "source_cluster": self.local_cluster,
               "round": 1})],
        )
        return sid

    def _cleanup_timed_out(self, st: dict, now: int) -> None:
        for sid in [
            s for s, b in st["pending"].items()
            if now - b["started_ms"] > self.snapshot_timeout_ms
        ]:
            del st["pending"][sid]

    # -------------------------------------------------- marker processing

    def process_markers(self, now_ms: int | None = None) -> int:
        """Process every replicated-subscription marker that arrived
        through the replication channel since the last call
        (``receivedReplicatedSubscriptionMarker`` dispatch, :113-126).

        Incremental: the drain is a checkpointed availableNow stream
        over the topic (checkpoint ``_replsub_ckpt/markers`` inside the
        topic dir), so each stored file is marker-scanned ONCE ever — a
        call with no new files plans zero batches and reads zero data
        files, where a full-topic re-read would be O(log size) per
        tick. The marker-type/origin filter rides the batch scan (only
        five narrow columns are ever collected); the persisted
        per-(origin, lane) watermarks remain as the idempotence guard
        for checkpoint loss and for at-least-once batch replays.
        Returns the number of markers processed."""
        now = _now_ms() if now_ms is None else int(now_ms)
        if not self._has_data():
            return 0
        from pulsar_spark.streaming.subscribe import subscribe

        stream = subscribe(self.spark, self.topic_path)
        if "replicated_from" not in stream.columns or "props" not in stream.columns:
            # no marker has ever been written anywhere in this topic —
            # nothing to drain (the files stay unseen by the marker
            # checkpoint and are caught up the first time markers exist)
            return 0
        processed = [0]

        def handle(batch: DataFrame, epoch_id: int) -> None:
            # ALL processing happens INSIDE the batch: the file-source
            # checkpoint only commits these files as consumed when this
            # function returns — a crash mid-processing fails the batch
            # and the next call REPLAYS it, where the persisted
            # per-(origin, lane) watermarks below dedup the side effects
            # already applied (at-least-once replay + idempotent apply =
            # the markers are never lost AND never double-processed)
            collected = (
                batch.where(
                    F.col("marker_type").isin(list(REPLICATED_MARKER_TYPES))
                    & F.col("replicated_from").isNotNull()
                )
                .select(
                    "replicated_from", "partition", "offset", "marker_type", "props"
                )
                .collect()
            )
            # a failed previous attempt may have left half-built
            # buffered markers; the replay recomputes them from scratch
            self._marker_buffer = []
            st = self._load()
            wms = st["marker_watermarks"]
            rows = [
                r for r in collected
                if int(r.offset)
                >= int(wms.get(f"{r.replicated_from}|{int(r.partition)}", 0))
            ]
            rows.sort(
                key=lambda r: (r.replicated_from, int(r.partition), int(r.offset))
            )
            completed_snapshot = False
            for r in rows:
                payload = json.loads(r.props)
                mt = int(r.marker_type)
                if mt == MARKER_SNAPSHOT_REQUEST:
                    self._received_snapshot_request(payload)
                elif mt == MARKER_SNAPSHOT_RESPONSE:
                    completed_snapshot |= self._received_snapshot_response(
                        st, payload, now
                    )
                elif mt == MARKER_SUBSCRIPTION_UPDATE:
                    self._received_subscription_update(payload)
                key = f"{r.replicated_from}|{int(r.partition)}"
                wms[key] = max(int(wms.get(key, 0)), int(r.offset) + 1)
                processed[0] += 1
            # ONE append for every marker this pass emitted (responses,
            # round-2 requests, completed snapshots). Ordering choice:
            # flush BEFORE saving the watermarks — a crash in between
            # re-emits the same markers on replay (at-least-once), which
            # every receiver absorbs idempotently (builder putIfAbsent,
            # cumulative max-merge acks); the reverse order would LOSE
            # emissions and stall the protocol until timeout
            self._flush_markers()
            if completed_snapshot:
                # the no-new-data guard must compare against the
                # watermark INCLUDING the snapshot marker just flushed,
                # or every snapshot would be followed by another
                # covering only its own marker row
                st["last_snapshot_watermark"] = {
                    str(k): v
                    for k, v in high_watermarks(self.spark, self.topic_path).items()
                }
            self._save(st)

        q = (
            stream.writeStream.foreachBatch(handle)
            .option(
                "checkpointLocation",
                os.path.join(self.topic_path, _CKPT, "markers"),
            )
            .trigger(availableNow=True)
            .start()
        )
        await_drain(q)
        return processed[0]

    def _received_snapshot_request(self, payload: dict) -> None:
        """:171 — answer with the local last position, one response row
        PER LANE so the origin's completion implies per-lane coverage.
        Ignored when no replicator to the requesting cluster is
        configured (:152-160)."""
        src = payload["source_cluster"]
        if src not in self.remotes:
            return
        from pulsar_spark.sources.topics import topic_metadata

        wm = high_watermarks(self.spark, self.topic_path)
        meta = topic_metadata(self.topic_path)
        parts = sorted(
            set(range(meta["num_partitions"])) | set(wm) if meta else set(wm) | {0}
        )
        # buffered: the watermark is read NOW (covering everything that
        # arrived before this request through the per-lane FIFO), the
        # rows land in the single per-pass flush — nothing else appends
        # between read and flush (single-writer controller), so the
        # consistent-cut argument is unchanged
        self._emit(
            [
                (
                    p,
                    MARKER_SNAPSHOT_RESPONSE,
                    {
                        "snapshot_id": payload["snapshot_id"],
                        "source_cluster": src,
                        "cluster": self.local_cluster,
                        "round": payload.get("round", 1),
                        "partition": p,
                        "next_offset": wm.get(p, 0),
                        "n_partitions": len(parts),
                    },
                )
                for p in parts
            ],
        )

    def _received_snapshot_response(self, st: dict, payload: dict, now: int) -> bool:
        """The snapshot-builder path (:180 →
        ReplicatedSubscriptionsSnapshotBuilder.receivedSnapshotResponse):
        first-round positions are kept (putIfAbsent), the second round
        only ticks off arrivals; with >1 remote the first complete round
        triggers a second request, the last completes the snapshot.
        Returns True when this response COMPLETED a snapshot (the
        caller refreshes the no-new-data watermark after the flush)."""
        if payload.get("source_cluster") != self.local_cluster:
            return False
        sid = payload["snapshot_id"]
        b = st["pending"].get(sid)
        if b is None:
            return False  # late reply for a timed-out snapshot (:183)
        if int(payload.get("round", 1)) != int(b["round"]):
            return False  # stale round replay
        cl = payload["cluster"]
        lane = str(int(payload["partition"]))
        b["responses"].setdefault(cl, {}).setdefault(lane, int(payload["next_offset"]))
        arrived = b["arrived"].setdefault(cl, {})
        arrived[lane] = True
        arrived["__n"] = int(payload["n_partitions"])
        complete = all(
            cl_ in b["arrived"]
            and len([k for k in b["arrived"][cl_] if k != "__n"])
            >= int(b["arrived"][cl_]["__n"])
            for cl_ in self.remotes
        )
        if not complete:
            return False
        if len(self.remotes) > 1 and int(b["round"]) == 1:
            # two rounds needed to catch messages in flight between the
            # other clusters (builder:needTwoRounds)
            b["round"] = 2
            b["arrived"] = {}
            self._emit(
                [(0, MARKER_SNAPSHOT_REQUEST,
                  {"snapshot_id": sid, "source_cluster": self.local_cluster,
                   "round": 2})],
            )
            return False
        # snapshot complete: local position = our full watermark vector,
        # which dominates every remote row covered by the responses
        # (they all arrived before the responses' lane rows did)
        local_pos = {
            str(k): v for k, v in high_watermarks(self.spark, self.topic_path).items()
        }
        snap = {
            "seq": st["next_seq"],
            "snapshot_id": sid,
            "local_position": local_pos,
            "clusters": {c: dict(v) for c, v in b["responses"].items()},
        }
        st["next_seq"] += 1
        st["snapshots"].append(snap)
        # bound the completed-snapshot cache like the reference's
        # ReplicatedSubscriptionSnapshotCache (which caps by count):
        # with no subscription attached (or one that lags forever)
        # nothing else ever prunes, and the sidecar would otherwise
        # grow — and be rewritten — on every completed snapshot
        if len(st["snapshots"]) > self.max_cached_snapshots:
            st["snapshots"] = sorted(
                st["snapshots"], key=lambda s: s["seq"]
            )[-self.max_cached_snapshots:]
        st["last_completed_ms"] = now
        del st["pending"][sid]
        self._emit([(0, MARKER_SNAPSHOT, snap)])
        # the caller refreshes last_snapshot_watermark AFTER the flush
        # so the recorded vector includes the snapshot marker row
        return True

    def _received_subscription_update(self, payload: dict) -> None:
        """:200 ``receiveSubscriptionUpdated``: if the update carries a
        position for THIS cluster, cumulative-ack the local copy of the
        subscription to it, creating the subscription when missing
        (:219-230)."""
        positions = payload.get("clusters", {}).get(self.local_cluster)
        if positions is None:
            return
        from pulsar_spark.sources import cursors

        cursors.ack_cumulative(
            self.topic_path,
            payload["subscription"],
            {int(k): int(v) for k, v in positions.items()},
            create_replicated=True,
        )

    # ------------------------------------------------------- cursor sync

    def sync_subscription(self, subscription: str) -> dict | None:
        """``localSubscriptionUpdated`` (:133) +
        ReplicatedSubscriptionSnapshotCache.advancedMarkDeletePosition:
        find the NEWEST completed snapshot whose local position the
        subscription's mark-delete vector dominates, emit a
        SUBSCRIPTION_UPDATE marker with its per-cluster positions, and
        drop it plus every older snapshot from the cache. Returns the
        snapshot used, or None when the cursor has not reached any."""
        from pulsar_spark.sources import cursors

        cursor = cursors.subscription_positions(self.topic_path, subscription)
        st = self._load()
        chosen = None
        for snap in sorted(st["snapshots"], key=lambda s: s["seq"], reverse=True):
            if all(
                cursor.get(int(p), 0) >= int(off)
                for p, off in snap["local_position"].items()
            ):
                chosen = snap
                break
        if chosen is None:
            return None
        st["snapshots"] = [s for s in st["snapshots"] if s["seq"] > chosen["seq"]]
        self._save(st)
        write_marker_rows(
            self.spark,
            self.topic_path,
            [(0, MARKER_SUBSCRIPTION_UPDATE,
              {"subscription": subscription, "clusters": chosen["clusters"]})],
        )
        return chosen

    # ------------------------------------------------------------- wiring

    def replicate_out(self) -> dict[str, int]:
        """Forward the local topic to every remote with
        replicated-subscription markers enabled — one CHECKPOINTED
        replicator leg per remote (``replicate_stream`` with
        ``isEnableReplicatedSubscriptions`` on, checkpoint
        ``_replsub_ckpt/out-<cluster>`` inside the topic dir), the
        GeoPersistentReplicator shape.

        Incremental: the file source's seen-files log means each local
        file is forwarded-scanned once per remote ever; a call with no
        new data plans zero batches and reads zero data files (where
        the previous full-topic ``replicate_batch`` re-read the whole
        log AND the whole remote coordinate set every cycle). The legs
        run concurrently (started, then awaited). A replay after a torn
        epoch is still exactly-once via the replicator's presence
        dedup, whose anti-join build side stays bounded to the replayed
        batch's offset window. Returns per-remote input-row counts of
        this pass (all zero on a quiescent tick)."""
        from pulsar_spark.streaming.replication import replicate_stream

        if not self._has_data():
            # pre-created topic with only sidecars: the normal deploy
            # order attaches the controller before the first produce
            return {c: 0 for c in self.remotes}
        legs = {
            cluster: replicate_stream(
                self.spark,
                self.topic_path,
                dst,
                self.local_cluster,
                cluster,
                os.path.join(self.topic_path, _CKPT, f"out-{cluster}"),
                replicated_subscriptions=True,
            )
            for cluster, dst in sorted(self.remotes.items())
        }
        out: dict[str, int] = {}
        try:
            for cluster, q in legs.items():
                await_drain(q)
                out[cluster] = sum(
                    int(p["numInputRows"]) for p in (q.recentProgress or [])
                )
        except BaseException:
            for q in legs.values():  # a timed-out leg must not strand the rest
                q.stop()
            raise
        return out

    def tick(self, now_ms: int | None = None) -> dict:
        """One controller cycle: process whatever the replication
        channel delivered, then forward local rows (data AND protocol
        markers) to every remote. Both halves are checkpoint-driven, so
        a tick on a quiescent topic is marker-file listings only — no
        data file is (re)read. Returns
        ``{"markers": n, "forwarded": {cluster: input_rows}}`` (or a
        disabled record when the stored
        ``replicated_subscriptions_enabled`` policy turns the protocol
        off for this topic/namespace)."""
        if not self.enabled():
            return {"markers": 0, "forwarded": {}, "disabled": True}
        n = self.process_markers(now_ms=now_ms)
        return {"markers": n, "forwarded": self.replicate_out()}
