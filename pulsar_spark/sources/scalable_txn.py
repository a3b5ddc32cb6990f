"""v5 transactions over scalable topics — atomic produce + checkpoint
advance.

Reference semantics: the v5 client API exposes
``PulsarClient.newTransaction()`` (pulsar-client-api-v5/.../v5/
PulsarClient.java:95) returning a ``Transaction`` handle
(Transaction.java:30 — commit makes produced messages visible AND
acknowledgments durable atomically; abort discards both);
``ScalableTopicProducer.sendInternal`` routes a transactional send to
the owning segment's producer (pulsar-client-v5/.../v5/
ScalableTopicProducer.java:190), ``QueueConsumer.acknowledge(MessageId,
Transaction)`` (QueueConsumer.java:94 →
ScalableQueueConsumer.java:234) stages an individual ack under the
txn, and ``StreamConsumer.acknowledgeCumulative(MessageId,
Transaction)`` (ScalableStreamConsumer.java:302) stages the position
VECTOR — each segment advanced up to the vector's entry. The broker
side is TransactionCoordinatorV5 (pulsar-broker/.../transaction/
coordinator/v5/TransactionCoordinatorV5.java): a metadata-store state
machine whose COMMITTED flip is the atomic point, after which the
per-topic/per-subscription effects are applied as idempotent replay.

Spark-first composition: transactional produces reuse the classic txn
buffer rendering — rows land in the segment files immediately, stamped
with ``txn_id``, and every reader view anti-joins against the
non-committed set (operators/transactions.committed_view, a broadcast
of the coordinator's tiny state table). Transactional acks stage a
per-(topic, subscription) offset vector INSIDE the coordinator's
record; ``commit()`` first flips the status (one atomic JSON rename —
the durable commit point) and then applies the staged vectors to the
persisted subscription registry (sources/scalable.py
``_edit_cursors``, the one cursor edit) as max-forward merges, marking the
record applied. A crash between the two halves is recovered by
``recover()``: any COMMITTED-but-unapplied record is re-applied —
idempotent because cursor advances are monotone merges — and aborted
or timed-out records drop their staged vectors.

Individual acks past the contiguous prefix land in the subscription's
persisted HOLE SET (sources/ack_holes.py — the
``individualDeletedMessages`` analog, ManagedCursorImpl.java:202):
commit advances each segment's cursor over the contiguous acked prefix
AND records the scattered remainder as ranges the redelivery view
excludes, exactly like the reference. (Earlier rounds documented a
divergence here — cursor-only state redelivered acked-but-holed
offsets after failover; the hole set closes it.)

Scale shape: the coordinator record is O(segments × subscriptions)
JSON — the reference keeps the same thing in the metadata store;
nothing here scans data. Visibility filtering broadcasts the bounded
txn-state table and rides the segment scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pulsar_spark.operators.transactions import (
    ABORTED,
    COMMITTED,
    OPEN,
    TransactionCoordinator,
    committed_view,
)
from pulsar_spark.sources.scalable import (
    Checkpoint,
    _acked,
    _edit_cursors,
    produce_scalable,
)


def _advance_vector(topic_path: str, subscription: str, offsets: dict) -> None:
    """A staged vector applied as a cumulative ack (``_acked``) on the
    persisted subscription cursor — monotone, hence safely re-appliable
    by crash recovery. A slot edit like any other: a LATEST sentinel
    resolves (with the active session) before the merge, so the
    segments the ack does not name keep their past-the-end position."""
    _edit_cursors(
        topic_path,
        lambda ck, holes: _acked(ck, offsets, holes),
        [subscription],
        SparkSession.getActiveSession(),
        resolve_latest=True,
    )


class V5TransactionCoordinator(TransactionCoordinator):
    """TransactionCoordinatorV5 rendering: the classic file-backed state
    machine (begin/commit/abort/timeout — operators/transactions.py)
    extended with staged subscription-checkpoint advances so a v5
    transaction atomically covers produces AND acks.

    Record layout per txn (beyond status/deadline):
    ``pending_acks``: {topic_path: {subscription: {segment: next_off}}}
    (cumulative/vector acks), ``pending_acks_individual``: same nesting
    with offset LISTS (queue-discipline acks), ``acks_applied``: the
    post-commit half's completion flag."""

    # ------------------------------------------------------------ staging

    def acknowledge_cumulative(
        self,
        txn_id: int,
        topic_path: str,
        subscription: str,
        offsets: dict[int, int],
    ) -> None:
        """StreamConsumer.acknowledgeCumulative(MessageId, Transaction)
        (ScalableStreamConsumer.java:302): stage the position vector —
        per segment, the cursor will advance to ``next_off`` on commit.
        Later stages within the same txn merge max-forward."""
        state = self._load()
        rec = self._open_record(state, txn_id)
        staged = (
            rec.setdefault("pending_acks", {})
            .setdefault(topic_path, {})
            .setdefault(subscription, {})
        )
        for seg, off in offsets.items():
            k = str(int(seg))
            staged[k] = max(int(staged.get(k, 0)), int(off))
        self._save(state)

    def acknowledge(
        self,
        txn_id: int,
        topic_path: str,
        subscription: str,
        segment_id: int,
        offset: int,
    ) -> None:
        """QueueConsumer.acknowledge(MessageId, Transaction)
        (QueueConsumer.java:94 → ScalableQueueConsumer.java:234): stage
        ONE message id under the txn. On commit the individual acks
        fold into the persisted (cursor, hole-set) pair — contiguous
        prefix advances the vector, the scattered rest become
        individualDeletedMessages ranges (sources/ack_holes.py)."""
        state = self._load()
        rec = self._open_record(state, txn_id)
        lst = (
            rec.setdefault("pending_acks_individual", {})
            .setdefault(topic_path, {})
            .setdefault(subscription, {})
            .setdefault(str(int(segment_id)), [])
        )
        if int(offset) not in lst:
            lst.append(int(offset))
        self._save(state)

    def _open_record(self, state: dict, txn_id: int) -> dict:
        rec = state.get(str(txn_id))
        if rec is None:
            raise KeyError(f"unknown txn {txn_id}")
        if rec["status"] != OPEN:
            raise ValueError(f"txn {txn_id} is {rec['status']}, cannot stage acks")
        return rec

    # ------------------------------------------------------- commit/abort

    def commit(self, txn_id: int) -> None:
        """Transaction.commit (Transaction.java:30): flip to COMMITTED —
        ONE atomic registry write, the durable commit point that makes
        every produced row visible to ``read_scalable_committed`` — then
        apply the staged checkpoint advances. A crash between the two
        halves leaves a COMMITTED-but-unapplied record that
        ``recover()`` (or the next ``commit`` attempt's caller calling
        recover) finishes idempotently."""
        self._transition(txn_id, COMMITTED)
        self._apply_acks(txn_id)

    def abort(self, txn_id: int) -> None:
        """Transaction.abort: produced rows stay invisible forever (the
        txn buffer discards), staged ack vectors are rolled back —
        never applied, and dropped from the record so the messages
        remain redeliverable."""
        self._transition(txn_id, ABORTED)
        state = self._load()
        rec = state[str(txn_id)]
        rec.pop("pending_acks", None)
        rec.pop("pending_acks_individual", None)
        self._save(state)

    def sweep_timeouts(self) -> list[int]:
        """Timeout sweep that ALSO compacts the aborted records' staged
        ack vectors (the explicit ``abort`` path drops them; the sweep
        must too, or a long-open churn of staged acks keeps dead
        vectors in the registry until materialization — the registry
        record must stay O(OPEN txns), never O(ever-aborted acks))."""
        out = super().sweep_timeouts()
        if out:
            state = self._load()
            for t in out:
                rec = state.get(str(t))
                if rec is not None:
                    rec.pop("pending_acks", None)
                    rec.pop("pending_acks_individual", None)
            self._save(state)
        return out

    def _apply_acks(self, txn_id: int) -> bool:
        """The post-commit half: push staged vectors into the persisted
        subscription registry, and fold staged INDIVIDUAL acks into the
        (cursor, hole-set) pair via ``acknowledge_individual`` — the
        contiguous prefix advances the vector, the scattered remainder
        persists as individualDeletedMessages ranges. Idempotent
        (monotone merges; re-adding a hole is a set no-op) and guarded
        by ``acks_applied`` so replay after a crash is safe. Returns
        True when this call did the application."""
        from pulsar_spark.sources.ack_holes import acknowledge_individual

        state = self._load()
        rec = state[str(txn_id)]
        if rec.get("acks_applied") or rec["status"] != COMMITTED:
            return False
        for topic, subs in rec.get("pending_acks", {}).items():
            for sub, offsets in subs.items():
                _advance_vector(topic, sub, offsets)
        for topic, subs in rec.get("pending_acks_individual", {}).items():
            for sub, by_seg in subs.items():
                acknowledge_individual(
                    topic, sub, {int(s): offs for s, offs in by_seg.items()}
                )
        rec["acks_applied"] = True
        self._save(state)
        return True

    def recover(self) -> dict[str, int]:
        """Crash/restart sweep (TransactionCoordinatorV5's replay of the
        metadata log): finish the post-commit half of every
        COMMITTED-but-unapplied txn, drop staged acks of ABORTED ones,
        and abort timed-out OPEN ones first (inherited sweep). Running
        it twice is a no-op. Returns counts for observability."""
        timed_out = self.sweep_timeouts()
        applied = 0
        for k, rec in self._load().items():
            if k.startswith("_"):
                continue  # registry metadata (_next_txn_id)
            if rec["status"] == COMMITTED and not rec.get("acks_applied"):
                applied += int(self._apply_acks(int(k)))
        # reload AFTER the applies (each apply persists its own flag)
        state = self._load()
        dropped = 0
        for k, rec in state.items():
            if k.startswith("_"):
                continue
            if rec["status"] == ABORTED and (
                rec.get("pending_acks") or rec.get("pending_acks_individual")
            ):
                rec.pop("pending_acks", None)
                rec.pop("pending_acks_individual", None)
                dropped += 1
        self._save(state)
        return {"applied": applied, "dropped": dropped, "timed_out": len(timed_out)}


def new_transaction(
    coordinator: V5TransactionCoordinator, timeout_s: float = 60.0
) -> int:
    """PulsarClient.newTransaction (PulsarClient.java:95): open a txn on
    the coordinator; the returned id threads through transactional
    produces and acks."""
    return coordinator.begin(timeout_s=timeout_s)


def produce_scalable_txn(
    payload: DataFrame,
    topic_path: str,
    coordinator: V5TransactionCoordinator,
    txn_id: int,
    **produce_kwargs,
) -> None:
    """Transactional produce into a scalable topic
    (ScalableTopicProducer.sendInternal with a txn,
    ScalableTopicProducer.java:190): rows route to their owning
    segments and land in the log immediately — the txn-buffer staging —
    stamped with ``txn_id`` so every committed view hides them until
    the coordinator's COMMITTED flip."""
    if coordinator.status(txn_id) != OPEN:
        raise ValueError(f"txn {txn_id} not OPEN")
    # record which topics hold this txn's staged rows BEFORE producing
    # (crash between the two leaves a benign over-record, never an
    # untracked row) — materialize_transactions may only drop a txn's
    # registry record once EVERY recorded topic has been rewritten
    state = coordinator._load()
    topics = state[str(txn_id)].setdefault("topics", [])
    if topic_path not in topics:
        topics.append(topic_path)
        coordinator._save(state)
    produce_scalable(
        payload.withColumn("txn_id", F.lit(int(txn_id)).cast("bigint")),
        topic_path,
        **produce_kwargs,
    )


def read_scalable_committed(
    spark: SparkSession,
    topic_path: str,
    coordinator: V5TransactionCoordinator,
    include_sealed: bool = True,
) -> DataFrame:
    """Committed-only scan of a scalable topic: non-transactional rows
    plus rows of COMMITTED txns (TopicTransactionBuffer visibility,
    composed over segments). mergeSchema because the topic legitimately
    mixes transactional files (txn_id column) with plain ones; the
    txn-state table is bounded and broadcast."""
    from pulsar_spark.sources.scalable import active_segments, scalable_metadata

    df = spark.read.option("mergeSchema", "true").parquet(topic_path)
    if not include_sealed:
        meta = scalable_metadata(topic_path)
        ids = [s["segment_id"] for s in active_segments(meta)]
        df = df.where(F.col("segment").isin(ids))
    if "txn_id" not in df.columns:
        return df
    return committed_view(df, coordinator.state_df(spark))


def materialize_transactions(
    spark: SparkSession,
    topic_path: str,
    coordinator: V5TransactionCoordinator,
) -> dict:
    """Transaction-buffer materialization + metadata GC — the piece
    that keeps BOTH the coordinator registry and the invisible-row debt
    bounded at scale (the reference's TopicTransactionBuffer snapshots
    + ledger truncation; without it every committed read forever pays
    the broadcast of an ever-growing txn-state table, and the registry
    file grows one record per txn for the topic's lifetime).

    One maintenance rewrite of the topic:
    - rows of COMMITTED-and-applied txns get ``txn_id`` cleared — their
      visibility is now a property of the LOG, not the registry;
    - rows of ABORTED txns are physically purged (the buffer discard) —
      EXCEPT each partition's highest-offset row, which is kept (still
      invisible) so the partition's offset high-watermark never drops:
      a lowered max would make the next produce REUSE purged offsets
      and consumers whose cursors already passed them would silently
      lose the new messages (the reference never reuses positions);
    - OPEN txns' rows (and records) stay untouched.
    Finalized records then leave the registry. Surviving
    aborted-tail rows can never resurrect: the coordinator's
    ``_next_txn_id`` floor guarantees dropped ids are never reissued.
    Crash-safe via the same two-rename directory swap as the
    tiered/offload rewrite, sidecars included; a crash between the swap
    and the registry trim only re-materializes already-NULL rows.

    Single-writer assumption (same as the tiered offload): run in a
    maintenance window — a produce racing the swap between the tmp
    write and the rename would be lost with the old directory.

    Works on scalable (``segment=``) and classic (``partition=``)
    topics. A transaction that produced into SEVERAL topics (the record
    tracks them in ``topics``) keeps its registry record — with this
    topic ticked off — until every recorded topic has been rewritten;
    dropping it earlier would flip the OTHER topics' staged rows to
    non-committed (committed visibility there still derives from the
    record). Records WITHOUT a ``topics`` key (written by a path that
    predates the tracking) are conservatively KEPT unless they never
    staged any produce or ack. Returns counts for observability."""
    import os

    from pulsar_spark.durable import recover_swap, rewrite_path, swap_in
    from pulsar_spark.sources.tiered import copy_sidecars

    # finish/roll back an interrupted previous swap FIRST
    recover_swap(spark, topic_path)
    state = coordinator._load()

    def _touches_here(rec: dict) -> bool:
        # a record is relevant to THIS topic when it produced here, or
        # its provenance is unknown (no topics key on a record that
        # staged something — conservatively assume it might be here)
        if topic_path in rec.get("topics", []):
            return True
        return "topics" not in rec and bool(
            rec.get("pending_acks") or rec.get("pending_acks_individual")
        )

    finalized = {
        int(k): v for k, v in state.items()
        if not k.startswith("_")
        and (
            (v["status"] == COMMITTED and v.get("acks_applied"))
            or v["status"] == ABORTED
        )
    }
    committed = [
        t for t, v in finalized.items()
        if v["status"] == COMMITTED and _touches_here(v)
    ]
    aborted = [
        t for t, v in finalized.items()
        if v["status"] == ABORTED and _touches_here(v)
    ]
    has_data = os.path.isdir(topic_path) and any(
        n.startswith(("segment=", "partition=")) for n in os.listdir(topic_path)
    )
    if (committed or aborted) and has_data:
        df = spark.read.option("mergeSchema", "true").parquet(topic_path)
        if "txn_id" in df.columns:
            from pyspark.sql import Window

            part_col = "segment" if "segment" in df.columns else "partition"
            kept = df
            if aborted:
                # purge aborted rows EXCEPT each partition's max-offset
                # row (offset-floor preservation, see docstring);
                # NULL-safe: a bare ~isin() filters NULL txn_ids out too
                mx = F.max("offset").over(Window.partitionBy(part_col))
                kept = (
                    kept.withColumn("_is_max", F.col("offset") == mx)
                    .where(
                        F.col("txn_id").isNull()
                        | ~F.col("txn_id").isin(aborted)
                        | F.col("_is_max")
                    )
                    .drop("_is_max")
                )
            if committed:
                kept = kept.withColumn(
                    "txn_id",
                    F.when(
                        F.col("txn_id").isin(committed),
                        F.lit(None).cast("bigint"),
                    ).otherwise(F.col("txn_id")),
                )
            tmp = rewrite_path(topic_path)
            kept.repartition(part_col).write.mode("overwrite").partitionBy(
                part_col
            ).parquet(tmp)
            copy_sidecars(topic_path, tmp)
            swap_in(spark, topic_path)
    # every finalized record ticks THIS topic off (records not touching
    # this topic tick off nothing and only drop when their list is
    # explicitly empty — acks-only txns)
    n_dropped = _finish_topic(coordinator, sorted(finalized), topic_path)
    return {
        "materialized": len(committed),
        "purged_txns": len(aborted),
        "records_dropped": n_dropped,
    }


def _finish_topic(
    coordinator: V5TransactionCoordinator, txn_ids, topic_path: str
) -> int:
    """Tick ``topic_path`` off each finalized record's topic list and
    drop records whose every produced-into topic has been rewritten —
    multi-topic transactions stay registered until the LAST topic
    materializes (their rows elsewhere still derive visibility from
    the record)."""
    state = coordinator._load()
    n = 0
    for t in txn_ids:
        rec = state.get(str(int(t)))
        if rec is None:
            continue
        if "topics" not in rec and (
            rec.get("pending_acks") or rec.get("pending_acks_individual")
        ):
            # unknown provenance (pre-tracking record that staged
            # something): keep it — its rows may live in a topic we
            # never rewrote, and visibility there still needs the
            # record
            continue
        remaining = [p for p in rec.get("topics", []) if p != topic_path]
        if remaining:
            rec["topics"] = remaining
        else:
            # seed/bump the monotonic id floor BEFORE dropping the
            # record: a registry created before _next_txn_id existed
            # only gets the floor written by begin(), so GCing its
            # max-id record would otherwise let begin() reissue that
            # id — and a later commit of the reused id would resurrect
            # surviving aborted-tail rows stamped with it
            state["_next_txn_id"] = max(
                int(state.get("_next_txn_id", 0)), int(t) + 1
            )
            del state[str(int(t))]
            n += 1
    coordinator._save(state)
    return n


def read_from_checkpoint_committed(
    spark: SparkSession,
    topic_path: str,
    ckpt,
    coordinator: V5TransactionCoordinator,
):
    """The v5 consumer read under transactions: rows at or past the
    caller-held Checkpoint vector, restricted to the committed view —
    a QueueConsumer/StreamConsumer attached to a topic with a
    transaction buffer never receives OPEN or ABORTED rows.

    maxReadPosition semantics (TopicTransactionBuffer): both the
    delivered rows AND the advanced vector are CAPPED per segment at
    the earliest OPEN transaction's first staged offset — the cursor
    must not advance past rows that a later commit will make visible,
    or this subscription would lose them forever (ABORTED rows carry no
    such hold: the broker advances past aborted entries, and so does
    this vector).

    Reads with mergeSchema itself rather than delegating the scan to
    ``read_from_checkpoint``: a topic legitimately mixes transactional
    files (txn_id column) with plain ones, and a sampled plain footer
    would silently DROP the txn_id column — staged/aborted rows would
    leak into the consumer view, the exact visibility bug the buffer
    exists to prevent."""
    import os

    from pulsar_spark.envelope import watermark_lookup
    from pulsar_spark.sources.scalable import (
        _past_end,
        checkpoint_start_filter,
        read_from_checkpoint,
    )
    from pulsar_spark.durable import recover_swap

    if not os.path.isdir(topic_path):
        recover_swap(spark, topic_path, cleanup=False)  # torn materialize swap
    if not (
        os.path.isdir(topic_path)
        and any(n.startswith("segment=") for n in os.listdir(topic_path))
    ):
        return read_from_checkpoint(spark, topic_path, ckpt)  # empty stub
    df = spark.read.option("mergeSchema", "true").parquet(topic_path)
    highs = _past_end(spark, topic_path)
    caps: dict[int, int] = {}
    if "txn_id" in df.columns:
        open_ids = [
            int(k) for k, v in coordinator._load().items()
            if not k.startswith("_") and v["status"] == OPEN
        ]
        if open_ids:
            # earliest OPEN staged offset per segment — one bounded
            # grouped MIN over a pushable isin filter
            caps = {
                int(r.segment): int(r.lo)
                for r in df.where(F.col("txn_id").isin(open_ids))
                .groupBy("segment")
                .agg(F.min("offset").alias("lo"))
                .collect()
            }
    capped_highs = {
        sid: min(hi, caps.get(sid, hi)) for sid, hi in highs.items()
    }
    if ckpt.latest:
        advanced = Checkpoint(capped_highs)
        df = df.limit(0)
    else:
        merged = dict(ckpt.offsets)
        for sid, hi in capped_highs.items():
            # never rewind a caller vector already past the cap
            merged[sid] = max(int(merged.get(sid, 0)), hi)
        advanced = Checkpoint(merged)
        df = checkpoint_start_filter(df, ckpt)
        if caps:
            df = df.where(
                F.col("offset")
                < watermark_lookup(F.col("segment"), caps, default=2**62)
            )
    if "txn_id" in df.columns:
        df = committed_view(df, coordinator.state_df(spark))
    return df, advanced
