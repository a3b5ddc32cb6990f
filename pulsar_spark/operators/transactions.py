"""Transactions — staged visibility with commit/abort.

Reference semantics (SURVEY.md §2.10): a transaction coordinator tracks
begin/commit/abort with timeouts (pulsar-transaction/coordinator/...
TransactionMetadataStore.java, MLTransactionMetadataStore.java); on the
topic side, messages published under a txn are invisible until commit,
and the aborted-txn list is snapshotted so dispatch filters them
(broker/.../transaction/buffer/impl/TopicTransactionBuffer.java:82-145).

Spark-first: the txn-state table is a tiny keyed table (txn_id ->
status); reads anti-join messages against the non-committed set
(broadcast — it mirrors the reference's in-memory abort snapshot).
Exactly-once produce+consume is native to Structured Streaming
(checkpoint + idempotent sink); this module provides the explicit
coordinator surface for the batch API.
"""

from __future__ import annotations

import time
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pulsar_spark.durable import read_json, write_atomic

OPEN, COMMITTED, ABORTED = "OPEN", "COMMITTED", "ABORTED"


@dataclass
class TransactionCoordinator:
    """File-backed txn metadata store (one JSON log per coordinator).

    At scale this is a table-format commit log; the JSON file keeps the
    local harness dependency-free while preserving the exact state
    machine: begin -> OPEN, commit/abort only from OPEN, timeout sweep
    aborts expired OPEN txns (TransactionMetadataStore semantics).
    """

    path: str

    def _load(self) -> dict[str, dict]:
        return read_json(self.path, {})

    def _save(self, state: dict[str, dict]) -> None:
        # atomic rename: the status flip IS the durable commit point
        # for v5 transactions (sources/scalable_txn.py), so a torn
        # write here would tear the commit itself
        write_atomic(self.path, state)

    def begin(self, timeout_s: float = 60.0) -> int:
        state = self._load()
        # monotonic id floor: ids must NEVER be reused even after
        # finalized records are GC'd (materialize_transactions) —
        # a reused id would resurrect surviving rows stamped with it
        floor = int(state.get("_next_txn_id", 0))
        txn_id = max(
            floor,
            max((int(k) for k in state if not k.startswith("_")), default=-1) + 1,
        )
        state[str(txn_id)] = {"status": OPEN, "deadline": time.time() + timeout_s}
        state["_next_txn_id"] = txn_id + 1
        self._save(state)
        return txn_id

    def _transition(self, txn_id: int, to: str) -> None:
        state = self._load()
        cur = state.get(str(txn_id))
        if cur is None:
            raise KeyError(f"unknown txn {txn_id}")
        if cur["status"] != OPEN:
            raise ValueError(f"txn {txn_id} is {cur['status']}, cannot -> {to}")
        cur["status"] = to
        self._save(state)

    def commit(self, txn_id: int) -> None:
        self._transition(txn_id, COMMITTED)

    def abort(self, txn_id: int) -> None:
        self._transition(txn_id, ABORTED)

    def sweep_timeouts(self) -> list[int]:
        """Abort every OPEN txn past its deadline; returns aborted ids."""
        state = self._load()
        now = time.time()
        out = []
        for k, v in state.items():
            if k.startswith("_"):
                continue  # registry metadata (_next_txn_id), not a txn
            if v["status"] == OPEN and v["deadline"] < now:
                v["status"] = ABORTED
                out.append(int(k))
        self._save(state)
        return out

    def status(self, txn_id: int) -> str:
        return self._load()[str(txn_id)]["status"]

    def state_df(self, spark: SparkSession) -> DataFrame:
        state = self._load()
        rows = [
            (int(k), v["status"])
            for k, v in state.items()
            if not k.startswith("_")
        ]
        return spark.createDataFrame(rows or [(None, None)], "txn_id bigint, status string").where(
            F.col("txn_id").isNotNull()
        )


def committed_view(messages: DataFrame, txn_state: DataFrame) -> DataFrame:
    """Reader view under transactions: non-transactional rows plus rows
    whose txn committed. OPEN and ABORTED are both invisible
    (TopicTransactionBuffer visibility rule)."""
    committed = txn_state.where(F.col("status") == COMMITTED).select("txn_id")
    return messages.where(F.col("txn_id").isNull()).unionByName(
        messages.join(F.broadcast(committed), on="txn_id", how="left_semi")
    )


def pending_ack_state(
    messages: DataFrame,
    acks: DataFrame,
    txn_state: DataFrame,
    partition_col: str = "partition",
    offset_col: str = "offset",
) -> DataFrame:
    """Acknowledgements under transactions — the PendingAckHandle analog
    (pulsar-broker/.../transaction/pendingack/impl/PendingAckHandleImpl.java):
    an ack performed inside a txn only becomes durable on COMMIT; while
    the txn is OPEN the message is locked (PENDING — not acked, but no
    other consumer/txn may ack it, TransactionConflictException); on
    ABORT the pending ack releases and the message is redeliverable
    again.

    ``acks``: (partition, offset, txn_id nullable) ack events.
    ``txn_state``: (txn_id, status) — tiny, broadcast (the reference
    keeps it in the coordinator's in-memory map).

    Returns messages + ``ack_status`` in {ACKED, PENDING, UNACKED} and
    ``redeliverable``. When several acks target one message the lock
    precedence is ACKED > PENDING > UNACKED (first durable ack wins,
    matching the conflict rule). Only ``txn_state`` is force-broadcast
    (it mirrors the coordinator's tiny in-memory map); the per-message
    ack set is O(topic), so its join is left to AQE — broadcast when
    the measured build side is small, shuffled equi-join otherwise.
    """
    a = acks.join(
        F.broadcast(txn_state), on="txn_id", how="left"
    ).select(
        partition_col,
        offset_col,
        F.when(F.col("txn_id").isNull() | (F.col("status") == COMMITTED), "ACKED")
        .when(F.col("status") == OPEN, "PENDING")
        .otherwise("UNACKED")  # ABORTED -> pending ack released
        .alias("_st"),
    )
    # precedence fold: ACKED beats PENDING beats UNACKED for a message
    # with multiple ack attempts
    rank = F.when(F.col("_st") == "ACKED", 2).when(F.col("_st") == "PENDING", 1).otherwise(0)
    per_msg = a.groupBy(partition_col, offset_col).agg(
        F.max(F.struct(rank.alias("_r"), F.col("_st"))).alias("_m")
    ).select(partition_col, offset_col, F.col("_m._st").alias("_st"))
    out = messages.join(per_msg, on=[partition_col, offset_col], how="left")
    return out.withColumn(
        "ack_status", F.coalesce(F.col("_st"), F.lit("UNACKED"))
    ).drop("_st").withColumn("redeliverable", F.col("ack_status") == "UNACKED")


def produce_transactional(
    payload: DataFrame,
    topic_path: str,
    coordinator: TransactionCoordinator,
    txn_id: int,
    **produce_kwargs,
) -> None:
    """Stage an append under a txn: rows carry txn_id; they exist in
    the log immediately (like the reference's txn buffer) but
    ``committed_view`` hides them until commit."""
    if coordinator.status(txn_id) != OPEN:
        raise ValueError(f"txn {txn_id} not OPEN")
    from pulsar_spark.sources.topics import produce

    produce(payload.withColumn("txn_id", F.lit(txn_id).cast("bigint")), topic_path, **produce_kwargs)
