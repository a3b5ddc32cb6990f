"""v5 transactions over scalable topics (sources/scalable_txn.py) —
atomic produce + checkpoint advance (Transaction.java:30,
QueueConsumer.java:94, ScalableStreamConsumer.java:302,
TransactionCoordinatorV5.java)."""
import pytest
from pyspark.sql import functions as F

from pulsar_spark.sources import (
    Checkpoint,
    V5TransactionCoordinator,
    create_scalable_topic,
    create_subscription,
    new_transaction,
    produce_scalable,
    produce_scalable_txn,
    read_scalable_committed,
    subscription_backlog,
    subscription_checkpoint,
)


def _topic(tmp_path, name="t"):
    d = str(tmp_path / name)
    create_scalable_topic(d, num_initial_segments=2)
    return d


def _coord(tmp_path):
    return V5TransactionCoordinator(str(tmp_path / "coord.json"))


def _rows(spark, ids):
    return spark.createDataFrame([(str(i), i) for i in ids], "k string, v bigint")


class TestVisibility:
    def test_committed_only_view_across_segments(self, spark, tmp_path):
        d, coord = _topic(tmp_path), _coord(tmp_path)
        produce_scalable(_rows(spark, range(10)), d, key_col="k",
                         deterministic_mod=True)
        t1 = new_transaction(coord)
        t2 = new_transaction(coord)
        produce_scalable_txn(_rows(spark, range(100, 110)), d, coord, t1,
                             key_col="k", deterministic_mod=True)
        produce_scalable_txn(_rows(spark, range(200, 210)), d, coord, t2,
                             key_col="k", deterministic_mod=True)
        # OPEN: both invisible
        vis = read_scalable_committed(spark, d, coord)
        assert sorted(r.v for r in vis.collect()) == list(range(10))
        coord.commit(t1)
        coord.abort(t2)
        vis = sorted(r.v for r in read_scalable_committed(spark, d, coord).collect())
        assert vis == list(range(10)) + list(range(100, 110))
        # the raw log holds everything (txn-buffer staging)
        raw = spark.read.option("mergeSchema", "true").parquet(d)
        assert raw.count() == 30

    def test_produce_requires_open_txn(self, spark, tmp_path):
        d, coord = _topic(tmp_path), _coord(tmp_path)
        t = new_transaction(coord)
        coord.commit(t)
        with pytest.raises(ValueError, match="not OPEN"):
            produce_scalable_txn(_rows(spark, [1]), d, coord, t, key_col="k")


class TestAtomicAcks:
    def _setup(self, spark, tmp_path):
        d, coord = _topic(tmp_path), _coord(tmp_path)
        produce_scalable(_rows(spark, range(20)), d, key_col="k",
                         deterministic_mod=True)
        create_subscription(d, "sub")
        return d, coord

    def test_commit_applies_vector_and_visibility_atomically(self, spark, tmp_path):
        d, coord = self._setup(spark, tmp_path)
        t = new_transaction(coord)
        produce_scalable_txn(_rows(spark, range(500, 505)), d, coord, t,
                             key_col="k", deterministic_mod=True)
        coord.acknowledge_cumulative(t, d, "sub", {0: 4, 1: 3})
        # before commit: cursor unmoved, rows invisible
        assert subscription_checkpoint(d, "sub").offsets == {}
        coord.commit(t)
        assert subscription_checkpoint(d, "sub").offsets == {0: 4, 1: 3}
        vis = read_scalable_committed(spark, d, coord)
        assert vis.where(F.col("v") >= 500).count() == 5

    def test_abort_rolls_back_acks(self, spark, tmp_path):
        d, coord = self._setup(spark, tmp_path)
        before = {
            r.segment: r.backlog
            for r in subscription_backlog(spark, d, "sub").collect()
        }
        t = new_transaction(coord)
        coord.acknowledge_cumulative(t, d, "sub", {0: 9, 1: 9})
        coord.abort(t)
        # cursor never moved; messages remain deliverable
        assert subscription_checkpoint(d, "sub").offsets == {}
        after = {
            r.segment: r.backlog
            for r in subscription_backlog(spark, d, "sub").collect()
        }
        assert after == before
        # staged acks dropped from the record
        assert "pending_acks" not in coord._load()[str(t)]

    def test_individual_acks_fold_prefix_and_record_holes(self, spark, tmp_path):
        from pulsar_spark.sources import (
            subscription_ack_holes,
            subscription_visible,
        )

        d, coord = self._setup(spark, tmp_path)
        t = new_transaction(coord)
        # ack offsets 0,1,3 of segment 0 — commit advances the cursor
        # past the contiguous prefix (0,1) and records 3 as a hole
        # (individualDeletedMessages, ManagedCursorImpl.java:202)
        for off in (0, 1, 3):
            coord.acknowledge(t, d, "sub", 0, off)
        coord.commit(t)
        assert subscription_checkpoint(d, "sub").offsets[0] == 2
        assert subscription_ack_holes(d, "sub") == {0: [[3, 3]]}
        # the unacked offset 2 redelivers, the acked-behind-hole 3 does
        # NOT (the former at-least-once divergence, now closed)
        vis = {
            int(r.offset)
            for r in subscription_visible(spark, d, "sub")
            .where(F.col("segment") == 0)
            .collect()
        }
        assert 2 in vis and 3 not in vis
        # backlog counts the same set: past-cursor minus holes
        seg0_total = (
            spark.read.parquet(d).where(F.col("segment") == 0).count()
        )
        backlog0 = {
            r.segment: r.backlog
            for r in subscription_backlog(spark, d, "sub").collect()
        }[0]
        assert backlog0 == seg0_total - 3

    def test_hole_fills_and_cursor_advances_through(self, spark, tmp_path):
        from pulsar_spark.sources import (
            acknowledge_individual,
            subscription_ack_holes,
        )

        d, coord = self._setup(spark, tmp_path)
        t = new_transaction(coord)
        for off in (0, 1, 3, 4):
            coord.acknowledge(t, d, "sub", 0, off)
        coord.commit(t)
        assert subscription_checkpoint(d, "sub").offsets[0] == 2
        assert subscription_ack_holes(d, "sub") == {0: [[3, 4]]}
        # non-txn individual ack of the missing 2 fills the gap: the
        # cursor sweeps through the absorbed hole to 5
        ck = acknowledge_individual(d, "sub", {0: [2]})
        assert ck.offsets[0] == 5
        assert subscription_ack_holes(d, "sub") == {}

    def test_cumulative_advance_consumes_holes(self, spark, tmp_path):
        from pulsar_spark.sources import (
            acknowledge_individual,
            subscription_ack_holes,
        )

        d, coord = self._setup(spark, tmp_path)
        acknowledge_individual(d, "sub", {0: [3, 5, 7]})
        assert subscription_ack_holes(d, "sub") == {0: [[3, 3], [5, 5], [7, 7]]}
        # a committed cumulative ack to 6 consumes the holes below it,
        # leaves [7,7] standing (6 itself is unacked)
        t = new_transaction(coord)
        coord.acknowledge_cumulative(t, d, "sub", {0: 6})
        coord.commit(t)
        assert subscription_checkpoint(d, "sub").offsets[0] == 6
        assert subscription_ack_holes(d, "sub") == {0: [[7, 7]]}
        # advancing ONTO a hole sweeps the cursor through it — the
        # markDelete-advance merge
        t2 = new_transaction(coord)
        coord.acknowledge_cumulative(t2, d, "sub", {0: 7})
        coord.commit(t2)
        assert subscription_checkpoint(d, "sub").offsets[0] == 8
        assert subscription_ack_holes(d, "sub") == {}

    def test_seek_rewind_clears_holes(self, spark, tmp_path):
        from pulsar_spark.sources import (
            Checkpoint,
            acknowledge_individual,
            save_subscription_checkpoint,
            subscription_ack_holes,
        )

        d, _coordn = self._setup(spark, tmp_path)
        acknowledge_individual(d, "sub", {0: [0, 1, 5, 9]})
        assert subscription_ack_holes(d, "sub") == {0: [[5, 5], [9, 9]]}
        # resetCursor semantics: a rewind redelivers EVERYTHING past the
        # reset point, holes included
        save_subscription_checkpoint(d, "sub", Checkpoint({0: 0}))
        assert subscription_ack_holes(d, "sub") == {}

    def test_cumulative_ack_on_latest_keeps_other_segments_drained(
        self, spark, tmp_path
    ):
        """A txn cumulative ack is a slot edit: on a subscription at the
        LATEST sentinel it resolves the flag first, so the segment the
        ack does not name stays past the end instead of dropping back
        to earliest and redelivering its stored backlog."""
        from pulsar_spark.sources import (
            get_segment_subscription_backlog,
            save_subscription_checkpoint,
        )

        d, coord = self._setup(spark, tmp_path)
        assert get_segment_subscription_backlog(spark, d, 1, "sub") > 0
        save_subscription_checkpoint(d, "sub", Checkpoint.latest())
        t = new_transaction(coord)
        coord.acknowledge_cumulative(t, d, "sub", {0: 1})
        coord.commit(t)
        assert get_segment_subscription_backlog(spark, d, 1, "sub") == 0
        assert get_segment_subscription_backlog(spark, d, 0, "sub") == 0
        assert not subscription_checkpoint(d, "sub").latest

    def test_stage_requires_open(self, spark, tmp_path):
        d, coord = self._setup(spark, tmp_path)
        t = new_transaction(coord)
        coord.abort(t)
        with pytest.raises(ValueError):
            coord.acknowledge_cumulative(t, d, "sub", {0: 1})
        with pytest.raises(KeyError):
            coord.acknowledge_cumulative(999, d, "sub", {0: 1})


class TestCommittedConsumerView:
    def test_checkpoint_read_hides_open_and_aborted(self, spark, tmp_path):
        """maxReadPosition semantics (TopicTransactionBuffer): the read
        AND the advanced vector stop at the earliest OPEN txn's first
        staged offset — committed rows beyond it are held back for
        ordering, and the cursor never advances past rows a later
        commit will reveal (no message loss)."""
        from pulsar_spark.sources import read_from_checkpoint_committed

        d, coord = _topic(tmp_path), _coord(tmp_path)
        # many plain files first — the footer-sampling trap: a
        # non-mergeSchema read would likely sample a plain footer,
        # drop txn_id, and leak the staged rows below
        for batch in range(3):
            produce_scalable(
                _rows(spark, range(batch * 10, batch * 10 + 10)), d,
                key_col="k", deterministic_mod=True,
            )
        t_open = new_transaction(coord)
        t_done = new_transaction(coord)
        produce_scalable_txn(_rows(spark, range(800, 805)), d, coord, t_open,
                             key_col="k", deterministic_mod=True)
        produce_scalable_txn(_rows(spark, range(900, 905)), d, coord, t_done,
                             key_col="k", deterministic_mod=True)
        coord.commit(t_done)
        df, advanced = read_from_checkpoint_committed(
            spark, d, Checkpoint.earliest(), coord
        )
        got = sorted(r.v for r in df.collect())
        # t_done's rows sit BEYOND t_open's staged offsets — held back
        assert got == list(range(30))
        # nothing re-delivers while t_open stays open
        df2, adv2 = read_from_checkpoint_committed(spark, d, advanced, coord)
        assert df2.count() == 0
        # commit unblocks: the resumed cursor receives BOTH txns' rows
        # exactly once (no loss, no duplicates)
        coord.commit(t_open)
        df3, adv3 = read_from_checkpoint_committed(spark, d, adv2, coord)
        assert sorted(r.v for r in df3.collect()) == (
            list(range(800, 805)) + list(range(900, 905))
        )
        df4, _ = read_from_checkpoint_committed(spark, d, adv3, coord)
        assert df4.count() == 0

    def test_aborted_rows_do_not_hold_the_cursor(self, spark, tmp_path):
        from pulsar_spark.sources import read_from_checkpoint_committed

        d, coord = _topic(tmp_path), _coord(tmp_path)
        produce_scalable(_rows(spark, range(5)), d, key_col="k",
                         deterministic_mod=True)
        t = new_transaction(coord)
        produce_scalable_txn(_rows(spark, [700]), d, coord, t,
                             key_col="k", deterministic_mod=True)
        coord.abort(t)
        df, adv = read_from_checkpoint_committed(
            spark, d, Checkpoint.earliest(), coord
        )
        assert sorted(r.v for r in df.collect()) == list(range(5))
        # the vector passed the aborted offsets (no hold)
        df2, _ = read_from_checkpoint_committed(spark, d, adv, coord)
        assert df2.count() == 0

    def test_latest_sentinel(self, spark, tmp_path):
        from pulsar_spark.sources import read_from_checkpoint_committed

        d, coord = _topic(tmp_path), _coord(tmp_path)
        produce_scalable(_rows(spark, range(5)), d, key_col="k",
                         deterministic_mod=True)
        df, adv = read_from_checkpoint_committed(
            spark, d, Checkpoint.latest(), coord
        )
        assert df.count() == 0 and sum(adv.offsets.values()) == 5

    def test_txn_acks_compose_with_split(self, spark, tmp_path):
        """Stage acks, split the segment, commit: the vector applies to
        the (now sealed) parent id — sealed cursors are retained by the
        checkpoint model, so the committed advance is not lost and the
        backlog math stays consistent across the layout change."""
        from pulsar_spark.sources import split_segment, subscription_backlog

        d, coord = _topic(tmp_path), _coord(tmp_path)
        produce_scalable(_rows(spark, range(20)), d, key_col="k",
                         deterministic_mod=True)
        create_subscription(d, "sub")
        highs0 = {
            r.segment: r.backlog
            for r in subscription_backlog(spark, d, "sub").collect()
        }
        t = new_transaction(coord)
        coord.acknowledge_cumulative(t, d, "sub", {0: highs0[0]})  # all of seg 0
        split_segment(d, 0)
        coord.commit(t)
        assert subscription_checkpoint(d, "sub").offsets[0] == highs0[0]
        after = {
            r.segment: r.backlog
            for r in subscription_backlog(spark, d, "sub").collect()
        }
        assert after[0] == 0  # parent drained for this subscription
        assert after[1] == highs0[1]  # untouched sibling unchanged


class TestMaterialization:
    """materialize_transactions — the TopicTransactionBuffer
    snapshot/truncation analog: visibility moves from the registry into
    the log, bounding both the registry and the broadcast txn-state
    table."""

    def _setup(self, spark, tmp_path):
        d, coord = _topic(tmp_path), _coord(tmp_path)
        produce_scalable(_rows(spark, range(10)), d, key_col="k",
                         deterministic_mod=True)
        t_done = new_transaction(coord)
        t_gone = new_transaction(coord)
        t_open = new_transaction(coord)
        produce_scalable_txn(_rows(spark, range(100, 105)), d, coord, t_done,
                             key_col="k", deterministic_mod=True)
        produce_scalable_txn(_rows(spark, range(200, 205)), d, coord, t_gone,
                             key_col="k", deterministic_mod=True)
        produce_scalable_txn(_rows(spark, range(300, 305)), d, coord, t_open,
                             key_col="k", deterministic_mod=True)
        coord.commit(t_done)
        coord.abort(t_gone)
        return d, coord, t_open

    def test_view_identical_and_registry_bounded(self, spark, tmp_path):
        from pulsar_spark.sources import materialize_transactions

        d, coord, t_open = self._setup(spark, tmp_path)
        before = sorted(
            r.v for r in read_scalable_committed(spark, d, coord).collect()
        )
        stats = materialize_transactions(spark, d, coord)
        assert stats["materialized"] == 1 and stats["purged_txns"] == 1
        assert stats["records_dropped"] == 2
        after = sorted(
            r.v for r in read_scalable_committed(spark, d, coord).collect()
        )
        assert after == before == list(range(10)) + list(range(100, 105))
        # committed rows are now registry-independent (txn_id NULL in
        # the log), aborted rows physically gone, OPEN rows still staged
        raw = spark.read.option("mergeSchema", "true").parquet(d)
        assert raw.where(F.col("v").between(100, 105)).where(
            F.col("txn_id").isNotNull()).count() == 0
        assert raw.where(F.col("v").between(200, 205)).count() == 0
        assert raw.where(F.col("v").between(300, 305)).count() == 5
        recs = [k for k in coord._load() if not k.startswith("_")]
        assert recs == [str(t_open)]
        # second pass is a no-op (nothing finalized remains)
        assert materialize_transactions(spark, d, coord) == {
            "materialized": 0, "purged_txns": 0, "records_dropped": 0}
        # the open txn still completes normally afterwards
        coord.commit(t_open)
        final = read_scalable_committed(spark, d, coord)
        assert final.where(F.col("v").between(300, 305)).count() == 5

    def test_sidecars_and_offsets_survive(self, spark, tmp_path):
        from pulsar_spark.sources import (
            materialize_transactions,
            scalable_metadata,
            subscription_checkpoint,
        )

        d, coord, _ = self._setup(spark, tmp_path)
        create_subscription(d, "sub")
        coord2 = V5TransactionCoordinator(str(tmp_path / "c2.json"))
        t = new_transaction(coord2)
        coord2.acknowledge_cumulative(t, d, "sub", {0: 2})
        coord2.commit(t)
        offsets_before = sorted(
            (r.segment, r.offset)
            for r in spark.read.option("mergeSchema", "true").parquet(d)
            .where(F.col("txn_id").isNull()).select("segment", "offset").collect()
        )
        materialize_transactions(spark, d, coord)
        assert scalable_metadata(d)["segments"]  # _scalable.json survived
        assert subscription_checkpoint(d, "sub").offsets == {0: 2}
        # pre-existing non-txn rows keep their exact coordinates
        after = sorted(
            (r.segment, r.offset)
            for r in spark.read.option("mergeSchema", "true").parquet(d)
            .where(F.col("txn_id").isNull() & (F.col("v") < 100))
            .select("segment", "offset").collect()
        )
        assert after == offsets_before and len(after) == 10

    def test_multi_topic_txn_record_survives_until_last_topic(self, spark, tmp_path):
        """A txn that produced into TWO topics keeps its registry
        record (with the rewritten topic ticked off) until both are
        materialized — dropping earlier would flip the other topic's
        staged rows to non-committed."""
        from pulsar_spark.sources import materialize_transactions

        a, b, coord = _topic(tmp_path, "a"), _topic(tmp_path, "b"), _coord(tmp_path)
        t = new_transaction(coord)
        produce_scalable_txn(_rows(spark, [1]), a, coord, t,
                             key_col="k", deterministic_mod=True)
        produce_scalable_txn(_rows(spark, [2]), b, coord, t,
                             key_col="k", deterministic_mod=True)
        coord.commit(t)
        stats_a = materialize_transactions(spark, a, coord)
        assert stats_a["materialized"] == 1 and stats_a["records_dropped"] == 0
        # topic B's committed view still shows the row (record alive)
        assert [r.v for r in read_scalable_committed(spark, b, coord).collect()] == [2]
        stats_b = materialize_transactions(spark, b, coord)
        assert stats_b["records_dropped"] == 1
        assert not [k for k in coord._load() if not k.startswith("_")]
        # both topics' rows are registry-independent now
        assert [r.v for r in read_scalable_committed(spark, a, coord).collect()] == [1]
        assert [r.v for r in read_scalable_committed(spark, b, coord).collect()] == [2]

    def test_interrupted_materialize_swap_recovers(self, spark, tmp_path):
        import os

        from pulsar_spark.sources import materialize_transactions

        d, coord, t_open = self._setup(spark, tmp_path)
        materialize_transactions(spark, d, coord)
        # simulate a crash between the two swap renames: topic dir
        # missing, rewrite dir present
        os.rename(d, d + "__rewrite")
        # a consumer read recovers the torn swap forward
        from pulsar_spark.sources import read_from_checkpoint_committed

        df, _ = read_from_checkpoint_committed(spark, d, Checkpoint.earliest(), coord)
        assert os.path.isdir(d) and df.count() > 0
        # the next materialize call also recovers instead of crashing
        os.rename(d, d + "__rewrite")
        materialize_transactions(spark, d, coord)
        assert os.path.isdir(d)

    def test_txn_ids_never_reused_after_gc(self, spark, tmp_path):
        """The _next_txn_id floor survives record GC — a reused id
        could resurrect surviving aborted rows stamped with it."""
        from pulsar_spark.sources import materialize_transactions

        d, coord = _topic(tmp_path), _coord(tmp_path)
        t0 = new_transaction(coord)
        produce_scalable_txn(_rows(spark, [500]), d, coord, t0,
                             key_col="k", deterministic_mod=True)
        coord.abort(t0)
        materialize_transactions(spark, d, coord)
        t1 = new_transaction(coord)
        assert t1 > t0  # monotone even though t0's record is gone
        produce_scalable_txn(_rows(spark, [600]), d, coord, t1,
                             key_col="k", deterministic_mod=True)
        coord.commit(t1)
        got = sorted(r.v for r in read_scalable_committed(spark, d, coord).collect())
        assert got == [600]

    def test_abort_purge_preserves_offset_floor(self, spark, tmp_path):
        """Purging an aborted tail must NOT lower the partition's max
        offset: the next produce would reuse those offsets and a
        consumer whose cursor already passed them would lose the new
        messages. The per-partition max row survives (invisible)."""
        from pulsar_spark.sources import (
            materialize_transactions,
            read_from_checkpoint_committed,
            segment_high_watermarks,
        )

        d, coord = _topic(tmp_path), _coord(tmp_path)
        produce_scalable(_rows(spark, range(6)), d, key_col="k",
                         deterministic_mod=True)
        t = new_transaction(coord)
        produce_scalable_txn(_rows(spark, range(800, 806)), d, coord, t,
                             key_col="k", deterministic_mod=True)
        coord.abort(t)
        highs_before = segment_high_watermarks(spark, d)
        # a consumer advances past the (aborted, unheld) staged offsets
        df, adv = read_from_checkpoint_committed(
            spark, d, Checkpoint.earliest(), coord
        )
        assert sorted(r.v for r in df.collect()) == list(range(6))
        materialize_transactions(spark, d, coord)
        assert segment_high_watermarks(spark, d) == highs_before
        # new messages land at FRESH offsets and reach the consumer
        produce_scalable(_rows(spark, [900]), d, key_col="k",
                         deterministic_mod=True)
        df2, _ = read_from_checkpoint_committed(spark, d, adv, coord)
        assert [r.v for r in df2.collect()] == [900]

    def test_legacy_record_without_topics_is_kept(self, spark, tmp_path):
        from pulsar_spark.sources import materialize_transactions

        d, coord = _topic(tmp_path), _coord(tmp_path)
        create_subscription(d, "sub")
        t = new_transaction(coord)
        coord.acknowledge_cumulative(t, d, "sub", {0: 1})
        coord.commit(t)
        # simulate a pre-tracking record: strip the topics key
        state = coord._load()
        state[str(t)].pop("topics", None)
        coord._save(state)
        stats = materialize_transactions(spark, d, coord)
        # unknown provenance + staged acks -> conservatively kept
        assert stats["records_dropped"] == 0
        assert str(t) in coord._load()


class TestTxnCLI:
    def test_status_recover_materialize(self, spark, tmp_path, capsys):
        import json as _json

        from pulsar_spark.__main__ import main

        d, coord = _topic(tmp_path), _coord(tmp_path)
        produce_scalable(_rows(spark, range(4)), d, key_col="k",
                         deterministic_mod=True)
        create_subscription(d, "sub")
        t = new_transaction(coord)
        produce_scalable_txn(_rows(spark, [100]), d, coord, t,
                             key_col="k", deterministic_mod=True)
        coord.acknowledge_cumulative(t, d, "sub", {0: 1})
        coord._transition(t, "COMMITTED")  # crash before the ack half

        def run(*argv):
            rc = main(list(argv))
            assert rc == 0
            return _json.loads(capsys.readouterr().out.strip().splitlines()[-1])

        st = run("txn", coord.path, "status")
        assert st["txns"] == 1 and st["unapplied_commits"] == 1
        rec = run("txn", coord.path, "recover")
        assert rec["applied"] == 1
        assert subscription_checkpoint(d, "sub").offsets == {0: 1}
        mat = run("txn", coord.path, "materialize", "--topic", d)
        assert mat["materialized"] == 1 and mat["records_dropped"] == 1
        assert run("txn", coord.path, "status")["txns"] == 0
        with pytest.raises(SystemExit):
            main(["txn", coord.path, "materialize"])  # needs --topic


class TestCrashRecovery:
    def test_crash_between_commit_halves_is_recovered_idempotently(
        self, spark, tmp_path
    ):
        d, coord = _topic(tmp_path), _coord(tmp_path)
        produce_scalable(_rows(spark, range(10)), d, key_col="k",
                         deterministic_mod=True)
        create_subscription(d, "sub")
        t = new_transaction(coord)
        coord.acknowledge_cumulative(t, d, "sub", {0: 3, 1: 2})
        # simulate a crash right after the durable COMMITTED flip and
        # before the ack half (the exact window commit() spans)
        coord._transition(t, "COMMITTED")
        assert subscription_checkpoint(d, "sub").offsets == {}
        # restart: a fresh coordinator object over the same registry
        coord2 = V5TransactionCoordinator(str(tmp_path / "coord.json"))
        stats = coord2.recover()
        assert stats["applied"] == 1
        assert subscription_checkpoint(d, "sub").offsets == {0: 3, 1: 2}
        # recovery is idempotent — and a concurrent manual advance is
        # never rewound (monotone merge)
        from pulsar_spark.sources import save_subscription_checkpoint

        save_subscription_checkpoint(d, "sub", Checkpoint({0: 7, 1: 2}))
        stats2 = coord2.recover()
        assert stats2["applied"] == 0
        assert subscription_checkpoint(d, "sub").offsets == {0: 7, 1: 2}

    def test_recover_drops_aborted_and_times_out_open(self, spark, tmp_path):
        d, coord = _topic(tmp_path), _coord(tmp_path)
        create_subscription(d, "sub")
        t1 = new_transaction(coord)
        coord.acknowledge_cumulative(t1, d, "sub", {0: 5})
        coord.abort(t1)
        t2 = new_transaction(coord, timeout_s=-1)  # already expired
        coord.acknowledge_cumulative(t2, d, "sub", {0: 9})
        stats = coord.recover()
        assert stats["timed_out"] == 1
        assert coord.status(t2) == "ABORTED"
        assert subscription_checkpoint(d, "sub").offsets == {}

    def test_commit_flip_is_atomic_rename(self, tmp_path):
        """The status flip goes through durable.write_atomic — no torn
        registry even if the writer dies mid-write."""
        coord = _coord(tmp_path)
        t = new_transaction(coord)
        coord.commit(t)
        import json

        with open(coord.path) as fh:
            assert json.load(fh)[str(t)]["status"] == "COMMITTED"


class TestRegistryBounds:
    """The v5 coordinator registry must stay O(OPEN txns): finalized
    records leave via materialize_transactions, timed-out OPEN txns
    drop their staged vectors at sweep time, and GC'd ids are never
    reissued (the _next_txn_id floor)."""

    def test_timeout_sweep_drops_staged_vectors(self, spark, tmp_path):
        import time

        d, coord = _topic(tmp_path), _coord(tmp_path)
        produce_scalable(_rows(spark, range(10)), d, key_col="k",
                         deterministic_mod=True)
        create_subscription(d, "sub")
        t = new_transaction(coord, timeout_s=0.0)
        coord.acknowledge_cumulative(t, d, "sub", {0: 5})
        coord.acknowledge(t, d, "sub", 1, 0)
        time.sleep(0.01)
        assert coord.sweep_timeouts() == [t]
        rec = coord._load()[str(t)]
        assert rec["status"] == "ABORTED"
        assert "pending_acks" not in rec
        assert "pending_acks_individual" not in rec
        # the subscription cursor never moved
        assert subscription_checkpoint(d, "sub").offsets == {}

    def test_registry_bounded_under_churn(self, spark, tmp_path):
        import json
        import os

        from pulsar_spark.sources import materialize_transactions

        d, coord = _topic(tmp_path), _coord(tmp_path)
        produce_scalable(_rows(spark, range(10)), d, key_col="k",
                         deterministic_mod=True)
        create_subscription(d, "sub")
        n_churn = 9
        for i in range(n_churn):
            t = new_transaction(coord)
            produce_scalable_txn(
                _rows(spark, [1000 + i]), d, coord, t,
                key_col="k", deterministic_mod=True,
            )
            coord.acknowledge_cumulative(t, d, "sub", {0: i + 1})
            coord.acknowledge(t, d, "sub", 1, i)
            if i % 3 == 0:
                coord.abort(t)
            else:
                coord.commit(t)
            if i % 4 == 3:
                materialize_transactions(spark, d, coord)
        materialize_transactions(spark, d, coord)
        with open(coord.path) as fh:
            state = json.load(fh)
        # every finalized record GC'd: registry is metadata-only now
        assert [k for k in state if not k.startswith("_")] == []
        # the registry file is a bounded few bytes, not O(churn)
        assert os.path.getsize(coord.path) < 256
        # ids were never reused across the GCs
        assert int(state["_next_txn_id"]) == n_churn
        t_next = new_transaction(coord)
        assert t_next == n_churn
