"""Scalable-topic subscriptions: the persisted cursor in
``_subscriptions.json`` (markDelete vector + individual-ack holes,
ManagedCursorImpl.java:202), its topic-wide verbs
(ScalableTopicController.java:851/:870/:933/:941), the per-segment
slot verbs (ScalableTopics.java:397-454), the LATEST sentinel, and
the streaming consumers that read the cursor back."""
from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


# --------------------------------------- registry and cursor lifecycle


class TestSubscriptionLifecycle:
    def _topic(self, spark, tmp_path, n=200, segments=2):
        from pulsar_spark.sources import create_scalable_topic, produce_scalable

        d = str(tmp_path / "t")
        create_scalable_topic(d, num_initial_segments=segments)
        payload = spark.range(n).selectExpr("CAST(id AS STRING) AS k", "id AS v")
        produce_scalable(payload, d, key_col="k", deterministic_mod=True)
        return d, payload

    def test_create_is_idempotent(self, spark, tmp_path):
        from pulsar_spark.sources import create_subscription, list_subscriptions

        d, _ = self._topic(spark, tmp_path)
        assert create_subscription(d, "s") is True
        assert create_subscription(d, "s") is False  # AlreadyExists no-op
        assert list_subscriptions(d) == ["s"]

    def test_create_requires_scalable_topic(self, tmp_path):
        from pulsar_spark.sources import create_subscription

        with pytest.raises(ValueError):
            create_subscription(str(tmp_path / "nope"), "s")

    def test_backlog_and_clear(self, spark, tmp_path):
        from pulsar_spark.sources import (
            clear_backlog,
            create_subscription,
            produce_scalable,
            subscription_backlog,
        )

        d, payload = self._topic(spark, tmp_path, n=200)
        create_subscription(d, "s")
        total = sum(r.backlog for r in subscription_backlog(spark, d, "s").collect())
        assert total == 200
        clear_backlog(spark, d, "s")
        rows = subscription_backlog(spark, d, "s").collect()
        # explicit zero rows for every layout segment
        assert len(rows) == 2 and all(r.backlog == 0 for r in rows)
        # only NEW rows backlog after a further produce
        produce_scalable(payload, d, key_col="k", deterministic_mod=True)
        total2 = sum(r.backlog for r in subscription_backlog(spark, d, "s").collect())
        assert total2 == 200

    def test_delete_drops_entry_and_consumers(self, spark, tmp_path):
        from pulsar_spark.sources import (
            SubscriptionCoordinator,
            create_subscription,
            delete_subscription,
            list_subscriptions,
            subscription_checkpoint,
        )

        d, _ = self._topic(spark, tmp_path)
        create_subscription(d, "a")
        create_subscription(d, "b")
        coord = SubscriptionCoordinator("a", d)
        coord.register_consumer("c1", 1)
        coord.register_consumer("c2", 2)
        assert delete_subscription(d, "a", coordinator=coord) is True
        assert coord.sessions == {}  # dropAllConsumers ran first
        assert list_subscriptions(d) == ["b"]
        assert delete_subscription(d, "a") is False
        with pytest.raises(ValueError):
            subscription_checkpoint(d, "a")
        # subscription "b" untouched
        assert subscription_checkpoint(d, "b").offsets == {}

    def test_clear_mid_split_regates_children(self, spark, tmp_path):
        """The VERDICT ordering case: a sealed parent with backlog gates
        its children; clearBacklog computed AFTER the split covers the
        children too and lifts the drain gate for this subscription."""
        from pulsar_spark.sources import (
            SubscriptionCoordinator,
            checkpoint_drain_checker,
            clear_backlog,
            create_subscription,
            split_segment,
            subscription_backlog,
            subscription_checkpoint,
        )

        d, _ = self._topic(spark, tmp_path, n=200)
        create_subscription(d, "s")
        split_segment(d, 0)  # seals 0 -> children; subscription has backlog on 0

        def seg_ids(coord):
            coord.poll_drain_status()
            a = coord.compute_assignment()["c1"]
            return {s.segment_id for s in a.segments}

        before = SubscriptionCoordinator(
            "s", d,
            drain_checker=checkpoint_drain_checker(
                spark, d, subscription_checkpoint(d, "s")
            ),
        )
        before.register_consumer("c1", 1)
        got = seg_ids(before)
        assert 0 in got and not {2, 3} <= got  # children gated

        vec = clear_backlog(spark, d, "s")
        # the post-split vector covers the children as well
        assert set(vec.offsets) == {0, 1, 2, 3}
        rows = subscription_backlog(spark, d, "s").collect()
        assert len(rows) == 4 and all(r.backlog == 0 for r in rows)

        after = SubscriptionCoordinator(
            "s", d, drain_checker=checkpoint_drain_checker(spark, d, vec)
        )
        after.register_consumer("c1", 1)
        assert {0, 1, 2, 3} <= seg_ids(after)  # gate lifted

    def test_noop_delete_keeps_consumers_connected(self, spark, tmp_path):
        # a delete of a nonexistent subscription must not tear down the
        # live coordinator sessions (review finding)
        from pulsar_spark.sources import (
            SubscriptionCoordinator,
            create_subscription,
            delete_subscription,
        )

        d, _ = self._topic(spark, tmp_path)
        create_subscription(d, "real")
        coord = SubscriptionCoordinator("real", d)
        coord.register_consumer("c1", 1)
        assert delete_subscription(d, "typo", coordinator=coord) is False
        assert set(coord.sessions) == {"c1"}  # untouched

    def test_subscribe_assigned_latest_sentinel(self, spark, tmp_path):
        # Checkpoint.latest() must mean "nothing stored delivered",
        # matching read_from_checkpoint — not "read from earliest"
        from pulsar_spark.sources import Checkpoint, SubscriptionCoordinator, produce_scalable
        from pulsar_spark.streaming import run_to_end, subscribe_assigned

        d, payload = self._topic(spark, tmp_path, n=50)
        coord = SubscriptionCoordinator("s", d)
        a = coord.register_consumer("c1", 1)["c1"]
        got = []

        def sink(batch, _bid):
            got.extend(batch.select("offset", "segment").collect())

        from pulsar_spark.sources import segment_high_watermarks

        stream = subscribe_assigned(spark, d, a, start_checkpoint=Checkpoint.latest())
        run_to_end(stream.writeStream.foreachBatch(sink))
        assert got == []  # backlog skipped
        # positive leg: rows appended AFTER the snapshot ARE delivered
        # when resuming from the snapshot's vector (so the filter was
        # the high watermark, not a deliver-nothing limit(0))
        snap = Checkpoint(
            {sid: hi + 1 for sid, hi in segment_high_watermarks(spark, d).items()}
        )
        produce_scalable(payload, d, key_col="k", deterministic_mod=True)
        got2 = []

        def sink2(batch, _bid):
            got2.extend(batch.collect())

        run_to_end(
            subscribe_assigned(spark, d, a, start_checkpoint=snap)
            .writeStream.foreachBatch(sink2)
        )
        assert len(got2) == 50  # exactly the post-snapshot batch
        # and a FRESH latest snapshot skips them again
        got3 = []

        def sink3(batch, _bid):
            got3.extend(batch.collect())

        run_to_end(
            subscribe_assigned(spark, d, a, start_checkpoint=Checkpoint.latest())
            .writeStream.foreachBatch(sink3)
        )
        assert got3 == []

    def test_seek_subscription_window_dispatch(self, spark, tmp_path):
        """seekSubscription's per-segment lifetime dispatch
        (ScalableTopicController.seekSubscriptionOnSegment): sealed-
        before-ts segments skip-all with NO scan, created-after-ts go to
        earliest with NO scan, only straddling segments pay a
        publish_time aggregate — and the resume delivers exactly the
        rows published after the seek point."""
        import time as _time

        from pulsar_spark.sources import (
            create_subscription,
            produce_scalable,
            read_from_checkpoint,
            seek_subscription,
            split_segment,
        )

        d, payload = self._topic(spark, tmp_path, n=100)
        create_subscription(d, "s")
        _time.sleep(0.05)
        split_segment(d, 0)  # seals 0 with a sealed_at_ms stamp
        _time.sleep(0.05)
        from datetime import datetime, timezone

        ts = datetime.now(timezone.utc).replace(tzinfo=None)
        seek_at = ts.strftime("%Y-%m-%d %H:%M:%S.%f")
        _time.sleep(0.05)
        produce_scalable(payload, d, key_col="k", deterministic_mod=True)

        vec = seek_subscription(spark, d, "s", seek_at)
        # sealed parent 0: skip-all (cursor past its high watermark > 0);
        # children/active: first post-ts offset
        assert vec.offsets[0] > 0
        batch, _ = read_from_checkpoint(spark, d, vec)
        # delivers exactly the second produce (first batch predates ts)
        assert batch.count() == 100
        assert batch.where("segment = 0").count() == 0  # sealed pre-ts

    def test_seek_subscription_before_creation_is_scan_free(self, tmp_path):
        """A seek to a timestamp before the topic existed classifies
        EVERY segment as created-after -> earliest; prove no Spark job
        runs by passing spark=None."""
        from pulsar_spark.sources import (
            create_scalable_topic,
            create_subscription,
            seek_subscription,
            subscription_checkpoint,
        )

        d = str(tmp_path / "t")
        create_scalable_topic(d, num_initial_segments=3)
        create_subscription(d, "s")
        vec = seek_subscription(None, d, "s", "2000-01-01 00:00:00")
        assert vec.offsets == {0: 0, 1: 0, 2: 0}
        assert subscription_checkpoint(d, "s").offsets == vec.offsets

    def test_saved_checkpoint_resumes_reads(self, spark, tmp_path):
        from pulsar_spark.sources import (
            create_subscription,
            read_from_checkpoint,
            save_subscription_checkpoint,
            subscription_checkpoint,
        )

        d, payload = self._topic(spark, tmp_path, n=100)
        create_subscription(d, "s")
        batch, nxt = read_from_checkpoint(spark, d, subscription_checkpoint(d, "s"))
        assert batch.count() == 100
        save_subscription_checkpoint(d, "s", nxt)
        batch2, _ = read_from_checkpoint(spark, d, subscription_checkpoint(d, "s"))
        assert batch2.count() == 0  # acked position persisted


class TestAtomicSubscriptionRegistry:
    def _mk_topic(self, spark, tmp_path):
        from pulsar_spark.sources.scalable import create_scalable_topic

        topic = str(tmp_path / "topic")
        create_scalable_topic(topic, num_initial_segments=2)
        return topic

    def test_write_is_atomic_no_temp_leftovers(self, spark, tmp_path):
        from pulsar_spark.sources.scalable import (
            _read_subscriptions,
            _write_subscriptions,
        )

        topic = self._mk_topic(spark, tmp_path)
        _write_subscriptions(topic, {"a": {"type": "Stream"}})
        assert _read_subscriptions(topic) == {"a": {"type": "Stream"}}
        leftovers = [f for f in os.listdir(topic) if f.startswith("_subs_")]
        assert leftovers == []

    def test_failed_write_keeps_previous_registry(self, spark, tmp_path):
        from pulsar_spark.sources.scalable import (
            _read_subscriptions,
            _write_subscriptions,
        )

        topic = self._mk_topic(spark, tmp_path)
        _write_subscriptions(topic, {"a": {"type": "Stream"}})

        class Boom:  # not JSON-serializable -> json.dump raises mid-write
            pass

        with pytest.raises(TypeError):
            _write_subscriptions(topic, {"b": Boom()})
        # the durable store is untouched and no temp files leak
        assert _read_subscriptions(topic) == {"a": {"type": "Stream"}}
        leftovers = [f for f in os.listdir(topic) if f.startswith("_subs_")]
        assert leftovers == []
        # and the registry file is still valid JSON
        with open(os.path.join(topic, "_subscriptions.json")) as fh:
            json.load(fh)


def test_registry_written_only_by_the_one_edit():
    """Every registry write goes through ``scalable._edit_registry``
    (the read-modify-write that cursor edits, create and delete share):
    no other engine code may reference ``_write_subscriptions``."""
    import ast

    root = os.path.join(_REPO, "pulsar_spark")
    users = []
    for d, _, files in os.walk(root):
        for name in sorted(f for f in files if f.endswith(".py")):
            path = os.path.join(d, name)
            with open(path) as fh:
                tree = ast.parse(fh.read())
            for top in tree.body:
                for node in ast.walk(top):
                    ref = (
                        getattr(node, "id", None)
                        or getattr(node, "attr", None)
                        or (node.name if isinstance(node, ast.alias) else None)
                    )
                    if ref == "_write_subscriptions":
                        users.append(
                            (os.path.relpath(path, root), getattr(top, "name", None))
                        )
    assert users == [("sources/scalable.py", "_edit_registry")]


def test_cursor_format_has_one_home():
    """The registry's file names and its writer appear in
    ``sources/scalable.py`` alone: classic cursors (``sources/cursors.py``)
    are calls on its rules, with no sidecar read or write of their own."""
    import re

    root = os.path.join(_REPO, "pulsar_spark")
    home = os.path.join("sources", "scalable.py")
    named = re.compile(r"_subscriptions\.json|_cursors\.json|_write_subscriptions")
    hits = []
    for d, _, files in os.walk(root):
        for name in sorted(f for f in files if f.endswith(".py")):
            path = os.path.join(d, name)
            rel = os.path.relpath(path, root)
            if rel == home:
                continue
            with open(path) as fh:
                for i, line in enumerate(fh, 1):
                    if named.search(line):
                        hits.append(f"{rel}:{i}: {line.strip()}")
    assert hits == []
    with open(os.path.join(root, "sources", "cursors.py")) as fh:
        assert not re.search(r"\b(read_json|write_atomic)\b", fh.read())


class TestCheckpointStartFilterLatestGuard:
    def test_latest_sentinel_raises(self, spark):
        from pulsar_spark.sources.scalable import Checkpoint, checkpoint_start_filter

        df = spark.range(3).select(
            F.col("id").cast("int").alias("segment"), F.col("id").alias("offset")
        )
        with pytest.raises(ValueError, match="LATEST sentinel"):
            checkpoint_start_filter(df, Checkpoint.latest())

    def test_empty_earliest_still_full(self, spark):
        from pulsar_spark.sources.scalable import Checkpoint, checkpoint_start_filter

        df = spark.range(3).select(
            F.col("id").cast("int").alias("segment"), F.col("id").alias("offset")
        )
        assert checkpoint_start_filter(df, Checkpoint.earliest()).count() == 3


class TestSubscriptionCLI:
    def test_full_lifecycle_through_cli(self, spark, tmp_path, capsys):
        import json

        from pulsar_spark.__main__ import main
        from pulsar_spark.sources import create_scalable_topic, produce_scalable

        d = str(tmp_path / "t")
        create_scalable_topic(d, num_initial_segments=2)
        payload = spark.range(60).selectExpr("CAST(id AS STRING) AS k", "id AS v")
        produce_scalable(payload, d, key_col="k", deterministic_mod=True)

        def run(*argv):
            main(list(argv))
            return json.loads(capsys.readouterr().out.strip().splitlines()[-1])

        assert run("subscription", d, "create", "--name", "s")["created"] is True
        assert run("subscription", d, "create", "--name", "s")["created"] is False
        assert run("subscription", d, "list")["subscriptions"] == ["s"]
        bl = run("subscription", d, "backlog", "--name", "s")["backlog"]
        assert sum(bl.values()) == 60
        out = run("subscription", d, "clear-backlog", "--name", "s")
        assert out["cleared"] is True
        bl2 = run("subscription", d, "backlog", "--name", "s")["backlog"]
        assert sum(bl2.values()) == 0
        seek = run("subscription", d, "seek", "--name", "s",
                   "--timestamp", "2000-01-01 00:00:00")
        assert all(v == 0 for v in seek["cursor"].values())  # pre-creation -> earliest
        assert run("subscription", d, "delete", "--name", "s")["deleted"] is True
        assert run("subscription", d, "list")["subscriptions"] == []


# ------------------------ per-segment verbs (slot calls on the cursor)


@pytest.fixture()
def seg_topic(spark, tmp_path):
    """2-segment scalable topic with 12 keyed rows produced."""
    from pulsar_spark.sources.scalable import (
        create_scalable_topic,
        produce_scalable,
    )

    topic = str(tmp_path / "topic")
    create_scalable_topic(topic, num_initial_segments=2)
    rows = spark.createDataFrame(
        [(str(i), f"v{i}") for i in range(12)], "key string, value string"
    )
    produce_scalable(rows, topic, key_col="key", deterministic_mod=True)
    return topic


class TestPerSegmentAdminVerbs:
    def test_create_segment_idempotent_and_fans_subscriptions(self, spark, seg_topic):
        from pulsar_spark.sources.scalable import (
            create_segment,
            list_subscriptions,
            subscription_checkpoint,
        )

        # existing dir (produce wrote it) -> idempotent no-op
        assert create_segment(seg_topic, 0) is False
        # fan a new subscription's cursor to earliest on segment 0
        assert create_segment(seg_topic, 0, subscriptions=["s1"]) is False
        assert list_subscriptions(seg_topic) == ["s1"]
        assert subscription_checkpoint(seg_topic, "s1").offsets == {0: 0}

    def test_create_segment_unknown_raises(self, seg_topic):
        from pulsar_spark.sources.scalable import SegmentGoneError, create_segment

        with pytest.raises(SegmentGoneError):
            create_segment(seg_topic, 99)

    def test_terminate_blocks_keyed_produce(self, spark, seg_topic):
        from pulsar_spark.sources.scalable import (
            SegmentGoneError,
            produce_scalable,
            scalable_metadata,
            terminate_segment,
        )

        assert terminate_segment(seg_topic, 0) is True
        assert terminate_segment(seg_topic, 0) is False  # idempotent
        meta = scalable_metadata(seg_topic)
        s = meta["segments"]["0"]
        assert s["state"] == "SEALED" and s["sealed_at_ms"] is not None
        rows = spark.createDataFrame([("1", "x")], "key string, value string")
        with pytest.raises(SegmentGoneError, match="does not cover"):
            produce_scalable(rows, seg_topic, key_col="key", deterministic_mod=True)
        # keyless round-robin still works: remaining active segments absorb
        produce_scalable(rows.drop("key"), seg_topic)

    def test_terminated_segment_drains_then_deletes(self, spark, seg_topic):
        """Composition: terminate seals -> drain gate lifts once the
        cursor passes the high watermark -> delete removes data,
        layout entry, and orphan cursor slots."""
        from pulsar_spark.sources.coordinator import checkpoint_drain_checker
        from pulsar_spark.sources.scalable import (
            clear_segment_subscription_backlog,
            create_subscription,
            delete_segment,
            read_scalable,
            scalable_metadata,
            subscription_checkpoint,
            terminate_segment,
        )

        create_subscription(seg_topic, "s")
        terminate_segment(seg_topic, 0)
        meta = scalable_metadata(seg_topic)
        seg0 = meta["segments"]["0"]
        ck = subscription_checkpoint(seg_topic, "s")
        assert checkpoint_drain_checker(spark, seg_topic, ck)(seg0) is False
        # force=False refuses while backlog remains
        with pytest.raises(ValueError, match="backlog"):
            delete_segment(seg_topic, 0, force=False, spark=spark)
        clear_segment_subscription_backlog(spark, seg_topic, 0, "s")
        ck = subscription_checkpoint(seg_topic, "s")
        assert checkpoint_drain_checker(spark, seg_topic, ck)(seg0) is True
        assert delete_segment(seg_topic, 0, force=False, spark=spark) is True
        meta = scalable_metadata(seg_topic)
        assert "0" not in meta["segments"]
        # orphan cursor slot dropped with the segment
        assert 0 not in subscription_checkpoint(seg_topic, "s").offsets
        # stored rows for segment 0 are gone
        remaining = read_scalable(spark, seg_topic)
        assert remaining.where("segment = 0").count() == 0
        assert remaining.count() > 0

    def test_delete_active_segment_refused(self, spark, seg_topic):
        from pulsar_spark.sources.scalable import delete_segment

        with pytest.raises(ValueError, match="ACTIVE"):
            delete_segment(seg_topic, 0, force=True)

    def test_segment_subscription_cursor_family(self, spark, seg_topic):
        from pulsar_spark.sources.scalable import (
            clear_segment_subscription_backlog,
            create_segment_subscription,
            delete_segment_subscription,
            get_segment_subscription_backlog,
            read_scalable,
            subscription_checkpoint,
        )

        n0 = read_scalable(spark, seg_topic).where("segment = 0").count()
        n1 = read_scalable(spark, seg_topic).where("segment = 1").count()
        assert n0 > 0 and n1 > 0
        # create: explicit earliest slot, idempotent
        assert create_segment_subscription(seg_topic, 0, "s") is True
        assert create_segment_subscription(seg_topic, 0, "s") is False
        assert get_segment_subscription_backlog(spark, seg_topic, 0, "s") == n0
        assert get_segment_subscription_backlog(spark, seg_topic, 1, "s") == n1
        # clear one segment: the other is untouched
        off = clear_segment_subscription_backlog(spark, seg_topic, 0, "s")
        assert get_segment_subscription_backlog(spark, seg_topic, 0, "s") == 0
        assert get_segment_subscription_backlog(spark, seg_topic, 1, "s") == n1
        assert subscription_checkpoint(seg_topic, "s").offsets[0] == off
        # delete the slot: back to earliest default
        assert delete_segment_subscription(seg_topic, 0, "s") is True
        assert delete_segment_subscription(seg_topic, 0, "s") is False
        assert get_segment_subscription_backlog(spark, seg_topic, 0, "s") == n0

    def test_seek_segment_subscription_arms(self, spark, seg_topic):
        from pulsar_spark.sources.scalable import (
            create_subscription,
            get_segment_subscription_backlog,
            seek_segment_subscription,
            split_segment,
        )

        create_subscription(seg_topic, "s")
        n0 = get_segment_subscription_backlog(spark, seg_topic, 0, "s")
        # earliest arm: created long after 1970 -> offset 0, scan-free
        # (spark=None proves no scan happens)
        assert (
            seek_segment_subscription(None, seg_topic, 0, "s", "1970-01-01T00:00:00")
            == 0
        )
        assert get_segment_subscription_backlog(spark, seg_topic, 0, "s") == n0
        # skip-all arm: seal segment 0 by splitting it, then seek far
        # in the future -> past-the-end
        split_segment(seg_topic, 0)
        off = seek_segment_subscription(
            spark, seg_topic, 0, "s", "2100-01-01T00:00:00"
        )
        assert off == n0  # offsets are 0-based contiguous: high+1 == count
        assert get_segment_subscription_backlog(spark, seg_topic, 0, "s") == 0

    def test_seek_unknown_subscription_raises(self, spark, seg_topic):
        from pulsar_spark.sources.scalable import seek_segment_subscription

        with pytest.raises(ValueError, match="no such subscription"):
            seek_segment_subscription(spark, seg_topic, 0, "nope", "1970-01-01")


class TestSegmentCLI:
    def test_segment_verbs_through_cli(self, spark, seg_topic, capsys):
        from pulsar_spark.__main__ import main

        def run(*argv):
            main(list(argv))
            return json.loads(capsys.readouterr().out.strip().splitlines()[-1])

        d = seg_topic
        assert run("segment", d, "create", "--segment", "0")["created"] is False
        assert (
            run("segment", d, "sub-create", "--segment", "0", "--name", "s")["created"]
            is True
        )
        n0 = run("segment", d, "sub-backlog", "--segment", "0", "--name", "s")[
            "backlog"
        ]
        assert n0 > 0
        out = run("segment", d, "sub-clear", "--segment", "0", "--name", "s")
        assert out["cursor"] == n0  # 0-based contiguous offsets: high+1 == count
        assert (
            run("segment", d, "sub-backlog", "--segment", "0", "--name", "s")["backlog"]
            == 0
        )
        seek = run(
            "segment", d, "sub-seek", "--segment", "0", "--name", "s",
            "--timestamp", "2000-01-01 00:00:00",
        )
        assert seek["cursor"] == 0
        assert (
            run("segment", d, "sub-delete", "--segment", "0", "--name", "s")["deleted"]
            is True
        )
        assert run("segment", d, "terminate", "--segment", "0")["terminated"] is True
        assert (
            run("segment", d, "delete", "--segment", "0", "--force")["deleted"] is True
        )

    def test_sub_verb_without_name_is_usage_error(self, capsys, seg_topic):
        from pulsar_spark.__main__ import main

        rc = main(["segment", seg_topic, "sub-backlog", "--segment", "0"])
        assert rc == 2
        assert "required" in capsys.readouterr().out


class TestLatestSentinelSlotEdits:
    """Review findings: per-slot cursor edits must resolve a persisted
    LATEST sentinel instead of silently dropping the flag (which would
    flip every OTHER segment's cursor back to earliest)."""

    def test_clear_one_segment_keeps_others_drained(self, spark, seg_topic):
        from pulsar_spark.sources.scalable import (
            Checkpoint,
            clear_segment_subscription_backlog,
            create_subscription,
            get_segment_subscription_backlog,
            save_subscription_checkpoint,
        )

        create_subscription(seg_topic, "s")
        save_subscription_checkpoint(seg_topic, "s", Checkpoint.latest())
        assert get_segment_subscription_backlog(spark, seg_topic, 1, "s") == 0
        clear_segment_subscription_backlog(spark, seg_topic, 0, "s")
        # segment 1 must STAY drained — clearing 0 cannot create backlog
        assert get_segment_subscription_backlog(spark, seg_topic, 1, "s") == 0
        assert get_segment_subscription_backlog(spark, seg_topic, 0, "s") == 0

    def test_seek_one_segment_keeps_others_drained(self, spark, seg_topic):
        from pulsar_spark.sources.scalable import (
            Checkpoint,
            create_subscription,
            get_segment_subscription_backlog,
            save_subscription_checkpoint,
            seek_segment_subscription,
        )

        create_subscription(seg_topic, "s")
        save_subscription_checkpoint(seg_topic, "s", Checkpoint.latest())
        seek_segment_subscription(spark, seg_topic, 0, "s", "1970-01-01")
        assert get_segment_subscription_backlog(spark, seg_topic, 0, "s") > 0
        assert get_segment_subscription_backlog(spark, seg_topic, 1, "s") == 0

    def test_create_slot_on_latest_sub_resolves_or_raises(self, spark, seg_topic):
        from pulsar_spark.sources.scalable import (
            Checkpoint,
            create_segment_subscription,
            create_subscription,
            get_segment_subscription_backlog,
            save_subscription_checkpoint,
        )

        create_subscription(seg_topic, "s")
        save_subscription_checkpoint(seg_topic, "s", Checkpoint.latest())
        # without a session the latest sentinel can't be resolved: loud
        with pytest.raises(ValueError, match="LATEST sentinel"):
            create_segment_subscription(seg_topic, 0, "s")
        # with one, the earliest slot is REAL (backlog delivered) and
        # the other segment keeps its latest (drained) position
        assert create_segment_subscription(seg_topic, 0, "s", spark=spark) is True
        assert get_segment_subscription_backlog(spark, seg_topic, 0, "s") > 0
        assert get_segment_subscription_backlog(spark, seg_topic, 1, "s") == 0

    def test_registry_file_mode_preserved(self, spark, seg_topic):
        import os

        from pulsar_spark.sources.scalable import create_subscription

        create_subscription(seg_topic, "a")
        f = os.path.join(seg_topic, "_subscriptions.json")
        # first write: the fixed 0644 default, not mkstemp's 0600
        # (umask-independent by design — see _write_subscriptions)
        assert (os.stat(f).st_mode & 0o777) == 0o644
        # later rewrites preserve whatever the operator set
        os.chmod(f, 0o640)
        create_subscription(seg_topic, "b")
        assert (os.stat(f).st_mode & 0o777) == 0o640


# ---------------------------------- individual-ack holes on the cursor


class TestHoleCleanupOnSlotOps:
    def _setup(self, spark, tmp_path):
        from pulsar_spark.sources import (
            acknowledge_individual,
            create_scalable_topic,
            create_subscription,
            produce_scalable,
        )

        d = str(tmp_path / "t")
        create_scalable_topic(d, num_initial_segments=2)
        payload = spark.range(20).selectExpr("CAST(id AS STRING) AS k", "id AS v")
        produce_scalable(payload, d, key_col="k", deterministic_mod=True)
        create_subscription(d, "sub")
        acknowledge_individual(d, "sub", {0: [3, 5], 1: [2]})
        return d

    def test_delete_segment_subscription_clears_its_holes(self, spark, tmp_path):
        from pulsar_spark.sources import (
            delete_segment_subscription,
            subscription_ack_holes,
        )

        d = self._setup(spark, tmp_path)
        assert subscription_ack_holes(d, "sub") == {0: [[3, 3], [5, 5]], 1: [[2, 2]]}
        # a deleted slot reverts to EARLIEST: its holes must go with it
        # (resetCursor clears individualDeletedMessages) — but only ITS
        # holes, segment 1 keeps state. The slot itself may be absent
        # (cursor never advanced) — deletion of a missing slot is a
        # no-op that must still not touch holes.
        from pulsar_spark.sources import acknowledge_individual

        acknowledge_individual(d, "sub", {0: [0]})  # creates slot 0 cursor=1
        deleted = delete_segment_subscription(d, 0, "sub")
        assert deleted
        assert subscription_ack_holes(d, "sub") == {1: [[2, 2]]}

    def test_delete_segment_clears_orphan_holes(self, spark, tmp_path):
        from pulsar_spark.sources import subscription_ack_holes
        from pulsar_spark.sources.scalable import (
            delete_segment,
            split_segment,
        )

        d = self._setup(spark, tmp_path)
        # seal segment 0 via split, then force-delete it: every
        # subscription's cursor slot AND hole entry for it must go
        split_segment(d, 0)
        delete_segment(d, 0, force=True)
        assert 0 not in subscription_ack_holes(d, "sub")
        assert subscription_ack_holes(d, "sub") == {1: [[2, 2]]}

    def test_cli_ack_errors_are_json(self, spark, tmp_path):
        import json as _json
        import subprocess
        import sys

        d = self._setup(spark, tmp_path)
        r = subprocess.run(
            [sys.executable, "-m", "pulsar_spark", "subscription", d,
             "ack", "--name", "sub", "--ids", "0:5;1:3"],
            capture_output=True, text=True, cwd=_REPO,
        )
        assert r.returncode == 2
        assert "error" in _json.loads(r.stdout.strip().splitlines()[-1])
        r2 = subprocess.run(
            [sys.executable, "-m", "pulsar_spark", "subscription", d,
             "holes", "--name", "nosuch"],
            capture_output=True, text=True, cwd=_REPO,
        )
        assert r2.returncode == 2
        assert "error" in _json.loads(r2.stdout.strip().splitlines()[-1])

    def test_segment_backlog_excludes_holes(self, spark, tmp_path):
        from pulsar_spark.sources import (
            get_segment_subscription_backlog,
            subscription_ack_holes,
        )

        d = self._setup(spark, tmp_path)  # holes {0:[3,5], 1:[2]}
        assert subscription_ack_holes(d, "sub") == {0: [[3, 3], [5, 5]], 1: [[2, 2]]}
        seg0_total = (
            spark.read.parquet(d).where(F.col("segment") == 0).count()
        )
        # cursor at 0, two acked holes excluded from the drain probe
        assert get_segment_subscription_backlog(spark, d, 0, "sub") == seg0_total - 2


class TestLatestSentinelAcks:
    def _topic(self, spark, tmp_path, n=10):
        from pulsar_spark.sources import (
            create_scalable_topic,
            create_subscription,
            produce_scalable,
        )

        d = str(tmp_path / "t")
        create_scalable_topic(d, num_initial_segments=2)
        payload = spark.range(n).selectExpr("CAST(id AS STRING) AS k", "id AS v")
        produce_scalable(payload, d, key_col="k", deterministic_mod=True)
        create_subscription(d, "sub")
        return d

    def test_ack_on_latest_sentinel_resolves_first(self, spark, tmp_path):
        from pulsar_spark.sources import (
            acknowledge_individual,
            produce_scalable,
            subscription_checkpoint,
            subscription_visible,
        )
        from pulsar_spark.sources.scalable import (
            Checkpoint,
            save_subscription_checkpoint,
        )

        d = self._topic(spark, tmp_path)
        save_subscription_checkpoint(d, "sub", Checkpoint.latest())
        # the first ack RESOLVES the floating sentinel to the current
        # high-watermark vector (the same floating-latest contract the
        # segment verbs follow) instead of silently preserving
        # latest=True and recording inert state
        acknowledge_individual(d, "sub", {0: [0]}, spark=spark)
        ck = subscription_checkpoint(d, "sub")
        assert not ck.latest
        assert ck.offsets  # concrete vector, past everything stored
        # rows arriving AFTER resolution deliver; a subsequent
        # individual ack on them is LIVE — it lands as a hole the
        # redelivery view excludes
        late = spark.range(100, 106).selectExpr(
            "CAST(id AS STRING) AS k", "id AS v"
        )
        produce_scalable(late, d, key_col="k", deterministic_mod=True)
        before = {
            (int(r.segment), int(r.offset))
            for r in subscription_visible(spark, d, "sub")
            .select("segment", "offset").collect()
        }
        assert before  # the post-resolution rows are deliverable
        seg, off = max(before)  # non-contiguous with the cursor: a hole
        acknowledge_individual(d, "sub", {seg: [off]}, spark=spark)
        after = {
            (int(r.segment), int(r.offset))
            for r in subscription_visible(spark, d, "sub")
            .select("segment", "offset").collect()
        }
        assert after == before - {(seg, off)}

    def test_ack_on_latest_sentinel_without_session_raises(
        self, tmp_path, spark, monkeypatch
    ):
        # the spark fixture keeps an active session; simulate "no
        # session" by patching the lookup the guard falls back to
        from pyspark.sql import SparkSession

        from pulsar_spark.sources import acknowledge_individual
        from pulsar_spark.sources.scalable import (
            Checkpoint,
            save_subscription_checkpoint,
        )

        d = self._topic(spark, tmp_path)
        save_subscription_checkpoint(d, "sub", Checkpoint.latest())
        monkeypatch.setattr(
            SparkSession, "getActiveSession", classmethod(lambda cls: None)
        )
        with pytest.raises(ValueError, match="LATEST sentinel"):
            acknowledge_individual(d, "sub", {0: [0]})

    def test_non_sentinel_acks_unaffected(self, spark, tmp_path):
        from pulsar_spark.sources import (
            acknowledge_individual,
            subscription_ack_holes,
        )

        d = self._topic(spark, tmp_path)
        acknowledge_individual(d, "sub", {0: [0, 2]})
        assert subscription_ack_holes(d, "sub") == {0: [[2, 2]]}


# ----------------------------------- streaming consumers of the cursor


class TestSubscribeAssignedEmptyAssignment:
    def test_empty_assignment_is_false_predicate(self, spark, tmp_path):
        """An empty assignment must be a false filter (works in any
        output mode), not a streaming global limit(0)."""
        from pulsar_spark.sources.coordinator import ConsumerAssignment
        from pulsar_spark.sources.scalable import (
            create_scalable_topic,
            produce_scalable,
        )
        from pulsar_spark.streaming.subscribe import subscribe_assigned

        topic = str(tmp_path / "topic")
        create_scalable_topic(topic, num_initial_segments=2)
        rows = spark.createDataFrame(
            [(str(i), f"v{i}") for i in range(8)], "key string, value string"
        )
        produce_scalable(rows, topic)
        stream = subscribe_assigned(
            spark, topic, ConsumerAssignment(layout_epoch=1, segments=())
        )
        assert stream.isStreaming
        # limit(0) would appear as GlobalLimit in the logical plan
        plan = stream._jdf.queryExecution().logical().toString()
        assert "GlobalLimit" not in plan

    def test_calibration_bins_exported(self):
        import pulsar_spark.functions as pf

        assert hasattr(pf, "calibration_bins")
        assert "calibration_bins" in pf.__all__


class TestStreamingAckHoles:
    def test_assigned_stream_skips_holed_offsets(self, spark, tmp_path):
        from pulsar_spark.sources import (
            acknowledge_individual,
            create_scalable_topic,
            create_subscription,
            produce_scalable,
            subscription_ack_holes,
            subscription_checkpoint,
        )
        from pulsar_spark.sources.coordinator import SubscriptionCoordinator
        from pulsar_spark.streaming import run_to_end, subscribe_assigned

        d = str(tmp_path / "t")
        create_scalable_topic(d, num_initial_segments=2)
        payload = spark.range(40).selectExpr("CAST(id AS STRING) AS k", "id AS v")
        produce_scalable(payload, d, key_col="k", deterministic_mod=True)
        create_subscription(d, "sub")
        # acks: contiguous prefix on segment 0 + scattered holes
        acknowledge_individual(d, "sub", {0: [0, 1, 4, 6]})
        holes = subscription_ack_holes(d, "sub")
        assert holes == {0: [[4, 4], [6, 6]]}
        coord = SubscriptionCoordinator("sub", d)
        a = coord.register_consumer("c1", 1)["c1"]
        got = []

        def sink(batch, _bid):
            got.extend((int(r.segment), int(r.offset)) for r in
                       batch.select("segment", "offset").collect())

        stream = subscribe_assigned(
            spark, d, a,
            start_checkpoint=subscription_checkpoint(d, "sub"),
            ack_holes=holes,
        )
        run_to_end(stream.writeStream.foreachBatch(sink))
        seg0 = sorted(off for seg, off in got if seg == 0)
        # cursor at 2 (prefix folded), holes 4 and 6 never redeliver
        assert 0 not in seg0 and 1 not in seg0
        assert 4 not in seg0 and 6 not in seg0
        assert 2 in seg0 and 3 in seg0 and 5 in seg0


class TestSubscribeAssignedAutoHoles:
    def test_registry_holes_applied_without_caller_dict(self, spark, tmp_path):
        from pulsar_spark.sources import (
            acknowledge_individual,
            create_scalable_topic,
            create_subscription,
            produce_scalable,
        )
        from pulsar_spark.sources.coordinator import SubscriptionCoordinator
        from pulsar_spark.streaming import run_to_end, subscribe_assigned

        d = str(tmp_path / "t")
        create_scalable_topic(d, num_initial_segments=2)
        payload = spark.range(40).selectExpr("CAST(id AS STRING) AS k", "id AS v")
        produce_scalable(payload, d, key_col="k", deterministic_mod=True)
        create_subscription(d, "sub")
        acknowledge_individual(d, "sub", {0: [0, 1, 4, 6]})
        coord = SubscriptionCoordinator("sub", d)
        a = coord.register_consumer("c1", 1)["c1"]
        got = []

        def sink(batch, _bid):
            got.extend(
                (int(r.segment), int(r.offset))
                for r in batch.select("segment", "offset").collect()
            )

        # the SAFE path: name the subscription, pass NO dicts — cursor
        # and hole set load from the registry itself
        stream = subscribe_assigned(spark, d, a, subscription="sub")
        run_to_end(stream.writeStream.foreachBatch(sink))
        seg0 = sorted(off for seg, off in got if seg == 0)
        assert 0 not in seg0 and 1 not in seg0  # cursor prefix
        assert 4 not in seg0 and 6 not in seg0  # registry holes
        assert 2 in seg0 and 3 in seg0 and 5 in seg0

    def test_explicit_arguments_override_registry(self, spark, tmp_path):
        from pulsar_spark.sources import (
            acknowledge_individual,
            create_scalable_topic,
            create_subscription,
            produce_scalable,
        )
        from pulsar_spark.sources.coordinator import SubscriptionCoordinator
        from pulsar_spark.sources.scalable import Checkpoint
        from pulsar_spark.streaming import run_to_end, subscribe_assigned

        d = str(tmp_path / "t")
        create_scalable_topic(d, num_initial_segments=1)
        payload = spark.range(10).selectExpr("CAST(id AS STRING) AS k", "id AS v")
        produce_scalable(payload, d, key_col="k", deterministic_mod=True)
        create_subscription(d, "sub")
        acknowledge_individual(d, "sub", {0: [0, 1, 2]})  # cursor -> 3
        coord = SubscriptionCoordinator("sub", d)
        a = coord.register_consumer("c1", 1)["c1"]
        got = []

        def sink(batch, _bid):
            got.extend(int(r.offset) for r in batch.select("offset").collect())

        # caller-held cursor wins over the registry's (coordinator flow)
        stream = subscribe_assigned(
            spark, d, a, subscription="sub",
            start_checkpoint=Checkpoint({0: 8}), ack_holes={},
        )
        run_to_end(stream.writeStream.foreachBatch(sink))
        assert sorted(got) == [8, 9]
