"""Operator-level golden tests — semantics mirrored from the reference's
CompactionTest / BrokerMessageDeduplicationTest / DelayedDeliveryTest /
KeySharedSubscriptionTest (SURVEY.md §5), expressed over the
deterministic envelope fixture."""

from __future__ import annotations

from pyspark.sql import functions as F


class TestCompaction:
    def test_latest_per_key(self, messages):
        from pulsar_spark.operators import compact_publish_order

        out = compact_publish_order(messages)
        rows = {r["key"]: r for r in out.collect()}
        # one row per surviving key
        assert len(rows) == out.count()
        # spot-check: the kept offset is the max offset for that key
        max_by_key = {
            r["key"]: r["mo"]
            for r in messages.groupBy("key").agg(F.max("offset").alias("mo")).collect()
        }
        for k, r in rows.items():
            assert r["offset"] == max_by_key[k]

    def test_tombstone_deletes_key(self, messages, spark):
        from pulsar_spark.operators import compact_publish_order

        # force key "42"'s latest entry to be a tombstone
        forced = messages.withColumn(
            "tombstone",
            F.when(F.col("key") == "42", F.col("offset") == F.max("offset").over(
                __import__("pyspark.sql.window", fromlist=["Window"]).Window.partitionBy("key")
            )).otherwise(F.col("tombstone")),
        )
        out = compact_publish_order(forced)
        assert out.where(F.col("key") == "42").count() == 0

    def test_event_time_order(self, messages):
        from pulsar_spark.operators import compact_event_time_order

        out = compact_event_time_order(messages)
        et_max = {
            r["key"]: r["m"]
            for r in messages.groupBy("key").agg(F.max("event_time").alias("m")).collect()
        }
        for r in out.collect():
            assert r["event_time"] == et_max[r["key"]]


class TestDedup:
    def test_first_occurrence_survives(self, messages):
        from pulsar_spark.operators import dedup_messages

        out = dedup_messages(messages, order_col="event_id")
        # no (producer, seq) pair appears twice
        assert out.groupBy("producer_name", "sequence_id").count().where("count > 1").count() == 0
        # survivors are the min event_id of each group
        mins = messages.groupBy("producer_name", "sequence_id").agg(
            F.min("event_id").alias("event_id")
        )
        assert out.select("producer_name", "sequence_id", "event_id").exceptAll(mins).count() == 0

    def test_duplicates_exist_in_fixture(self, messages):
        dups = (
            messages.groupBy("producer_name", "sequence_id").count().where("count > 1").count()
        )
        assert dups > 0, "fixture must inject duplicates for the test to be meaningful"


class TestVisibility:
    def test_delayed_holdback(self, messages):
        from pulsar_spark.operators import visible_messages

        at = "2024-01-20 00:00:00"
        vis = visible_messages(messages, at)
        assert vis.where(F.col("deliver_at") > F.lit(at).cast("timestamp")).count() == 0
        hidden = messages.count() - vis.count()
        assert hidden > 0

    def test_marker_filter(self, messages):
        from pulsar_spark.operators import user_visible

        assert user_visible(messages).where(F.col("marker_type").isNotNull()).count() == 0

    def test_txn_abort_antijoin(self, messages, spark):
        from pulsar_spark.operators import user_visible

        with_txn = messages.withColumn(
            "txn_id", F.when(F.col("event_id") % 5 == 0, F.col("event_id") % 20)
        )
        aborted = spark.createDataFrame([(0,), (5,)], ["txn_id"])
        vis = user_visible(with_txn, txn_aborted=aborted)
        assert vis.where(F.col("txn_id").isin(0, 5)).count() == 0
        assert vis.where(F.col("txn_id").isin(10, 15)).count() > 0


class TestCursorOps:
    def test_peek_respects_cursor_and_order(self, messages):
        from pulsar_spark.operators import peek_messages

        out = peek_messages(messages, 5, {p: 10 for p in range(8)})
        per_part = out.groupBy("partition").agg(
            F.count("*").alias("n"), F.min("offset").alias("lo")
        )
        for r in per_part.collect():
            assert r["n"] <= 5
            assert r["lo"] > 10

    def test_skip_then_backlog(self, messages, spark):
        from pulsar_spark.operators import backlog, skip_cursor

        cursors = skip_cursor(messages, 10).select(
            "partition", "cursor_offset"
        )
        bl = backlog(messages, cursors)
        totals = {r["partition"]: r["backlog"] for r in bl.collect()}
        counts = {
            r["partition"]: r["c"]
            for r in messages.groupBy("partition").agg(F.count("*").alias("c")).collect()
        }
        for p, c in counts.items():
            assert totals[p] == c - 10


class TestKeyShared:
    def test_key_maps_to_single_consumer(self, messages):
        from pulsar_spark.operators import key_shared_assignment

        out = key_shared_assignment(messages, 4)
        fanout = out.groupBy("key").agg(F.countDistinct("consumer_id").alias("n"))
        assert fanout.where("n > 1").count() == 0

    def test_all_consumers_used(self, messages):
        from pulsar_spark.operators import key_shared_assignment

        out = key_shared_assignment(messages, 4)
        assert out.select("consumer_id").distinct().count() == 4


class TestDlq:
    def test_split_is_partition(self, messages):
        from pulsar_spark.operators import dlq_split

        pred = (F.col("event_id") % 97) == 0
        ok, dlq = dlq_split(messages, pred, 3)
        assert ok.count() + dlq.count() == messages.count()
        assert dlq.where("redelivery_count != 3").count() == 0
        assert dlq.where(~pred).count() == 0


class TestWindows:
    def test_tumbling_count_chunks(self, messages):
        from pulsar_spark.operators.windows import tumbling_count_window

        out = tumbling_count_window(
            messages, 100, [F.count("*").alias("cnt"), F.max("offset").alias("mx")]
        )
        # all chunks except possibly the last per partition have exactly 100 rows
        for r in out.collect():
            assert r["cnt"] <= 100
        full = out.where("cnt = 100").count()
        assert full > 0

    def test_sliding_each_row_in_4_windows(self, messages):
        from pulsar_spark.operators import sliding_window

        out = sliding_window(messages, "1 hour", "15 minutes", [F.count("*").alias("cnt")])
        total_in_windows = out.agg(F.sum("cnt")).head()[0]
        assert total_in_windows == messages.count() * 4


class TestAdminLookups:
    def test_get_message_by_id_unique(self, messages):
        from pulsar_spark.operators import get_message_by_id

        rows = get_message_by_id(messages, partition=3, offset=7).collect()
        assert len(rows) == 1
        assert rows[0]["partition"] == 3 and rows[0]["offset"] == 7

    def test_examine_nth_from_latest(self, messages):
        from pulsar_spark.operators import examine_message
        from pyspark.sql import functions as F

        got = {r["partition"]: r["offset"] for r in examine_message(messages, "latest", 5).collect()}
        maxes = {
            r["partition"]: r["m"]
            for r in messages.groupBy("partition").agg(F.max("offset").alias("m")).collect()
        }
        for p, off in got.items():
            assert off == maxes[p] - 4

    def test_examine_rejects_bad_position(self, messages):
        import pytest

        from pulsar_spark.operators import examine_message

        with pytest.raises(ValueError):
            examine_message(messages, "middle", 1)


class TestAckState:
    def test_mark_delete_and_holes(self, spark):
        from pulsar_spark.operators import ack_state
        from pyspark.sql import functions as F

        # partition 0: offsets 0..9 acked except 3 -> markDelete=2, holes=6
        # partition 1: all acked -> markDelete=max, holes=0
        rows = [(0, o) for o in range(10)] + [(1, o) for o in range(5)]
        df = spark.createDataFrame(rows, "partition int, offset long")
        st = {
            r["partition"]: r
            for r in ack_state(
                df, ~((F.col("partition") == 0) & (F.col("offset") == 3))
            ).collect()
        }
        assert st[0]["mark_delete_offset"] == 2
        assert st[0]["individually_acked"] == 6
        assert st[0]["total_acked"] == 9
        assert st[1]["mark_delete_offset"] == 4
        assert st[1]["individually_acked"] == 0

    def test_subscription_stats_rollup(self, spark):
        from pyspark.sql import functions as F

        from pulsar_spark.operators import subscription_stats

        # partition 0: offsets 0..9, offset 3 unacked -> markDelete=2,
        #   backlog range = 9-2 = 7 entries (6 of them acked holes)
        # partition 1: offsets 0..4 all acked -> markDelete=4, range 0
        rows = [(0, o) for o in range(10)] + [(1, o) for o in range(5)]
        df = spark.createDataFrame(rows, "partition int, offset long")
        row = subscription_stats(
            df, ~((F.col("partition") == 0) & (F.col("offset") == 3)), "s"
        ).collect()[0]
        assert row["subscription"] == "s"
        assert row["partitions"] == 2
        assert row["msg_in_counter"] == 15
        assert row["msg_backlog"] == 1  # precise: only offset 3 unacked
        assert row["backlog_estimate"] == 7  # range-based, counts holes


class TestTopicMetadata:
    def test_create_topic_sets_producer_partitioning(self, spark, tmp_path):
        from pulsar_spark.sources import create_topic, produce, topic_metadata

        topic = str(tmp_path / "t")
        create_topic(topic, num_partitions=4, properties={"owner": "team-x"})
        assert topic_metadata(topic)["num_partitions"] == 4

        df = spark.range(100).selectExpr("id", "CAST(id % 10 AS STRING) AS k")
        produce(df, topic, key_col="k")  # no num_partitions: sidecar wins
        out = spark.read.parquet(topic)
        assert out.select("partition").distinct().count() <= 4
        assert out.agg({"partition": "max"}).collect()[0][0] <= 3
        # metadata survives appends and stays invisible to the scan
        produce(df, topic, key_col="k")
        assert topic_metadata(topic)["properties"] == {"owner": "team-x"}
        assert out.columns == spark.read.parquet(topic).columns


class TestBucketedJoin:
    def test_cobucketed_topics_join_without_shuffle(self, spark, messages, tmp_path):
        """Two topics bucketed the same way (same key, same bucket
        count) join on the key with ZERO exchanges — the co-located
        join that makes cross-topic enrichment affordable at 100 TB."""
        from pulsar_spark.plans import assert_no_exchange, exchange_count
        from pulsar_spark.sources import read_topic_table, write_topic_bucketed

        write_topic_bucketed(messages, "t_join_a", n_buckets=8, path=str(tmp_path / "a"))
        write_topic_bucketed(
            messages.withColumnRenamed("val", "val_b"),
            "t_join_b", n_buckets=8, path=str(tmp_path / "b"),
        )
        thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")  # force SMJ
        try:
            a = read_topic_table(spark, "t_join_a").select("key", "offset", "val")
            b = read_topic_table(spark, "t_join_b").select("key", "val_b").where("offset = 0")
            joined = a.join(b, on="key")
            joined.collect()
            assert_no_exchange(joined, "co-bucketed topic join")

            # same join against a plain (unbucketed) topic shuffles
            from pulsar_spark.sources import write_topic

            write_topic(messages, str(tmp_path / "plain"))
            plain = spark.read.parquet(str(tmp_path / "plain")).select("key", "offset", "val")
            j2 = plain.join(b, on="key")
            j2.collect()
            assert exchange_count(j2) >= 1
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresh)
            spark.sql("DROP TABLE IF EXISTS t_join_a")
            spark.sql("DROP TABLE IF EXISTS t_join_b")


class TestBatchReceive:
    def test_count_cap_only(self, spark):
        from pulsar_spark.operators import batch_receive

        df = spark.createDataFrame(
            [(0, o) for o in range(7)], "partition int, offset long"
        )
        got = {
            r["offset"]: r["batch_id"]
            for r in batch_receive(df, max_num_messages=3).collect()
        }
        assert got == {0: 0, 1: 0, 2: 0, 3: 1, 4: 1, 5: 1, 6: 2}

    def test_byte_cap_closes_batch_early(self, spark):
        from pulsar_spark.operators import batch_receive

        # sizes: starts 0,3,6,9,12 with cap 10 -> byte buckets 0,0,0,0,1
        rows = [(0, o, 3) for o in range(5)]
        df = spark.createDataFrame(rows, "partition int, offset long, sz int")
        got = {
            r["offset"]: r["batch_id"]
            for r in batch_receive(
                df, max_num_messages=100, max_num_bytes=10, size_col="sz"
            ).collect()
        }
        assert got == {0: 0, 1: 0, 2: 0, 3: 0, 4: 1}

    def test_both_caps_batch_is_bounded(self, spark):
        from pulsar_spark.operators import batch_receive
        from pyspark.sql import functions as F

        rows = [(p, o, 1 + (o * 7) % 13) for p in range(2) for o in range(50)]
        df = spark.createDataFrame(rows, "partition int, offset long, sz int")
        out = batch_receive(
            df, max_num_messages=5, max_num_bytes=30, size_col="sz"
        )
        per = out.groupBy("partition", "batch_id").agg(
            F.count("*").alias("n"),
            F.sum("sz").alias("bytes"),
            F.max("sz").alias("max_sz"),
        )
        for r in per.collect():
            assert r["n"] <= 5
            # overflow past the byte cap is less than one message
            assert r["bytes"] < 30 + r["max_sz"]
        # batch ids are dense per partition
        for p in (0, 1):
            ids = sorted(
                r["batch_id"] for r in per.where(F.col("partition") == p).collect()
            )
            assert ids == list(range(len(ids)))


class TestReplication:
    def test_loop_avoidance(self, spark, messages):
        from pulsar_spark.operators import replicate_candidates
        from pyspark.sql import functions as F

        m = messages.withColumn(
            "replicated_from", F.when(F.col("event_id") % 7 == 0, F.lit("west"))
        )
        out = replicate_candidates(m, "west")
        assert out.where("replicated_from = 'west'").count() == 0
        # one-hop (GeoPersistentReplicator.java:207): rows already
        # replicated in are never forwarded anywhere, not even to a
        # third cluster
        out_east = replicate_candidates(m, "east")
        assert out_east.where("replicated_from IS NOT NULL").count() == 0
        assert out_east.count() == out.count()
        assert out_east.where("marker_type IS NOT NULL").count() == 0

    def test_replicate_to_list(self, spark, messages):
        """Per-message replicateTo restriction
        (GeoPersistentReplicator.java:216): an empty/NULL list means
        replicate everywhere; a non-empty list gates on membership."""
        from pulsar_spark.operators import replicate_candidates
        from pyspark.sql import functions as F

        m = messages.withColumn(
            "replicate_to",
            F.when(F.col("event_id") % 3 == 0, F.array(F.lit("east")))
            .when(F.col("event_id") % 3 == 1, F.array().cast("array<string>")),
        )
        base = messages.where("marker_type IS NULL").count()
        to_east = replicate_candidates(m, "east")
        # %3==0 (listed), %3==1 (empty list), %3==2 (NULL) all flow east
        assert to_east.count() == base
        to_west = replicate_candidates(m, "west")
        # %3==0 rows are restricted to east only
        assert to_west.where("event_id % 3 = 0").count() == 0
        assert to_west.count() == base - m.where(
            "event_id % 3 = 0 AND marker_type IS NULL"
        ).count()

    def test_shadow_view_same_offsets(self, messages):
        from pulsar_spark.operators import shadow_view

        shadow = shadow_view(messages, "persistent://public/default/shadow")
        assert shadow.select("partition", "offset").exceptAll(
            messages.select("partition", "offset")
        ).count() == 0
        assert shadow.select("topic").distinct().collect()[0][0] == (
            "persistent://public/default/shadow"
        )


class TestBucketedTopics:
    def test_bucketed_compaction_is_shuffle_free(self, spark, messages, tmp_path):
        from pulsar_spark.operators import compact_publish_order
        from pulsar_spark.sources import read_topic_table, write_topic_bucketed

        write_topic_bucketed(
            messages, "t_bucketed_test", n_buckets=8, path=str(tmp_path / "tb")
        )
        try:
            t = read_topic_table(spark, "t_bucketed_test")
            compacted = compact_publish_order(t)
            from pulsar_spark.plans import assert_no_exchange

            assert_no_exchange(compacted, "bucketed compaction")
            # same result as the unbucketed path
            expected = compact_publish_order(messages).select("key", "offset")
            assert compacted.select("key", "offset").exceptAll(expected).count() == 0
            assert compacted.count() == expected.count()
        finally:
            spark.sql("DROP TABLE IF EXISTS t_bucketed_test")


class TestStorageCompaction:
    def test_compact_then_tail_reads(self, spark, messages, tmp_path):
        """Reader with readCompacted=true sees the compacted horizon plus
        the raw tail appended after compaction (CompactionTest.java
        reader semantics)."""
        from pyspark.sql import functions as F

        from pulsar_spark.operators import (
            compact_publish_order,
            compact_topic_storage,
            read_compacted,
        )
        from pulsar_spark.sources import write_topic

        d = str(tmp_path / "t")
        first = messages.where("offset < 50")
        write_topic(first, d)
        horizon = compact_topic_storage(spark, d)
        assert set(horizon.values()) == {49}

        # before any tail append: exactly the batch compaction result
        got = read_compacted(spark, d)
        want = compact_publish_order(first)
        assert got.count() == want.count()
        assert got.select("key", "offset").exceptAll(want.select("key", "offset")).count() == 0

        # append a tail past the horizon; reader = compacted + RAW tail
        tail = messages.where("offset >= 50 AND offset < 60")
        write_topic(tail, d, mode="append")
        got2 = read_compacted(spark, d)
        assert got2.count() == want.count() + tail.count()
        # tail rows are NOT compacted (duplicate keys with the horizon allowed)
        raw_tail = got2.where(F.col("offset") >= 50)
        assert raw_tail.count() == tail.count()

    def test_read_compacted_falls_back_to_raw(self, spark, messages, tmp_path):
        from pulsar_spark.operators import read_compacted
        from pulsar_spark.sources import write_topic

        d = str(tmp_path / "t2")
        write_topic(messages.where("offset < 20"), d)
        assert read_compacted(spark, d).count() == messages.where("offset < 20").count()


class TestEffectivelyOnceProduce:
    def test_replayed_sequences_rejected(self, spark, tmp_path):
        """Broker-side dedup: replaying a batch with already-stored
        sequence ids appends nothing; partially-new batches append only
        the new tail (MessageDeduplication isDuplicate semantics)."""
        from pulsar_spark.sources.topics import produce

        d = str(tmp_path / "t")
        batch1 = spark.createDataFrame(
            [(i, i * 1.0) for i in range(100)], "seq long, v double"
        )
        produce(batch1, d, sequence_col="seq", mode="overwrite")
        n1 = spark.read.parquet(d).count()
        assert n1 == 100

        # exact replay -> nothing new
        produce(batch1, d, sequence_col="seq", mode="append")
        assert spark.read.parquet(d).count() == 100

        # overlap replay (50..149) -> only 100..149 appended
        batch2 = spark.createDataFrame(
            [(i, i * 1.0) for i in range(50, 150)], "seq long, v double"
        )
        produce(batch2, d, sequence_col="seq", mode="append")
        df = spark.read.parquet(d)
        assert df.count() == 150
        assert df.select("sequence_id").distinct().count() == 150
        # offsets stay dense per partition after dedup
        from pyspark.sql import functions as F

        per = df.groupBy("partition").agg(F.max("offset").alias("mx"), F.count("*").alias("c"))
        assert per.where("mx != c - 1").count() == 0

    def test_in_batch_duplicates_collapse(self, spark, tmp_path):
        from pulsar_spark.sources.topics import produce

        d = str(tmp_path / "t2")
        dup = spark.createDataFrame(
            [(1, 1.0), (1, 1.0), (2, 2.0)], "seq long, v double"
        )
        produce(dup, d, sequence_col="seq", mode="overwrite")
        assert spark.read.parquet(d).count() == 2

    def test_in_batch_duplicates_keep_first_in_send_order(self, spark, tmp_path):
        """Colliding sequences resolve to the FIRST message in send
        order (MessageDeduplication admits the first, rejects repeats) —
        deterministically across runs, not an arbitrary survivor."""
        from pulsar_spark.sources.topics import produce

        d = str(tmp_path / "t2b")
        rows = [(7, "first"), (7, "second"), (7, "third"), (8, "only")]
        dup = spark.createDataFrame(rows, "seq long, v string").coalesce(1)
        for run in range(3):
            produce(dup, d, sequence_col="seq", mode="overwrite")
            got = {r["sequence_id"]: r["v"] for r in spark.read.parquet(d).collect()}
            assert got == {7: "first", 8: "only"}, f"run {run}: {got}"

    def test_minted_sequences_monotonic_across_appends(self, spark, tmp_path):
        from pyspark.sql import functions as F

        from pulsar_spark.sources.topics import produce

        d = str(tmp_path / "t3")
        b = spark.createDataFrame([(i,) for i in range(40)], "x long")
        produce(b, d, num_partitions=4, mode="overwrite")
        hi1 = spark.read.parquet(d).select(F.max("sequence_id")).first()[0]
        produce(b, d, num_partitions=4, mode="append")
        df = spark.read.parquet(d)
        # second append's sequences all exceed the first append's max
        # within each partition's log (monotonic per producer send order)
        w_bad = (
            df.groupBy("partition", "sequence_id").count().where("count > 1").count()
        )
        assert w_bad == 0, "sequence ids must stay unique across appends"
        assert df.select(F.max("sequence_id")).first()[0] > hi1

    def test_sequence_path_offsets_follow_send_order(self, spark, tmp_path):
        """A log position follows send order on the dedup path too, not
        sequence-id order, and a sequence at or below one sent earlier
        in the batch is a duplicate (MessageDeduplication isDuplicate).
        Rows are sent in ``v`` order with sequence ids permuted against
        it; one key puts every row on one partition, so the log must
        hold exactly the running-max records, in the order sent, at
        offsets 0..n-1."""
        from pulsar_spark.sources.topics import produce

        d = str(tmp_path / "so")
        payload = spark.range(0, 2000, numPartitions=8).selectExpr(
            "'k' AS k", "id AS v", "id * 7919 % 2000 AS seq"
        )
        produce(payload, d, key_col="k", sequence_col="seq", mode="overwrite")
        want, high = [], -1
        for v in range(2000):
            if v * 7919 % 2000 > high:
                want.append(v)
                high = v * 7919 % 2000
        got = spark.read.parquet(d).orderBy("offset").select("offset", "v").collect()
        assert [r.v for r in got] == want
        assert [r.offset for r in got] == list(range(len(want)))

    def test_scalable_offsets_follow_send_order(self, spark, tmp_path):
        """Same contract on a scalable topic's segment lanes."""
        from pulsar_spark.sources import create_scalable_topic, produce_scalable, read_scalable

        d = str(tmp_path / "sso")
        create_scalable_topic(d, num_initial_segments=2)
        payload = spark.range(0, 2000, numPartitions=8).selectExpr("'k' AS k", "id AS v")
        produce_scalable(payload, d, key_col="k")
        got = read_scalable(spark, d).orderBy("offset").select("v").collect()
        assert [r.v for r in got] == list(range(2000))


def _job_ids(spark, call) -> list[int]:
    """Ids of the Spark jobs ``call()`` runs, counted under a job group
    through the status tracker, in submission order."""
    import uuid

    sc = spark.sparkContext
    group = "counter-budget-" + uuid.uuid4().hex
    sc.setJobGroup(group, group)
    try:
        call()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return sorted(sc.statusTracker().getJobIdsForGroup(group))


class TestAppendCounterBudget:
    """Cost budget of one log append, in counters host CPU steal cannot
    move: Spark jobs per call, and the write stage's task count, which
    must be ``min(lanes, defaultParallelism)``. Counted under a job group
    through the status tracker. Raising a budget is a deliberate edit."""

    # jobs per append: (fresh topic, existing topic). An existing topic
    # adds the broadcast of its stored high offsets; the stored columns
    # are read with a declared schema, so no footer-inference job.
    CLASSIC_JOBS = (1, 2)
    SCALABLE_JOBS = (1, 2)

    @staticmethod
    def _counters(spark, call):
        jobs = _job_ids(spark, call)
        tracker = spark.sparkContext.statusTracker()
        # the write job is submitted last (a broadcast it joins is built
        # before its RDD exists); its result stage has the highest id
        write_stage = max(tracker.getJobInfo(jobs[-1]).stageIds)
        return len(jobs), tracker.getStageInfo(write_stage).numTasks

    def _payload(self, spark):
        return spark.range(0, 400, numPartitions=4).selectExpr(
            "CAST(id % 37 AS STRING) AS k", "id AS v"
        )

    def test_classic_append_budget(self, spark, tmp_path):
        from pulsar_spark.sources.topics import produce

        d = str(tmp_path / "c")
        lanes = min(8, spark.sparkContext.defaultParallelism)
        for jobs in self.CLASSIC_JOBS:
            got = self._counters(
                spark, lambda: produce(self._payload(spark), d, key_col="k", num_partitions=8)
            )
            assert got == (jobs, lanes)

    def test_scalable_append_budget(self, spark, tmp_path):
        from pulsar_spark.sources import create_scalable_topic, produce_scalable

        d = str(tmp_path / "s")
        create_scalable_topic(d, num_initial_segments=8)
        lanes = min(8, spark.sparkContext.defaultParallelism)
        for jobs in self.SCALABLE_JOBS:
            got = self._counters(
                spark, lambda: produce_scalable(self._payload(spark), d, key_col="k")
            )
            assert got == (jobs, lanes)


class TestCursorCounterBudget:
    """Cost budget of the past-the-end cursor vector on both lanes, in
    Spark jobs per call: the declared-schema envelope read runs no
    footer-inference job, so only the grouped MAX's two adaptive jobs
    remain. Raising the budget is a deliberate edit."""

    JOBS = 2
    APPENDS = 3

    def _payload(self, spark):
        return spark.range(0, 400, numPartitions=4).selectExpr(
            "CAST(id % 37 AS STRING) AS k", "id AS v"
        )

    def test_classic_high_watermarks_budget(self, spark, tmp_path):
        from pulsar_spark.sources.topics import produce
        from pulsar_spark.streaming.replicated_subscriptions import high_watermarks

        d = str(tmp_path / "c")
        for _ in range(self.APPENDS):
            produce(self._payload(spark), d, key_col="k", num_partitions=8)
        got = {}
        jobs = _job_ids(spark, lambda: got.update(high_watermarks(spark, d)))
        assert len(jobs) == self.JOBS
        # offsets are dense per lane, so the vector counts every row
        assert sorted(got) == list(range(8))
        assert sum(got.values()) == self.APPENDS * 400

    def test_scalable_past_end_budget(self, spark, tmp_path):
        from pulsar_spark.sources import create_scalable_topic, produce_scalable
        from pulsar_spark.sources.scalable import _past_end

        d = str(tmp_path / "s")
        create_scalable_topic(d, num_initial_segments=8)
        for _ in range(self.APPENDS):
            produce_scalable(self._payload(spark), d, key_col="k")
        got = {}
        jobs = _job_ids(spark, lambda: got.update(_past_end(spark, d)))
        assert len(jobs) == self.JOBS
        assert sum(got.values()) == self.APPENDS * 400


class TestKeySharedAutoSplit:
    def test_ranges_cover_space_disjoint(self):
        from pulsar_spark.operators import hash_range_auto_split

        for n in (1, 2, 3, 5, 8, 7):
            ranges = sorted(hash_range_auto_split(n))
            assert ranges[0][0] == 0 and ranges[-1][1] == 65536
            for (s1, e1, _), (s2, e2, _) in zip(ranges, ranges[1:]):
                assert e1 == s2, "ranges must tile the hash space"
            assert sorted({r[2] for r in ranges}) == list(range(n))
            # auto-split invariant: sizes differ by at most 2x
            sizes = [e - s for s, e, _ in ranges]
            assert max(sizes) <= 2 * min(sizes)

    def test_assignment_matches_ranges_and_per_key_affinity(self, messages):
        from pyspark.sql import functions as F

        from pulsar_spark.operators import key_shared_assignment_auto_split

        out = key_shared_assignment_auto_split(messages, 3)
        assert out.where("consumer_id IS NULL").count() == 0
        # a key maps to exactly one consumer (per-key ordering guarantee)
        multi = out.groupBy("key").agg(
            F.countDistinct("consumer_id").alias("n")
        ).where("n > 1")
        assert multi.count() == 0


class TestAdminTopicLifecycle:
    """truncate (Topics.java:4435) + getLastMessageId (Topics.java:2147)."""

    def test_truncate_keeps_topic_metadata_and_resets_offsets(self, spark, tmp_path):
        from pulsar_spark.sources.topics import (
            create_topic,
            produce,
            read_topic,
            topic_metadata,
            truncate_topic,
        )

        topic = str(tmp_path / "t")
        create_topic(topic, num_partitions=4, properties={"owner": "qa"})
        payload = spark.createDataFrame([(i,) for i in range(20)], "v INT")
        produce(payload, topic)
        assert read_topic(spark, topic).count() == 20

        truncate_topic(topic)
        # data gone, metadata survives
        assert topic_metadata(topic) == {
            "num_partitions": 4,
            "properties": {"owner": "qa"},
        }
        produce(payload, topic)
        df = read_topic(spark, topic)
        assert df.count() == 20
        # offsets restarted at 0 per partition (no stale high watermark)
        assert df.groupBy("partition").min("offset").agg(
            {"min(offset)": "max"}
        ).first()[0] == 0

    def test_overwrite_produce_preserves_topic_metadata(self, spark, tmp_path):
        """produce(mode="overwrite") clears the topic dir — the
        _topic.json sidecar must be restored so later appends without an
        explicit num_partitions keep routing over the created count."""
        from pulsar_spark.sources.topics import (
            create_topic,
            produce,
            read_topic,
            topic_metadata,
        )

        topic = str(tmp_path / "tov")
        create_topic(topic, num_partitions=4, properties={"owner": "qa"})
        payload = spark.createDataFrame([(i,) for i in range(64)], "v INT")
        produce(payload, topic, key_col="v", mode="overwrite")
        assert topic_metadata(topic) == {
            "num_partitions": 4,
            "properties": {"owner": "qa"},
        }
        # subsequent append (no num_partitions arg) routes over 4, not 8
        produce(payload, topic, key_col="v", mode="append")
        parts = read_topic(spark, topic).select("partition").distinct().collect()
        assert {r.partition for r in parts} <= set(range(4))

    def test_last_message_ids_matches_max_offsets(self, spark, messages):
        from pyspark.sql import functions as F

        from pulsar_spark.operators.seek import last_message_ids

        got = {
            (r.topic, r.partition): r.last_offset
            for r in last_message_ids(messages).collect()
        }
        want = {
            (r.topic, r.partition): r.mx
            for r in messages.groupBy("topic", "partition")
            .agg(F.max("offset").alias("mx"))
            .collect()
        }
        assert got == want and len(got) > 0


class TestRoutingModes:
    """MessageRoutingMode semantics (capi/MessageRoutingMode.java;
    MessageRouterBase.java:31-34 choosePartition)."""

    def _payload(self, spark, n=400):
        return spark.range(n).selectExpr("id AS v")

    def test_round_robin_spreads_keyless(self, spark, tmp_path):
        from pulsar_spark.sources.topics import produce

        d = str(tmp_path / "rr")
        produce(self._payload(spark), d, num_partitions=4, mode="overwrite")
        counts = {
            r.partition: r.c
            for r in spark.read.parquet(d).groupBy("partition").count().withColumnRenamed("count", "c").collect()
        }
        # RoundRobinPartition: every partition used, roughly evenly
        assert set(counts) == set(range(4))
        assert max(counts.values()) <= 2 * min(counts.values())

    def test_single_partition_is_sticky_and_deterministic(self, spark, tmp_path):
        from pulsar_spark.sources.topics import produce

        d1, d2 = str(tmp_path / "s1"), str(tmp_path / "s2")
        for d in (d1, d2):
            produce(
                self._payload(spark), d, num_partitions=4, mode="overwrite",
                routing_mode="single", producer_name="p-A",
            )
        got1 = {r.partition for r in spark.read.parquet(d1).select("partition").distinct().collect()}
        got2 = {r.partition for r in spark.read.parquet(d2).select("partition").distinct().collect()}
        # SinglePartition: one partition only, same one across appends/topics
        assert len(got1) == 1 and got1 == got2

        # a different producer name may land elsewhere but is also sticky
        d3 = str(tmp_path / "s3")
        produce(
            self._payload(spark), d3, num_partitions=4, mode="overwrite",
            routing_mode="single", producer_name="p-B",
        )
        assert len({r.partition for r in spark.read.parquet(d3).select("partition").distinct().collect()}) == 1

    def test_keyed_rows_hash_route_even_in_single_mode(self, spark, tmp_path):
        """A present key always wins over the routing mode
        (MessageRouterBase.choosePartition)."""
        from pulsar_spark.sources.topics import produce, route_partition
        from pyspark.sql import functions as F

        d = str(tmp_path / "ks")
        payload = spark.range(300).selectExpr("CAST(id % 37 AS STRING) AS k", "id AS v")
        produce(payload, d, key_col="k", num_partitions=4, mode="overwrite", routing_mode="single")
        got = spark.read.parquet(d).select("key", "partition").distinct()
        expect = payload.select(
            F.col("k").alias("key"), route_partition("k", 4).alias("partition")
        ).distinct()
        assert got.exceptAll(expect).count() == 0 and expect.exceptAll(got).count() == 0
        assert got.select("partition").distinct().count() > 1

    def test_custom_router_column(self, spark, tmp_path):
        """CustomPartition: caller-supplied MessageRouter expression."""
        from pulsar_spark.sources.topics import produce
        from pyspark.sql import functions as F

        d = str(tmp_path / "cr")
        payload = spark.range(100).selectExpr("id AS v")
        produce(
            payload, d, num_partitions=4, mode="overwrite",
            message_router=F.col("v") % 2,  # evens->0, odds->1
        )
        rows = spark.read.parquet(d).select("v", "partition").collect()
        assert all(r.partition == r.v % 2 for r in rows)
        assert {r.partition for r in rows} == {0, 1}


class TestUpdatePartitions:
    def test_grow_routes_new_appends_over_wider_space(self, spark, tmp_path):
        from pyspark.sql import functions as F

        from pulsar_spark.sources.topics import create_topic, produce, topic_metadata, update_partitions

        d = str(tmp_path / "grow")
        create_topic(d, num_partitions=2)
        payload = spark.range(300).selectExpr("CAST(id AS STRING) AS k", "id AS v")
        produce(payload, d, key_col="k")
        assert {r.partition for r in spark.read.parquet(d).select("partition").distinct().collect()} == {0, 1}

        update_partitions(d, 6)
        assert topic_metadata(d)["num_partitions"] == 6
        produce(payload.withColumn("v", F.col("v") + 1000), d, key_col="k")
        after = spark.read.parquet(d)
        # old rows intact, new rows spread over the wider space
        assert after.count() == 600
        assert after.select("partition").distinct().count() > 2
        # offsets remain dense per partition across the boundary
        per = after.groupBy("partition").agg(F.max("offset").alias("mx"), F.count("*").alias("c"))
        assert all(r.mx == r.c - 1 for r in per.collect())

    def test_shrink_rejected(self, tmp_path):
        import pytest as _pytest

        from pulsar_spark.sources.topics import create_topic, update_partitions

        d = str(tmp_path / "shrink")
        create_topic(d, num_partitions=4)
        with _pytest.raises(ValueError):
            update_partitions(d, 4)
        with _pytest.raises(ValueError):
            update_partitions(d, 2)

    def test_adhoc_topic_rejected(self, tmp_path):
        import pytest as _pytest

        from pulsar_spark.sources.topics import update_partitions

        with _pytest.raises(ValueError):
            update_partitions(str(tmp_path / "nope"), 16)


class TestBacklogQuota:
    """BacklogQuotaManager consumer_backlog_eviction: advance the
    cursor past oldest backlog until the quota holds."""

    def _cursors(self, spark, n=8, at=20):
        from pyspark.sql import functions as F

        return spark.range(n).select(
            F.col("id").cast("int").alias("partition"),
            F.lit(at).cast("bigint").alias("cursor_offset"),
        )

    def test_row_quota_keeps_newest(self, spark, messages):
        from pyspark.sql import functions as F

        from pulsar_spark.operators import backlog_quota_evict

        plan = backlog_quota_evict(messages, self._cursors(spark), limit_rows=50)
        rows = {r.partition: r for r in plan.collect()}
        back = (
            messages.where(F.col("offset") > 20)
            .groupBy("partition")
            .agg(F.count("*").alias("n"), F.max("offset").alias("mx"))
        )
        for r in back.collect():
            p = rows[r.partition]
            assert p.backlog_after == min(50, r.n)
            assert p.evicted_rows == max(0, r.n - 50)
            if r.n > 50:
                # cursor advanced; the kept rows are exactly the newest 50
                kept = messages.where(
                    (F.col("partition") == r.partition)
                    & (F.col("offset") > p.new_cursor_offset)
                ).count()
                assert kept == 50
            else:
                assert p.new_cursor_offset == 20

    def test_byte_quota_and_never_acked_cursor(self, spark):
        from pyspark.sql import functions as F

        from pulsar_spark.operators import backlog_quota_evict

        msgs = spark.createDataFrame(
            [(0, i, 10) for i in range(10)], "partition int, offset long, sz long"
        )
        cursors = spark.createDataFrame([(0, None)], "partition int, cursor_offset long")
        plan = backlog_quota_evict(
            msgs, cursors, limit_bytes=35, size_col="sz"
        ).collect()[0]
        # newest 3 rows fit in 35 bytes; 7 oldest evicted; cursor was
        # never acked (-1 sentinel) and advances to offset 6
        assert plan.cursor_offset == -1
        assert plan.backlog_after == 3 and plan.evicted_rows == 7
        assert plan.new_cursor_offset == 6

    def test_requires_exactly_one_quota(self, spark, messages):
        import pytest as _pytest

        from pulsar_spark.operators import backlog_quota_evict

        with _pytest.raises(ValueError):
            backlog_quota_evict(messages, self._cursors(spark))
        with _pytest.raises(ValueError):
            backlog_quota_evict(
                messages, self._cursors(spark), limit_rows=5, limit_bytes=5, size_col="x"
            )


class TestProducerQuotaPolicies:
    """producer_exception / producer_request_hold: a produce into a
    topic at/over its row quota is refused before any file is written
    (ProducerBlockedQuotaExceededException semantics)."""

    def test_over_quota_append_refused_and_topic_unchanged(self, spark, tmp_path):
        import pytest as _pytest

        from pulsar_spark.sources.topics import BacklogQuotaExceededError, produce

        d = str(tmp_path / "q")
        batch = spark.range(100).selectExpr("CAST(id AS STRING) AS k", "id AS v")
        produce(batch, d, key_col="k", num_partitions=4)
        for policy in ("exception", "request_hold"):
            with _pytest.raises(BacklogQuotaExceededError):
                produce(batch, d, key_col="k", quota_rows=100, quota_policy=policy)
        assert spark.read.parquet(d).count() == 100

    def test_under_quota_append_proceeds(self, spark, tmp_path):
        from pulsar_spark.sources.topics import produce

        d = str(tmp_path / "q2")
        batch = spark.range(100).selectExpr("CAST(id AS STRING) AS k", "id AS v")
        produce(batch, d, key_col="k", num_partitions=4)
        produce(batch, d, key_col="k", quota_rows=500)
        assert spark.read.parquet(d).count() == 200

    def test_unknown_policy_rejected(self, spark, tmp_path):
        import pytest as _pytest

        from pulsar_spark.sources.topics import produce

        batch = spark.range(10).selectExpr("id AS v")
        with _pytest.raises(ValueError):
            produce(batch, str(tmp_path / "q3"), quota_rows=5, quota_policy="nope")


class TestConsistentHashKeyShared:
    """ConsistentHashingStickyKeyConsumerSelector: ring ceiling lookup,
    checked against an independent bisect implementation."""

    def test_matches_bisect_reference(self, spark, messages):
        import bisect
        import hashlib

        from pulsar_spark.operators import consistent_hash_assignment

        consumers = ["ca", "cb", "cc"]
        points = 16
        got = {
            r.key: r.consumer_id
            for r in consistent_hash_assignment(
                messages, consumers, points_per_consumer=points, deterministic_mod=True
            )
            .select("key", "consumer_id")
            .distinct()
            .collect()
        }

        ring: dict[int, str] = {}
        for name in consumers:
            for i in range(points):
                s = int(hashlib.md5(f"{name}:{i}".encode()).hexdigest()[:8], 16) % 65536
                if s not in ring or name < ring[s]:
                    ring[s] = name
        slots = sorted(ring)
        for key, consumer in got.items():
            h = (int(key) * 2654435761) % 65536
            j = bisect.bisect_left(slots, h)
            want = ring[slots[j]] if j < len(slots) else ring[slots[0]]
            assert consumer == want, (key, h, consumer, want)
        # all consumers get some share
        assert set(got.values()) == set(consumers)

    def test_minimal_reshuffle_on_consumer_join(self, spark, messages):
        """The property consistent hashing exists for: adding a consumer
        moves only the keys landing on the new consumer's ring points —
        keys that stay are served by the SAME consumer as before."""
        from pulsar_spark.operators import consistent_hash_assignment

        before = {
            r.key: r.consumer_id
            for r in consistent_hash_assignment(
                messages, ["ca", "cb"], 16, deterministic_mod=True
            ).select("key", "consumer_id").distinct().collect()
        }
        after = {
            r.key: r.consumer_id
            for r in consistent_hash_assignment(
                messages, ["ca", "cb", "cc"], 16, deterministic_mod=True
            ).select("key", "consumer_id").distinct().collect()
        }
        moved = {k for k in before if after[k] != before[k]}
        assert all(after[k] == "cc" for k in moved), "keys moved between old consumers"
        assert 0 < len(moved) < len(before)


class TestProducerAccessModes:
    """ProducerAccessMode (capi/ProducerAccessMode.java): Exclusive
    fails fast on a held topic; ExclusiveWithFencing takes over and
    invalidates the previous owner."""

    def _batch(self, spark):
        return spark.range(50).selectExpr("CAST(id AS STRING) AS k", "id AS v")

    def test_exclusive_excludes_others(self, spark, tmp_path):
        import pytest as _pytest

        from pulsar_spark.sources.topics import (
            ProducerBusyError,
            produce,
            release_producer,
        )

        d = str(tmp_path / "t")
        produce(self._batch(spark), d, key_col="k", producer_name="p1",
                access_mode="exclusive", mode="overwrite")
        # the holder can keep producing; everyone else is rejected,
        # including plain shared producers
        produce(self._batch(spark), d, key_col="k", producer_name="p1",
                access_mode="exclusive")
        with _pytest.raises(ProducerBusyError):
            produce(self._batch(spark), d, key_col="k", producer_name="p2",
                    access_mode="exclusive")
        with _pytest.raises(ProducerBusyError):
            produce(self._batch(spark), d, key_col="k", producer_name="p2")
        assert spark.read.parquet(d).count() == 100

        # release frees the topic for the next producer
        release_producer(d, "p1")
        produce(self._batch(spark), d, key_col="k", producer_name="p2")
        assert spark.read.parquet(d).count() == 150

    def test_fencing_invalidates_previous_owner(self, spark, tmp_path):
        import pytest as _pytest

        from pulsar_spark.sources.topics import (
            ProducerFencedError,
            acquire_producer,
            produce,
            producer_lock,
        )

        d = str(tmp_path / "t")
        produce(self._batch(spark), d, key_col="k", producer_name="p1",
                access_mode="exclusive", mode="overwrite")
        e0 = producer_lock(d)["epoch"]
        e1 = acquire_producer(d, "p2", "exclusive_with_fencing")
        assert e1 == e0 + 1  # ownership change bumps the topic epoch
        # the fenced ex-owner is invalidated immediately
        with _pytest.raises(ProducerFencedError):
            produce(self._batch(spark), d, key_col="k", producer_name="p1")
        # the new owner produces normally
        produce(self._batch(spark), d, key_col="k", producer_name="p2")
        assert spark.read.parquet(d).count() == 100

    def test_release_keeps_epoch_and_fenced_list(self, spark, tmp_path):
        from pulsar_spark.sources.topics import (
            ProducerFencedError,
            acquire_producer,
            produce,
            producer_lock,
            release_producer,
        )
        import pytest as _pytest

        d = str(tmp_path / "t3")
        produce(self._batch(spark), d, key_col="k", producer_name="p1",
                access_mode="exclusive", mode="overwrite")
        acquire_producer(d, "p2", "exclusive_with_fencing")
        release_producer(d, "p2")
        # epoch stays monotonic across release; next acquire bumps past it
        assert producer_lock(d)["owner"] is None
        e = acquire_producer(d, "p3", "exclusive")
        assert e == 2
        # the fenced ex-owner stays invalid even after the release, and
        # even when it reconnects in exclusive mode
        with _pytest.raises(ProducerFencedError):
            produce(self._batch(spark), d, key_col="k", producer_name="p1")
        with _pytest.raises(ProducerFencedError):
            acquire_producer(d, "p1", "exclusive")

    def test_wait_for_exclusive_queues_until_release(self, spark, tmp_path):
        """WaitForExclusive (capi/ProducerAccessMode.java): the second
        producer BLOCKS until the owner releases, then acquires with a
        bumped epoch — a real queued acquisition, not the former
        degrade-to-Exclusive."""
        import threading
        import time

        from pulsar_spark.sources.topics import (
            ProducerBusyError,
            acquire_producer,
            release_producer,
        )
        import pytest as _pytest

        d = str(tmp_path / "t4")
        e0 = acquire_producer(d, "p1", "exclusive")
        got: dict = {}

        def waiter():
            got["epoch"] = acquire_producer(
                d, "p2", "wait_for_exclusive", wait_timeout_s=10.0
            )

        t = threading.Thread(target=waiter)
        t.start()
        time.sleep(0.3)
        assert "epoch" not in got  # still queued behind p1
        release_producer(d, "p1")
        t.join(timeout=10.0)
        assert got["epoch"] == e0 + 1
        # and a bounded wait on a held topic times out busy
        with _pytest.raises(ProducerBusyError):
            acquire_producer(d, "p3", "wait_for_exclusive", wait_timeout_s=0.2)

    def test_concurrent_exclusive_acquire_single_winner(self, spark, tmp_path):
        """The lock write is guarded (fcntl) + atomic (tmp+rename): of N
        concurrent exclusive claimants exactly one wins."""
        import threading

        from pulsar_spark.sources.topics import ProducerBusyError, acquire_producer

        d = str(tmp_path / "t5")
        wins, errs = [], []
        barrier = threading.Barrier(8)

        def claim(i):
            barrier.wait()
            try:
                acquire_producer(d, f"p{i}", "exclusive")
                wins.append(i)
            except ProducerBusyError:
                errs.append(i)

        ts = [threading.Thread(target=claim, args=(i,)) for i in range(8)]
        for t in ts:
            t.start()
        for t in ts:
            t.join()
        assert len(wins) == 1 and len(errs) == 7


class TestReadWindowBounds:
    def test_end_offset_and_end_time_bound_inclusively(self, spark, messages, tmp_path):
        """PIP-435 consume window: [start, end] bounds on offset and
        publish time, pushed into the scan."""
        from pyspark.sql import functions as F

        from pulsar_spark.sources import write_topic
        from pulsar_spark.sources.topics import read_topic

        d = str(tmp_path / "t")
        write_topic(messages, d)
        win = read_topic(spark, d, start_offset=10, end_offset=20)
        assert win.count() == messages.where(
            (F.col("offset") >= 10) & (F.col("offset") <= 20)
        ).count()
        assert win.agg(F.min("offset"), F.max("offset")).collect()[0] == (10, 20)

        lo, hi = (
            messages.agg(
                F.expr("percentile_approx(publish_time, 0.25)"),
                F.expr("percentile_approx(publish_time, 0.75)"),
            ).collect()[0]
        )
        tw = read_topic(spark, d, start_time=str(lo), end_time=str(hi))
        want = messages.where(
            (F.col("publish_time") >= F.lit(lo)) & (F.col("publish_time") <= F.lit(hi))
        ).count()
        assert tw.count() == want and 0 < want < messages.count()


class TestDeliveryDelayPolicies:
    """PIP-437 fixed-delivery-delay + PIP-315 max-delivery-delay, with
    the documented precedence (fixed > max > client)."""

    def test_fixed_overrides_client_and_ignores_max(self, spark, messages):
        from pyspark.sql import functions as F

        from pulsar_spark.operators import apply_delivery_delay_policy

        out = apply_delivery_delay_policy(
            messages, fixed_delay_seconds=60, max_delay_seconds=1
        )
        # every row rewritten, including those that had NO client delay
        bad = out.where(
            (F.col("deliver_at").isNull())
            | (F.col("deliver_at") != F.col("publish_time") + F.expr("INTERVAL 60 SECONDS"))
        )
        assert bad.count() == 0
        # max (1s, far below 60) did NOT reject: fixed takes precedence

    def test_max_rejects_excessive_client_delay(self, spark, messages):
        import pytest as _pytest

        from pulsar_spark.operators import apply_delivery_delay_policy

        # fixture delays reach up to ~1h; a 2h cap accepts everything
        ok = apply_delivery_delay_policy(messages, max_delay_seconds=7200)
        assert ok.count() == messages.count()
        # a 1s cap rejects the publish batch
        with _pytest.raises(ValueError, match="maxDeliveryDelay"):
            apply_delivery_delay_policy(messages, max_delay_seconds=1)

    def test_no_policy_is_identity(self, spark, messages):
        from pulsar_spark.operators import apply_delivery_delay_policy

        assert apply_delivery_delay_policy(messages) is messages


class TestNamespaceListingAndConsistency:
    def test_list_topics_by_properties(self, spark, tmp_path):
        from pulsar_spark.sources import create_topic, list_topics

        base = str(tmp_path / "ns")
        create_topic(f"{base}/a", 2, properties={"team": "ml"})
        create_topic(f"{base}/b", 4, properties={"team": "web"})
        create_topic(f"{base}/c", 2)
        assert [t.rsplit("/", 1)[1] for t in list_topics(base)] == ["a", "b", "c"]
        assert [t.rsplit("/", 1)[1] for t in list_topics(base, {"team": "ml"})] == ["a"]
        assert list_topics(base, {"team": "nope"}) == []
        assert list_topics(str(tmp_path / "missing")) == []

    def test_consistency_check_passes_on_produced_topic(self, spark, tmp_path):
        from pulsar_spark.sources import check_topic_consistency
        from pulsar_spark.sources.topics import create_topic, produce

        d = str(tmp_path / "t")
        create_topic(d, num_partitions=4)
        batch = spark.range(200).selectExpr("CAST(id AS STRING) AS k", "id AS v")
        produce(batch, d, key_col="k")
        produce(batch.selectExpr("k", "v + 1000 AS v"), d, key_col="k")
        rep = check_topic_consistency(spark, d)
        assert rep["ok"] and rep["rows"] == 400 and not rep["problems"]

    def test_consistency_check_flags_corruption(self, spark, tmp_path):
        from pulsar_spark.sources import check_topic_consistency
        from pulsar_spark.sources.topics import create_topic, produce, write_topic

        d = str(tmp_path / "t")
        create_topic(d, num_partitions=2)
        batch = spark.range(100).selectExpr("CAST(id AS STRING) AS k", "id AS v")
        produce(batch, d, key_col="k")
        # simulate a partial-replay corruption: re-append the same rows
        # verbatim (duplicate (partition, offset) ids)
        dup = spark.read.parquet(d)
        write_topic(dup, d, mode="append")
        rep = check_topic_consistency(spark, d)
        assert not rep["ok"]
        assert any("duplicate offsets" in p for p in rep["problems"])

    def test_consistency_check_flags_out_of_range_partition(self, spark, tmp_path):
        from pulsar_spark.sources import check_topic_consistency
        from pulsar_spark.sources.topics import create_topic, produce, update_partitions

        d = str(tmp_path / "t")
        create_topic(d, num_partitions=2)
        produce(
            spark.range(100).selectExpr("CAST(id AS STRING) AS k", "id AS v"),
            d, key_col="k", num_partitions=8,  # caller routes wider than declared
        )
        rep = check_topic_consistency(spark, d)
        assert not rep["ok"]
        assert any("outside declared count" in p for p in rep["problems"])
