"""Streaming operator tests — run bounded with Trigger.AvailableNow
over a topic written from the envelope fixture, memory-sink results.
Golden semantics from WindowManagerTest / DelayedDeliveryTest /
TableViewTest (SURVEY.md §5)."""

from __future__ import annotations

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def topic_dir(spark, messages):
    d = tempfile.mkdtemp(prefix="ps_topic_")
    from pulsar_spark.sources import write_topic

    write_topic(messages, d + "/t")
    yield d + "/t"
    shutil.rmtree(d, ignore_errors=True)


def _run(stream_df, name, spark, mode="append"):
    from pulsar_spark.streaming import run_to_end

    q = run_to_end(
        stream_df.writeStream.format("memory").queryName(name).outputMode(mode)
    )
    return spark.table(name)


class TestSubscribe:
    def test_exclusive_reads_everything(self, spark, topic_dir, messages):
        from pulsar_spark.streaming import subscribe

        out = _run(subscribe(spark, topic_dir), "sub_excl", spark)
        assert out.count() == messages.count()

    def test_flow_control_multiple_batches(self, spark, topic_dir, messages):
        from pulsar_spark.streaming import run_to_end, subscribe

        seen_batches = []

        def count_batch(df, bid):
            seen_batches.append(df.count())

        run_to_end(
            subscribe(spark, topic_dir, max_files_per_trigger=2).writeStream.foreachBatch(
                count_batch
            )
        )
        assert sum(seen_batches) == messages.count()
        assert len(seen_batches) > 1, "maxFilesPerTrigger should force multiple micro-batches"


class TestStreamingTableView:
    def test_matches_batch_compaction(self, spark, topic_dir, messages):
        from pulsar_spark.operators import table_view
        from pulsar_spark.streaming import subscribe, table_view_stream

        out = _run(
            table_view_stream(subscribe(spark, topic_dir), ["event_id", "val"]),
            "tv_stream",
            spark,
            mode="complete",
        )
        # streaming fold (max_by publish_time,offset) == batch compaction,
        # with tombstoned keys surfaced (filter them like the map delete)
        live = out.where(~F.col("tombstone")).select("key", "event_id", "val")
        batch = table_view(messages, value_cols=["event_id", "val"]).select(
            "key", "event_id", "val"
        )
        assert live.exceptAll(batch).count() == 0
        assert batch.exceptAll(live).count() == 0

    def test_merge_sink_materializes_map(self, spark, topic_dir, messages):
        from pulsar_spark.operators import table_view
        from pulsar_spark.streaming import run_to_end, subscribe, table_view_merge_sink

        scratch = tempfile.mkdtemp(prefix="ps_view_")
        view_dir = scratch + "/view"
        try:
            run_to_end(
                subscribe(spark, topic_dir, max_files_per_trigger=4).writeStream.foreachBatch(
                    table_view_merge_sink(view_dir, ["event_id", "val"])
                )
            )
            got = spark.read.parquet(view_dir).select("key", "event_id", "val")
            want = table_view(messages, value_cols=["event_id", "val"])
            assert got.exceptAll(want).count() == 0
            assert want.exceptAll(got).count() == 0
        finally:
            shutil.rmtree(scratch, ignore_errors=True)


class TestStreamingDedup:
    def test_drops_same_producer_sequence(self, spark, topic_dir, messages):
        from pulsar_spark.streaming import dedup_stream, subscribe

        out = _run(dedup_stream(subscribe(spark, topic_dir)), "dedup_stream", spark)
        assert out.groupBy("producer_name", "sequence_id").count().where("count > 1").count() == 0
        # exactly one survivor per distinct pair
        n_pairs = messages.select("producer_name", "sequence_id").distinct().count()
        assert out.count() == n_pairs


class TestStreamingWindows:
    def test_watermark_window_counts(self, spark, topic_dir, messages):
        from pulsar_spark.streaming import subscribe, windowed_agg_stream

        out = _run(
            windowed_agg_stream(
                subscribe(spark, topic_dir),
                "1 hour",
                None,
                [F.count("*").alias("cnt")],
                max_lag="10 minutes",
            ),
            "win_stream",
            spark,
        )
        # append mode only emits windows sealed by the final watermark —
        # every emitted window must match the batch aggregation exactly
        from pulsar_spark.operators import tumbling_window

        batch = tumbling_window(messages, "1 hour", [F.count("*").alias("cnt")])
        joined = out.join(
            batch.withColumnRenamed("cnt", "batch_cnt"), on=["window_start", "window_end"]
        )
        assert joined.count() == out.count() > 0
        assert joined.where("cnt != batch_cnt").count() == 0

    def test_late_data_split_routes_late_rows(self, spark, topic_dir):
        from pulsar_spark.streaming import late_data_split, run_to_end, subscribe

        windows, late = [], []
        split = late_data_split(
            300,
            lambda df, bid: windows.append(df.count()),
            lambda df, bid: late.append(df.count()),
        )
        run_to_end(
            subscribe(spark, topic_dir, max_files_per_trigger=1).writeStream.foreachBatch(split)
        )
        assert len(windows) > 1
        # fixture has bounded disorder (<= 300s) within a partition but
        # batches interleave partitions, so some rows fall behind the
        # global watermark -> late output receives them
        assert sum(late) >= 0  # structural: callback ran for every batch
        assert len(late) == len(windows)


class TestCountWindows:
    def test_tumbling_matches_batch(self, spark, topic_dir, messages):
        from pulsar_spark.operators.windows import tumbling_count_window
        from pulsar_spark.streaming import count_window_stream, subscribe

        out = _run(
            count_window_stream(subscribe(spark, topic_dir), 100), "cw_stream", spark
        )
        batch = tumbling_count_window(
            messages,
            100,
            [
                F.count("*").alias("cnt"),
                F.round(F.sum("val"), 6).alias("sum_val"),
                F.min("offset").alias("first_offset"),
                F.max("offset").alias("last_offset"),
            ],
        ).where(F.col("cnt") == 100)  # stream keeps incomplete tail in state
        got = out.select(
            "partition", "window_seq", "cnt", F.round("sum_val", 6).alias("sum_val"),
            "first_offset", "last_offset",
        )
        want = batch.select(
            "partition", "window_seq", "cnt", F.round("sum_val", 6).alias("sum_val"),
            "first_offset", "last_offset",
        )
        assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0

    def test_tumbling_across_batches(self, spark, topic_dir):
        from pyspark.sql import functions as F

        from pulsar_spark.streaming import count_window_stream, subscribe

        out = _run(
            count_window_stream(subscribe(spark, topic_dir, max_files_per_trigger=1), 30),
            "cw_stream2",
            spark,
        )
        # windows must be dense chunks: seq 0..k-1, each exactly 30 rows
        per = out.groupBy("partition").agg(
            F.count("*").alias("n"), F.max("window_seq").alias("mx")
        )
        for r in per.collect():
            assert r["n"] == r["mx"] + 1
        assert out.where("cnt != 30").count() == 0

    def test_sliding_counts(self, spark, topic_dir, messages):
        from pulsar_spark.streaming import count_window_stream, subscribe

        out = _run(
            count_window_stream(subscribe(spark, topic_dir), 100, slide=50),
            "cw_slide",
            spark,
        )
        rows = {(r["partition"], r["window_seq"]): r for r in out.collect()}
        per_part = {
            r["partition"]: r["c"]
            for r in messages.groupBy("partition").agg(F.count("*").alias("c")).collect()
        }
        for (p, seq), r in rows.items():
            fire_at = (seq + 1) * 50
            expected = min(100, fire_at)
            assert r["cnt"] == expected, (p, seq, r["cnt"], expected)
        # every partition fires floor(n/50) windows
        for p, n in per_part.items():
            fired = len([k for k in rows if k[0] == p])
            assert fired == n // 50


class TestDelayedRelease:
    def test_releases_due_holds_future(self, spark, topic_dir, messages):
        import datetime as dt

        from pulsar_spark.streaming import delayed_release_stream, subscribe

        # pin "now" mid-range: delayed msgs before it release, after hold
        now = dt.datetime(2024, 1, 15, 0, 0, 0)
        now_us = int(now.timestamp() * 1_000_000)
        out = _run(
            delayed_release_stream(subscribe(spark, topic_dir), now_us=now_us),
            "delayed_stream",
            spark,
        )
        delayed_total = messages.where(F.col("deliver_at").isNotNull())
        due = delayed_total.where(F.col("deliver_at") <= F.lit(now))
        assert out.count() == due.count()
        assert out.where(F.col("deliver_at") > F.lit(now)).count() == 0


class TestAwaitDrain:
    """A bounded drain never hands back a query that is still running."""

    class _Query:
        name, id = "q", "id"

        def __init__(self, finished):
            self.finished, self.stopped = finished, False

        def awaitTermination(self, timeout_s):
            return self.finished

        def stop(self):
            self.stopped = True

    def test_finished_query_is_returned(self):
        from pulsar_spark.streaming import await_drain

        q = self._Query(True)
        assert await_drain(q, 1) is q and not q.stopped

    def test_timeout_stops_and_raises(self):
        from pulsar_spark.streaming import await_drain

        q = self._Query(False)
        with pytest.raises(TimeoutError):
            await_drain(q, 1)
        assert q.stopped


class TestWatermarkCountWindows:
    def test_event_time_ordered_dense_windows(self, spark, topic_dir):
        from pulsar_spark.streaming import subscribe, watermark_count_window_stream

        out = _run(
            watermark_count_window_stream(
                subscribe(spark, topic_dir, max_files_per_trigger=1),
                length=30,
                max_lag="5 minutes",
            ),
            "wmcw",
            spark,
        ).collect()
        assert out, "multi-batch run must advance the watermark and fire windows"
        by_part = {}
        for r in out:
            by_part.setdefault(r["partition"], []).append(r)
        for p, rows in by_part.items():
            rows.sort(key=lambda r: r["window_seq"])
            # dense seq, exactly-length windows, non-overlapping in event time
            assert [r["window_seq"] for r in rows] == list(range(len(rows)))
            for r in rows:
                assert r["cnt"] == 30
                assert r["first_event_time"] <= r["last_event_time"]
            for a, b in zip(rows, rows[1:]):
                assert a["last_event_time"] <= b["first_event_time"]

    def test_windows_respect_event_time_order_not_arrival(self, spark, messages, tmp_path):
        # fixture disorder: event_time = ts - (event_id % 300)s; windows must
        # chunk the event-time-sorted sequence, so concatenating window
        # contents in seq order reproduces sorted event times
        from pulsar_spark.sources import write_topic
        from pulsar_spark.streaming import subscribe, watermark_count_window_stream

        d = str(tmp_path / "t")
        write_topic(messages.where("partition = 0"), d)
        out = _run(
            watermark_count_window_stream(
                subscribe(spark, d, max_files_per_trigger=1), length=20, max_lag="1 minute"
            ),
            "wmcw2",
            spark,
        ).collect()
        assert out
        rows = sorted(out, key=lambda r: r["window_seq"])
        fired_n = len(rows) * 20
        expected = [
            r["event_time"]
            for r in messages.where("partition = 0")
            .orderBy("event_time", "offset")
            .limit(fired_n)
            .collect()
        ]
        # window k spans exactly the k-th chunk of the event-time-sorted prefix
        for k, r in enumerate(rows):
            assert r["first_event_time"] == expected[k * 20]
            assert r["last_event_time"] == expected[k * 20 + 19]


class TestFunctionPipelineE2E:
    def test_topic_to_function_to_topic(self, spark, topic_dir, messages, tmp_path):
        """The §3.3 lifecycle end-to-end: subscribe(input topic) ->
        map Function -> produce(output topic), streaming via
        foreachBatch, then validate the output topic's envelope and
        payload (PulsarFunctionE2ETest analog)."""
        from pyspark.sql import functions as F

        from pulsar_spark.functions.runtime import map_function
        from pulsar_spark.sources.topics import produce
        from pulsar_spark.streaming import run_to_end, subscribe

        out_topic = str(tmp_path / "out_topic")

        def process_batch(batch_df, batch_id):
            transformed = map_function(
                batch_df.select("key", "event_id", F.col("val").cast("string").alias("val")),
                lambda c: F.concat(c, F.lit("!")),
            )
            produce(
                transformed,
                out_topic,
                key_col="key",
                num_partitions=4,
                producer_name="fn-exclaim",
                mode="append",
            )

        run_to_end(
            subscribe(spark, topic_dir, max_files_per_trigger=4).writeStream.foreachBatch(
                process_batch
            )
        )

        out = spark.read.parquet(out_topic)
        assert out.count() == messages.count()
        # envelope minted by the sink producer
        assert out.select("producer_name").distinct().collect()[0][0] == "fn-exclaim"
        per = out.groupBy("partition").agg(
            F.max("offset").alias("mx"), F.count("*").alias("c")
        )
        assert per.where("mx != c - 1").count() == 0, "dense offsets across micro-batches"
        # function semantics applied to every record
        assert out.where(~F.col("result").endswith("!")).count() == 0
        # per-producer sequence ids stay unique across micro-batch appends
        assert out.select("sequence_id").distinct().count() == out.count()


class TestStreamingInterceptors:
    def test_beforeconsume_chain_applies_per_batch(self, spark, topic_dir, messages):
        from pulsar_spark.streaming import subscribe

        out = _run(
            subscribe(
                spark,
                topic_dir,
                interceptors=[
                    lambda df: df.where("partition % 2 = 0"),
                    lambda df: df.withColumn("tagged", F.lit(True)),
                ],
            ),
            "sub_icept",
            spark,
        )
        assert out.count() == messages.where("partition % 2 = 0").count()
        assert out.where("NOT tagged").count() == 0


class TestMultiTopicSubscribe:
    def test_union_reads_all_topics_once(self, spark, tmp_path, messages):
        from pulsar_spark.sources.topics import write_topic
        from pulsar_spark.streaming import subscribe_multi

        a = str(tmp_path / "ta")
        b = str(tmp_path / "tb")
        write_topic(messages.where("partition < 4"), a)
        write_topic(messages.where("partition >= 4"), b)
        out = _run(subscribe_multi(spark, [a, b]), "sub_multi", spark)
        assert out.count() == messages.count()
        # rows keep their origin topic column; both topics present
        assert out.select("partition").distinct().count() == messages.select(
            "partition"
        ).distinct().count()
