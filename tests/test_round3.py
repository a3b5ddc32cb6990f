"""Round-3 additions: Avro/Protobuf codecs, scalable training-set
selection, streaming seek, pattern topic discovery, nack backoff,
tiered-offload crash safety.

Golden semantics: SchemaTest.java round-trips (Avro/Protobuf),
Consumer.seek (Consumer.java:523), PatternMultiTopicsConsumerImpl
(runtime topic discovery), MultiplierRedeliveryBackoff.java.
"""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)


class TestAvroCodec:
    def test_round_trip_events(self, spark, messages):
        from pulsar_spark.schema_codecs import (
            avro_decode,
            avro_encode,
            struct_to_avro_schema,
        )

        src = messages.select("event_id", "event_type", "val").limit(200)
        schema = struct_to_avro_schema(src.schema, name="Ev")
        enc = avro_encode(src, ["event_id", "event_type", "val"], record_name="Ev")
        assert enc.schema["payload"].dataType.simpleString() == "binary"
        dec = avro_decode(enc, schema)
        a = {tuple(r) for r in src.collect()}
        b = {tuple(r) for r in dec.collect()}
        assert a == b

    def test_nested_and_nullable(self, spark):
        from pulsar_spark.schema_codecs import (
            avro_decode,
            avro_encode,
            struct_to_avro_schema,
        )

        st = StructType(
            [
                StructField("id", LongType(), False),
                StructField("name", StringType(), True),
                StructField("scores", ArrayType(DoubleType()), True),
            ]
        )
        rows = [(1, "a", [1.0, 2.5]), (2, None, None), (3, "c", [])]
        df = spark.createDataFrame(rows, st)
        enc = avro_encode(df, ["id", "name", "scores"])
        dec = avro_decode(enc, struct_to_avro_schema(st))
        got = sorted([tuple(r) for r in dec.collect()])
        # empty array and null both encode; [] round-trips as []
        assert got == [(1, "a", [1.0, 2.5]), (2, None, None), (3, "c", [])]

    def test_registry_integration(self, spark, tmp_path):
        from pulsar_spark.schema_codecs import avro_to_struct_schema, register_avro
        from pulsar_spark.schema_registry import (
            IncompatibleSchemaError,
            SchemaRegistry,
        )

        reg = SchemaRegistry(str(tmp_path))
        v1 = {
            "type": "record",
            "name": "E",
            "fields": [{"name": "a", "type": "long"}],
        }
        v2 = {
            "type": "record",
            "name": "E",
            "fields": [
                {"name": "a", "type": "long"},
                {"name": "b", "type": ["null", "string"]},
            ],
        }
        assert register_avro(reg, "t", v1, "BACKWARD") == 0
        assert register_avro(reg, "t", v2, "BACKWARD") == 1
        # dropping a non-nullable field is FORWARD-incompatible
        with pytest.raises(IncompatibleSchemaError):
            register_avro(
                reg,
                "t",
                {"type": "record", "name": "E", "fields": [{"name": "b", "type": ["null", "string"]}]},
                "FULL",
            )
        assert avro_to_struct_schema(v2).fieldNames() == ["a", "b"]


class TestProtoCodec:
    def test_round_trip_events(self, spark, messages):
        from pulsar_spark.schema_codecs import proto_decode, proto_encode

        desc = {
            "name": "Ev",
            "fields": [
                {"num": 1, "name": "event_id", "type": "int64"},
                {"num": 2, "name": "event_type", "type": "string"},
                {"num": 3, "name": "val", "type": "double"},
            ],
        }
        src = messages.select("event_id", "event_type", "val").limit(200)
        enc = proto_encode(src, desc, ["event_id", "event_type", "val"])
        dec = proto_decode(enc, desc)
        assert {tuple(r) for r in src.collect()} == {tuple(r) for r in dec.collect()}

    def test_unknown_fields_skipped(self, spark):
        # forward compat: a reader with a narrower descriptor skips
        # unknown field numbers instead of failing (proto contract)
        from pulsar_spark.schema_codecs import proto_decode, proto_encode

        full = {
            "name": "M",
            "fields": [
                {"num": 1, "name": "a", "type": "int64"},
                {"num": 2, "name": "b", "type": "string"},
            ],
        }
        narrow = {"name": "M", "fields": [{"num": 1, "name": "a", "type": "int64"}]}
        df = spark.createDataFrame([(7, "x")], "a BIGINT, b STRING")
        enc = proto_encode(df, full, ["a", "b"])
        got = proto_decode(enc, narrow).collect()
        assert [tuple(r) for r in got] == [(7,)]


class TestScalableSelection:
    def test_matches_exact(self, spark, documents):
        from pulsar_spark.functions import (
            quality_metrics,
            select_by_token_budget,
            select_by_token_budget_exact,
        )

        q = quality_metrics(documents).where(F.col("n_tokens") >= 5)
        scored = q.withColumn(
            "score", F.round(F.col("distinct_ratio") * (1 - F.col("stopword_ratio")), 6)
        )
        for budget in (5000, 20000):
            exact = {
                tuple(r)
                for r in select_by_token_budget_exact(scored, budget).collect()
            }
            scal = {tuple(r) for r in select_by_token_budget(scored, budget).collect()}
            assert scal == exact

    def test_no_global_row_sort(self, spark, documents):
        from pulsar_spark.functions import quality_metrics, select_by_token_budget

        scored = (
            quality_metrics(documents)
            .where(F.col("n_tokens") >= 5)
            .withColumn("score", F.round(F.col("distinct_ratio"), 6))
        )
        plan = (
            select_by_token_budget(scored, 10000)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        # every Sort node must be non-global (", false, 0" suffix)
        for line in plan.splitlines():
            if "Sort [" in line:
                assert ", false, 0" in line, f"global sort in plan: {line.strip()}"


class TestStreamingSeek:
    def test_start_time_skips_earlier_rows(self, spark, messages, tmp_path):
        from pulsar_spark.sources import write_topic
        from pulsar_spark.streaming import run_to_end, subscribe

        topic = str(tmp_path / "t")
        write_topic(messages, topic)
        cutoff = messages.agg(
            F.percentile_approx("publish_time", 0.5).alias("m")
        ).collect()[0]["m"]
        stream = subscribe(spark, topic, start_time=str(cutoff))
        q = run_to_end(
            stream.writeStream.format("memory").queryName("seek_time").outputMode("append")
        )
        got = spark.table("seek_time").count()
        want = messages.where(F.col("publish_time") >= F.lit(cutoff)).count()
        assert got == want
        assert got < messages.count()

    def test_start_offset_resubscribe(self, spark, messages, tmp_path):
        from pulsar_spark.sources import write_topic
        from pulsar_spark.streaming import run_to_end, subscribe

        topic = str(tmp_path / "t2")
        write_topic(messages, topic)
        stream = subscribe(spark, topic, start_offset=100)
        run_to_end(
            stream.writeStream.format("memory").queryName("seek_off").outputMode("append")
        )
        got = spark.table("seek_off")
        assert got.agg(F.min("offset")).collect()[0][0] >= 100
        assert got.count() == messages.where(F.col("offset") >= 100).count()


class TestAutoUpdatePartitions:
    def test_partition_growth_consumed_mid_stream(self, spark, tmp_path):
        """ConsumerBuilder.autoUpdatePartitions semantics: a consumer on
        a partitioned topic picks up partitions added after it
        subscribed. Our file-stream source re-lists the topic directory
        every trigger, so new ``partition=N`` subtrees appear without a
        resubscribe — the checkpoint carries across the growth."""
        from pulsar_spark.sources.topics import create_topic, produce, update_partitions
        from pulsar_spark.streaming import run_to_end, subscribe

        topic = str(tmp_path / "grow")
        create_topic(topic, num_partitions=2)
        payload = spark.range(200).selectExpr("CAST(id AS STRING) AS k", "id AS v")
        produce(payload, topic, key_col="k")
        ckpt = str(tmp_path / "ckpt")

        seen: list[tuple[str, int, int]] = []

        def sink(run):
            def _each(df, bid):
                for r in df.groupBy("partition").count().collect():
                    seen.append((run, r["partition"], r["count"]))

            return _each

        run_to_end(
            subscribe(spark, topic).writeStream.foreachBatch(sink("r1")).option(
                "checkpointLocation", ckpt
            )
        )
        assert sum(n for run, _, n in seen if run == "r1") == 200
        assert {p for run, p, _ in seen if run == "r1"} == {0, 1}

        # grow the topic, then append rows routed over the wider space;
        # SAME checkpoint — only the new rows arrive, including those in
        # partitions that did not exist at subscribe time
        update_partitions(topic, 6)
        produce(payload.selectExpr("k", "v + 1000 AS v"), topic, key_col="k")
        run_to_end(
            subscribe(spark, topic).writeStream.foreachBatch(sink("r2")).option(
                "checkpointLocation", ckpt
            )
        )
        r2 = [(p, n) for run, p, n in seen if run == "r2"]
        assert sum(n for _, n in r2) == 200
        assert {p for p, _ in r2} - {0, 1}, "no rows consumed from grown partitions"


class TestPatternDiscovery:
    def test_topic_created_mid_stream_is_consumed(self, spark, messages, tmp_path):
        from pulsar_spark.sources import write_topic
        from pulsar_spark.streaming import run_to_end, subscribe_pattern

        base = str(tmp_path / "topics")
        os.makedirs(base)
        m = messages.limit(500)
        write_topic(m, f"{base}/events-a")
        ckpt = str(tmp_path / "ckpt")
        pattern = f"{base}/events-*"

        seen: list[tuple[str, int]] = []

        def sink(run):
            def _each(df, bid):
                for r in df.groupBy("topic").count().collect():
                    seen.append((run, r["topic"], r["count"]))

            return _each

        stream = subscribe_pattern(spark, pattern)
        run_to_end(
            stream.writeStream.foreachBatch(sink("r1")).option(
                "checkpointLocation", ckpt
            )
        )
        first = sum(n for run, _, n in seen if run == "r1")
        assert first == 500

        # topic created AFTER the subscription started; the re-glob on
        # the next trigger discovers it (PatternMultiTopicsConsumerImpl
        # discovery-timer semantics) — same checkpoint, so only the new
        # topic's rows arrive
        write_topic(m.withColumn("topic", F.lit("events-b")), f"{base}/events-b")
        stream2 = subscribe_pattern(spark, pattern)
        run_to_end(
            stream2.writeStream.foreachBatch(sink("r2")).option(
                "checkpointLocation", ckpt
            )
        )
        r2 = [(t, n) for run, t, n in seen if run == "r2"]
        assert sum(n for _, n in r2) == 500, f"expected only new topic rows, got {r2}"
        assert all(t == "events-b" for t, _ in r2)


class TestRetryBackoff:
    def test_exponential_closed_form(self, spark, messages):
        from pulsar_spark.operators import retry_schedule

        m = messages.withColumn(
            "redelivery_count", (F.col("event_id") % 4).cast("int")
        )
        out = retry_schedule(
            m,
            F.col("event_id") % 10 == 0,
            backoff_seconds=10,
            backoff_multiplier=3.0,
            max_backoff_seconds=100,
        )
        rows = out.select(
            "event_id",
            "redelivery_count",
            (F.unix_timestamp("deliver_at") - F.unix_timestamp("publish_time")).alias(
                "delay"
            ),
        ).collect()
        assert rows
        for r in rows:
            prior = r["redelivery_count"] - 1  # count was incremented on nack
            assert r["delay"] == min(10 * 3**prior, 100)

    def test_fixed_delay_unchanged(self, spark, messages):
        from pulsar_spark.operators import retry_schedule

        out = retry_schedule(messages, F.col("event_id") % 10 == 0, 60)
        d = out.select(
            (F.unix_timestamp("deliver_at") - F.unix_timestamp("publish_time")).alias("s")
        ).distinct().collect()
        assert [r["s"] for r in d] == [60]


class TestTieredCrashSafety:
    def _write(self, spark, messages, tmp_path):
        from pulsar_spark.sources import write_topic

        hot, cold = str(tmp_path / "hot"), str(tmp_path / "cold")
        write_topic(messages, hot)
        return hot, cold

    def test_reoffload_after_partial_cold_append(self, spark, messages, tmp_path):
        # crash between cold append and hot swap: cold already holds the
        # offloaded rows, hot still holds everything. A re-run must NOT
        # duplicate them in cold (OffloadUtils.cleanupOffloaded analog).
        from pulsar_spark.sources.tiered import offload_partitions, tiered_view

        hot, cold = self._write(spark, messages, tmp_path)
        cutoff = str(
            messages.agg(F.percentile_approx("publish_time", 0.4)).collect()[0][0]
        )
        n_total = messages.count()
        # simulate the partial run: cold append happened, swap didn't
        cold_rows = spark.read.parquet(hot).where(F.col("publish_time") < cutoff)
        n_cold = cold_rows.count()
        cold_rows.write.mode("append").partitionBy("partition").parquet(cold)

        stats = offload_partitions(spark, hot, cold, cutoff)
        assert stats["offloaded"] == n_cold
        assert spark.read.parquet(cold).count() == n_cold, "cold tier duplicated rows"
        view = tiered_view(spark, hot, cold)
        assert view.count() == n_total

    def test_recover_interrupted_swap(self, spark, messages, tmp_path):
        # crash between the two renames: hot dir is gone, the rewrite
        # dir holds the kept rows. Recovery completes the swap forward.
        from pulsar_spark.sources.tiered import offload_partitions, tiered_view

        hot, cold = self._write(spark, messages, tmp_path)
        cutoff = str(
            messages.agg(F.percentile_approx("publish_time", 0.4)).collect()[0][0]
        )
        keep = spark.read.parquet(hot).where(F.col("publish_time") >= cutoff)
        n_keep, n_total = keep.count(), messages.count()
        # simulate: rewrite dir written, cold appended, hot renamed away
        keep.write.mode("overwrite").partitionBy("partition").parquet(hot + "__rewrite")
        spark.read.parquet(hot).where(F.col("publish_time") < cutoff).write.mode(
            "append"
        ).partitionBy("partition").parquet(cold)
        os.rename(hot, hot + "__old")

        view = tiered_view(spark, hot, cold)  # read path completes the swap
        assert os.path.exists(hot)
        assert view.count() == n_total
        assert spark.read.parquet(hot).count() == n_keep
        # the reader never DELETES — __old lingers until the next
        # offload's writer-side recovery sweeps it
        assert os.path.exists(hot + "__old")
        offload_partitions(spark, hot, cold, cutoff)
        assert not os.path.exists(hot + "__old")


class TestExampleCatalog:
    """Conformance vs pulsar-functions/java-examples — each assertion is
    the example's literal contract."""

    @pytest.fixture(scope="class")
    def vals(self, spark):
        return spark.createDataFrame(
            [(1, "alpha"), (2, "beta"), (3, "gamma")], ["event_id", "val"]
        )

    def test_catalog_lists_examples(self):
        from pulsar_spark.functions.examples import function_examples

        ex = function_examples()
        for name in [
            "exclamation", "integer_addition", "config_based_append",
            "user_config", "instance_id_appender", "logging", "user_metric",
            "void", "record_function", "merge_topic", "add_window",
            "comma_window", "word_count",
        ]:
            assert name in ex, name

    def test_integer_addition(self, spark):
        from pulsar_spark.functions.examples import function_examples

        df = spark.createDataFrame([(1,), (41,)], ["val"])
        out = function_examples()["integer_addition"](df)
        assert {r["result"] for r in out.collect()} == {101, 141}

    def test_config_based_append_and_default(self, spark, vals):
        from pulsar_spark.functions.examples import function_examples
        from pulsar_spark.functions.runtime import FunctionContext

        fn = function_examples()["config_based_append"]
        with_cfg = fn(vals, FunctionContext({"config-key": "-x"}))
        assert {r["result"] for r in with_cfg.collect()} == {"alpha-x", "beta-x", "gamma-x"}
        no_cfg = fn(vals, FunctionContext())
        assert {r["result"] for r in no_cfg.collect()} == {"alpha!", "beta!", "gamma!"}

    def test_user_config_ignores_input(self, spark, vals):
        from pulsar_spark.functions.examples import function_examples
        from pulsar_spark.functions.runtime import FunctionContext

        fn = function_examples()["user_config"]
        out = fn(vals, FunctionContext({"WhatToWrite": "hi"}))
        assert {r["result"] for r in out.collect()} == {"hi"}
        out2 = fn(vals, FunctionContext())
        assert {r["result"] for r in out2.collect()} == {"Not a nice way"}

    def test_void_and_user_metric_emit_nothing(self, spark, vals):
        from pulsar_spark.functions.examples import function_examples
        from pulsar_spark.functions.runtime import FunctionContext

        assert function_examples()["void"](vals).count() == 0
        ctx = FunctionContext()
        out = function_examples()["user_metric"](vals, ctx)
        assert out.count() == 0
        # LetterCount = len("alpha")+len("beta")+len("gamma") = 14
        assert ctx.get_metric("LetterCount") == 14

    def test_record_function_properties(self, spark):
        from pulsar_spark.functions.examples import function_examples
        from pulsar_spark.functions.runtime import FunctionContext

        df = spark.createDataFrame([("in-topic", "x")], ["topic", "val"])
        out = function_examples()["record_function"](
            df, FunctionContext({"publish-topic": "dest"})
        ).collect()[0]
        assert out["result"] == "x!"
        assert out["destination_topic"] == "dest"
        assert out["prop_input_topic"] == "in-topic"

    def test_add_and_comma_windows(self, spark, messages):
        from pulsar_spark.functions.examples import function_examples

        m = messages.select("partition", "offset", F.col("event_id").alias("val"))
        added = function_examples()["add_window"](m, window_size=10)
        # every full window sums 10 event ids; totals match a manual chunk
        one = added.where((F.col("partition") == 0) & (F.col("window_seq") == 0)).collect()[0]
        manual = [
            r["val"]
            for r in m.where(F.col("partition") == 0).orderBy("offset").limit(10).collect()
        ]
        assert one["result"] == sum(manual)

        joined = function_examples()["comma_window"](
            m.withColumn("val", F.col("val").cast("string")), window_size=10
        )
        got = joined.where((F.col("partition") == 0) & (F.col("window_seq") == 0)).collect()[0]
        assert got["result"] == ",".join(str(v) for v in manual)

    def test_merge_topic_properties(self, spark, messages):
        from pulsar_spark.functions.examples import function_examples

        out = function_examples()["merge_topic"](messages)
        assert out.count() == messages.count()
        r = out.limit(1).collect()[0]
        assert r["__original_topic"].startswith("persistent://")
        assert r["__publish_time"].isdigit()

    def test_word_count_counters(self, spark):
        from pulsar_spark.functions.examples import function_examples

        df = spark.createDataFrame([("a.b.a",), ("b",)], ["val"])
        out = {r["word"]: r["counter"] for r in function_examples()["word_count"](df).collect()}
        assert out == {"a": 2, "b": 2}


class TestPendingAcks:
    def test_lifecycle(self, spark, messages):
        # PendingAckHandleImpl: txn-ack commit -> durable; open ->
        # locked (PENDING); abort -> released (redeliverable)
        from pulsar_spark.operators.transactions import pending_ack_state

        m = messages.limit(400)
        acks = m.where(F.col("event_id") % 2 == 0).select(
            "partition", "offset", (F.col("event_id") % 3).alias("txn_id")
        )
        txn_state = spark.createDataFrame(
            [(0, "COMMITTED"), (1, "OPEN"), (2, "ABORTED")], "txn_id bigint, status string"
        )
        out = pending_ack_state(m, acks, txn_state)
        rows = out.select("event_id", "ack_status", "redeliverable").collect()
        for r in rows:
            eid = r["event_id"]
            if eid % 2 == 1:
                assert r["ack_status"] == "UNACKED" and r["redeliverable"]
            elif eid % 3 == 0:
                assert r["ack_status"] == "ACKED" and not r["redeliverable"]
            elif eid % 3 == 1:
                assert r["ack_status"] == "PENDING" and not r["redeliverable"]
            else:
                assert r["ack_status"] == "UNACKED" and r["redeliverable"]

    def test_ack_conflict_precedence(self, spark, messages):
        # two acks on one message: the durable (committed) ack wins the
        # lock over the open txn's pending ack
        from pulsar_spark.operators.transactions import pending_ack_state

        m = messages.limit(10)
        one = m.limit(1).select("partition", "offset")
        acks = one.withColumn("txn_id", F.lit(0)).unionByName(
            one.withColumn("txn_id", F.lit(1))
        )
        txn_state = spark.createDataFrame(
            [(0, "COMMITTED"), (1, "OPEN")], "txn_id bigint, status string"
        )
        out = pending_ack_state(m, acks, txn_state)
        assert out.where(F.col("ack_status") == "ACKED").count() == 1


class TestMessageCrypto:
    @pytest.fixture(scope="class")
    def keys(self):
        from pulsar_spark.crypto import generate_rsa_keypair

        return generate_rsa_keypair()

    def test_round_trip(self, spark, messages, keys):
        from pulsar_spark.crypto import decrypt_messages, encrypt_messages

        priv, pub = keys
        src = messages.limit(100).select(
            "event_id", F.encode(F.col("props"), "utf-8").alias("payload")
        )
        enc = encrypt_messages(src, {"k1": pub})
        assert "encryption_param" in enc.columns
        # ciphertext differs from plaintext and carries the GCM tag
        sample = enc.limit(1).collect()[0]
        assert sample["payload"] is not None and len(sample["encryption_param"]) == 12
        dec = decrypt_messages(enc, "k1", priv)
        got = {
            (r["event_id"], bytes(r["payload"]).decode()) for r in dec.collect()
        }
        want = {(r["event_id"], bytes(r["payload"]).decode()) for r in src.collect()}
        assert got == want

    def test_multi_recipient(self, spark, messages, keys):
        from pulsar_spark.crypto import (
            decrypt_messages,
            encrypt_messages,
            generate_rsa_keypair,
        )

        priv1, pub1 = keys
        priv2, pub2 = generate_rsa_keypair()
        src = messages.limit(20).select(
            "event_id", F.encode(F.col("event_type"), "utf-8").alias("payload")
        )
        enc = encrypt_messages(src, {"a": pub1, "b": pub2})
        for name, priv in (("a", priv1), ("b", priv2)):
            dec = decrypt_messages(enc, name, priv)
            assert dec.count() == 20

    def test_tamper_detection(self, spark, messages, keys):
        # GCM is authenticated: flipping ciphertext bytes fails loudly
        from pulsar_spark.crypto import decrypt_messages, encrypt_messages

        priv, pub = keys
        src = messages.limit(5).select(
            "event_id", F.encode(F.col("props"), "utf-8").alias("payload")
        )
        enc = encrypt_messages(src, {"k": pub})
        tampered = enc.withColumn(
            "payload",
            F.concat(
                F.expr("substring(payload, 1, length(payload) - 1)"), F.lit(b"\x00")
            ),
        )
        with pytest.raises(Exception):
            decrypt_messages(tampered, "k", priv).collect()

    def test_wrong_key_name_raises(self, spark, messages, keys):
        from pulsar_spark.crypto import decrypt_messages, encrypt_messages

        priv, pub = keys
        src = messages.limit(5).select(
            "event_id", F.encode(F.col("props"), "utf-8").alias("payload")
        )
        enc = encrypt_messages(src, {"k": pub})
        with pytest.raises(KeyError):
            decrypt_messages(enc, "other", priv)


class TestQuantization:
    def test_error_bounded_by_half_scale(self, spark, embeddings):
        from pulsar_spark.functions import dequantize_col, quantize_embeddings

        q = quantize_embeddings(embeddings)
        deq = dequantize_col(F.col("q_embedding"), F.col("q_scale"))
        err = F.array_max(
            F.zip_with(
                deq, F.col("embedding").cast("array<double>"), lambda a, b: F.abs(a - b)
            )
        )
        # symmetric rounding: per-element error <= scale/2 (+ float fuzz)
        bad = q.where(err > F.col("q_scale").cast("double") / 2 * 1.0001).count()
        assert bad == 0
        # int8 range respected
        rng = q.select(
            F.min(F.array_min("q_embedding")).alias("lo"),
            F.max(F.array_max("q_embedding")).alias("hi"),
        ).collect()[0]
        assert -127 <= rng["lo"] and rng["hi"] <= 127

    def test_quantized_topk_recall(self, spark, embeddings):
        from pulsar_spark.functions import (
            cosine_topk,
            cosine_topk_quantized,
            quantize_embeddings,
        )

        qvec = list(embeddings.where(F.col("vec_id") == 0).head()["embedding"])
        exact = [r["vec_id"] for r in cosine_topk(embeddings, qvec, k=10, exclude_id=0).collect()]
        quant = [
            r["vec_id"]
            for r in cosine_topk_quantized(
                quantize_embeddings(embeddings), qvec, k=10, exclude_id=0
            ).collect()
        ]
        # int8 cosine ranking: >= 8/10 overlap with the float top-10
        assert len(set(exact) & set(quant)) >= 8


class TestAvroSchemaResolution:
    def test_reader_evolution(self, spark):
        # AUTO_CONSUME evolution: v1-written payloads read under the v2
        # reader schema — new nullable field -> null, new defaulted
        # field -> default, writer-only field dropped (Avro resolution)
        from pulsar_spark.schema_codecs import avro_decode, avro_encode

        # writer schema must match avro_encode's generated one: DDL
        # columns are nullable -> [null, T] unions
        v1 = {
            "type": "record",
            "name": "E",
            "fields": [
                {"name": "a", "type": ["null", "long"]},
                {"name": "legacy", "type": ["null", "string"]},
            ],
        }
        v2 = {
            "type": "record",
            "name": "E",
            "fields": [
                {"name": "a", "type": ["null", "long"]},
                {"name": "b", "type": ["null", "string"]},
                {"name": "c", "type": "long", "default": 42},
            ],
        }
        df = spark.createDataFrame([(1, "old"), (2, "rows")], "a BIGINT, legacy STRING")
        enc = avro_encode(df, ["a", "legacy"])
        dec = avro_decode(enc, v1, reader_schema=v2)
        got = sorted(tuple(r) for r in dec.collect())
        assert got == [(1, None, 42), (2, None, 42)]
        assert dec.columns == ["a", "b", "c"]

    def test_missing_field_without_default_raises(self, spark):
        from pulsar_spark.schema_codecs import avro_decode, avro_encode

        v1 = {"type": "record", "name": "E", "fields": [{"name": "a", "type": ["null", "long"]}]}
        v2 = {
            "type": "record",
            "name": "E",
            "fields": [
                {"name": "a", "type": ["null", "long"]},
                {"name": "req", "type": "string"},
            ],
        }
        df = spark.createDataFrame([(1,)], "a BIGINT")
        enc = avro_encode(df, ["a"])
        with pytest.raises(Exception):
            avro_decode(enc, v1, reader_schema=v2).collect()


class TestTypedSubscribe:
    def test_auto_consume_latest_version(self, spark, messages, tmp_path):
        # streaming AUTO_CONSUME: the subscription projects rows to the
        # topic's latest registered schema (v2 adds a nullable column
        # the data lacks -> reads as null)
        from pyspark.sql.types import (
            LongType,
            StringType,
            StructField,
            StructType,
        )

        from pulsar_spark.schema_registry import SchemaRegistry
        from pulsar_spark.sources import write_topic
        from pulsar_spark.streaming import run_to_end, subscribe_typed

        topic = str(tmp_path / "typed-topic")
        write_topic(messages.limit(300), topic)
        reg = SchemaRegistry(str(tmp_path / "reg"))
        v1 = StructType(
            [
                StructField("event_id", LongType(), False),
                StructField("event_type", StringType(), True),
            ]
        )
        v2 = StructType(
            v1.fields + [StructField("annotation", StringType(), True)]
        )
        reg.register("typed-topic", v1, "BACKWARD")
        reg.register("typed-topic", v2, "BACKWARD")

        stream = subscribe_typed(spark, topic, reg)
        run_to_end(
            stream.writeStream.format("memory").queryName("typed").outputMode("append")
        )
        out = spark.table("typed")
        assert out.columns == ["event_id", "event_type", "annotation"]
        assert out.count() == 300
        assert out.where(F.col("annotation").isNotNull()).count() == 0


class TestExampleCatalogRound2:
    """Second batch of example-catalog conformance entries."""

    def test_publish_side_output(self, spark, tmp_path):
        from pulsar_spark.functions.examples import function_examples
        from pulsar_spark.functions.runtime import FunctionContext

        df = spark.createDataFrame([("a",), ("b",)], ["val"])
        main, side = function_examples()["publish"](
            df, FunctionContext({"publish-topic": "side-t"})
        )
        assert main.count() == 0
        written = side.write_all(
            df.withColumn("result", F.concat(F.col("val"), F.lit("!"))),
            str(tmp_path / "out"),
        )
        assert written == {"side-t": 2}
        back = spark.read.parquet(str(tmp_path / "out" / "side-t"))
        assert {r["result"] for r in back.collect()} == {"a!", "b!"}

    def test_user_publish_only_when_configured(self, spark):
        from pulsar_spark.functions.examples import function_examples
        from pulsar_spark.functions.runtime import FunctionContext

        df = spark.createDataFrame([("a",)], ["val"])
        _, side_off = function_examples()["user_publish"](df, FunctionContext())
        assert side_off.routes == {}
        _, side_on = function_examples()["user_publish"](
            df, FunctionContext({"topic": "t2"})
        )
        assert list(side_on.routes) == ["t2"]

    def test_context_function_metric(self, spark):
        from pulsar_spark.functions.examples import function_examples
        from pulsar_spark.functions.runtime import FunctionContext

        df = spark.createDataFrame([("x",), ("y",), ("z",)], ["val"])
        ctx = FunctionContext()
        out = function_examples()["context_function"](df, ctx, function_name="myfn")
        assert out.count() == 0
        assert ctx.get_metric("function-myfn-messages-received") == 3

    def test_auto_schema_and_custom_object(self, spark):
        from pulsar_spark.functions.examples import function_examples

        df = spark.createDataFrame([(7,)], ["val"])
        out = function_examples()["auto_schema"](df).collect()[0]
        assert out["result"] == "value-7"

        obj = spark.createDataFrame([((5,),)], "obj struct<value: bigint>")
        got = function_examples()["custom_object"](obj).collect()[0]
        assert got["obj"]["value"] == 105

    def test_window_duration(self, spark, messages):
        from pulsar_spark.functions.examples import function_examples

        m = messages.select("event_time", F.col("event_id").cast("string").alias("val"))
        out = function_examples()["window_duration"](m, length="1 hour")
        row = out.limit(1).collect()[0]
        joined, millis = row["result"].rsplit(":", 1)
        assert millis.isdigit()
        assert int(millis) == int(row["window_end"].timestamp() * 1000)
        assert joined  # non-empty comma-joined contents

    def test_thumbnailer_plumbing(self, spark):
        from pulsar_spark.functions.examples import function_examples

        df = spark.createDataFrame(
            [(1, bytearray(b"\x89PNGfake"), "image/png")],
            "media_id BIGINT, media_bytes BINARY, mime STRING",
        )
        out = function_examples()["thumbnailer"](df)
        # stub decode: plumbing produces the decode schema without
        # raising (kernel is the documented NotImplementedError stub
        # behind strict=False)
        assert out.count() == 1


class TestTwoPhaseCompaction:
    def test_equivalent_to_max_by(self, spark, messages):
        from pulsar_spark.operators import compact_publish_order

        a = compact_publish_order(messages)
        b = compact_publish_order(messages, strategy="two_phase")
        ka = {tuple(r) for r in a.select("key", "offset", "event_id").collect()}
        kb = {tuple(r) for r in b.select("key", "offset", "event_id").collect()}
        assert ka == kb

    def test_two_phase_plan_uses_hash_agg(self, spark, messages):
        from pulsar_spark.operators import compact_publish_order

        plan = (
            compact_publish_order(messages, strategy="two_phase")
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "HashAggregate" in plan
        assert "SortAggregate" not in plan


class TestStreamingDlq:
    def test_foreachbatch_dual_write(self, spark, messages, tmp_path):
        # streaming DLQ routing: one foreachBatch computes the scan once
        # and writes delivered + dead-letter sinks per micro-batch (the
        # dual-write pattern dlq_split's module docstring prescribes)
        from pulsar_spark.operators import dlq_split
        from pulsar_spark.sources import write_topic
        from pulsar_spark.streaming import run_to_end, subscribe

        topic = str(tmp_path / "t")
        write_topic(messages.limit(1000), topic)
        delivered_path = str(tmp_path / "delivered")
        dlq_path = str(tmp_path / "dlq")

        def route(batch_df, bid):
            delivered, dlq = dlq_split(
                batch_df, (F.col("event_id") % 10) == 0, max_redeliver_count=3
            )
            delivered.write.mode("append").parquet(delivered_path)
            dlq.write.mode("append").parquet(dlq_path)

        run_to_end(subscribe(spark, topic).writeStream.foreachBatch(route))
        delivered = spark.read.parquet(delivered_path)
        dlq = spark.read.parquet(dlq_path)
        assert delivered.count() + dlq.count() == 1000
        assert dlq.where(F.col("event_id") % 10 != 0).count() == 0
        # DLQ rows carry the terminal redelivery count
        assert {r["redelivery_count"] for r in dlq.select("redelivery_count").distinct().collect()} == {3}


class TestAvroLogicalTypes:
    def test_timestamp_date_round_trip(self, spark, messages):
        # Avro logical types (SchemaType TIMESTAMP/INSTANT/DATE):
        # envelope timestamps survive the binary codec
        from pulsar_spark.schema_codecs import (
            avro_decode,
            avro_encode,
            struct_to_avro_schema,
        )

        src = messages.select(
            "event_id", "publish_time", F.to_date("event_time").alias("day")
        ).limit(100)
        schema = struct_to_avro_schema(src.schema, name="Tm")
        assert "timestamp-micros" in str(schema) and "date" in str(schema)
        dec = avro_decode(avro_encode(src, src.columns), schema)
        assert {tuple(r) for r in dec.collect()} == {tuple(r) for r in src.collect()}


class TestSchemaAdmin:
    def test_version_by_schema_and_delete(self, spark, tmp_path):
        from pyspark.sql.types import LongType, StringType, StructField, StructType

        from pulsar_spark.schema_registry import SchemaRegistry

        reg = SchemaRegistry(str(tmp_path / "reg"))
        v1 = StructType([StructField("a", LongType(), False)])
        v2 = StructType(v1.fields + [StructField("b", StringType(), True)])
        reg.register("t", v1, "BACKWARD")
        reg.register("t", v2, "BACKWARD")
        assert reg.version_by_schema("t", v1) == 0
        assert reg.version_by_schema("t", v2) == 1
        assert reg.version_by_schema("t", StructType([])) is None

        assert reg.delete("t") == 2
        assert reg.versions("t") == []
        # post-delete: registration restarts at version 0
        assert reg.register("t", v2, "BACKWARD") == 0
        assert reg.delete("missing") == 0

    def test_null_timestamp_encodes_union_null(self, spark):
        # NaT reaches the pandas UDF for null timestamps; must take the
        # union null branch, not crash in the logical-type encoder
        from pyspark.sql.types import LongType, StructField, StructType, TimestampType

        from pulsar_spark.schema_codecs import (
            avro_decode,
            avro_encode,
            struct_to_avro_schema,
        )

        st = StructType(
            [
                StructField("id", LongType(), False),
                StructField("ts", TimestampType(), True),
            ]
        )
        import datetime

        df = spark.createDataFrame(
            [(1, datetime.datetime(2024, 5, 1, 6, 30)), (2, None)], st
        )
        dec = avro_decode(avro_encode(df, ["id", "ts"]), struct_to_avro_schema(st))
        got = {tuple(r) for r in dec.collect()}
        assert got == {(1, datetime.datetime(2024, 5, 1, 6, 30)), (2, None)}

    def test_tz_aware_encodes_utc_instant(self):
        # pure-codec check: a +05:00 datetime must encode the true UTC
        # instant, not the local wall-clock stamped as UTC
        import datetime as dt

        from pulsar_spark.schema_codecs import _AvroReader, _AvroWriter

        sc = {
            "type": "record",
            "name": "T",
            "fields": [
                {"name": "ts", "type": {"type": "long", "logicalType": "timestamp-micros"}}
            ],
        }
        plus5 = dt.timezone(dt.timedelta(hours=5))
        aware = dt.datetime(2020, 1, 1, 0, 0, tzinfo=plus5)  # 2019-12-31T19:00Z
        w, r = _AvroWriter(sc), _AvroReader(sc)
        decoded = r.decode(w.encode({"ts": aware}))["ts"]
        assert decoded == dt.datetime(2019, 12, 31, 19, 0)  # naive == UTC


class TestExampleCatalogRound3:
    """Round-3 widening of the example catalog to the full
    java-examples surface (ConsistentlyFailing, UserException, host/
    typed-builder/initializable/cursor/avro/POJO-hierarchy/custom-serde
    /window-package variants). Each assertion is the Java example's
    literal contract."""

    @pytest.fixture(scope="class")
    def ex(self):
        from pulsar_spark.functions.examples import function_examples

        return function_examples()

    def test_catalog_is_complete(self, ex):
        # every process()-bearing example in
        # pulsar-functions/java-examples (+python-examples) has an entry
        for name in [
            "consistently_failing", "user_exception", "user_exception_window",
            "host_appender", "typed_message_builder_publish", "initializable",
            "async_context", "cursor_management", "avro_schema_test",
            "custom_base_to_base", "custom_base_to_derived",
            "custom_derived_to_base", "custom_derived_to_derived",
            "custom_object_serde", "context_window", "logging_window",
            "user_config_window", "user_metric_window", "publish_window",
            "word_count_window", "thumbnailer",
        ]:
            assert name in ex, name
        assert len(ex) >= 40

    def test_consistently_failing_splits_on_fail(self, spark, ex):
        df = spark.createDataFrame([("a",), ("FAIL",), ("c",)], ["val"])
        rows = {r["val"]: (r["result"], r["error"]) for r in ex["consistently_failing"](df).collect()}
        assert rows["a"] == ("SUCCESS", None)
        assert rows["FAIL"] == (None, "Failed")
        assert rows["c"] == ("SUCCESS", None)

    def test_user_exception_fails_everything(self, spark, ex):
        df = spark.createDataFrame([("a",), ("b",)], ["val"])
        out = ex["user_exception"](df).collect()
        assert all(r["error"] == "This wont work" and r["result"] is None for r in out)

    def test_host_appender(self, spark, ex):
        import socket

        df = spark.createDataFrame([("x",)], ["val"])
        # local[32]: executor host == driver host
        assert ex["host_appender"](df).collect()[0]["result"] == "x" + socket.gethostname()

    def test_typed_message_builder_publish(self, spark, ex):
        from pulsar_spark.functions.runtime import FunctionContext

        df = spark.createDataFrame(
            [("in-topic", "v", "k", {"p1": "a"})],
            "topic string, val string, key string, properties map<string,string>",
        )
        main, (pub, side) = ex["typed_message_builder_publish"](
            df, FunctionContext({"publish-topic": "dest"})
        )
        assert main.count() == 0  # Void main output
        r = pub.collect()[0]
        assert r["result"] == "v!"
        assert r["key"] == "k"
        # input_topic property + passthrough of existing properties
        assert r["properties"] == {"input_topic": "in-topic", "p1": "a"}
        assert r["event_time"] is not None
        assert "dest" in side.routes

    def test_initializable_lifecycle(self, spark, ex):
        from pulsar_spark.functions.runtime import FunctionContext

        df = spark.createDataFrame([("t", "v")], ["topic", "val"])
        ctx = FunctionContext()
        with pytest.raises(RuntimeError, match="not initialized"):
            ex["initializable"](df, ctx)
        ctx.initialize()
        main, _ = ex["initializable"](df, ctx)
        assert main.count() == 0
        ctx.close()
        with pytest.raises(RuntimeError, match="not initialized"):
            ex["initializable"](df, ctx)

    def test_cursor_management_emits_admin_action(self, spark, ex):
        from pulsar_spark.functions.runtime import FunctionContext

        df = spark.createDataFrame([("t1", 1), ("t1", 2), ("t2", 3)], ["topic", "offset"])
        out = ex["cursor_management"](df, FunctionContext({"function-name": "myfn"}))
        rows = {r["topic"]: r for r in out.collect()}
        assert set(rows) == {"t1", "t2"}  # one action per distinct topic
        assert rows["t1"]["result"] == "reset cursor successfully"
        assert rows["t1"]["subscription"] == "public/default/myfn"

    def test_avro_schema_test_round_trip(self, spark, ex):
        from pulsar_spark.schema_codecs import (
            avro_decode,
            avro_encode,
            struct_to_avro_schema,
        )
        from pyspark.sql.types import IntegerType

        st = StructType(
            [
                StructField("baseValue", IntegerType(), True),
                StructField("objectValue", StringType(), True),
            ]
        )
        schema = struct_to_avro_schema(st, name="AvroTestObject")
        src = spark.createDataFrame([(7, "x"), (None, "y")], "baseValue int, objectValue string")
        enc = avro_encode(src, ["baseValue", "objectValue"], record_name="AvroTestObject")
        out = avro_decode(ex["avro_schema_test"](enc), schema)
        got = {r["objectValue"]: r["baseValue"] for r in out.collect()}
        assert got == {"x": 17, "y": None}  # baseValue += 10, null-safe

    def test_pojo_hierarchy_transforms(self, spark, ex):
        base = spark.createDataFrame([((5,),)], "obj struct<baseValue: long>")
        assert ex["custom_base_to_base"](base).collect()[0]["obj"]["baseValue"] == 105
        d = ex["custom_base_to_derived"](base).collect()[0]["obj"]
        assert (d["baseValue"], d["derivedValue"]) == (105, 55)
        derived = spark.createDataFrame(
            [((5, 2),)], "obj struct<baseValue: long, derivedValue: int>"
        )
        up = ex["custom_derived_to_base"](derived).collect()[0]["obj"]
        assert up.asDict() == {"baseValue": 106}  # derivedValue dropped on upcast
        dd = ex["custom_derived_to_derived"](derived).collect()[0]["obj"]
        assert (dd["baseValue"], dd["derivedValue"]) == (106, 152)

    def test_custom_object_serde_round_trip(self, spark, ex):
        # ByteBuffer.putLong/getLong: 8-byte big-endian, sign preserved
        so = spark.createDataFrame(
            [((5,),), ((-9223372036854775808,),), ((-1,),)], "obj struct<value: long>"
        )
        got = sorted(r["obj"]["value"] for r in ex["custom_object_serde"](so).collect())
        assert got == sorted([105, -9223372036854775708, 99])

    def test_window_package_examples(self, spark, ex):
        from pulsar_spark.functions.runtime import FunctionContext

        w = spark.createDataFrame(
            [(0, i, i) for i in range(25)], "partition int, offset int, val int"
        )
        sums = {
            r["window_seq"]: r["result"]
            for r in ex["context_window"](w, window_size=10).collect()
        }
        assert sums == {0: sum(range(10)), 1: sum(range(10, 20)), 2: sum(range(20, 25))}

        ctx = FunctionContext({"WhatToWrite": "hi"})
        out = ex["user_config_window"](w, ctx, window_size=10).collect()
        assert len(out) == 3 and all(r["result"] == "hi" for r in out)

        ctx = FunctionContext()
        assert ex["logging_window"](w, ctx).count() == 0
        assert ctx.get_counter("window_log_lines") == 25

        sw = w.withColumn("val", F.col("val").cast("string"))
        main, (pw, side) = ex["publish_window"](sw, FunctionContext(), window_size=10)
        assert main.count() == 0
        got = [r["result"] for r in pw.orderBy("window_seq").collect()]
        assert got[0] == ",".join(str(i) for i in range(10)) + "!"
        assert "publishtopic" in side.routes

        errs = ex["user_exception_window"](w, window_size=10).collect()
        assert len(errs) == 3  # one error per WINDOW, not per record
        assert all(r["error"] == "This wont work" for r in errs)


class TestPriorityAndThrottle:
    """Shared-subscription priority levels + dispatch rate limiting
    (capi/ConsumerBuilder.java:545 example; broker DispatchRateLimiter)."""

    def test_priority_dispatch_order_matches_javadoc(self):
        from pulsar_spark.operators.subscriptions import priority_dispatch_order

        # the exact example from ConsumerBuilder.priorityLevel's javadoc
        order = priority_dispatch_order(
            [("C1", 0, 2), ("C2", 0, 1), ("C3", 0, 1), ("C4", 1, 2), ("C5", 1, 1)]
        )
        assert order == ["C1", "C2", "C3", "C1", "C4", "C5", "C4"]

    def test_priority_shared_assignment_cycles(self, spark):
        from pulsar_spark.operators.subscriptions import priority_shared_assignment

        m = spark.createDataFrame(
            [(0, i) for i in range(9)], "partition int, offset int"
        )
        out = priority_shared_assignment(
            m, [("A", 0, 1), ("B", 1, 2)], partition_col="partition"
        )
        got = [r["consumer_id"] for r in out.orderBy("offset").collect()]
        # cycle A,B,B repeats per partition
        assert got == ["A", "B", "B"] * 3

    def test_failover_active_consumers(self):
        from pulsar_spark.operators.subscriptions import failover_active_consumers

        # javadoc case 2: highest priority wins regardless of name
        m = failover_active_consumers([("aaa", 1), ("bbb", 0)], 2)
        assert m == {0: "bbb", 1: "bbb"}
        # equal priority: lexicographic spread over partitions
        m = failover_active_consumers([("bbb", 0), ("aaa", 0)], 4)
        assert m == {0: "aaa", 1: "bbb", 2: "aaa", 3: "bbb"}

    def test_dispatch_throttle_msg_rate(self, spark):
        from pulsar_spark.operators.subscriptions import dispatch_throttle

        m = spark.createDataFrame(
            [(0, i, "x" * 10) for i in range(25)], "partition int, offset int, val string"
        )
        out = dispatch_throttle(m, rate_msgs=10, drain_start="2024-02-01 00:00:00")
        slots = {r["offset"]: r["dispatch_slot"] for r in out.collect()}
        assert slots[0] == 0 and slots[9] == 0
        assert slots[10] == 1 and slots[19] == 1 and slots[24] == 2
        at = {r["dispatch_slot"]: str(r["dispatch_at"]) for r in out.collect()}
        assert at[1].endswith("00:00:01")

    def test_dispatch_throttle_byte_rate_binds(self, spark):
        from pulsar_spark.operators.subscriptions import dispatch_throttle

        # 10-byte payloads, 100 msgs/s allowed but only 20 bytes/s ->
        # byte quota dominates: 2 messages per second
        m = spark.createDataFrame(
            [(0, i, "x" * 10) for i in range(6)], "partition int, offset int, val string"
        )
        out = dispatch_throttle(m, rate_msgs=100, rate_bytes=20)
        slots = [r["dispatch_slot"] for r in out.orderBy("offset").collect()]
        assert slots == [0, 0, 1, 1, 2, 2]

    def test_throttle_is_per_partition(self, spark):
        from pulsar_spark.operators.subscriptions import dispatch_throttle

        m = spark.createDataFrame(
            [(p, i, "v") for p in range(2) for i in range(12)],
            "partition int, offset int, val string",
        )
        out = dispatch_throttle(m, rate_msgs=10)
        per = out.groupBy("partition", "dispatch_slot").count().collect()
        got = {(r["partition"], r["dispatch_slot"]): r["count"] for r in per}
        # each partition has its own dispatcher: 10 + 2 in each
        assert got == {(0, 0): 10, (0, 1): 2, (1, 0): 10, (1, 1): 2}


class TestDurableSubscriptionCursor:
    """A subscription is a durable named cursor (SURVEY §1.1): its
    position survives the consumer going away. Spark's checkpoint
    offset+commit logs are that cursor — a resubscribe with the same
    checkpoint drains only messages produced after the last drain,
    exactly like reconnecting a consumer to its subscription (the
    MessageDeduplication-side analog of cursor persistence in
    ManagedCursorImpl)."""

    def test_resubscribe_resumes_past_consumed(self, spark, messages, tmp_path):
        from pulsar_spark.sources import write_topic
        from pulsar_spark.streaming import run_to_end, subscribe

        topic = str(tmp_path / "t")
        first = messages.where(F.col("offset") < 300)
        later = messages.where((F.col("offset") >= 300) & (F.col("offset") < 400))
        write_topic(first, topic)
        ckpt = str(tmp_path / "cursor")

        counts: list[tuple[str, int]] = []

        def drain(tag):
            stream = subscribe(spark, topic)
            run_to_end(
                stream.writeStream.foreachBatch(
                    lambda df, bid: counts.append((tag, df.count()))
                ).option("checkpointLocation", ckpt)
            )

        drain("r1")
        assert sum(n for t, n in counts if t == "r1") == first.count()

        # consumer disconnects; more messages arrive; reconnecting the
        # SAME subscription (checkpoint) must deliver only the new ones
        write_topic(later, topic, mode="append")
        drain("r2")
        r2 = sum(n for t, n in counts if t == "r2")
        assert r2 == later.count(), f"cursor re-delivered old data: {counts}"

        # a DIFFERENT subscription (fresh checkpoint) starts from the
        # topic's beginning — subscriptions are independent cursors
        counts2: list[int] = []
        stream = subscribe(spark, topic)
        run_to_end(
            stream.writeStream.foreachBatch(
                lambda df, bid: counts2.append(df.count())
            ).option("checkpointLocation", str(tmp_path / "cursor2"))
        )
        assert sum(counts2) == first.count() + later.count()


class TestMultimodalResize:
    """Resize plumbing + decode->sample chain (SURVEY: decode /
    feature-extract / resize / frame-sample as Arrow stages; kernels
    stubbed, plumbing real)."""

    @pytest.fixture()
    def media(self, spark):
        from pulsar_spark.functions.multimodal import attach_media

        base = spark.createDataFrame(
            [(1, b"imgbytes", "image"), (2, b"vidbytes", "video"), (3, b"audbytes", "audio")],
            "mid long, raw binary, mod string",
        )
        frames = []
        for mod in ["image", "video", "audio"]:
            m = attach_media(
                base.where(F.col("mod") == mod), "raw", mod, "fake", "mid"
            )
            frames.append(m)
        out = frames[0]
        for f_ in frames[1:]:
            out = out.unionByName(f_)
        return out

    def test_resize_visual_only(self, spark, media):
        from pulsar_spark.functions.multimodal import resize_media

        out = resize_media(media, 128, 128)
        rows = {r["media_id"]: r for r in out.collect()}
        assert (rows[1]["width"], rows[1]["height"]) == (128, 128)
        assert (rows[2]["width"], rows[2]["height"]) == (128, 128)
        # audio untouched: no dims, payload preserved
        assert rows[3]["width"] is None
        assert bytes(rows[3]["payload"]) == b"audbytes"
        # visual payload re-encoded deterministically
        assert bytes(rows[1]["payload"]) != b"imgbytes"
        again = {r["media_id"]: bytes(r["payload"]) for r in resize_media(media, 128, 128).collect()}
        assert again[1] == bytes(rows[1]["payload"])
        # schema round-trips (resize composes with further media stages)
        assert out.schema == media.schema

    def test_resize_strict_raises(self, spark, media):
        from pulsar_spark.functions.multimodal import resize_media

        with pytest.raises(Exception, match="NotImplemented|codecs"):
            resize_media(media, 64, 64, strict=True).collect()

    def test_decode_mints_metadata_then_samples(self, spark, media):
        from pulsar_spark.functions.multimodal import decode_media, sample_frames

        decoded = decode_media(media)
        meta = {r["media_id"]: r for r in decoded.collect()}
        # decode mints modality-appropriate metadata
        assert meta[1]["n_frames"] == 1 and meta[1]["width"] is not None
        assert meta[3]["width"] is None and meta[3]["duration_ms"] is not None
        # chain: the decoded metadata feeds frame sampling directly
        out = sample_frames(decoded, every_n=10)
        vid = [r for r in out.collect() if r["media_id"] == 2]
        expected = list(range(0, max(meta[2]["n_frames"] - 1, 0) + 1, 10))
        assert sorted(r["frame_idx"] for r in vid) == expected


class TestPrimitiveSchemas:
    """Primitive payload schemas (client/impl/schema/{Long,Int,Short,
    Byte,Boolean,Float,Double,String,Bytes,Date,Timestamp,Instant,
    LocalDate}Schema.java): fixed-width big-endian wire formats,
    byte-level-checked against Python struct packing and round-tripped
    through encode -> decode."""

    INT_CASES = {
        "INT8": (">b", [-128, -1, 0, 1, 127, None]),
        "INT16": (">h", [-32768, -1, 0, 1, 32767, None]),
        "INT32": (">i", [-(2**31), -1, 0, 1, 2**31 - 1, None]),
        "INT64": (">q", [-(2**63), -129, -1, 0, 1, 128, 2**63 - 1, None]),
    }

    def test_int_widths_byte_exact(self, spark):
        import struct

        from pulsar_spark.schema_codecs import decode_primitive, encode_primitive

        for st, (fmt, vals) in self.INT_CASES.items():
            df = spark.createDataFrame([(v,) for v in vals], "x long")
            out = df.select(
                "x", encode_primitive(F.col("x"), st).alias("b")
            ).withColumn("y", decode_primitive(F.col("b"), st)).collect()
            for r in out:
                if r.x is None:
                    assert r.b is None and r.y is None
                else:
                    assert bytes(r.b) == struct.pack(fmt, r.x), (st, r.x)
                    assert r.y == r.x, (st, r.x, r.y)

    def test_float_double_ieee754(self, spark):
        import math
        import struct

        import numpy as np

        from pulsar_spark.schema_codecs import decode_primitive, encode_primitive

        base = [-0.0, 1.5, -3.25e10, float("inf"), float("-inf"), float("nan"), None]
        cases = {
            "FLOAT": (">f", base + [1.401298464324817e-45, 3.4028234663852886e38]),
            "DOUBLE": (">d", base + [5e-324, 1.7976931348623157e308]),
        }
        for st, (fmt, vals) in cases.items():
            df = spark.createDataFrame([(v,) for v in vals], "x double")
            out = df.select(
                "x", encode_primitive(F.col("x"), st).alias("b")
            ).withColumn("y", decode_primitive(F.col("b"), st)).collect()
            for r in out:
                if r.x is None:
                    assert r.b is None and r.y is None
                    continue
                xf = float(np.float32(r.x)) if st == "FLOAT" else r.x
                assert bytes(r.b) == struct.pack(fmt, xf), (st, r.x)
                exp = struct.unpack(fmt, struct.pack(fmt, xf))[0]
                if math.isnan(exp):
                    assert math.isnan(r.y), (st, r.x)  # NaN survives decode
                else:
                    assert r.y == exp and math.copysign(1, r.y) == math.copysign(1, exp)

    def test_string_boolean_bytes(self, spark):
        from pulsar_spark.schema_codecs import decode_primitive, encode_primitive

        df = spark.createDataFrame(
            [("héllo wörld", True), (None, None), ("", False)], "s string, t boolean"
        )
        out = (
            df.select(
                "s",
                "t",
                encode_primitive(F.col("s"), "STRING").alias("sb"),
                encode_primitive(F.col("t"), "BOOLEAN").alias("tb"),
            )
            .withColumn("s2", decode_primitive(F.col("sb"), "STRING"))
            .withColumn("t2", decode_primitive(F.col("tb"), "BOOLEAN"))
            .collect()
        )
        for r in out:
            assert r.s2 == r.s and r.t2 == r.t
            if r.s is not None:
                assert bytes(r.sb) == r.s.encode("utf-8")
            if r.t is not None:
                assert bytes(r.tb) == bytes([1 if r.t else 0])

    def test_temporal_types(self, spark):
        import datetime
        import struct

        from pulsar_spark.schema_codecs import decode_primitive, encode_primitive

        ts = [
            (datetime.datetime(2024, 3, 1, 12, 30, 45, 123456),),
            (datetime.datetime(1969, 12, 31, 23, 59, 59, 999999),),
            (None,),
        ]
        df = spark.createDataFrame(ts, "x timestamp")
        out = (
            df.select(
                "x",
                encode_primitive(F.col("x"), "TIMESTAMP").alias("tb"),
                encode_primitive(F.col("x"), "INSTANT").alias("ib"),
            )
            .withColumn("t2", decode_primitive(F.col("tb"), "TIMESTAMP"))
            .withColumn("i2", decode_primitive(F.col("ib"), "INSTANT"))
            .collect()
        )
        for r in out:
            if r.x is None:
                assert r.t2 is None and r.i2 is None
                continue
            assert len(bytes(r.tb)) == 8  # epoch-millis INT64
            assert len(bytes(r.ib)) == 12  # epochSecond(8) + nano(4)
            assert abs((r.t2 - r.x).total_seconds()) < 0.001  # millis floor
            assert r.i2 == r.x  # micros survive the sec+nano split

        dd = spark.createDataFrame(
            [(datetime.date(2024, 2, 29),), (datetime.date(1969, 7, 20),), (None,)],
            "x date",
        )
        out = dd.select(
            "x", encode_primitive(F.col("x"), "LOCAL_DATE").alias("b")
        ).withColumn("y", decode_primitive(F.col("b"), "LOCAL_DATE")).collect()
        epoch = datetime.date(1970, 1, 1)
        for r in out:
            assert r.y == r.x
            if r.x is not None:
                assert bytes(r.b) == struct.pack(">q", (r.x - epoch).days)

    def test_no_python_boundary_for_ints(self, spark):
        """The integral/string/boolean paths must stay whole-stage-
        codegen'd: no ArrowEvalPython / BatchEvalPython in the plan."""
        from pulsar_spark.schema_codecs import decode_primitive, encode_primitive

        df = spark.range(10).select(
            decode_primitive(
                encode_primitive(F.col("id"), "INT64"), "INT64"
            ).alias("y")
        )
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "EvalPython" not in plan, plan


class TestAvroDecimal:
    def test_decimal_logical_type_round_trip(self, spark):
        """Avro decimal logical type (bytes + two's-complement unscaled
        int): negative, zero, high-precision and nullable values all
        survive the wire round-trip with exact precision."""
        from decimal import Decimal

        from pyspark.sql.types import DecimalType, LongType, StructField, StructType

        from pulsar_spark.schema_codecs import (
            avro_decode,
            avro_encode,
            avro_to_struct_schema,
            struct_to_avro_schema,
        )

        st = StructType(
            [
                StructField("id", LongType(), False),
                StructField("amount", DecimalType(12, 4), True),
            ]
        )
        rows = [
            (1, Decimal("1234.5678")),
            (2, Decimal("-0.0001")),
            (3, Decimal("0.0000")),
            (4, None),
            (5, Decimal("-99999999.9999")),
        ]
        df = spark.createDataFrame(rows, st)
        schema = struct_to_avro_schema(st, name="Pay")
        amt = schema["fields"][1]["type"][1]
        assert amt["logicalType"] == "decimal" and amt["scale"] == 4

        # schema maps back to the same Spark decimal type
        back = avro_to_struct_schema(schema)
        assert back["amount"].dataType.simpleString() == "decimal(12,4)"

        enc = avro_encode(df, ["id", "amount"], record_name="Pay")
        dec = avro_decode(enc, schema)
        got = {r.id: r.amount for r in dec.collect()}
        assert got == dict(rows)
