"""Round-11 hardening tests: langid word-vocab bound, crypto key-context
reuse + zero-batch safety, LATEST-sentinel ack resolution, and
subscription-loaded ack holes in the assigned streaming consumer."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.test_round10 import TestTrainedLangid

# The scalable-subscription cursor classes live in tests/test_scalable_subscriptions.py;
# importing them here keeps their ids under this module too.
from tests.test_scalable_subscriptions import (  # noqa: F401
    TestLatestSentinelAcks,
    TestSubscribeAssignedAutoHoles,
)


class TestLangidVocabBound:
    VOCAB = TestTrainedLangid.VOCAB
    _fixture = TestTrainedLangid._fixture

    def _wide_corpus(self, spark, langs=3, words_per_lang=200, docs_per_lang=8):
        # corpus-sized vocabulary: words_per_lang DISTINCT tokens per
        # language, Zipf-ish frequencies (word j appears in docs with
        # index >= j % docs_per_lang, so low-j words are most frequent)
        rows, doc_id = [], 0
        for li in range(langs):
            lang = f"l{li}"
            vocab = [f"w{li}_{j}" for j in range(words_per_lang)]
            for i in range(docs_per_lang):
                words = [vocab[j] for j in range(words_per_lang) if j % (i + 1) == 0]
                rows.append((doc_id, " ".join(words), lang))
                doc_id += 1
        return spark.createDataFrame(rows, "doc_id bigint, text string, lang string")

    def test_word_mode_requires_cap(self, spark):
        from pulsar_spark.functions import langid_fit

        docs = self._fixture(spark, 2, 5)
        with pytest.raises(ValueError, match="corpus-sized vocabulary"):
            langid_fit(docs, analyzer="word")

    def test_vocab_bounded_by_cap(self, spark):
        from pulsar_spark.functions.langid import langid_fit

        docs = self._wide_corpus(spark)
        for k in (5, 17, 50):
            model = langid_fit(docs, analyzer="word", top_k_per_lang=k)
            per_lang = {lang: 0 for lang in model["langs"]}
            for g, by_lang in model["table"].items():
                for lang in by_lang:
                    per_lang[lang] += 1
            # the collect is bounded by k x langs no matter the corpus
            assert all(c <= k for c in per_lang.values()), per_lang
            assert len(model["table"]) <= k * len(model["langs"])
            # and the cap actually bit (the raw vocab is 200/lang)
            assert all(c == k for c in per_lang.values()), per_lang

    def test_cap_keeps_most_frequent_tie_break_gram_asc(self, spark):
        from pulsar_spark.functions.langid import langid_fit

        # counts: a=3, b=2, c=2, d=1 -> top-2 keeps a and b (tie b/c
        # broken gram-ascending, deterministic on both engines)
        docs = spark.createDataFrame(
            [(1, "a a a b b c c d", "x")],
            "doc_id bigint, text string, lang string",
        )
        model = langid_fit(docs, analyzer="word", top_k_per_lang=2)
        assert sorted(model["table"]) == ["a", "b"]

    def test_min_count_drops_rare_cells(self, spark):
        from pulsar_spark.functions.langid import langid_fit

        docs = spark.createDataFrame(
            [(1, "aa aa aa bb bb cc", "x")],
            "doc_id bigint, text string, lang string",
        )
        model = langid_fit(
            docs, analyzer="word", min_count=2, top_k_per_lang=100
        )
        assert sorted(model["table"]) == ["aa", "bb"]

    def test_capped_word_model_still_accurate(self, spark):
        from pulsar_spark.functions import langid_fit_predict

        # the planted fixture's vocab is 30 words/lang; a cap of 20
        # still identifies languages near-perfectly (frequent words
        # carry the signal — the fasttext min-count rationale)
        docs = self._fixture(spark)
        truth = {r.doc_id: r.lang for r in docs.select("doc_id", "lang").collect()}
        pred = {
            r.doc_id: r.lang_pred
            for r in langid_fit_predict(
                docs,
                train_filter=F.col("doc_id") % 2 == 0,
                analyzer="word",
                top_k_per_lang=20,
            ).collect()
        }
        test_ids = [i for i in truth if i % 2 == 1]
        acc = sum(pred[i] == truth[i] for i in test_ids) / len(test_ids)
        assert acc >= 0.95, acc

    def test_char_mode_unchanged_without_cap(self, spark):
        from pulsar_spark.functions.langid import langid_fit

        docs = self._fixture(spark, 4, 10)
        uncapped = langid_fit(docs)
        assert uncapped["top_k_per_lang"] is None
        capped = langid_fit(docs, top_k_per_lang=10**9, min_count=1)
        assert capped["table"] == uncapped["table"]
        assert capped["prior"] == uncapped["prior"]
        assert capped["default"] == uncapped["default"]


class TestProducerKeyContext:
    def _payload(self, spark, n=6, start=0):
        return spark.range(start, start + n).selectExpr(
            "id", "CAST(CONCAT('msg-', id) AS BINARY) AS payload"
        )

    def test_context_reuse_bounds_rotations(self, spark):
        from pulsar_spark.crypto import (
            decrypt_messages,
            encrypt_messages,
            generate_rsa_keypair,
            new_producer_key_context,
        )

        priv, pub = generate_rsa_keypair()
        ctx = new_producer_key_context({"app": pub})
        a = encrypt_messages(self._payload(spark, 4, 0), {"app": pub}, key_context=ctx)
        b = encrypt_messages(self._payload(spark, 4, 4), {"app": pub}, key_context=ctx)
        both = a.unionByName(b)
        # ONE distinct wrapped value across appends — the rotation
        # count a consumer's unwrap pass pays is bounded by context
        # rotations, not appends (RSA-OAEP re-wrap would differ)
        n_rot = both.select("encryption_key__app").distinct().count()
        assert n_rot == 1
        out = {
            int(r.id): bytes(r.payload)
            for r in decrypt_messages(both, "app", priv).collect()
        }
        assert out == {i: f"msg-{i}".encode() for i in range(8)}

    def test_fresh_keys_without_context(self, spark):
        from pulsar_spark.crypto import encrypt_messages, generate_rsa_keypair

        _, pub = generate_rsa_keypair()
        a = encrypt_messages(self._payload(spark, 3, 0), {"app": pub})
        b = encrypt_messages(self._payload(spark, 3, 3), {"app": pub})
        n_rot = (
            a.unionByName(b).select("encryption_key__app").distinct().count()
        )
        assert n_rot == 2  # per-append rotation, the documented default

    def test_context_recipient_mismatch_rejected(self, spark):
        from pulsar_spark.crypto import (
            encrypt_messages,
            generate_rsa_keypair,
            new_producer_key_context,
        )

        _, pub1 = generate_rsa_keypair()
        _, pub2 = generate_rsa_keypair()
        ctx = new_producer_key_context({"app": pub1})
        with pytest.raises(ValueError, match="recipients do not match"):
            encrypt_messages(
                self._payload(spark), {"app": pub1, "other": pub2}, key_context=ctx
            )

    def test_zero_row_batches_keep_struct_schema(self, spark):
        from pulsar_spark.crypto import (
            decrypt_messages,
            encrypt_messages,
            generate_rsa_keypair,
        )

        priv, pub = generate_rsa_keypair()
        empty = self._payload(spark).where(F.lit(False))
        enc = encrypt_messages(empty, {"app": pub})
        # zero-row Arrow batches must still yield the struct fields
        # (pd.DataFrame([]) has no columns); force a multi-partition
        # plan so empty partitions reach the UDF
        assert enc.repartition(4).count() == 0
        dec = decrypt_messages(enc, "app", priv)
        assert dec.repartition(4).count() == 0
        assert "payload" in dec.columns


# --------------------------------------------------------------------------
# VERDICT r10 next-round #7: the CONSUME contract end-to-end — a `decrypt`
# CLI verb with --on-failure / --retry-key, the curate encrypted-corpus
# hook, and a streaming integration where CONSUME keeps the pipeline
# moving and a late key recovers the flagged rows.


@pytest.fixture(scope="module")
def enc_topic(spark, tmp_path_factory):
    """A real topic mixing two recipients: event_ids 0-5 encrypted for
    'alice', 6-9 for 'bob' only — as alice, the bob rows are
    undecryptable (NULL wrapped key after the union)."""
    from tests.test_round10 import _payloads

    from pulsar_spark.crypto import encrypt_messages, generate_rsa_keypair
    from pulsar_spark.sources.topics import create_topic, produce

    tmp = tmp_path_factory.mktemp("enc")
    apriv, apub = generate_rsa_keypair()
    bpriv, bpub = generate_rsa_keypair()
    a = encrypt_messages(_payloads(spark, range(6)), {"alice": apub})
    b = encrypt_messages(_payloads(spark, range(6, 10)), {"bob": bpub})
    topic = str(tmp / "enc-topic")
    create_topic(topic, 2)
    # two appends (identical column sets): a small append batches into
    # ONE file, and the streaming test wants multiple micro-batches
    enc = a.unionByName(b, allowMissingColumns=True)
    produce(enc.where("event_id < 5"), topic)
    produce(enc.where("event_id >= 5"), topic)
    alice_pem = tmp / "alice.pem"
    bob_pem = tmp / "bob.pem"
    alice_pem.write_bytes(apriv)
    bob_pem.write_bytes(bpriv)
    return topic, str(alice_pem), str(bob_pem)


class TestDecryptCLI:
    def _stats(self, capsys):
        import json

        return json.loads(capsys.readouterr().out.strip().splitlines()[-1])

    def test_consume_flags_then_retry_recovers(
        self, spark, enc_topic, tmp_path, capsys
    ):
        from pulsar_spark.__main__ import main

        topic, alice_pem, bob_pem = enc_topic
        out1 = str(tmp_path / "pass1")
        rc = main([
            "decrypt", topic, "--key-name", "alice", "--private-key", alice_pem,
            "--on-failure", "consume", "--out", out1,
        ])
        assert rc == 0
        stats = self._stats(capsys)
        assert stats["rows"] == 10 and stats["crypto_failed"] == 4
        # flagged rows kept their encryption context (the CONSUME contract)
        got = spark.read.parquet(out1)
        assert "encryption_param" in got.columns
        # second pass: bob's key arrived — retry recovers every row
        out2 = str(tmp_path / "pass2")
        rc = main([
            "decrypt", topic, "--key-name", "alice", "--private-key", alice_pem,
            "--on-failure", "consume",
            "--retry-key", "bob", "--retry-private-key", bob_pem,
            "--out", out2,
        ])
        assert rc == 0
        stats = self._stats(capsys)
        assert stats["rows"] == 10 and stats["crypto_failed"] == 0
        rows = spark.read.parquet(out2).collect()
        assert all(
            bytes(r.payload) == f"msg-{r.event_id}".encode() for r in rows
        )

    def test_discard_drops_bob_rows(self, spark, enc_topic, tmp_path, capsys):
        from pulsar_spark.__main__ import main

        topic, alice_pem, _bob_pem = enc_topic
        out = str(tmp_path / "discard")
        rc = main([
            "decrypt", topic, "--key-name", "alice", "--private-key", alice_pem,
            "--on-failure", "discard", "--out", out,
        ])
        assert rc == 0
        stats = self._stats(capsys)
        assert stats["rows"] == 6 and stats["crypto_failed"] == 0
        got = spark.read.parquet(out)
        assert {r.event_id for r in got.collect()} == set(range(6))
        assert "crypto_failure" not in got.columns

    def test_print_path_limits_rows(self, spark, enc_topic, capsys):
        import json

        from pulsar_spark.__main__ import main

        topic, alice_pem, _ = enc_topic
        rc = main([
            "decrypt", topic, "--key-name", "alice", "--private-key", alice_pem,
            "--on-failure", "consume", "-n", "3",
        ])
        assert rc == 0
        lines = [ln for ln in capsys.readouterr().out.strip().splitlines() if ln]
        assert len(lines) == 3
        assert all("payload" in json.loads(ln) for ln in lines)

    def test_retry_requires_consume(self, enc_topic, capsys):
        from pulsar_spark.__main__ import main

        topic, alice_pem, bob_pem = enc_topic
        with pytest.raises(SystemExit):
            main([
                "decrypt", topic, "--key-name", "alice",
                "--private-key", alice_pem,
                "--on-failure", "discard",
                "--retry-key", "bob", "--retry-private-key", bob_pem,
            ])
        capsys.readouterr()

    def test_retry_key_pair_must_be_complete(self, enc_topic, capsys):
        from pulsar_spark.__main__ import main

        topic, alice_pem, _ = enc_topic
        with pytest.raises(SystemExit):
            main([
                "decrypt", topic, "--key-name", "alice",
                "--private-key", alice_pem,
                "--on-failure", "consume", "--retry-key", "bob",
            ])
        capsys.readouterr()


class TestCurateEncryptedCorpus:
    def test_curate_decrypts_and_quarantines(self, spark, tmp_path, capsys):
        import json

        from tests.conftest import SF_DIR

        from pulsar_spark.__main__ import main
        from pulsar_spark.crypto import (
            decrypt_failed_rows,
            encrypt_messages,
            generate_rsa_keypair,
        )

        cpriv, cpub = generate_rsa_keypair()
        opriv, opub = generate_rsa_keypair()
        docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
            "doc_id", "source", F.encode("text", "utf-8").alias("payload")
        )
        n_docs = docs.count()
        good = encrypt_messages(docs.where("doc_id % 50 != 0"), {"corp": cpub})
        poison = encrypt_messages(docs.where("doc_id % 50 = 0"), {"other": opub})
        n_poison = poison.count()
        corpus = str(tmp_path / "enc-corpus")
        good.unionByName(poison, allowMissingColumns=True).write.parquet(corpus)
        corp_pem = tmp_path / "corp.pem"
        corp_pem.write_bytes(cpriv)
        out_dir = str(tmp_path / "curated")
        quarantine = str(tmp_path / "quarantine")
        rc = main([
            "curate", corpus, "--out", out_dir,
            "--shards", "2", "--seq-len", "256", "--total-rows", "100",
            "--key-name", "corp", "--private-key", str(corp_pem),
            "--quarantine", quarantine,
        ])
        assert rc == 0
        stats = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert stats["crypto_failed"] == n_poison > 0
        assert stats["docs_in"] == n_docs - n_poison
        assert stats["docs_packed"] > 0 and stats["tokens"] > 0
        # quarantined rows kept ciphertext + context: a late key recovers
        q = spark.read.parquet(quarantine)
        assert q.count() == n_poison
        assert q.where("NOT crypto_failure").count() == 0
        rec = decrypt_failed_rows(q, "other", opriv)
        assert rec.where("crypto_failure").count() == 0
        orig = {
            r.doc_id: r.text
            for r in spark.read.parquet(f"{SF_DIR}/documents.parquet")
            .where("doc_id % 50 = 0")
            .collect()
        }
        for r in rec.collect():
            assert bytes(r.payload).decode("utf-8") == orig[r.doc_id]

    def test_key_name_without_pem_rejected(self, tmp_path, capsys):
        from pulsar_spark.__main__ import main

        with pytest.raises(SystemExit):
            main([
                "curate", "whatever.parquet", "--out", str(tmp_path / "o"),
                "--key-name", "corp",
            ])
        capsys.readouterr()

    def test_quarantine_requires_consume(self, tmp_path, capsys):
        from pulsar_spark.__main__ import main

        with pytest.raises(SystemExit):
            main([
                "curate", "whatever.parquet", "--out", str(tmp_path / "o"),
                "--key-name", "corp", "--private-key", "k.pem",
                "--on-failure", "discard", "--quarantine", str(tmp_path / "q"),
            ])
        capsys.readouterr()


class TestStreamingDecryptConsume:
    def test_consume_keeps_stream_moving_late_key_recovers(
        self, spark, enc_topic, tmp_path
    ):
        """The streaming CONSUME integration: decrypt runs per
        micro-batch inside foreachBatch (the rotation collect is
        batch-static there), undecryptable rows flow through FLAGGED
        instead of stalling delivery, and decrypt_failed_rows over the
        accumulated sink recovers them once the late key arrives."""
        from pulsar_spark.crypto import (
            CONSUME,
            decrypt_failed_rows,
            decrypt_messages,
        )
        from pulsar_spark.streaming import run_to_end, subscribe

        topic, alice_pem, bob_pem = enc_topic
        with open(alice_pem, "rb") as fh:
            apriv = fh.read()
        with open(bob_pem, "rb") as fh:
            bpriv = fh.read()
        out_dir = str(tmp_path / "stream-dec")
        batches = []

        def dec_batch(df, _bid):
            batches.append(df.count())
            decrypt_messages(
                df, "alice", apriv, failure_action=CONSUME
            ).write.mode("append").parquet(out_dir)

        run_to_end(
            subscribe(spark, topic, max_files_per_trigger=1)
            .writeStream.foreachBatch(dec_batch)
        )
        assert len(batches) > 1, "expected multiple micro-batches"
        got = spark.read.parquet(out_dir)
        assert got.count() == 10
        assert got.where("crypto_failure").count() == 4
        decrypted = {
            r.event_id: bytes(r.payload)
            for r in got.where("NOT crypto_failure").collect()
        }
        assert decrypted == {i: f"msg-{i}".encode() for i in range(6)}
        # late key delivery: the recovery pass over the sink
        rec = decrypt_failed_rows(got, "bob", bpriv)
        assert rec.where("crypto_failure").count() == 0
        assert {
            r.event_id: bytes(r.payload) for r in rec.collect()
        } == {i: f"msg-{i}".encode() for i in range(10)}


class TestAdapterDispatchProof:
    """VERDICT r10 next-round #8: prove kernel='auto' actually ROUTES
    through a registered adapter — tier-equality tests (test_round9)
    cannot distinguish adapter dispatch from silent pure-tier fallback,
    so here the fake adapter returns pixels that DIFFER from the real
    decode and the output must reflect the adapter's pixels."""

    @pytest.fixture(autouse=True)
    def _clean_registry(self):
        from pulsar_spark.functions import native_codecs as nc

        saved = dict(nc._REGISTRY)
        nc._REGISTRY.clear()
        yield
        nc._REGISTRY.clear()
        nc._REGISTRY.update(saved)

    def test_auto_routes_through_adapter_not_fallback(self, spark):
        import numpy as np

        from pulsar_spark.functions import native_codecs as nc
        from pulsar_spark.functions.multimodal import _encode_png, decode_media

        real = np.zeros((4, 4, 3), np.uint8)  # real decode: all-black
        sentinel = np.full((8, 2, 3), 255, np.uint8)  # adapter: white 8x2
        m = spark.createDataFrame(
            [(0, "image", "png", _encode_png(real))],
            "media_id bigint, modality string, codec string, payload binary",
        )
        nc.register_adapter("png", lambda p: {"pixels": sentinel.copy()})
        auto = decode_media(m, kernel="auto").collect()[0]
        pure = decode_media(m, kernel="pure").collect()[0]
        # dimensions prove WHICH pixels were used: 8x2 = adapter,
        # 4x4 = pure fallback
        assert (auto.height, auto.width) == (8, 2)
        assert (pure.height, pure.width) == (4, 4)

    def test_h264_stub_retired_by_video_adapter(self, spark):
        """The other strict-tier stub (h264) decodes through a registered
        video adapter — with PyAV-shaped raw output (first frame +
        n_frames + duration), the detect_native_kernels contract."""
        import numpy as np

        from pulsar_spark.functions import native_codecs as nc
        from pulsar_spark.functions.multimodal import decode_media

        m = spark.createDataFrame(
            [(1, "video", "h264", b"\x00\x00\x00\x01 fake-nal")],
            "media_id bigint, modality string, codec string, payload binary",
        )
        with pytest.raises(Exception, match="no codec library"):
            decode_media(m, strict=True, kernel="pure").collect()
        nc.register_adapter(
            "h264",
            lambda p: {
                "pixels": np.full((6, 8, 3), 120, np.uint8),
                "n_frames": 24,
                "duration_ms": 1000,
            },
        )
        row = decode_media(m, strict=True, kernel="auto").collect()[0]
        assert row.decode_ok
        assert (row.height, row.width) == (6, 8)
        assert (row.n_frames, row.duration_ms) == (24, 1000)


class TestClusterPathEquivalence:
    """near_dup_clusters' driver union-find fast path must produce
    EXACTLY the distributed hash-min labeling (same canonical
    min-member cluster_id, same sizes) — and the distributed loop keeps
    coverage by forcing the threshold to 0."""

    def _random_pairs(self, spark, seed=3, n_ids=400, n_edges=300):
        import random

        rng = random.Random(seed)
        rows = []
        for _ in range(n_edges):
            a, b = rng.randrange(n_ids), rng.randrange(n_ids)
            if a == b:
                continue
            rows.append((min(a, b), max(a, b)))
        return spark.createDataFrame(rows, "id_a bigint, id_b bigint")

    def test_union_find_equals_distributed(self, spark):
        from pulsar_spark.functions.dedupe import near_dup_clusters

        pairs = self._random_pairs(spark)
        fast = near_dup_clusters(pairs).collect()
        slow = near_dup_clusters(pairs, driver_union_find_max_edges=0).collect()
        key = lambda r: (r.id, r.cluster_id, r.cluster_size)
        assert sorted(map(key, fast)) == sorted(map(key, slow))
        # canonical labeling: representative is the smallest member
        by_cluster = {}
        for r in fast:
            by_cluster.setdefault(r.cluster_id, []).append(r.id)
        for cid, members in by_cluster.items():
            assert cid == min(members)
            assert all(
                r.cluster_size == len(members) for r in fast if r.cluster_id == cid
            )

    def test_long_chain_converges_distributed(self, spark):
        """A 200-vertex path graph (diameter 199 >> max_iter=25) through
        the DISTRIBUTED loop: pure one-hop neighbor-min provably cannot
        converge here; pointer jumping must label every vertex with the
        chain minimum in O(log n) rounds."""
        from pulsar_spark.functions.dedupe import near_dup_clusters

        n = 200
        pairs = spark.createDataFrame(
            [(i, i + 1) for i in range(n - 1)], "id_a bigint, id_b bigint"
        )
        rows = near_dup_clusters(pairs, driver_union_find_max_edges=0).collect()
        assert len(rows) == n
        assert all(r.cluster_id == 0 and r.cluster_size == n for r in rows)

    def test_empty_pairs_both_paths(self, spark):
        from pulsar_spark.functions.dedupe import near_dup_clusters

        pairs = spark.createDataFrame([], "id_a bigint, id_b bigint")
        for thr in (0, 500_000):
            out = near_dup_clusters(pairs, driver_union_find_max_edges=thr)
            assert out.count() == 0
            assert [f.name for f in out.schema.fields] == [
                "id", "cluster_id", "cluster_size",
            ]

    def test_string_ids_fast_path(self, spark):
        from pulsar_spark.functions.dedupe import near_dup_clusters

        pairs = spark.createDataFrame(
            [("b", "c"), ("a", "b"), ("x", "y")], "id_a string, id_b string"
        )
        got = {r.id: (r.cluster_id, r.cluster_size)
               for r in near_dup_clusters(pairs).collect()}
        assert got == {
            "a": ("a", 3), "b": ("a", 3), "c": ("a", 3),
            "x": ("x", 2), "y": ("x", 2),
        }


class TestProduceIdentifierHardening:
    """r11 code-review regressions of the fused-SQL envelope mint: the
    Column-API path resolved case-insensitively and accepted arbitrary
    column names; the SQL-string path must too."""

    def test_case_variant_envelope_name_is_replaced(self, spark, tmp_path):
        from pulsar_spark.sources.topics import produce, read_topic

        d = spark.range(5).selectExpr("id AS v", "CAST(id AS STRING) AS Partition")
        t = str(tmp_path / "t1")
        produce(d, t, num_partitions=2)  # was AMBIGUOUS_REFERENCE
        out = read_topic(spark, t)
        assert out.count() == 5
        # the payload's case-variant column is REPLACED by the minted
        # envelope column, as withColumn used to do
        assert [c for c in out.columns if c.lower() == "partition"] == ["partition"]

    def test_case_sensitive_session_preserves_variant_column(self, spark, tmp_path):
        """Under spark.sql.caseSensitive=true there is NO collision, so
        'Partition' is a distinct user column and must survive beside
        the minted lowercase envelope column (as withColumn did)."""
        from pulsar_spark.sources.topics import produce, read_topic

        spark.conf.set("spark.sql.caseSensitive", "true")
        try:
            d = spark.range(5).selectExpr(
                "id AS v", "CAST(id AS STRING) AS Partition"
            )
            t = str(tmp_path / "cs")
            produce(d, t, num_partitions=2)
            out = read_topic(spark, t)
            assert out.count() == 5
            assert "Partition" in out.columns and "partition" in out.columns
        finally:
            spark.conf.set("spark.sql.caseSensitive", "false")

    def test_brace_column_names_survive(self, spark, tmp_path):
        from pulsar_spark.sources.topics import produce, read_topic

        t = str(tmp_path / "t2")
        d = spark.range(3).selectExpr("id AS `v{x}`")
        produce(d, t, num_partitions=2)  # was KeyError: 'x' (formatter)
        produce(d, t, num_partitions=2)  # append path (offset rebase)
        out = read_topic(spark, t)
        assert out.count() == 6 and "v{x}" in out.columns
        # sequence path too
        t3 = str(tmp_path / "t3")
        d3 = spark.range(4).selectExpr(
            "id AS `weird{col}`", "id AS seq", "CAST(id AS STRING) AS k"
        )
        produce(d3, t3, key_col="k", sequence_col="seq", num_partitions=2)
        assert read_topic(spark, t3).count() == 4


class TestProduceAdversarialColumnNames:
    def test_nasty_names_round_trip(self, spark, tmp_path):
        """One produce over a battery of hostile column names — braces
        (formatter fields), backticks (identifier quoting), quotes,
        spaces, unicode, SQL keywords, dots — all must survive the
        fused-SQL envelope mint, including as the routing key."""
        from pulsar_spark.sources.topics import produce, read_topic

        names = ["v{x}", "back`tick", "quo'te", 'dou"ble',
                 "spa ce", "uni∂", "select", "a.b"]
        df = spark.range(4)
        for i, n in enumerate(names):
            df = df.withColumn(n, df["id"] + i)
        t = str(tmp_path / "nasty")
        produce(df, t, key_col="back`tick", num_partitions=2)
        out = read_topic(spark, t)
        assert out.count() == 4
        assert [n for n in names if n not in out.columns] == []


class TestLangidEmptyVocabGuard:
    def test_overfiltered_vocab_raises_value_error(self, spark):
        from pulsar_spark.functions.langid import langid_fit

        docs = spark.createDataFrame(
            [(0, "alpha beta gamma", "l0"), (1, "delta epsilon zeta", "l1")],
            "doc_id bigint, text string, lang string",
        )
        with pytest.raises(ValueError, match="vocabulary is empty"):
            langid_fit(docs, analyzer="word", min_count=50, top_k_per_lang=100)
