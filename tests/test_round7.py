"""Round-7 tests: ADVICE fixes (atomic subscription registry, latest
sentinel guard, PR-curve NULL scores), per-segment admin verbs,
perceptual image hashing, and the other round-7 operators."""
from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

# The scalable-subscription cursor classes live in tests/test_scalable_subscriptions.py;
# importing them here keeps their ids under this module too.
from tests.test_scalable_subscriptions import (  # noqa: F401
    TestAtomicSubscriptionRegistry,
    TestCheckpointStartFilterLatestGuard,
    TestLatestSentinelSlotEdits,
    TestPerSegmentAdminVerbs,
    TestSegmentCLI,
    TestSubscribeAssignedEmptyAssignment,
    seg_topic,
)


# ------------------------------------------------------- ADVICE fixes


class TestPrCurveNullScores:
    def test_null_score_positive_label_is_false_negative(self, spark):
        from pulsar_spark.functions.classifier import pr_curve

        scored = spark.createDataFrame(
            [(0.9, 1), (0.9, 0), (None, 1), (None, 0)],
            "score double, label int",
        )
        row = {
            r["threshold"]: r
            for r in pr_curve(scored, thresholds=(0.5,)).collect()
        }[0.5]
        # NULL scores never predict positive; the NULL-score y=1 row
        # lands in fn so recall's denominator stays tp+fn = all positives
        assert row["n_pred_pos"] == 2
        assert row["tp"] == 1
        assert row["fp"] == 1
        assert row["fn"] == 1
        assert row["recall"] == 0.5


# --------------------------------------------- perceptual image hashing


class TestPerceptualHashKernel:
    def _pattern(self, g):
        import numpy as np

        return np.random.RandomState(g).randint(0, 256, (32, 32, 3)).astype(
            np.uint8
        )

    @staticmethod
    def _ham(a, b):
        return bin((a ^ b) & (2**64 - 1)).count("1")

    def test_deterministic_and_distinct(self):
        from pulsar_spark.functions.phash import dhash64, phash64

        hs = [phash64(self._pattern(g)) for g in range(20)]
        assert hs == [phash64(self._pattern(g)) for g in range(20)]
        assert len(set(hs)) == 20
        assert len({dhash64(self._pattern(g)) for g in range(20)}) == 20
        # cross-pattern separation leaves headroom over the verify cut
        assert min(
            self._ham(a, b) for i, a in enumerate(hs) for b in hs[i + 1:]
        ) > 6

    def test_robust_to_brightness_resize_and_reencode(self):
        import numpy as np

        from pulsar_spark.functions.multimodal import (
            _decode_png,
            _encode_png,
            _resize_bilinear,
        )
        from pulsar_spark.functions.phash import phash64

        for g in range(8):
            px = self._pattern(g)
            base = phash64(px)
            bright = np.clip(px.astype(np.int16) + 2, 0, 255).astype(np.uint8)
            assert self._ham(base, phash64(bright)) <= 2
            up = _resize_bilinear(px, 64, 64)
            assert self._ham(base, phash64(up)) <= 4
            # lossless re-encode through the real PNG codec: identical
            assert phash64(_decode_png(_encode_png(px))) == base

    def test_grayscale_input_supported(self):
        import numpy as np

        from pulsar_spark.functions.phash import dhash64, phash64

        g2d = np.random.RandomState(1).randint(0, 256, (16, 16)).astype(np.uint8)
        g3d = np.repeat(g2d[:, :, None], 3, axis=2)
        assert phash64(g2d) == phash64(g3d)
        assert dhash64(g2d) == dhash64(g3d)


class TestPhashNearDups:
    def _hashed(self, spark, n_patterns=12, copies=5):
        """n_patterns x copies perturbed BMPs through the full fused
        decode+hash path."""
        import numpy as np
        import pandas as pd

        from pulsar_spark.functions.multimodal import _encode_bmp
        from pulsar_spark.functions.phash import perceptual_hash_media

        rows = []
        for g in range(n_patterns):
            base = np.random.RandomState(g).randint(0, 256, (32, 32, 3)).astype(
                np.uint8
            )
            for c in range(copies):
                px = np.clip(base.astype(np.int16) + c % 3, 0, 255).astype(np.uint8)
                px[c % 32, (c * 7) % 32] = np.clip(
                    px[c % 32, (c * 7) % 32].astype(np.int16) + 3, 0, 255
                ).astype(np.uint8)
                rows.append((g * 100 + c, "image", "bmp", _encode_bmp(px)))
        pdf = pd.DataFrame(rows, columns=["media_id", "modality", "codec", "payload"])
        media = spark.createDataFrame(
            pdf, "media_id bigint, modality string, codec string, payload binary"
        )
        return perceptual_hash_media(media)

    def test_banded_recall_and_precision(self, spark):
        from pulsar_spark.functions.phash import phash_near_dups

        hashed = self._hashed(spark).cache()
        pairs = phash_near_dups(hashed, max_hamming=6).collect()
        got = {(r.media_id_a, r.media_id_b) for r in pairs}
        planted = {
            (g * 100 + i, g * 100 + j)
            for g in range(12)
            for i in range(5)
            for j in range(i + 1, 5)
        }
        # full recall on planted perturbed copies, zero cross-pattern
        # false positives
        assert got == planted
        assert all(r.hamming <= 6 for r in pairs)
        hashed.unpersist()

    def test_no_cartesian_in_plan(self, spark):
        from pulsar_spark.functions.phash import phash_near_dups

        plan = phash_near_dups(self._hashed(spark))._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan

    def test_star_guard_drops_mega_bucket(self, spark):
        from pulsar_spark.functions.phash import phash_exact_groups, phash_near_dups

        # 50 identical hashes: with max_bucket=10 the banded join sheds
        # the quadratic bucket entirely...
        hashed = spark.createDataFrame(
            [(i, 12345) for i in range(50)], "media_id bigint, phash bigint"
        )
        assert phash_near_dups(hashed, max_bucket=10).count() == 0
        # ...while exact grouping still reports the whole group
        groups = phash_exact_groups(hashed).collect()
        assert all(r.canonical_id == 0 and r.group_size == 50 for r in groups)


# ------------------------------------------ xxhash64 span-removal twin


class TestRemoveDupSpansXxhashTwin:
    def test_parity_with_md5_path(self, spark, documents):
        from pulsar_spark.functions import remove_duplicated_spans

        a = (
            remove_duplicated_spans(documents, n=5)
            .toPandas()
            .sort_values("doc_id", ignore_index=True)
        )
        b = (
            remove_duplicated_spans(documents, n=5, gram_hash="xxhash64")
            .toPandas()
            .sort_values("doc_id", ignore_index=True)
        )
        assert a.equals(b)

    def test_bad_gram_hash_rejected(self, documents):
        from pulsar_spark.functions import remove_duplicated_spans

        with pytest.raises(ValueError, match="gram_hash"):
            remove_duplicated_spans(documents, gram_hash="sha1")


# ------------------------------------------- streaming curation capstone


class TestStreamingCuration:
    def _docs(self, spark, ids, dup_of=None):
        """Docs with deterministic text; dup_of maps id -> id whose
        text it duplicates exactly."""
        rows = []
        for i in ids:
            src = (dup_of or {}).get(i, i)
            text = " ".join(f"tok{src}w{j}" for j in range(12))
            rows.append((i, text, f"src{i % 2}", len(text)))
        return spark.createDataFrame(
            rows, "doc_id bigint, text string, source string, n_chars int"
        )

    def test_two_triggers_no_cross_batch_dups(self, spark, tmp_path):
        from pulsar_spark.sources.topics import create_topic, produce
        from pulsar_spark.streaming.curation import streaming_curate

        topic = str(tmp_path / "topic")
        create_topic(topic, 2)
        store = str(tmp_path / "fps")
        out = str(tmp_path / "out")
        ckpt = str(tmp_path / "ckpt")

        # batch 1: ids 0-9, with 8 and 9 exact dups of 0 and 1
        produce(self._docs(spark, range(10), dup_of={8: 0, 9: 1}), topic)
        q = streaming_curate(spark, topic, store, out, ckpt)
        q.awaitTermination(120)

        # batch 2: ids 10-19, with 10/11 duplicating batch-1 texts and
        # 18/19 duplicating each other within the batch
        produce(
            self._docs(spark, range(10, 20), dup_of={10: 2, 11: 3, 19: 18}), topic
        )
        q = streaming_curate(spark, topic, store, out, ckpt)
        q.awaitTermination(120)

        shards = spark.read.parquet(out)
        # two epochs, append-consistent: distinct batch_id partitions
        assert {r.batch_id for r in shards.select("batch_id").distinct().collect()} == {0, 1}
        text = " ".join(r.shard_text for r in shards.collect())
        # batch-1 survivors: 0-7 (8,9 were within-batch dups)
        for i in range(8):
            assert f"tok{i}w0" in text
        # batch-2 cross-batch dups dropped (10 dups 2, 11 dups 3):
        # their UNIQUE ids never appear (texts are dup copies, so check
        # the doc count instead via shard manifests)
        n_docs = shards.groupBy().sum("n_docs").collect()[0][0]
        # epoch 0: 8 survivors; epoch 1: 12..18 -> 7 survivors
        assert n_docs == 15
        # every shard blob respects its bin boundary metadata
        assert shards.where("n_docs <= 0").count() == 0

    def test_epoch_retry_is_idempotent(self, spark, tmp_path):
        from pulsar_spark.streaming.curation import curate_batch

        store = str(tmp_path / "fps")
        out = str(tmp_path / "out")
        docs = self._docs(spark, range(6))
        curate_batch(docs, 0, store, out)
        first = spark.read.parquet(out).groupBy().sum("n_docs").collect()[0][0]
        assert first == 6
        # replay of the SAME epoch — even after its fingerprints
        # committed: the anti-join excludes the epoch's own store
        # directory, so the replay reproduces IDENTICAL survivors and
        # overwrites its own output (no silent emptying, no doubling)
        curate_batch(docs, 0, store, out)
        again = spark.read.parquet(out).groupBy().sum("n_docs").collect()[0][0]
        assert again == 6
        # a LATER epoch still dedups against epoch 0's fingerprints
        curate_batch(self._docs(spark, [50], dup_of={50: 1}), 1, store, out)
        assert spark.read.parquet(f"{out}/batch_id=1").count() == 0

    def test_gate_failed_docs_still_commit_fingerprints(self, spark, tmp_path):
        from pyspark.sql import functions as F

        from pulsar_spark.streaming.curation import curate_batch

        store = str(tmp_path / "fps")
        out = str(tmp_path / "out")
        docs = self._docs(spark, range(4))
        curate_batch(docs, 0, store, out, gate=F.col("doc_id") < 2)
        # gated output has 2 docs...
        assert spark.read.parquet(out).groupBy().sum("n_docs").collect()[0][0] == 2
        # ...but ALL 4 fingerprints are committed: a later copy of a
        # rejected doc must not sneak in
        dup = self._docs(spark, [100, 101], dup_of={100: 2, 101: 3})
        curate_batch(dup, 1, store, out)
        assert (
            spark.read.parquet(f"{out}/batch_id=1").count() == 0
        )


# --------------------------------- watermark-count window batch projection


class TestWatermarkCountWindowsBatch:
    def _reference(self, rows, length, slide):
        """Independent pure-Python rendering of the streaming state
        machine at wm -> infinity: per partition, eligible rows in
        (event_time, offset) order, fire every `slide` rows with the
        last `length` rows; trailing partial never fires."""
        from collections import defaultdict

        by_part = defaultdict(list)
        for p, off, ts, v in rows:
            by_part[p].append((ts, off, v))
        out = []
        for p, rs in by_part.items():
            rs.sort()
            for s in range(1, len(rs) // slide + 1):
                win = rs[max(0, s * slide - length): s * slide]
                out.append((
                    p, s - 1, len(win),
                    round(sum(v for _, _, v in win), 3),
                    win[0][0], win[-1][0],
                ))
        return sorted(out)

    def test_matches_pure_python_reference(self, spark):
        import random

        from pulsar_spark.operators.windows import watermark_count_windows_batch

        rng = random.Random(7)
        rows = [
            (
                rng.randrange(3),
                i,
                # duplicate event times force the offset tie-break
                "2026-01-01 00:%02d:%02d" % (rng.randrange(30), rng.randrange(4)),
                round(rng.uniform(0, 10), 3),
            )
            for i in range(500)
        ]
        df = spark.createDataFrame(
            rows, "partition int, offset bigint, event_time string, val double"
        ).withColumn("event_time", F.col("event_time").cast("timestamp"))
        for length, slide in ((100, 40), (50, 50), (64, 16)):
            got = sorted(
                (
                    r.partition, r.window_seq, r.cnt,
                    round(r.sum_val, 3),
                    str(r.first_event_time), str(r.last_event_time),
                )
                for r in watermark_count_windows_batch(df, length, slide).collect()
            )
            want = [
                (p, s, c, v, str(a), str(b))
                for p, s, c, v, a, b in self._reference(
                    [(p, o, t, v) for p, o, t, v in rows], length, slide
                )
            ]
            # reference carries string timestamps; normalize
            want = sorted(
                (p, s, c, v, a + ("" if " " in a else ""), b) for p, s, c, v, a, b in want
            )
            assert [(p, s, c) for p, s, c, *_ in got] == [
                (p, s, c) for p, s, c, *_ in want
            ], f"(length={length}, slide={slide})"
            for g, w in zip(got, want):
                assert abs(g[3] - w[3]) < 1e-6
                assert g[4].startswith(w[4]) and g[5].startswith(w[5])


# ---------------------------------------- bloom-prefiltered decontamination


class TestContaminationBloom:
    def test_identical_to_exact_path(self, spark, documents):
        from pulsar_spark.functions import contamination_check, contamination_check_bloom

        bench = documents.where(F.col("doc_id") % 97 == 0)
        corpus = documents.where(F.col("doc_id") % 97 != 0)
        exact = (
            contamination_check(corpus, bench, n=5)
            .toPandas()
            .sort_values("doc_id", ignore_index=True)
        )
        bloom = (
            contamination_check_bloom(corpus, bench, n=5)
            .toPandas()
            .sort_values("doc_id", ignore_index=True)
        )
        assert exact[sorted(exact.columns)].equals(bloom[sorted(bloom.columns)])

    def test_prefilter_sheds_most_grams(self, spark, documents):
        """The point of the bloom: the exact join's probe side shrinks
        to roughly hits + m-bounded false positives."""
        from pulsar_spark.functions.dedupe import (
            _bloom_membership_expr,
            _word_gram_hashes,
        )

        bench = documents.where(F.col("doc_id") % 97 == 0)
        corpus = documents.where(F.col("doc_id") % 97 != 0)
        bg = _word_gram_hashes(bench, 5, "text", "doc_id").select("gram").distinct()
        cg = _word_gram_hashes(corpus, 5, "text", "doc_id")
        total = cg.count()
        true_hits = cg.join(bg, "gram", "left_semi").count()
        # rebuild the same filter the operator builds
        m_bits, k = 1 << 16, 4
        h1 = F.col("gram").bitwiseAND(F.lit(0x7FFFFFFF))
        h2 = F.shiftrightunsigned(F.col("gram"), 32).bitwiseAND(F.lit(0x7FFFFFFF))
        pos = bg.select(
            F.explode(
                F.array(*[F.pmod(h1 + F.lit(i) * h2, F.lit(m_bits)) for i in range(k)])
            ).alias("pos")
        ).distinct()
        words = [0] * (m_bits // 64)
        for r in pos.collect():
            words[int(r.pos) // 64] |= 1 << (int(r.pos) % 64)
        words = [w - (1 << 64) if w >= 1 << 63 else w for w in words]
        survivors = cg.where(
            _bloom_membership_expr(F.col("gram"), words, m_bits, k)
        ).count()
        assert survivors >= true_hits  # no false negatives, ever
        # false positives bounded: at this benchmark/m ratio the FP
        # rate is well under 5% of non-hit grams
        assert survivors - true_hits <= max(50, int(0.05 * (total - true_hits)))

    def test_probe_is_pure_codegen(self, spark, documents):
        from pulsar_spark.functions import contamination_check_bloom

        bench = documents.where(F.col("doc_id") % 97 == 0)
        corpus = documents.where(F.col("doc_id") % 97 != 0)
        plan = (
            contamination_check_bloom(corpus, bench, n=5)
            ._jdf.queryExecution().executedPlan().toString()
        )
        for marker in ("BatchEvalPython", "ArrowEvalPython", "mapInPandas"):
            assert marker not in plan


# ------------------------------------------------ audio fingerprinting


class TestAudioFingerprint:
    def _tone(self, g, n=8000):
        import numpy as np

        rs = np.random.RandomState(g)
        t = np.arange(n) / 8000.0
        f1, f2 = 100 + g * 37 % 1700, 300 + g * 91 % 2900
        return (
            np.sin(2 * np.pi * f1 * t)
            + 0.5 * np.sin(2 * np.pi * f2 * t)
            + 0.2 * rs.randn(n)
        )

    @staticmethod
    def _ham(a, b):
        return bin((a ^ b) & (2**64 - 1)).count("1")

    def test_deterministic_distinct_and_invariant(self):
        import numpy as np

        from pulsar_spark.functions.phash import audio_fingerprint64

        hs = [audio_fingerprint64(self._tone(g), 8000) for g in range(23)]
        assert hs == [audio_fingerprint64(self._tone(g), 8000) for g in range(23)]
        assert len(set(hs)) == 23
        assert min(
            self._ham(a, b) for i, a in enumerate(hs) for b in hs[i + 1:]
        ) > 8
        for g in range(6):
            x = self._tone(g)
            # uniform amplitude scaling is an EXACT invariance
            assert audio_fingerprint64(x * 0.3, 8000) == hs[g]
            noisy = x + 0.01 * np.random.RandomState(99 + g).randn(x.size)
            assert self._ham(hs[g], audio_fingerprint64(noisy, 8000)) <= 4

    def test_short_clip_padded_not_crashed(self):
        from pulsar_spark.functions.phash import audio_fingerprint64

        assert isinstance(audio_fingerprint64([0.1, -0.2, 0.3], 8000), int)

    def test_banded_near_dups_recall_and_precision(self, spark):
        import __spark_entry__ as e

        sf = "/root/testdata/sf0.001"
        pairs = e.queries()["media_audio_near_dups"](spark, sf).collect()
        n_docs = e.queries()["media_audio_fingerprint"](spark, sf).count()
        # zero cross-pattern false positives
        assert all(r.media_id_a % 23 == r.media_id_b % 23 for r in pairs)
        # recall vs all planted within-pattern pairs: perturbed copies
        # sit <= 3 bits from their pattern base, so pairwise <= 6; the
        # 16-bit banding recovers the large majority at that distance
        from collections import Counter

        sizes = Counter(d % 23 for d in range(n_docs))
        planted = sum(n * (n - 1) // 2 for n in sizes.values())
        assert len(pairs) >= 0.75 * planted

    def test_non_wav_codec_rejected(self, spark):
        import pandas as pd

        from pulsar_spark.functions.phash import audio_fingerprint_media

        media = spark.createDataFrame(
            pd.DataFrame(
                [(1, "audio", "mp3", b"xx")],
                columns=["media_id", "modality", "codec", "payload"],
            ),
            "media_id bigint, modality string, codec string, payload binary",
        )
        with pytest.raises(Exception, match="no real kernel"):
            audio_fingerprint_media(media).collect()


# ----------------------------------------------------- URL canonicalization


class TestUrlDedup:
    CASES = [
        ("http://site7.com/a7/b?b=2&a=1", "http://site7.com/a7/b?a=1&b=2"),
        ("HTTP://WWW.Site7.COM/a7/b?b=2&a=1", "http://site7.com/a7/b?a=1&b=2"),
        ("http://site7.com:80/a7/b?a=1&b=2", "http://site7.com/a7/b?a=1&b=2"),
        ("http://site7.com/a7/b/?b=2&a=1", "http://site7.com/a7/b?a=1&b=2"),
        (
            "http://site7.com/a7/b?b=2&a=1&utm_source=x#frag",
            "http://site7.com/a7/b?a=1&b=2",
        ),
        ("https://site7.com:443/a7/b", "https://site7.com/a7/b"),
        ("http://site7.com/", "http://site7.com"),
        ("http://site7.com", "http://site7.com"),
        ("http://site7.com/a?fbclid=zz", "http://site7.com/a"),
        # non-tracking params and :8080 must be KEPT
        ("http://site7.com:8080/a?z=1", "http://site7.com:8080/a?z=1"),
        ("http://site7.com/a?utm=notracking", "http://site7.com/a?utm=notracking"),
    ]

    def test_canonicalization_rules(self, spark):
        from pulsar_spark.functions.urls import canonicalize_url

        df = spark.createDataFrame([(u,) for u, _ in self.CASES], "url string")
        got = [r.c for r in df.select(canonicalize_url(F.col("url")).alias("c")).collect()]
        assert got == [want for _, want in self.CASES]

    def test_idempotent(self, spark):
        from pulsar_spark.functions.urls import canonicalize_url

        df = spark.createDataFrame([(u,) for u, _ in self.CASES], "url string")
        once = [r.c for r in df.select(canonicalize_url(F.col("url")).alias("c")).collect()]
        twice = [
            r.c
            for r in df.select(
                canonicalize_url(canonicalize_url(F.col("url"))).alias("c")
            ).collect()
        ]
        assert once == twice

    def test_dedup_is_pure_codegen(self, spark):
        from pulsar_spark.functions.urls import url_dedup

        df = spark.createDataFrame(
            [(1, "http://a.com/x"), (2, "HTTP://A.com/x/")], "doc_id bigint, url string"
        )
        out = url_dedup(df)
        rows = {r.doc_id: r for r in out.collect()}
        assert rows[2].canonical_id == 1 and rows[2].is_dup
        plan = out._jdf.queryExecution().executedPlan().toString()
        for marker in ("BatchEvalPython", "ArrowEvalPython"):
            assert marker not in plan

    def test_adversarial_parsing(self, spark):
        """Second-review cases: first-occurrence splits, scheme-aware
        ports, case-mangled tracking params, query-with-no-path."""
        from pulsar_spark.functions.urls import canonicalize_url

        cases = [
            # an URL EMBEDDED in a param value must not hijack parsing
            (
                "http://a.com/redirect?url=http://b.com/x",
                "http://a.com/redirect?url=http://b.com/x",
            ),
            # ?-in-param-value: query starts at the FIRST '?'
            (
                "http://a.com/x?a=1&next=/y?z=1",
                "http://a.com/x?a=1&next=/y?z=1",
            ),
            # query / fragment with NO path slash still normalize
            ("http://a.com?b=2&a=1", "http://a.com?a=1&b=2"),
            ("http://a.com#frag", "http://a.com"),
            ("http://a.com:80?x=1", "http://a.com?x=1"),
            # the variant WITH a slash collapses to the same canonical
            ("http://a.com/?a=1&b=2", "http://a.com?a=1&b=2"),
            # default-port stripping is scheme-aware
            ("https://a.com:80/x", "https://a.com:80/x"),
            ("http://a.com:443/x", "http://a.com:443/x"),
            # tracking params are dropped case-insensitively
            ("http://a.com/x?UTM_Source=mail&a=1", "http://a.com/x?a=1"),
        ]
        df = spark.createDataFrame([(u,) for u, _ in cases], "url string")
        got = [
            r.c for r in df.select(canonicalize_url(F.col("url")).alias("c")).collect()
        ]
        assert got == [want for _, want in cases]
        # idempotence holds on the adversarial set too
        twice = [
            r.c
            for r in df.select(
                canonicalize_url(canonicalize_url(F.col("url"))).alias("c")
            ).collect()
        ]
        assert twice == got

    def test_null_urls_are_singletons(self, spark):
        from pulsar_spark.functions.urls import url_dedup

        df = spark.createDataFrame(
            [(1, None), (2, None), (3, "http://a.com/x")],
            "doc_id bigint, url string",
        )
        rows = {r.doc_id: r for r in url_dedup(df).collect()}
        assert rows[1].canonical_url is None and rows[2].canonical_url is None
        # two unrelated missing-URL docs must NOT merge
        assert rows[1].canonical_id == 1 and not rows[1].is_dup
        assert rows[2].canonical_id == 2 and not rows[2].is_dup
        assert rows[1].group_size == 1 and rows[2].group_size == 1


# ------------------------------------------- within-doc line dedup


class TestRemoveRepeatedLines:
    def test_keep_first_order_and_counts(self, spark):
        from pulsar_spark.functions.text import remove_repeated_lines

        df = spark.createDataFrame(
            [
                (1, "a\nb\na\nc\nb"),
                (2, "x\nx\nx"),
                (3, "only"),
            ],
            "doc_id bigint, text string",
        )
        rows = {r.doc_id: r for r in remove_repeated_lines(df).collect()}
        assert rows[1].text_clean == "a\nb\nc"
        assert rows[1].n_lines_before == 5 and rows[1].n_lines_removed == 2
        assert rows[2].text_clean == "x" and rows[2].n_lines_removed == 2
        assert rows[3].text_clean == "only" and rows[3].n_lines_removed == 0

    def test_custom_separator_is_escaped(self, spark):
        from pulsar_spark.functions.text import remove_repeated_lines

        # '.' would be a regex wildcard if not escaped
        df = spark.createDataFrame([(1, "a.b.a.c")], "doc_id bigint, text string")
        r = remove_repeated_lines(df, sep=".").collect()[0]
        assert r.text_clean == "a.b.c" and r.n_lines_removed == 1

    def test_zero_shuffle_plan(self, spark):
        from pulsar_spark.functions.text import remove_repeated_lines

        df = spark.createDataFrame([(1, "a\nb")], "doc_id bigint, text string")
        plan = (
            remove_repeated_lines(df)._jdf.queryExecution().executedPlan().toString()
        )
        assert "Exchange" not in plan


def test_functions_package_imports_without_jvm():
    """The functions package is imported inside Python UDF WORKERS,
    where no JVM gateway exists — a module-level Column construction
    anywhere in it (e.g. F.lit at import time) crashes every pandas-UDF
    stage in the engine. Import it in a clean subprocess with no
    SparkSession to prove there is none."""
    import subprocess
    import sys

    r = subprocess.run(
        [sys.executable, "-c", "import pulsar_spark.functions"],
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert r.returncode == 0, r.stderr


class TestUrlCanonicalizeRandomizedReference:
    def _expected(self, scheme, www, host, port, segs, params, frag):
        """Independent pure-Python rendering of the canonicalization
        rules (built from the RULES, not from the implementation)."""
        import re

        out_host = host.lower()
        keep_port = port is not None and not (
            (scheme == "http" and port == 80) or (scheme == "https" and port == 443)
        )
        hp = out_host + (f":{port}" if keep_port else "")
        path = "".join(f"/{s}" for s in segs)
        kept = sorted(
            p for p in params
            if not re.match(r"(?i)^(utm_[a-z0-9_]+|fbclid|gclid)=", p)
        )
        q = ("?" + "&".join(kept)) if kept else ""
        return f"{scheme}://{hp}{path}{q}"

    def test_componentwise_random_urls(self, spark):
        import random

        from pulsar_spark.functions.urls import canonicalize_url

        rng = random.Random(11)
        rows = []
        for i in range(300):
            scheme = rng.choice(["http", "https"])
            host = rng.choice(["Alpha.com", "beta.ORG", "x-y.net"])
            www = rng.random() < 0.4
            port = rng.choice([None, 80, 443, 8080])
            segs = [f"s{rng.randrange(5)}" for _ in range(rng.randrange(3))]
            params = []
            for _ in range(rng.randrange(4)):
                params.append(
                    rng.choice(
                        ["a=1", "b=2", "z=9", "utm_source=x", "UTM_Campaign=y",
                         "fbclid=f", "next=/y?z=1"]
                    )
                )
            frag = rng.random() < 0.3
            # messy rendering
            url = (scheme.upper() if rng.random() < 0.3 else scheme) + "://"
            url += ("WWW." if www else "") + host
            url += f":{port}" if port is not None else ""
            url += "".join(f"/{s}" for s in segs)
            if rng.random() < 0.3 and segs:
                url += "/"  # trailing slash
            if params:
                url += "?" + "&".join(params)
            if frag:
                url += "#frag"
            rows.append(
                (i, url, self._expected(
                    scheme, www, host, port, segs, params, frag))
            )
        df = spark.createDataFrame(rows, "i int, url string, want string")
        got = (
            df.select("i", "want", canonicalize_url(F.col("url")).alias("c"))
            .collect()
        )
        bad = [(r.i, r.c, r.want) for r in got if r.c != r.want]
        assert not bad, bad[:5]


# ----------------------------------------------- streaming geo-replication


class TestStreamingReplication:
    def _produce_local(self, spark, topic, ids, origin=None):
        from pulsar_spark.sources.topics import create_topic, produce

        rows = spark.createDataFrame(
            [(str(i), i, origin) for i in ids],
            "key string, event_id bigint, replicated_from string",
        )
        if not os.path.isdir(topic):
            create_topic(topic, 2)
        produce(rows, topic, key_col="key")

    def test_bidirectional_convergence_no_loop(self, spark, tmp_path):
        from pulsar_spark.streaming.replication import replicate_stream

        a, b = str(tmp_path / "east"), str(tmp_path / "west")
        self._produce_local(spark, a, range(20))
        self._produce_local(spark, b, range(100, 110))

        def run_both():
            for src, dst, local, target, ck in (
                (a, b, "east", "west", str(tmp_path / "ck_ab")),
                (b, a, "west", "east", str(tmp_path / "ck_ba")),
            ):
                q = replicate_stream(spark, src, dst, local, target, ck)
                assert q.awaitTermination(120)

        run_both()
        run_both()  # second pass: replicated rows must NOT loop back
        run_both()  # and a third is a no-op too

        da = spark.read.parquet(a)
        db = spark.read.parquet(b)
        # west holds its 10 local rows + the 20 east rows, exactly once
        assert db.count() == 30
        assert db.where("replicated_from = 'east'").count() == 20
        # east holds its 20 local + the 10 west rows, exactly once
        assert da.count() == 30
        assert da.where("replicated_from = 'west'").count() == 10
        # origin never overwritten: no row claims to come from itself
        assert da.where("replicated_from = 'east'").count() == 0
        assert db.where("replicated_from = 'west'").count() == 0

    def test_replay_is_idempotent_and_order_preserved(self, spark, tmp_path):
        from pulsar_spark.streaming.replication import replicate_batch

        src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
        self._produce_local(spark, src, range(12))
        batch = spark.read.parquet(src)
        replicate_batch(batch, dst, "east", "west")
        n1 = spark.read.parquet(dst).count()
        # replaying the SAME batch forwards nothing (watermark dedup)
        replicate_batch(batch, dst, "east", "west")
        assert spark.read.parquet(dst).count() == n1 == 12
        # per-source-partition order preserved in the remote log
        rows = spark.read.parquet(dst).collect()
        from collections import defaultdict

        by_src = defaultdict(list)
        for r in rows:
            by_src[r.src_partition].append((r.partition, r.offset, r.src_offset))
        for sp, rs in by_src.items():
            # within each (src_partition, dst_partition) lane, dst
            # offsets must be increasing with src offsets
            lanes = defaultdict(list)
            for dp, doff, soff in rs:
                lanes[dp].append((doff, soff))
            for lane in lanes.values():
                lane.sort()
                soffs = [s for _, s in lane]
                assert soffs == sorted(soffs), (sp, lane)

    def test_new_rows_after_convergence_still_flow(self, spark, tmp_path):
        from pulsar_spark.streaming.replication import replicate_stream

        a, b = str(tmp_path / "east"), str(tmp_path / "west")
        self._produce_local(spark, a, range(5))
        q = replicate_stream(spark, a, b, "east", "west", str(tmp_path / "ck"))
        assert q.awaitTermination(120)
        assert spark.read.parquet(b).count() == 5
        self._produce_local(spark, a, range(5, 9))
        q = replicate_stream(spark, a, b, "east", "west", str(tmp_path / "ck"))
        assert q.awaitTermination(120)
        assert spark.read.parquet(b).count() == 9

    def test_plain_topic_without_replication_columns(self, spark, tmp_path):
        """A never-replicated topic has neither replicated_from nor
        marker_type — the replicator must add the guards, not crash."""
        from pulsar_spark.sources.topics import create_topic, produce
        from pulsar_spark.streaming.replication import replicate_batch

        src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
        create_topic(src, 2)
        rows = spark.createDataFrame(
            [(str(i), i) for i in range(6)], "key string, event_id bigint"
        )
        produce(rows, src, key_col="key")
        replicate_batch(spark.read.parquet(src), dst, "east", "west")
        out = spark.read.parquet(dst)
        assert out.count() == 6
        assert out.where("replicated_from = 'east'").count() == 6

    def test_mesh_two_origins_share_remote(self, spark, tmp_path):
        """A->B and C->B share src_partition numbers; the watermark is
        keyed per (origin, src_partition) so the later replicator must
        not be suppressed by the earlier one's offsets."""
        from pulsar_spark.streaming.replication import replicate_batch

        a, c, b = (str(tmp_path / x) for x in ("a", "c", "b"))
        self._produce_local(spark, a, range(10))
        self._produce_local(spark, c, range(100, 110))
        replicate_batch(spark.read.parquet(a), b, "alpha", "bravo")
        # C's offsets 0..N overlap A's; without origin keying they'd be
        # silently dropped
        replicate_batch(spark.read.parquet(c), b, "charlie", "bravo")
        out = spark.read.parquet(b)
        assert out.where("replicated_from = 'alpha'").count() == 10
        assert out.where("replicated_from = 'charlie'").count() == 10
        # replays of either side still converge
        replicate_batch(spark.read.parquet(a), b, "alpha", "bravo")
        replicate_batch(spark.read.parquet(c), b, "charlie", "bravo")
        assert spark.read.parquet(b).count() == 20

    def test_event_time_forwarded_not_reminted(self, spark, tmp_path):
        from pulsar_spark.sources.topics import create_topic, produce
        from pulsar_spark.streaming.replication import replicate_batch

        src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
        create_topic(src, 2)
        rows = spark.createDataFrame(
            [(str(i), i, f"2020-01-0{i + 1} 00:00:00") for i in range(4)],
            "key string, event_id bigint, et string",
        ).withColumn("et", F.col("et").cast("timestamp"))
        produce(rows, src, key_col="key", event_time_col="et")
        replicate_batch(spark.read.parquet(src), dst, "east", "west")
        got = {
            r.event_id: str(r.event_time)
            for r in spark.read.parquet(dst).collect()
        }
        assert got[0].startswith("2020-01-01") and got[3].startswith("2020-01-04")
