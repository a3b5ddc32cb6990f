"""Incremental NEAR-dup dedup (functions/dedupe.py
incremental_near_dedup) + the MinHash permutation-family fix
(_perm_mins_batch): signature agreement must be the unbiased Jaccard
estimator, history checks must catch edited recrawls, and epoch
replays must be idempotent."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from pulsar_spark.functions.dedupe import (
    commit_near_fingerprints,
    incremental_near_dedup,
    minhash_signatures,
)

BASE = (
    "the quick brown fox jumps over the lazy dog and runs far away "
    "into the deep woods tonight while the moon rises over the hills"
)
SCHEMA = "doc_id bigint, text string, source string"


def _distinct_text(i: int) -> str:
    words = [f"tok{i}w{j}" for j in range(30)]
    return " ".join(words)


class TestPermutationFamily:
    def test_agreement_estimates_jaccard(self, spark):
        # planted overlap: doc B shares exactly `shared` of A's shingles
        rows = []
        words = [f"w{j}" for j in range(41)]  # 39 3-shingles
        rows.append((1, " ".join(words), "w"))
        rows.append((2, " ".join(words[:30] + [f"z{j}" for j in range(11)]), "w"))
        df = spark.createDataFrame(rows, SCHEMA)
        got = {
            r.doc_id: np.array(r.signature)
            for r in minhash_signatures(df, num_perm=256).collect()
        }
        from pulsar_spark.functions.dedupe import with_shingles

        sh = {
            r.doc_id: set(r.shingles)
            for r in with_shingles(df, "text", 3).select("doc_id", "shingles").collect()
        }
        j = len(sh[1] & sh[2]) / len(sh[1] | sh[2])
        agree = (got[1] == got[2]).mean()
        # binomial stderr at n=256 is < 0.032; allow 4 sigma
        assert abs(agree - j) < 0.13, (agree, j)

    def test_positions_are_independent(self, spark):
        # the old h1+i*h2 family collapsed to a single Bernoulli draw:
        # agreement was ~0 or ~1 per pair. With a real family, a pair
        # at J~0.5 must land NEAR 0.5, not at the extremes.
        words = [f"w{j}" for j in range(41)]
        df = spark.createDataFrame(
            [
                (1, " ".join(words), "w"),
                (2, " ".join(words[:20] + [f"z{j}" for j in range(21)]), "w"),
            ],
            SCHEMA,
        )
        got = {
            r.doc_id: np.array(r.signature)
            for r in minhash_signatures(df, num_perm=256).collect()
        }
        agree = (got[1] == got[2]).mean()
        assert 0.15 < agree < 0.85, agree


class TestIncrementalNearDedup:
    def test_within_batch_collapse_keeps_min_id(self, spark, tmp_path):
        docs = spark.createDataFrame(
            [
                (5, BASE, "w"),
                (3, BASE + " tail", "w"),
                (9, _distinct_text(9), "w"),
            ],
            SCHEMA,
        )
        out = incremental_near_dedup(
            docs, str(tmp_path / "s"), threshold=0.6, update_store=False
        )
        assert sorted(r.doc_id for r in out.collect()) == [3, 9]

    def test_history_drops_edited_recrawl(self, spark, tmp_path):
        store = str(tmp_path / "s")
        e0 = spark.createDataFrame(
            [(1, BASE, "w"), (50, _distinct_text(50), "w")], SCHEMA
        )
        s0 = incremental_near_dedup(e0, store, threshold=0.6, epoch=0,
                                    update_store=False)
        assert sorted(r.doc_id for r in s0.collect()) == [1, 50]
        commit_near_fingerprints(s0, store, epoch=0)

        e1 = spark.createDataFrame(
            [
                (101, BASE + " lightly edited", "w"),   # edited recrawl
                (102, _distinct_text(102), "w"),        # genuinely new
                (103, _distinct_text(50) + " x", "w"),  # near-dup of 50
            ],
            SCHEMA,
        )
        s1 = incremental_near_dedup(e1, store, threshold=0.6, epoch=1,
                                    update_store=False)
        assert sorted(r.doc_id for r in s1.collect()) == [102]

    def test_epoch_replay_is_idempotent(self, spark, tmp_path):
        store = str(tmp_path / "s")
        e0 = spark.createDataFrame([(1, BASE, "w")], SCHEMA)
        s0 = incremental_near_dedup(e0, store, threshold=0.6, epoch=0,
                                    update_store=False)
        commit_near_fingerprints(s0, store, epoch=0)
        e1 = spark.createDataFrame(
            [(2, BASE + " edit", "w"), (3, _distinct_text(3), "w")], SCHEMA
        )
        first = incremental_near_dedup(e1, store, threshold=0.6, epoch=1)
        got1 = sorted(r.doc_id for r in first.collect())
        # replay AFTER the store committed: own-epoch dirs are excluded,
        # so the survivors reproduce instead of self-anti-joining empty
        replay = incremental_near_dedup(e1, store, threshold=0.6, epoch=1)
        got2 = sorted(r.doc_id for r in replay.collect())
        assert got1 == got2 == [3]

    def test_flat_append_mode(self, spark, tmp_path):
        store = str(tmp_path / "s")
        e0 = spark.createDataFrame([(1, BASE, "w")], SCHEMA)
        incremental_near_dedup(e0, store, threshold=0.6).collect()
        e1 = spark.createDataFrame([(2, BASE + " v2", "w")], SCHEMA)
        out = incremental_near_dedup(e1, store, threshold=0.6)
        assert out.collect() == []

    def test_exact_copies_also_drop(self, spark, tmp_path):
        # near-dedup subsumes exact: identical text = agreement 1.0
        store = str(tmp_path / "s")
        e0 = spark.createDataFrame([(1, BASE, "w")], SCHEMA)
        incremental_near_dedup(e0, store, threshold=0.9).collect()
        e1 = spark.createDataFrame([(7, BASE, "w")], SCHEMA)
        assert incremental_near_dedup(e1, store, threshold=0.9).collect() == []

    def test_streaming_curation_near_stage(self, spark, tmp_path):
        # full curate_batch with near_threshold: epoch 1's edited
        # recrawls never reach the packed output; replay reproduces it
        from pulsar_spark.streaming.curation import curate_batch

        fp, out = str(tmp_path / "fp"), str(tmp_path / "out")
        e0 = spark.createDataFrame(
            [(1, BASE, "w"), (2, _distinct_text(2), "w")], SCHEMA
        )
        curate_batch(e0, 0, fp, out, seq_len=64, near_threshold=0.6)
        e1 = spark.createDataFrame(
            [(11, BASE + " edited tail", "w"), (12, _distinct_text(12), "w")],
            SCHEMA,
        )
        curate_batch(e1, 1, fp, out, seq_len=64, near_threshold=0.6)
        packed = spark.read.parquet(out)
        n1 = packed.count()
        texts1 = sorted(r[0] for r in packed.select("shard_text").collect())
        # the edited recrawl's tail never reaches the output; the
        # genuinely-new doc does
        assert not any("edited tail" in t for t in texts1)
        assert any("tok12w0" in t for t in texts1)
        # replay epoch 1: output overwrites its own directory, identical
        curate_batch(e1, 1, fp, out, seq_len=64, near_threshold=0.6)
        packed2 = spark.read.parquet(out)
        assert packed2.count() == n1
        assert sorted(r[0] for r in packed2.select("shard_text").collect()) == texts1


class TestReviewFindings:
    def test_short_docs_never_near_match_history(self, spark, tmp_path):
        # docs under k=3 words carry the all-zeros sentinel signature;
        # they must neither probe nor commit, so two DIFFERENT short
        # docs across epochs both survive (exact dedup is their path)
        store = str(tmp_path / "s")
        e0 = spark.createDataFrame([(1, "hello world", "w")], SCHEMA)
        s0 = incremental_near_dedup(e0, store, threshold=0.6, epoch=0)
        assert [r.doc_id for r in s0.collect()] == [1]
        e1 = spark.createDataFrame([(2, "buy now", "w")], SCHEMA)
        s1 = incremental_near_dedup(e1, store, threshold=0.6, epoch=1)
        assert [r.doc_id for r in s1.collect()] == [2]

    def test_resized_gif_animation_keeps_clip_duration(self, spark):
        # the Y4M upcast must carry the GIF's clip clock: 3 frames at
        # 10 cs each = 300 ms total, before AND after resize
        from pulsar_spark.functions.gif import encode_gif
        from pulsar_spark.functions.multimodal import decode_media, resize_media

        frames = [np.full((4, 4, 3), v, np.uint8) for v in (10, 20, 30)]
        media = spark.createDataFrame(
            [(1, "video", "gif", bytearray(encode_gif(frames, delays_cs=[10, 10, 10])))],
            "media_id bigint, modality string, codec string, payload binary",
        )
        resized = resize_media(media, 8, 8, strict=True)
        out = decode_media(resized, strict=True).collect()[0]
        assert out["codec"] if "codec" in out.__fields__ else True
        assert out["n_frames"] == 3
        assert out["duration_ms"] == 300


class TestStoreCompaction:
    """Round-9 store GC (compact_fingerprint_store / compact_near_store):
    a rolling crawl commits one epoch dir per micro-batch forever — the
    fold into one distinct base epoch must preserve probe semantics
    exactly while bounding the store's file/dir count."""

    def _edited(self, i: int) -> str:
        return BASE + f" extra token{i}"

    def test_near_store_compaction_preserves_probe_results(self, spark, tmp_path):
        from pulsar_spark.functions.dedupe import compact_near_store

        store = str(tmp_path / "s")
        for epoch in range(4):
            batch = spark.createDataFrame(
                [(epoch * 10 + j, _distinct_text(epoch * 10 + j), "w")
                 for j in range(3)] + [(epoch * 10 + 9, BASE, "w")],
                SCHEMA,
            )
            incremental_near_dedup(batch, store, threshold=0.6, epoch=epoch)
        probe = spark.createDataFrame(
            [(900, self._edited(1), "w"),          # near-dup of BASE
             (901, _distinct_text(11), "w"),       # exact hist text
             (902, _distinct_text(999), "w")],     # novel
            SCHEMA,
        )
        before = sorted(
            r.doc_id for r in incremental_near_dedup(
                probe, store, threshold=0.6, update_store=False, epoch=50
            ).collect()
        )
        stats = compact_near_store(spark, store)
        assert stats["compacted"] and stats["inputs"] >= 8
        after = sorted(
            r.doc_id for r in incremental_near_dedup(
                probe, store, threshold=0.6, update_store=False, epoch=50
            ).collect()
        )
        assert after == before == [902]
        # folded into exactly one epoch dir per substore
        import os

        assert os.listdir(f"{store}/sigs") == ["batch_id=0"]
        assert os.listdir(f"{store}/bands") == ["batch_id=0"]
        # compacting again is a no-op rewrite with the same counts
        stats2 = compact_near_store(spark, store)
        assert stats2["signatures"] == stats["signatures"]
        assert stats2["band_rows"] == stats["band_rows"]

    def test_near_store_compaction_dedups_signatures(self, spark, tmp_path):
        from pulsar_spark.functions.dedupe import compact_near_store

        store = str(tmp_path / "s")
        one = spark.createDataFrame([(1, BASE, "w")], SCHEMA)
        # the same signature committed in three epochs stores three
        # copies; compaction keeps ONE
        for epoch in range(3):
            commit_near_fingerprints(one, store, epoch=epoch)
        stats = compact_near_store(spark, store)
        assert stats["signatures"] == 1

    def test_exact_store_compaction(self, spark, tmp_path):
        from pulsar_spark.functions.dedupe import (
            compact_fingerprint_store,
            incremental_exact_dedup,
        )

        store = str(tmp_path / "fp")
        for epoch in range(3):
            batch = spark.createDataFrame(
                [(epoch * 10 + j, _distinct_text(j), "w") for j in range(3)],
                SCHEMA,
            )
            incremental_exact_dedup(batch, store, epoch=epoch)
        stats = compact_fingerprint_store(spark, store)
        # 3 distinct texts total (same texts re-committed never land:
        # the anti-join dropped them in epochs 1-2)
        assert stats == {"fingerprints": 3, "inputs": 3, "compacted": True}
        probe = spark.createDataFrame(
            [(70, _distinct_text(0), "w"), (71, _distinct_text(77), "w")], SCHEMA
        )
        got = sorted(
            r.doc_id for r in incremental_exact_dedup(
                probe, store, update_store=False, epoch=9
            ).collect()
        )
        assert got == [71]

    def test_interrupted_swap_recovers(self, spark, tmp_path):
        from pulsar_spark.functions.dedupe import (
            compact_fingerprint_store,
            incremental_exact_dedup,
        )

        store = str(tmp_path / "fp")
        incremental_exact_dedup(
            spark.createDataFrame([(1, BASE, "w")], SCHEMA), store, epoch=0
        )
        compact_fingerprint_store(spark, store)
        # simulate a crash between the two swap renames: store gone,
        # rewrite present
        import os

        os.rename(store, store + "__rewrite")
        stats = compact_fingerprint_store(spark, store)
        assert stats["compacted"] and stats["fingerprints"] == 1

    def test_epoch_none_probe_sees_compacted_history(self, spark, tmp_path):
        """Compaction folds loose appends into a batch_id dir; a
        non-epoch probe must still see that history (it previously read
        only root part files — every seen duplicate would silently
        re-admit after a compaction)."""
        from pulsar_spark.functions.dedupe import (
            compact_fingerprint_store,
            compact_near_store,
            incremental_exact_dedup,
        )

        store = str(tmp_path / "fp")
        one = spark.createDataFrame([(1, BASE, "w")], SCHEMA)
        incremental_exact_dedup(one, store)  # flat append (epoch=None)
        compact_fingerprint_store(spark, store)
        again = spark.createDataFrame([(2, BASE, "w")], SCHEMA)
        assert incremental_exact_dedup(again, store).count() == 0
        # near store, same contract
        nstore = str(tmp_path / "near")
        incremental_near_dedup(
            spark.createDataFrame([(1, BASE, "w")], SCHEMA), nstore, threshold=0.6
        )
        compact_near_store(spark, nstore)
        got = incremental_near_dedup(
            spark.createDataFrame([(2, BASE + " tail", "w")], SCHEMA),
            nstore, threshold=0.6, update_store=False,
        )
        assert got.count() == 0

    def test_probe_recovers_torn_compaction_swap(self, spark, tmp_path):
        """A compaction that died between its two swap renames must not
        make the next probe see an EMPTY store (silently re-admitting
        every duplicate)."""
        import os

        from pulsar_spark.functions.dedupe import (
            compact_fingerprint_store,
            incremental_exact_dedup,
        )

        store = str(tmp_path / "fp")
        incremental_exact_dedup(
            spark.createDataFrame([(1, BASE, "w")], SCHEMA), store, epoch=0
        )
        compact_fingerprint_store(spark, store)
        os.rename(store, store + "__rewrite")  # crash between renames
        got = incremental_exact_dedup(
            spark.createDataFrame([(2, BASE, "w")], SCHEMA), store,
            update_store=False, epoch=1,
        )
        assert got.count() == 0  # history intact after recovery

    def test_previous_probe_result_survives_next_call(self, spark, tmp_path):
        """The lazy frame returned by call N references its signature
        scratch; call N+1 must not delete it (scratch dies at N+2)."""
        store = str(tmp_path / "s")
        r1 = incremental_near_dedup(
            spark.createDataFrame([(1, _distinct_text(1), "w")], SCHEMA),
            store, threshold=0.6, epoch=0,
        )
        r2 = incremental_near_dedup(
            spark.createDataFrame([(2, _distinct_text(2), "w")], SCHEMA),
            store, threshold=0.6, epoch=1,
        )
        # evaluate call 0's result AFTER call 1 ran
        assert [r.doc_id for r in r1.collect()] == [1]
        assert [r.doc_id for r in r2.collect()] == [2]

    def test_empty_store_is_noop(self, spark, tmp_path):
        from pulsar_spark.functions.dedupe import (
            compact_fingerprint_store,
            compact_near_store,
        )

        assert not compact_fingerprint_store(spark, str(tmp_path / "x"))["compacted"]
        assert not compact_near_store(spark, str(tmp_path / "y"))["compacted"]


def _files_under(d: str) -> list[str]:
    import os

    return [n for n in os.listdir(d) if not n.startswith((".", "_"))]


class TestFlatBandStore:
    """Every near-store commit writes flat part files, epoch commits
    under ``bands/batch_id=N`` and ``sigs/batch_id=N``. Stores written by
    older engine versions hold band epochs partitioned into
    ``band_pfx=P`` subdirectories; one scan reads them next to flat
    epochs and loose appends, and compaction folds them flat."""

    def _old_layout_epoch(self, spark, store, tmp_path, epoch):
        """Rewrite ``bands/batch_id=epoch`` into the older ``band_pfx=``
        layout: one hive partition per ``pmod(band_hash, 256)``."""
        import shutil

        d = f"{store}/bands/batch_id={epoch}"
        old = str(tmp_path / "old_layout")
        (
            spark.read.parquet(d)
            .withColumn("band_pfx", F.expr("CAST(pmod(band_hash, 256) AS INT)"))
            .write.partitionBy("band_pfx")
            .parquet(old)
        )
        shutil.rmtree(d)
        shutil.move(old, d)
        assert all(n.startswith("band_pfx=") for n in _files_under(d))

    def _mixed_store(self, spark, store, tmp_path):
        # epoch 0 in the older band_pfx layout, epoch 1 flat, and loose
        # root appends from an epoch-less commit
        def one(i, text):
            return spark.createDataFrame([(i, text, "w")], SCHEMA)

        commit_near_fingerprints(one(1, BASE), store, epoch=0)
        self._old_layout_epoch(spark, store, tmp_path, 0)
        commit_near_fingerprints(one(2, _distinct_text(2)), store, epoch=1)
        commit_near_fingerprints(one(3, _distinct_text(3)), store)

    def _probe(self, spark, store):
        docs = spark.createDataFrame(
            [
                (10, BASE + " edited", "w"),
                (11, _distinct_text(2) + " x", "w"),
                (12, _distinct_text(3) + " y", "w"),
                (13, _distinct_text(13), "w"),
            ],
            SCHEMA,
        )
        out = incremental_near_dedup(docs, store, threshold=0.6, update_store=False)
        return sorted(r.doc_id for r in out.collect())

    def test_epoch_commit_writes_flat_band_files(self, spark, tmp_path):
        store = str(tmp_path / "s")
        s0 = incremental_near_dedup(
            spark.createDataFrame([(1, BASE, "w"), (2, _distinct_text(2), "w")], SCHEMA),
            store, threshold=0.6, epoch=0, update_store=False,
        )
        commit_near_fingerprints(s0, store, epoch=0)
        for sub in ("bands", "sigs"):
            names = _files_under(f"{store}/{sub}/batch_id=0")
            assert names and all(n.startswith("part-") for n in names), names
        bands = spark.read.parquet(f"{store}/bands/batch_id=0")
        assert bands.columns == ["_fp", "band_idx", "band_hash"]
        assert bands.count() == 2 * 16

    def test_probe_over_mixed_layouts_drops_recrawls(self, spark, tmp_path):
        store = str(tmp_path / "s")
        self._mixed_store(spark, store, tmp_path)
        # recrawls of all three layouts' docs drop in one epoch-less probe
        assert self._probe(spark, store) == [13]

    def test_compaction_folds_mixed_layouts(self, spark, tmp_path):
        from pulsar_spark.functions.dedupe import compact_near_store

        store = str(tmp_path / "s")
        self._mixed_store(spark, store, tmp_path)
        before = self._probe(spark, store)
        stats = compact_near_store(spark, store)
        assert stats["compacted"] and stats["band_rows"] == 3 * 16
        for sub in ("bands", "sigs"):
            assert _files_under(f"{store}/{sub}") == ["batch_id=0"]
            names = _files_under(f"{store}/{sub}/batch_id=0")
            assert names and all(n.startswith("part-") for n in names), names
        assert self._probe(spark, store) == before == [13]


class TestDriverSideListing:
    def test_store_scan_over_40_epochs_lists_on_driver(self, spark, tmp_path):
        """A rolling crawl's store passes Spark's default 32-path limit
        for driver-side listing; past it, building the scan runs a
        distributed listing job. The session threshold keeps a
        40-epoch store on the driver: 0 jobs, against 1 at 32."""
        import uuid

        from pulsar_spark.functions.dedupe import _EXACT_STORE, _scan_store, _store_paths

        store = str(tmp_path / "fp")
        spark.range(40).selectExpr(
            "id AS batch_id", "md5(CAST(id AS STRING)) AS _fp"
        ).write.partitionBy("batch_id").parquet(store)
        paths = _store_paths(spark, store, None)
        assert len(paths) == 40
        sc = spark.sparkContext

        def jobs_to_build_scan():
            group = "store-scan-" + uuid.uuid4().hex
            sc.setJobGroup(group, group)
            try:
                _scan_store(spark, paths, _EXACT_STORE)
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
            sc._jsc.sc().listenerBus().waitUntilEmpty()
            return len(sc.statusTracker().getJobIdsForGroup(group))

        key = "spark.sql.sources.parallelPartitionDiscovery.threshold"
        assert jobs_to_build_scan() == 0
        prev = spark.conf.get(key)
        spark.conf.set(key, "32")
        try:
            assert jobs_to_build_scan() == 1
        finally:
            spark.conf.set(key, prev)
