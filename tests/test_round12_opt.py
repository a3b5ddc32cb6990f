"""Round-12 optimization-round focused tests: behavioral pins for the
operator-internal changes (outputs were re-verified against the DuckDB
oracle; these cover the edges the oracle fixtures don't isolate)."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest


@pytest.fixture(scope="module")
def spark():
    from pulsar_spark import get_spark

    return get_spark("test-r12-opt")


def _cluster_rows(df):
    return sorted(
        (r["id"], r["cluster_id"], r["cluster_size"]) for r in df.collect()
    )


class TestPreferDriverClusters:
    PAIRS = [
        (1, 2), (2, 3),          # chain -> cluster 1, size 3
        (10, 11),                # pair -> cluster 10, size 2
        (20, 21), (20, 22), (21, 22),  # triangle -> cluster 20, size 3
    ]

    def test_matches_default_path(self, spark):
        from pulsar_spark.functions.dedupe import near_dup_clusters

        pairs = spark.createDataFrame(self.PAIRS, ["id_a", "id_b"])
        base = _cluster_rows(near_dup_clusters(pairs))
        fast = near_dup_clusters(pairs, prefer_driver=True)
        assert getattr(fast, "_psk_local", False)
        assert _cluster_rows(fast) == base

    def test_fallback_to_distributed_matches(self, spark):
        # A threshold below the pair count rejects the driver fast path;
        # the prefer_driver fallback must land on the SAME labeling via
        # the distributed loop (and not re-probe the sym fast path).
        from pyspark.storagelevel import StorageLevel

        from pulsar_spark.functions.dedupe import near_dup_clusters

        pairs = spark.createDataFrame(self.PAIRS, ["id_a", "id_b"])
        base = _cluster_rows(near_dup_clusters(pairs))
        slow = near_dup_clusters(
            pairs, prefer_driver=True, driver_union_find_max_edges=4
        )
        assert not getattr(slow, "_psk_local", False)
        assert _cluster_rows(slow) == base

    def test_threshold_routing_matches_default(self, spark):
        # max_edges=2*n_pairs must still take the fast path in BOTH
        # modes (prefer_driver compares raw pairs against max//2, the
        # default compares sym rows against max — same graphs, same
        # path).
        from pulsar_spark.functions.dedupe import near_dup_clusters

        pairs = spark.createDataFrame(self.PAIRS, ["id_a", "id_b"])
        n = len(self.PAIRS)
        fast = near_dup_clusters(
            pairs, prefer_driver=True, driver_union_find_max_edges=2 * n
        )
        assert getattr(fast, "_psk_local", False)
        assert _cluster_rows(fast) == _cluster_rows(near_dup_clusters(pairs))


class TestPinnedShingleHashVerify:
    def test_pin_path_pairs_identical(self, spark):
        # The shingle_hashes fast path in minhash_near_duplicates must
        # produce byte-identical verified pairs to the re-shingling
        # path.
        from pulsar_spark.functions.dedupe import (
            minhash_near_duplicates,
            minhash_signatures,
        )

        docs = spark.createDataFrame(
            [
                (1, "the quick brown fox jumps over the lazy dog tonight"),
                (2, "the quick brown fox jumps over the lazy dog today"),
                (3, "a completely different document about spark tuning"),
                (4, "the quick brown fox jumps over the lazy dog tonight"),
                (5, "ab"),  # too short to shingle (k=3)
            ],
            ["doc_id", "text"],
        )
        plain = minhash_near_duplicates(docs, threshold=0.5)
        pinned_sigs = (
            minhash_signatures(docs, "text", "doc_id", 64, 3, bands=16)
            .select(
                "doc_id", "signature", "band_hashes",
                F.transform("shingles", lambda s: F.xxhash64(s)).alias(
                    "shingle_hashes"
                ),
            )
            .localCheckpoint()
        )
        pinned = minhash_near_duplicates(docs, threshold=0.5, sigs=pinned_sigs)
        key = lambda r: (r["id_a"], r["id_b"], r["jaccard"])
        assert sorted(map(key, plain.collect())) == sorted(
            map(key, pinned.collect())
        )
        spark.catalog.clearCache()


class TestProbePinLifetime:
    def test_block_count_flat_across_probes(self, spark, tmp_path):
        # VERDICT r11 #6: pin lifetime must be bounded explicitly. Ten
        # consecutive probe calls may not accumulate signature-pin RDD
        # blocks — the per-call unpersist frees the big pin, so total
        # persisted bytes stay bounded by the (tiny) decision pins of
        # the last probes awaiting async ContextCleaner, not by
        # 10 x the signature pin.
        import gc

        from pulsar_spark.functions.dedupe import (
            commit_near_fingerprints,
            incremental_near_dedup,
        )

        docs = spark.createDataFrame(
            [(i, f"alpha bravo charlie delta echo foxtrot {i} " * 8)
             for i in range(200)],
            ["doc_id", "text"],
        )
        store = str(tmp_path / "store")
        commit_near_fingerprints(docs, store, epoch=1)
        probe = docs.select(
            (F.col("doc_id") + 10_000).alias("doc_id"), "text"
        )
        sc = spark.sparkContext

        def persisted_bytes():
            infos = sc._jsc.sc().getRDDStorageInfo()
            return sum(i.memSize() + i.diskSize() for i in infos)

        sizes = []
        for _ in range(10):
            incremental_near_dedup(
                probe, store, threshold=0.7, update_store=False, epoch=2
            ).count()
            gc.collect()
            sizes.append(persisted_bytes())
        # Flat, not linear: the steady-state footprint after probe 10
        # must not exceed 3x the footprint after probe 1 (one probe's
        # decision pins +- cleaner lag), where a leak of the signature
        # pin alone would grow it ~10x.
        assert sizes[-1] <= max(3 * max(sizes[0], 1), 1_000_000), sizes


class TestUnpersistPin:
    def test_frees_checkpoint_blocks(self, spark):
        from pulsar_spark.functions.dedupe import _unpersist_pin

        sc = spark.sparkContext

        def pin_rdd_ids():
            return {i.id() for i in sc._jsc.sc().getRDDStorageInfo()}

        before = pin_rdd_ids()
        ck = spark.range(10_000).withColumn("x", F.rand(7)).localCheckpoint()
        assert ck.count() == 10_000
        new_ids = pin_rdd_ids() - before
        assert new_ids  # the checkpoint registered blocks
        _unpersist_pin(ck)
        import time

        for _ in range(50):  # executor-side drop is async
            if not (pin_rdd_ids() & new_ids):
                break
            time.sleep(0.1)
        assert not (pin_rdd_ids() & new_ids)

    def test_best_effort_on_non_checkpoint(self, spark):
        from pulsar_spark.functions.dedupe import _unpersist_pin

        df = spark.range(10).withColumn("y", F.col("id") * 2)
        _unpersist_pin(df)  # must not raise
        assert df.count() == 10

