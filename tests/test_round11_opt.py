"""Round-11 optimization-round focused tests: each optimization that
changed an operator's INTERNALS gets a behavioral pin here (outputs
were already re-verified against the DuckDB oracle; these cover the
edges the oracle fixtures don't isolate)."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest


@pytest.fixture(scope="module")
def spark():
    from pulsar_spark import get_spark

    return get_spark("test-r11-opt")


class TestChunkDedupFusedAggregate:
    def test_all_chunks_removed_doc_keeps_total(self, spark):
        # Both docs share their single 3-word chunk -> every chunk is
        # boilerplate. The fused aggregate must still report the TOTAL
        # chunk count (count(*) over the nd join preserves all rows)
        # while the rebuilt text collapses to ''.
        from pulsar_spark.functions.dedupe import remove_duplicated_chunks

        docs = spark.createDataFrame(
            [(1, "a b c"), (2, "a b c")], ["doc_id", "text"]
        )
        out = {
            r["doc_id"]: r
            for r in remove_duplicated_chunks(docs, chunk_words=3).collect()
        }
        for i in (1, 2):
            assert out[i]["text"] == ""
            assert out[i]["n_chunks"] == 1
            assert out[i]["n_removed"] == 1

    def test_mixed_doc_counts_and_order(self, spark):
        # doc 1: chunk A (shared) + chunk B (unique) -> B survives, in
        # original position order; totals count both.
        from pulsar_spark.functions.dedupe import remove_duplicated_chunks

        docs = spark.createDataFrame(
            [(1, "x y z u v w"), (2, "x y z q r s")], ["doc_id", "text"]
        )
        out = {
            r["doc_id"]: r
            for r in remove_duplicated_chunks(docs, chunk_words=3).collect()
        }
        assert out[1]["text"] == "u v w" and out[1]["n_chunks"] == 2
        assert out[1]["n_removed"] == 1
        assert out[2]["text"] == "q r s" and out[2]["n_removed"] == 1

    def test_chunkless_doc_survives_with_zero_totals(self, spark):
        from pulsar_spark.functions.dedupe import remove_duplicated_chunks

        docs = spark.createDataFrame([(7, "")], ["doc_id", "text"])
        [r] = remove_duplicated_chunks(docs, chunk_words=3).collect()
        assert (r["text"], r["n_chunks"], r["n_removed"]) == ("", 0, 0)


class TestUnionFindLimitCollectBoundary:
    def _clusters(self, spark, pairs, max_edges):
        from pulsar_spark.functions.dedupe import near_dup_clusters

        df = spark.createDataFrame(pairs, ["id_a", "id_b"])
        return near_dup_clusters(df, driver_union_find_max_edges=max_edges)

    def test_at_threshold_uses_fast_path(self, spark):
        # 2 pairs -> 4 symmetric edges == max_edges: fast path, marked
        # driver-local.
        out = self._clusters(spark, [(1, 2), (3, 4)], max_edges=4)
        assert getattr(out, "_psk_local", False) is True
        rows = {r["id"]: r for r in out.collect()}
        assert rows[2]["cluster_id"] == 1 and rows[4]["cluster_id"] == 3

    def test_above_threshold_distributed_path_same_labels(self, spark):
        # 4 symmetric edges > max_edges=3: distributed loop; identical
        # canonical labels, and NOT marked local.
        out = self._clusters(spark, [(1, 2), (3, 4)], max_edges=3)
        assert getattr(out, "_psk_local", False) is False
        rows = {r["id"]: r for r in out.collect()}
        assert rows[2]["cluster_id"] == 1 and rows[4]["cluster_id"] == 3
        assert all(r["cluster_size"] == 2 for r in rows.values())


class TestIncrementalNearNoScratch:
    def test_probe_writes_no_scratch(self, spark, tmp_path):
        # the per-batch pin is a localCheckpoint: a probe leaves nothing
        # in the store beyond what a commit writes
        import os

        from pulsar_spark.functions.dedupe import (
            commit_near_fingerprints,
            incremental_near_dedup,
        )

        store = str(tmp_path / "store")
        docs = spark.createDataFrame(
            [(i, f"alpha beta gamma delta {i} epsilon zeta") for i in range(8)],
            ["doc_id", "text"],
        )
        commit_near_fingerprints(docs, store, epoch=1)
        probe = docs.select((F.col("doc_id") + 100).alias("doc_id"), "text")
        out = incremental_near_dedup(
            probe, store, threshold=0.9, update_store=False, epoch=2
        )
        assert out.count() == 0
        assert sorted(os.listdir(store)) == ["bands", "sigs"]

    def test_survivors_keep_all_input_columns(self, spark, tmp_path):
        # the loser-id anti-join must return the caller's FULL rows
        # (the pre-r11 scratch spill did; the re-attach join must too)
        from pulsar_spark.functions.dedupe import incremental_near_dedup

        store = str(tmp_path / "store2")
        docs = spark.createDataFrame(
            [(1, "one two three four five six", "web"),
             (2, "seven eight nine ten eleven twelve", "web")],
            ["doc_id", "text", "source"],
        )
        out = incremental_near_dedup(docs, store, threshold=0.9, epoch=0)
        assert sorted(out.columns) == ["doc_id", "source", "text"]
        assert out.count() == 2


class TestSymmetrizeExplode:
    """r11: near_dup_clusters symmetrizes by explode (pairs evaluated
    once) and drops the redundant distinct — both consumers are
    multiplicity-insensitive, so duplicate / both-direction pair lists
    must still produce identical canonical clusters on BOTH paths."""

    def _run(self, spark, rows, max_edges):
        from pulsar_spark.functions.dedupe import near_dup_clusters

        pairs = spark.createDataFrame(rows, ["id_a", "id_b"])
        out = near_dup_clusters(pairs, driver_union_find_max_edges=max_edges)
        return {r["id"]: (r["cluster_id"], r["cluster_size"]) for r in out.collect()}

    def test_duplicate_and_reversed_pairs_fast_path(self, spark):
        rows = [(1, 2), (1, 2), (2, 1), (3, 4)]  # dup + reversed noise
        got = self._run(spark, rows, max_edges=500)
        assert got == {1: (1, 2), 2: (1, 2), 3: (3, 2), 4: (3, 2)}

    def test_duplicate_and_reversed_pairs_distributed_path(self, spark):
        rows = [(1, 2), (1, 2), (2, 1), (3, 4)]
        got = self._run(spark, rows, max_edges=0)  # pin the loop path
        assert got == {1: (1, 2), 2: (1, 2), 3: (3, 2), 4: (3, 2)}


class TestLoadTableSchemaCache:
    def test_second_load_pays_no_job_and_same_schema(self, spark, tmp_path):
        # r11: load_table caches the inferred file schema (metadata
        # only — data is re-read every load). The second load of the
        # same table must schedule ZERO jobs and produce an identical
        # schema and row set.
        import pulsar_spark.sources.loader as loader
        from pulsar_spark.sources import load_table

        sf = str(tmp_path)
        spark.range(5).selectExpr("id AS doc_id", "'t' AS text").write.parquet(
            f"{sf}/documents.parquet"
        )
        d1 = load_table(spark, sf, "documents")
        s1, n1 = d1.schema, d1.count()
        # r12: the cache key carries the table mtime (stale-schema guard)
        assert any(
            k[0] == f"{sf}/documents.parquet" for k in loader._SCHEMA_CACHE
        )
        sc = spark.sparkContext
        sc.setJobGroup("schema-cache-probe", "schema-cache-probe")
        d2 = load_table(spark, sf, "documents")
        ids = sc.statusTracker().getJobIdsForGroup("schema-cache-probe")
        assert len(ids) == 0
        assert d2.schema == s1
        assert d2.count() == n1


class TestDropSetNoDistinct:
    def test_history_drop_set_correct_without_distinct(self, spark, tmp_path):
        # r11: `dropped` lost its .distinct() (left_anti ignores dup
        # keys). A probe doc colliding with TWO stored near-dups — the
        # duplicate-drop-row case — must still drop exactly once, and
        # non-matching docs must survive.
        from pulsar_spark.functions.dedupe import (
            commit_near_fingerprints,
            incremental_near_dedup,
        )

        base = " ".join(f"w{j}" for j in range(40))
        store = str(tmp_path / "store")
        stored = spark.createDataFrame(
            [(1, base + " tailone"), (2, base + " tailtwo")],
            ["doc_id", "text"],
        )
        commit_near_fingerprints(stored, store, epoch=0)
        probe = spark.createDataFrame(
            [(10, base + " tailthree"), (11, "unrelated " * 20)],
            ["doc_id", "text"],
        )
        out = incremental_near_dedup(
            probe, store, threshold=0.7, update_store=False, epoch=1
        )
        assert [r.doc_id for r in out.collect()] == [11]
