"""Scale smoke test: the headline write/scan/fold paths at ~50x sf0.1
(5M rows), demonstrating that the per-row throughputs BASELINE.md's
B1/B2 targets ask for are a fixed-cost artifact at 100k rows, not a
plan-shape problem.

Usage: SPARK_GRAFT_CPUS=32 python tools/scale_smoke.py [replication]

Prints one JSON line with rows/s per path. The input is the sf0.1
events table cross-joined with a replication range (event ids
perturbed so dedup keys stay realistic).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time


def main() -> None:
    rep = int(sys.argv[1]) if len(sys.argv) > 1 else 50
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

    from pyspark.sql import functions as F

    from pulsar_spark import get_spark
    from pulsar_spark.operators import compact_publish_order, dedup_messages
    from pulsar_spark.sources import load_table
    from pulsar_spark.sources.topics import produce

    spark = get_spark("scale-smoke")
    spark.sparkContext.setLogLevel("ERROR")

    events = load_table(spark, "/root/testdata/sf0.1", "events")
    big = (
        events.crossJoin(spark.range(rep).withColumnRenamed("id", "rep"))
        .withColumn("event_id", F.col("event_id") + F.col("rep") * 1_000_000)
        .drop("rep")
    )
    n = big.count()

    out: dict[str, float] = {"rows": n}
    tmp = tempfile.mkdtemp(prefix="pulsar_spark_scale_")
    try:
        t0 = time.perf_counter()
        produce(big, f"{tmp}/topic", key_col="user_id", num_partitions=32, mode="overwrite")
        out["produce_rows_per_sec"] = round(n / (time.perf_counter() - t0))

        msgs = spark.read.parquet(f"{tmp}/topic").withColumn("tombstone", F.lit(False))
        t0 = time.perf_counter()
        compact_publish_order(msgs).count()
        out["compaction_sec"] = round(time.perf_counter() - t0, 2)

        t0 = time.perf_counter()
        dedup_messages(msgs).count()
        out["dedup_sec"] = round(time.perf_counter() - t0, 2)

        t0 = time.perf_counter()
        msgs.where("offset % 3 = 0").count()
        out["scan_filter_rows_per_sec"] = round(n / (time.perf_counter() - t0))

        # corpus paths at scale: replicate documents (ids perturbed so
        # dedup keys stay realistic) and run the hygiene + packing
        # pipelines — the narrow stages should scale ~linearly, the
        # gram join sublinearly in wall time per row
        from pulsar_spark.functions import hash_sample, packing_stats, redact_pii

        docs = load_table(spark, "/root/testdata/sf0.1", "documents")
        doc_rep = max(2, rep // 5)
        bigdocs = (
            docs.crossJoin(spark.range(doc_rep).withColumnRenamed("id", "rep"))
            .withColumn("doc_id", F.col("doc_id") + F.col("rep") * 10_000_000)
            .drop("rep")
        )
        nd = bigdocs.count()
        out["docs"] = nd

        t0 = time.perf_counter()
        hash_sample(bigdocs, 0.5, seed=1).select(
            F.sum(F.length(redact_pii(F.col("text"))))
        ).collect()
        out["sample_scrub_docs_per_sec"] = round(nd / (time.perf_counter() - t0))

        t0 = time.perf_counter()
        packing_stats(bigdocs, seq_len=2048).count()
        out["packing_sec"] = round(time.perf_counter() - t0, 2)

        # token-budget selection at scale: the per-score-group variant
        # (no global row sort) vs the exact global-sort oracle — the
        # scale path should stay flat-ish while the exact one pays a
        # single-task sort of the whole corpus
        from pulsar_spark.functions import (
            quality_metrics,
            select_by_token_budget,
            select_by_token_budget_exact,
        )

        scored = (
            quality_metrics(bigdocs)
            .where(F.col("n_tokens") >= 5)
            .withColumn("score", F.round(F.col("distinct_ratio"), 6))
        )
        t0 = time.perf_counter()
        select_by_token_budget(scored, 10_000_000).count()
        out["select_scalable_sec"] = round(time.perf_counter() - t0, 2)
        t0 = time.perf_counter()
        select_by_token_budget_exact(scored, 10_000_000).count()
        out["select_exact_sec"] = round(time.perf_counter() - t0, 2)

        # near-dup + dup-span at scale: the replicated corpus is the
        # adversarial case for LSH (every doc has doc_rep exact copies,
        # so buckets are saturated) — the star guard must keep the pair
        # set linear and the hashed-gram shuffles must stay bounded
        from pulsar_spark.functions import dup_span_fraction, minhash_near_duplicates

        t0 = time.perf_counter()
        minhash_near_duplicates(bigdocs, threshold=0.5, max_bucket_size=512).count()
        out["minhash_sec"] = round(time.perf_counter() - t0, 2)

        t0 = time.perf_counter()
        dup_span_fraction(hash_sample(bigdocs, 0.5, seed=1), n=5).count()
        out["dup_span_sec"] = round(time.perf_counter() - t0, 2)

        # round-3 additions at scale: the deterministic corpus shuffle
        # (one window per shard — wall should track corpus/shards) and
        # the HLL sketch accounting (single pass, map-side partials)
        from pulsar_spark.functions import deterministic_shuffle, sketch_token_stats

        t0 = time.perf_counter()
        deterministic_shuffle(bigdocs, seed=7, num_shards=64).count()
        out["shuffle_order_docs_per_sec"] = round(nd / (time.perf_counter() - t0))

        t0 = time.perf_counter()
        sketch_token_stats(bigdocs, group_col="source").count()
        out["sketch_stats_sec"] = round(time.perf_counter() - t0, 2)

        # round-7 additions at scale — the 50x gate is the repo's only
        # codegen-fallback detector, so every new operator family gets
        # a line here. Bloom decontamination: distributed filter build
        # + codegen probe + exact confirm; wall should track corpus
        # grams, never |bench| x |corpus|.
        from pulsar_spark.functions import contamination_check_bloom

        t0 = time.perf_counter()
        contamination_check_bloom(
            bigdocs.where("doc_id % 97 != 0"),
            bigdocs.where("doc_id % 97 = 0"),
            n=5,
        ).count()
        out["contamination_bloom_sec"] = round(time.perf_counter() - t0, 2)

        # URL canonicalization + keep-one dedup: one codegen expression
        # chain + one hash window
        from pulsar_spark.functions.urls import url_dedup

        with_urls = bigdocs.withColumn(
            "url",
            F.concat(
                F.lit("HTTP://WWW.Site"),
                (F.col("doc_id") % 100_000).cast("string"),
                F.lit(".COM:80/a/b?b=2&a=1#frag"),
            ),
        )
        t0 = time.perf_counter()
        url_dedup(with_urls).count()
        out["url_dedup_docs_per_sec"] = round(nd / (time.perf_counter() - t0))

        # repeated-line removal (word-granularity here: the fixture has
        # no newlines): a 0-shuffle array_distinct projection
        from pulsar_spark.functions import remove_repeated_lines

        t0 = time.perf_counter()
        remove_repeated_lines(bigdocs, sep=" ").select(
            F.sum("n_lines_removed")
        ).collect()
        out["repeated_lines_docs_per_sec"] = round(nd / (time.perf_counter() - t0))

        # audio fingerprinting: fused wav-decode + Haitsma-Kalker hash
        # in Arrow batches over ~10x the sf0.1 clip fixture, then the
        # Hamming-banded join (dense pattern buckets hit the star
        # guard here by design — the timing is decode+hash-bound)
        import functools

        from pulsar_spark import fixtures
        from pulsar_spark.functions.phash import (
            audio_fingerprint_media,
            phash_near_dups,
        )

        media = fixtures.media_frame(
            docs.select("doc_id"), functools.partial(fixtures.wav, perturb=True)
        )
        bigmedia = (
            media.crossJoin(spark.range(doc_rep).withColumnRenamed("id", "rep"))
            .withColumn("media_id", F.col("media_id") + F.col("rep") * 10_000_000)
            .drop("rep")
        )
        nm = bigmedia.count()
        out["clips"] = nm
        t0 = time.perf_counter()
        phash_near_dups(
            audio_fingerprint_media(bigmedia), max_hamming=3, hash_col="afp"
        ).count()
        out["audio_fp_clips_per_sec"] = round(nm / (time.perf_counter() - t0))

        # round-5 curation capstone at scale: gopher gate + trained
        # classifier + temperature mix + shuffle + pack over the
        # replicated corpus — all stages keyed/broadcast, so wall time
        # should track corpus size, not blow up
        from pulsar_spark.functions.curation import curate_corpus

        t0 = time.perf_counter()
        curate_corpus(
            bigdocs.select("doc_id", "text", "source", "n_chars"),
            total_rows=nd // 10,
            num_shards=64,
            seq_len=2048,
        ).count()
        out["curate_v4_docs_per_sec"] = round(nd / (time.perf_counter() - t0))

        # round-8 media kernels at scale: the GIF LZW / G.711 / Y4M
        # decode paths are fused Arrow passes (compressed bytes shuffle
        # once, pixels/samples never leave the worker), so items/sec
        # should be flat in corpus size — a codegen or batching
        # regression shows up as a falling rate, like the image codecs
        from pulsar_spark.functions.multimodal import decode_media
        from pulsar_spark.functions.video import sample_video_frames

        media_ids = bigdocs.select(
            (F.col("doc_id") % 50_000).alias("doc_id")
        ).distinct()
        bigav = fixtures.media_frame(media_ids, fixtures.av_mix).persist()
        nav = bigav.count()
        out["av_items"] = nav
        t0 = time.perf_counter()
        decode_media(bigav, strict=True).where("decode_ok").count()
        out["av_decode_items_per_sec"] = round(nav / (time.perf_counter() - t0))
        t0 = time.perf_counter()
        sample_video_frames(
            bigav.where("modality = 'video'"), every_n=2
        ).count()
        out["video_frame_sample_sec"] = round(time.perf_counter() - t0, 2)
        bigav.unpersist()

        # crawl ingestion at scale: 50k docs wrapped into multistream
        # .warc.gz archives (one per partition, like real ~1 GiB crawl
        # files), then the full parse -> HTTP -> charset -> HTML
        # extraction chain; docs/sec should be flat in corpus size
        # (one fused Arrow pass per archive, nothing but text shuffles)
        from pulsar_spark.sources.warc import warc_to_documents

        warc_dir = tempfile.mkdtemp(prefix="pulsar_spark_warc_")

        def _write_warc(batches):
            import html as html_mod
            import os
            import uuid

            import pandas as pd

            from pulsar_spark.sources.warc import encode_warc

            recs = []
            for pdf in batches:
                for d, text in zip(pdf["doc_id"], pdf["text"]):
                    body = (
                        f"<html><head><title>D{int(d)}</title></head><body>"
                        f"<p>{html_mod.escape(text)}</p></body></html>"
                    ).encode()
                    recs.append({
                        "warc_type": "response",
                        "record_id": f"urn:doc:{int(d)}",
                        "target_uri": f"http://h{int(d) % 100}.example.com/{int(d)}",
                        "payload": b"HTTP/1.1 200 OK\r\nContent-Type: text/html; "
                        b"charset=utf-8\r\n\r\n" + body,
                    })
            if recs:
                p = os.path.join(warc_dir, f"part-{uuid.uuid4().hex}.warc.gz")
                with open(p, "wb") as fh:
                    fh.write(encode_warc(recs))
            yield pd.DataFrame({"n": [len(recs)]})

        bigdocs.select("doc_id", "text").repartition(32).mapInPandas(
            _write_warc, "n bigint"
        ).agg(F.sum("n")).collect()
        t0 = time.perf_counter()
        warc_to_documents(spark, warc_dir + "/*.warc.gz").count()
        out["warc_ingest_docs_per_sec"] = round(nd / (time.perf_counter() - t0))
        shutil.rmtree(warc_dir, ignore_errors=True)

        # round-9 additions at scale — (a) incremental near-dup: one
        # micro-batch probed against a 50x-corpus signature store (the
        # probe side broadcasts; the store is scanned map-side, never
        # shuffled, so probe docs/sec must not fall with store size)
        from pulsar_spark.functions.dedupe import (
            commit_near_fingerprints,
            incremental_near_dedup,
        )

        store = tempfile.mkdtemp(prefix="pulsar_spark_neardup_") + "/store"
        commit_near_fingerprints(
            bigdocs.select("doc_id", "text"), store, epoch=1
        )
        probe = docs.select(
            (F.col("doc_id") + 999_000_000).alias("doc_id"), "text"
        )
        np_ = probe.count()
        t0 = time.perf_counter()
        incremental_near_dedup(
            probe, store, update_store=False, epoch=2
        ).count()
        out["incr_near_probe_docs_per_sec"] = round(
            np_ / (time.perf_counter() - t0)
        )

        shutil.rmtree(os.path.dirname(store), ignore_errors=True)

        # (b) replicated subscriptions at 50x topic size: the full
        # snapshot protocol (request -> answer -> complete) over a
        # 1M-row origin topic pays one-time incremental drains, then
        # the QUIESCENT tick — checkpoint-driven, file listings only —
        # must stay ~constant in topic size and read ZERO rows (this
        # band regression-gates the round-9 incremental controller)
        from pulsar_spark.streaming.replicated_subscriptions import (
            ReplicatedSubscriptionsController,
        )

        east, west = f"{tmp}/rs_east", f"{tmp}/rs_west"
        produce(big.where("event_id % 5 = 0"), east,
                key_col="user_id", num_partitions=8)
        produce(big.where("event_id % 5000 = 1"), west,
                key_col="user_id", num_partitions=8)
        ce = ReplicatedSubscriptionsController(spark, east, "east", {"west": west})
        cw = ReplicatedSubscriptionsController(spark, west, "west", {"east": east})
        t0 = time.perf_counter()
        assert ce.start_snapshot(now_ms=1_000) is not None
        ce.replicate_out()
        cw.tick(now_ms=2_000)
        ce.process_markers(now_ms=3_000)
        out["replsub_sync_sec"] = round(time.perf_counter() - t0, 2)
        assert len(ce._load()["snapshots"]) == 1
        for t in range(3):
            ce.tick(now_ms=4_000 + t)
            cw.tick(now_ms=4_000 + t)
        t0 = time.perf_counter()
        se = ce.tick(now_ms=9_000)
        sw = cw.tick(now_ms=9_000)
        out["replsub_quiescent_tick_sec"] = round(
            (time.perf_counter() - t0) / 2, 2
        )
        out["replsub_quiescent_rows"] = (
            se["markers"] + sw["markers"]
            + sum(se["forwarded"].values()) + sum(sw["forwarded"].values())
        )

        # scalable-topic ingest at scale: range routing + per-segment
        # offset window — same shape as classic produce, so throughput
        # should match B1
        from pulsar_spark.sources import create_scalable_topic, produce_scalable

        payload = big.selectExpr("CAST(user_id AS STRING) AS k", "event_id", "ts", "value")
        create_scalable_topic(f"{tmp}/scal", num_initial_segments=32)
        t0 = time.perf_counter()
        produce_scalable(payload, f"{tmp}/scal", key_col="k")
        out["scalable_produce_rows_per_sec"] = round(n / (time.perf_counter() - t0))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
