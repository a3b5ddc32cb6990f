"""The three benchmark workloads.

Each workload is one closed-loop client: ``setup()`` builds its fixture
through the engine, ``op(k)`` runs one identical unit of work and checks
its result, ``layer_metrics(...)`` turns a traced op into per-layer
numbers. Workloads call only the engine's public functions.
"""

from __future__ import annotations

import math
import os
import time

from pyspark.sql import functions as F

from pulsar_spark.functions.dedupe import (
    incremental_near_dedup,
    minhash_lsh_candidates,
    minhash_near_duplicates,
    minhash_signatures,
)
from pulsar_spark.functions.text import gopher_rules
from pulsar_spark.operators.compaction import compact_publish_order
from pulsar_spark.operators.dedup import dedup_messages
from pulsar_spark.operators.retention import ttl_filter, visible_messages
from pulsar_spark.operators.seek import seek_offsets_by_timestamp
from pulsar_spark.operators.stats import key_skew_stats
from pulsar_spark.operators.tableview import table_view
from pulsar_spark.operators.windows import sliding_window
from pulsar_spark.sources.cursors import ack_cumulative, create_subscription
from pulsar_spark.sources.topics import produce, read_topic
from pulsar_spark.streaming.subscribe import subscribe

from harness import SpanCounters, Tracer, median, tree_cpu_ms
import gen

DRAIN_TIMEOUT_S = 30
OPERATOR_KINDS = ("compaction", "tableview", "dedup", "windows", "retention", "seek", "stats")
_PROGRESS_SPLIT = {
    "latest_offset_ms": "latestOffset",
    "get_batch_ms": "getBatch",
    "query_planning_ms": "queryPlanning",
    "add_batch_ms": "addBatch",
    "wal_commit_ms": "walCommit",
    "commit_offsets_ms": "commitOffsets",
}

# Per-layer metrics with their units, in report order. Every traced run
# reports all of them; a layer a workload never calls reads 0.
PER_LAYER: dict[str, str] = {
    "sources.topics.produce_ms": "ms",
    "sources.topics.produce_jobs": "count",
    "sources.topics.produce_tasks": "count",
    "sources.topics.produce_files": "count",
    "sources.topics.produce_bytes": "bytes",
    "sources.topics.read_topic_ms": "ms",
    "streaming.subscribe.subscribe_ms": "ms",
    "streaming.subscribe.drain_ms": "ms",
    "streaming.subscribe.triggers": "count",
    "streaming.subscribe.backlog_rows": "rows",
    **{f"streaming.subscribe.{k}": "ms" for k in _PROGRESS_SPLIT},
    "sources.cursors.ack_ms": "ms",
    **{
        f"operators.{kind}.{m}": u
        for kind in OPERATOR_KINDS
        for m, u in (
            ("ms", "ms"), ("jobs", "count"), ("stages", "count"), ("tasks", "count"),
            ("shuffle_bytes", "bytes"), ("task_cpu_ms", "ms"),
        )
    },
    "functions.text.gate_ms": "ms",
    "functions.text.gate_rows_in": "rows",
    "functions.text.gate_rows_out": "rows",
    "functions.dedupe.near_dedup_ms": "ms",
    "functions.dedupe.jobs": "count",
    "functions.dedupe.tasks": "count",
    "functions.dedupe.shuffle_bytes": "bytes",
    "functions.dedupe.task_cpu_ms": "ms",
    "functions.dedupe.py_worker_cpu_ms": "ms",
    "functions.dedupe.store_files": "count",
    "functions.dedupe.lsh_candidates": "count",
    "functions.dedupe.lsh_verified": "count",
    "functions.dedupe.lsh_precision": "fraction",
    "engine.jobs": "count",
    "engine.stages": "count",
    "engine.tasks": "count",
    "engine.task_cpu_ms": "ms",
    "engine.task_run_ms": "ms",
    "engine.busy_frac": "fraction",
    "engine.shuffle_write_bytes": "bytes",
    "engine.spill_bytes": "bytes",
    "engine.gc_ms": "ms",
    "trace_overhead_ms": "ms",
}


def _files(root: str) -> tuple[int, int]:
    """(file count, total bytes) of the parquet files under ``root``."""
    n = size = 0
    for d, _, names in os.walk(root):
        for f in names:
            if f.endswith(".parquet"):
                n += 1
                size += os.path.getsize(os.path.join(d, f))
    return n, size


class Workload:
    name = ""

    def __init__(self, seed: int, scale: float):
        self.seed = seed
        self.scale = scale

    def bind(self, spark, work_dir: str, tracer: Tracer) -> None:
        """Point the workload at a (new) session and fixture directory."""
        self.spark = spark
        self.dir = work_dir
        self.tracer = tracer
        self.jvm_pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())
        os.makedirs(work_dir, exist_ok=True)

    # Inputs are generated once per run, before the timed set-ups; they
    # are the benchmark's, not the engine's, work.
    def make_inputs(self, input_dir: str) -> None:
        raise NotImplementedError

    def setup(self) -> None:
        raise NotImplementedError

    def op(self, k: int) -> tuple[int, str | None]:
        """Run op ``k``; return (input rows handled, failure or None)."""
        raise NotImplementedError

    def before_traced_op(self) -> dict:
        return {}

    def after_traced_op(self, before: dict) -> dict:
        return {}

    def layer_metrics(self, spans: dict[str, SpanCounters], extra: dict) -> dict[str, float]:
        raise NotImplementedError


class IngestConsume(Workload):
    """Produce a 10k-row events slice, drain it through a durable
    exclusive subscription into a checking foreachBatch sink, and
    acknowledge the drained positions."""

    name = "ingest_consume"
    SUB = "perfbench"

    def make_inputs(self, input_dir: str) -> None:
        n = max(1000, int(1_000_000 * self.scale))
        self.slices = gen.write_slices(gen.events(self.seed, n), input_dir, 10)
        self.slice_rows = n // 10

    def setup(self) -> None:
        self.topic = os.path.join(self.dir, "topic")
        self.ckpt = os.path.join(self.dir, "checkpoint")
        self.cursor: dict[int, int] = {}
        self._produce(0)
        create_subscription(self.topic, self.SUB)
        err = self._drain_and_ack()
        if err:
            raise RuntimeError(f"set-up drain failed: {err}")

    def _produce(self, k: int) -> None:
        payload = self.spark.read.schema(gen.EVENTS_SCHEMA_DDL).parquet(self.slices[k % 10])
        produce(payload, self.topic, key_col="user_id", num_partitions=8, event_time_col="ts")

    def op(self, k: int) -> tuple[int, str | None]:
        with self.tracer.span("sources.topics.produce"):
            self._produce(k)
        return self.slice_rows, self._drain_and_ack()

    def _drain_and_ack(self) -> str | None:
        seen: list = []

        def sink(batch_df, batch_id):
            seen.extend(
                batch_df.groupBy("partition")
                .agg(
                    F.min("offset").alias("lo"),
                    F.max("offset").alias("hi"),
                    F.count("*").alias("n"),
                    F.countDistinct("offset").alias("nd"),
                )
                .collect()
            )

        with self.tracer.span("streaming.subscribe.subscribe"):
            stream = subscribe(self.spark, self.topic, "exclusive")
        t0 = time.perf_counter()
        q = (
            stream.writeStream.foreachBatch(sink)
            .option("checkpointLocation", self.ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(DRAIN_TIMEOUT_S)
        if q.isActive:
            q.stop()
            return f"drain still active after {DRAIN_TIMEOUT_S} s"
        drain_ms = (time.perf_counter() - t0) * 1000.0
        if q.exception() is not None:
            return f"drain failed: {q.exception()}"
        if self.tracer.enabled:
            self.tracer.group("streaming.subscribe.drain", str(q.runId), drain_ms)
            self.progress = q.recentProgress
        err = self._check(seen)
        with self.tracer.span("sources.cursors.ack"):
            ack_cumulative(self.topic, self.SUB, self.cursor)
        return err

    def _check(self, seen: list) -> str | None:
        """Exactly once and contiguous: per partition, the delivered
        offsets are distinct and continue the acknowledged cursor with
        no gap, and together they are the slice just produced."""
        ranges: dict[int, list] = {}
        total = 0
        for r in seen:
            if r.n != r.nd or r.hi - r.lo + 1 != r.n:
                return f"partition {r.partition}: {r.n} rows, {r.nd} distinct offsets in [{r.lo}, {r.hi}]"
            ranges.setdefault(int(r.partition), []).append((r.lo, r.hi))
            total += r.n
        expected = self.slice_rows if self.cursor else None
        for p, rs in ranges.items():
            nxt = self.cursor.get(p, 0)
            for lo, hi in sorted(rs):
                if lo != nxt:
                    return f"partition {p}: expected offset {nxt}, got {lo}"
                nxt = hi + 1
            self.cursor[p] = nxt
        if expected is not None and total != expected:
            return f"delivered {total} rows, produced {expected}"
        return None

    def layer_metrics(self, spans, extra):
        p = spans.get("sources.topics.produce", SpanCounters())
        s = spans.get("streaming.subscribe.subscribe", SpanCounters())
        d = spans.get("streaming.subscribe.drain", SpanCounters())
        a = spans.get("sources.cursors.ack", SpanCounters())
        prog = getattr(self, "progress", [])
        out = {
            "sources.topics.produce_ms": p.ms,
            "sources.topics.produce_jobs": p.jobs,
            "sources.topics.produce_tasks": p.tasks,
            "sources.topics.produce_files": extra["produce_files"],
            "sources.topics.produce_bytes": extra["produce_bytes"],
            "streaming.subscribe.subscribe_ms": s.ms,
            "streaming.subscribe.drain_ms": d.ms,
            "streaming.subscribe.triggers": len(prog),
            "streaming.subscribe.backlog_rows": sum(pr.numInputRows for pr in prog),
            "sources.cursors.ack_ms": a.ms,
        }
        for metric, key in _PROGRESS_SPLIT.items():
            out[f"streaming.subscribe.{metric}"] = sum(
                pr.durationMs.get(key, 0) for pr in prog
            )
        return out

    def before_traced_op(self) -> dict:
        return dict(zip(("files", "bytes"), _files(self.topic)))

    def after_traced_op(self, before: dict) -> dict:
        n, size = _files(self.topic)
        return {"produce_files": n - before["files"], "produce_bytes": size - before["bytes"]}


# --- log_queries ------------------------------------------------------

# DuckDB reference queries over the topic parquet (view ``m``), one per
# operator kind; each must return the columns the engine call returns.
_REF_SQL = {
    "compaction": (
        "SELECT * EXCLUDE (rn) FROM (SELECT *, row_number() OVER "
        "(PARTITION BY key ORDER BY \"offset\" DESC) AS rn FROM m WHERE key IS NOT NULL) "
        "WHERE rn = 1 AND NOT tombstone"
    ),
    "tableview": (
        "SELECT key, event_type, value FROM (SELECT *, row_number() OVER "
        "(PARTITION BY key ORDER BY \"offset\" DESC) AS rn FROM m WHERE key IS NOT NULL) "
        "WHERE rn = 1 AND NOT tombstone"
    ),
    "dedup": (
        "SELECT * EXCLUDE (rn) FROM (SELECT *, row_number() OVER "
        "(PARTITION BY producer_name, event_id ORDER BY \"offset\") AS rn FROM m) WHERE rn = 1"
    ),
    "windows": (
        "SELECT count(*) AS n, sum(value) AS total_value, "
        "make_timestamp(ws) AS window_start, make_timestamp(ws + 3600000000) AS window_end "
        "FROM (SELECT value, (epoch_us(event_time) // 900000000 - k) * 900000000 AS ws "
        "FROM m, range(0, 4) r(k)) GROUP BY ws"
    ),
    "retention": (
        "SELECT * FROM m WHERE publish_time >= TIMESTAMP '{ttl_cutoff}' "
        "AND (deliver_at IS NULL OR deliver_at <= TIMESTAMP '{visible_at}')"
    ),
    "seek": (
        "SELECT partition, min(\"offset\") AS seek_offset FROM m "
        "WHERE publish_time >= TIMESTAMP '{seek_ts}' GROUP BY partition"
    ),
    "stats": (
        "WITH c AS (SELECT key, count(*) AS msg_count FROM m WHERE key IS NOT NULL "
        "GROUP BY key), t AS (SELECT sum(msg_count) AS total FROM c) "
        "SELECT key, msg_count, round(msg_count / total, 6) AS share FROM c, t "
        "ORDER BY msg_count DESC, key LIMIT 10"
    ),
}


def _spark_fingerprint(df) -> dict[str, float]:
    """Order-insensitive digest of a result: row count, and per column
    its non-null count plus a typed sum. Running it is the action that
    executes the query.

    The digest is one SQL statement over a temporary view rather than a
    list of Column objects: built through the Column API it took ~4,500
    py4j round trips per log_queries op, three quarters of the op's
    total, so the op timed the check's own chatter with the JVM (and
    every scheduling delay on it) as much as the engine."""
    cols = ["count(1) AS `rows`"]
    for f in df.schema.fields:
        c, t = f"`{f.name}`", f.dataType.typeName()
        cols.append(f"count({c}) AS `{f.name}.n`")
        if t in ("integer", "long", "short", "byte", "boolean"):
            cols.append(f"sum(CAST({c} AS BIGINT)) AS `{f.name}.sum`")
        elif t in ("double", "float"):
            cols.append(f"sum({c}) AS `{f.name}.sum`")
        elif t == "string":
            cols.append(f"sum(length({c})) AS `{f.name}.len`")
            cols.append(f"sum(ascii({c})) AS `{f.name}.ascii`")
        elif t == "timestamp":
            cols.append(f"sum(CAST(unix_micros({c}) AS DECIMAL(38,0))) AS `{f.name}.us`")
    df.createOrReplaceTempView("perfbench_result")
    sql = f"SELECT {', '.join(cols)} FROM perfbench_result"
    return df.sparkSession.sql(sql).collect()[0].asDict()


def _duck_fingerprint(con, sql: str) -> dict[str, float]:
    rel = con.sql(sql)
    cols = ["count(*) AS \"rows\""]
    for name, typ in zip(rel.columns, rel.dtypes):
        q, t = f'"{name}"', str(typ).upper()
        cols.append(f'count({q}) AS "{name}.n"')
        if t in ("INTEGER", "BIGINT", "SMALLINT", "TINYINT", "BOOLEAN", "HUGEINT"):
            cols.append(f'sum({q}::BIGINT) AS "{name}.sum"')
        elif t in ("DOUBLE", "FLOAT"):
            cols.append(f'sum({q}) AS "{name}.sum"')
        elif t == "VARCHAR":
            cols.append(f'sum(length({q})) AS "{name}.len"')
            cols.append(f'sum(ascii({q})) AS "{name}.ascii"')
        elif t.startswith("TIMESTAMP"):
            cols.append(f'sum(epoch_us({q})) AS "{name}.us"')
    res = con.sql(f"SELECT {', '.join(cols)} FROM ({sql})")
    return dict(zip(res.columns, res.fetchone()))


def _same(got: dict, want: dict) -> bool:
    if set(got) != set(want):
        return False
    for k, w in want.items():
        g = got[k]
        if g is None or w is None:
            if g is not w:
                return False
        elif isinstance(g, float) or isinstance(w, float):
            if not math.isclose(float(g), float(w), rel_tol=1e-9, abs_tol=1e-6):
                return False
        elif int(g) != int(w):
            return False
    return True


class LogQueries(Workload):
    """One op = one pass over seven read-only log queries, one per
    operator kind, on a topic ``produce`` wrote during set-up."""

    name = "log_queries"
    N_PRODUCE = 2

    def make_inputs(self, input_dir: str) -> None:
        n = max(1000, int(1_000_000 * self.scale))
        self.slices = gen.write_slices(gen.log_events(self.seed, n), input_dir, self.N_PRODUCE)
        self.rows = n

    def setup(self) -> None:
        self.topic = os.path.join(self.dir, "topic")
        for path in self.slices:
            payload = self.spark.read.schema(gen.LOG_SCHEMA_DDL).parquet(path)
            produce(payload, self.topic, key_col="user_id", num_partitions=8,
                    event_time_col="ts")

    def reference(self) -> None:
        """Cut-off parameters from the written topic, then every query's
        fingerprint computed by DuckDB (once, outside every timing)."""
        import duckdb

        con = duckdb.connect()
        try:
            con.sql("SET TimeZone = 'UTC'")
            con.sql(
                "CREATE VIEW m AS SELECT * FROM read_parquet("
                f"'{self.topic}/partition=*/*.parquet', hive_partitioning = true)"
            )
            pts = [r[0] for r in con.sql(
                "SELECT DISTINCT strftime(publish_time, '%Y-%m-%d %H:%M:%S.%f') "
                "FROM m ORDER BY 1").fetchall()]
            if len(pts) != self.N_PRODUCE:
                raise RuntimeError(f"expected {self.N_PRODUCE} publish times, got {len(pts)}")
            self.params = {
                "ttl_cutoff": pts[1],
                "seek_ts": pts[1],
                "visible_at": "2024-01-16 00:00:00",
            }
            self.ref = {
                kind: _duck_fingerprint(con, sql.format(**self.params))
                for kind, sql in _REF_SQL.items()
            }
        finally:
            con.close()

    def _queries(self, m):
        p = self.params
        return {
            "compaction": lambda: compact_publish_order(m),
            "tableview": lambda: table_view(m, value_cols=["event_type", "value"]),
            "dedup": lambda: dedup_messages(m, seq_col="event_id"),
            "windows": lambda: sliding_window(
                m, "1 hour", "15 minutes",
                [F.count(F.lit(1)).alias("n"), F.sum("value").alias("total_value")],
            ),
            "retention": lambda: visible_messages(
                ttl_filter(m, p["ttl_cutoff"]), p["visible_at"]
            ),
            "seek": lambda: seek_offsets_by_timestamp(m, p["seek_ts"]),
            "stats": lambda: key_skew_stats(m, k=10),
        }

    def op(self, k: int) -> tuple[int, str | None]:
        with self.tracer.span("sources.topics.read_topic"):
            m = read_topic(self.spark, self.topic)
        bad = []
        for kind, build in self._queries(m).items():
            with self.tracer.span(f"operators.{kind}"):
                got = _spark_fingerprint(build())
            if not _same(got, self.ref[kind]):
                bad.append(kind)
        return self.rows * len(OPERATOR_KINDS), (
            f"results differ from the reference: {bad}" if bad else None
        )

    def layer_metrics(self, spans, extra):
        out = {"sources.topics.read_topic_ms": spans["sources.topics.read_topic"].ms}
        for kind in OPERATOR_KINDS:
            c = spans[f"operators.{kind}"]
            out.update({
                f"operators.{kind}.ms": c.ms,
                f"operators.{kind}.jobs": c.jobs,
                f"operators.{kind}.stages": c.stages,
                f"operators.{kind}.tasks": c.tasks,
                f"operators.{kind}.shuffle_bytes": c.shuffle_write_bytes,
                f"operators.{kind}.task_cpu_ms": c.task_cpu_ms,
            })
        return out


# --- crawl_curation ---------------------------------------------------


class CrawlCuration(Workload):
    """One op = gate a 2,500-document crawl batch with the gopher rules,
    then probe it with ``incremental_near_dedup`` against a band store
    that set-up wrote through the same function.

    The store uses the flat append layout (``epoch=None``) and the op
    does not commit its survivors (``update_store=False``). At local[2]
    an epoch commit writes one file per band prefix (~256) and costs
    ~5.5 s, and a probe of that layout opens all of them; with either,
    an op took 7-9 s."""

    name = "crawl_curation"
    N_POOL = 2

    def make_inputs(self, input_dir: str) -> None:
        batch_docs = max(50, int(25_000 * self.scale))
        self.crawl = gen.Crawl(self.seed, batch_docs, seed_docs=batch_docs * 2 // 5)
        self.seed_dir = gen.write_docs(self.crawl.seed_batch, os.path.join(input_dir, "seed"))
        self.pool_dirs = [
            gen.write_docs(b, os.path.join(input_dir, f"batch={j}"))
            for j, b in enumerate(self.crawl.pool)
        ]
        self.rows = batch_docs

    def _docs(self, path: str):
        return self.spark.read.schema(gen.DOCS_SCHEMA_DDL).parquet(path)

    def setup(self) -> None:
        self.store = os.path.join(self.dir, "store")
        incremental_near_dedup(self._docs(self.seed_dir), self.store)
        self.seen: dict[int, set[int]] = {}

    def op(self, k: int) -> tuple[int, str | None]:
        """Ops alternate between the pool's batches; every recurrence of
        a batch is a replay and must yield the same survivors."""
        j = k % self.N_POOL
        docs = self._docs(self.pool_dirs[j])
        with self.tracer.span("functions.text.gate"):
            passed = gopher_rules(docs).where("gopher_pass").select("doc_id")
            gated = docs.join(passed, "doc_id", "left_semi").persist()
            self.gate_rows_out = gated.count()
        try:
            with self.tracer.span("functions.dedupe.near_dedup"):
                cpu0 = tree_cpu_ms(self.jvm_pid) if self.tracer.enabled else 0.0
                out = incremental_near_dedup(gated, self.store, update_store=False)
                ids = {r[0] for r in out.select("doc_id").collect()}
                if self.tracer.enabled:
                    self.py_cpu_ms = tree_cpu_ms(self.jvm_pid) - cpu0
        finally:
            if self.tracer.enabled:
                self.gated = gated  # after_traced_op counts its LSH pairs
            else:
                gated.unpersist()
        b = self.crawl.pool[j]
        if j in self.seen and self.seen[j] != ids:
            return self.rows, "replayed epoch yields different survivors"
        self.seen[j] = ids
        if ids & b.planted:
            return self.rows, f"{len(ids & b.planted)} planted near-copies survived"
        if ids != b.survivors:
            return self.rows, (
                f"survivors differ: {len(b.survivors - ids)} fresh docs dropped, "
                f"{len(ids - b.survivors)} unexpected survivors"
            )
        return self.rows, None

    def after_traced_op(self, before: dict) -> dict:
        """LSH work on the op's gated batch, counted outside the op's
        timing and spans."""
        try:
            sigs = minhash_signatures(self.gated, bands=16)
            return {
                "lsh_candidates": minhash_lsh_candidates(sigs).count(),
                "lsh_verified": minhash_near_duplicates(self.gated).count(),
            }
        finally:
            self.gated.unpersist()

    def layer_metrics(self, spans, extra):
        g = spans["functions.text.gate"]
        d = spans["functions.dedupe.near_dedup"]
        return {
            "functions.text.gate_ms": g.ms,
            "functions.text.gate_rows_in": self.rows,
            "functions.text.gate_rows_out": self.gate_rows_out,
            "functions.dedupe.near_dedup_ms": d.ms,
            "functions.dedupe.jobs": d.jobs,
            "functions.dedupe.tasks": d.tasks,
            "functions.dedupe.shuffle_bytes": d.shuffle_write_bytes,
            "functions.dedupe.task_cpu_ms": d.task_cpu_ms,
            "functions.dedupe.py_worker_cpu_ms": self.py_cpu_ms,
            "functions.dedupe.store_files": _files(self.store)[0],
            "functions.dedupe.lsh_candidates": extra["lsh_candidates"],
            "functions.dedupe.lsh_verified": extra["lsh_verified"],
            "functions.dedupe.lsh_precision": (
                extra["lsh_verified"] / extra["lsh_candidates"]
                if extra["lsh_candidates"] else 1.0
            ),
        }


WORKLOADS = {w.name: w for w in (IngestConsume, LogQueries, CrawlCuration)}


def engine_metrics(spans: dict[str, SpanCounters], op_ms: float, threads: int) -> dict:
    t = SpanCounters()
    for c in spans.values():
        t.add(c)
    return {
        "engine.jobs": t.jobs,
        "engine.stages": t.stages,
        "engine.tasks": t.tasks,
        "engine.task_cpu_ms": t.task_cpu_ms,
        "engine.task_run_ms": t.task_run_ms,
        "engine.busy_frac": t.task_run_ms / (op_ms * threads) if op_ms else 0.0,
        "engine.shuffle_write_bytes": t.shuffle_write_bytes,
        "engine.spill_bytes": t.spill_bytes,
        "engine.gc_ms": t.gc_ms,
    }


def median_metrics(rows: list[dict]) -> dict[str, float]:
    keys = {k for r in rows for k in r}
    return {k: median([r.get(k, 0.0) for r in rows]) for k in keys}
