"""Connector registry — the Pulsar IO analog.

Reference semantics (SURVEY.md §2.1): IO sources pull external records
into topics (pulsar-io/core/.../Source.java:28-45, BatchSource.java:62
for triggered batch ingest), sinks push topic records out
(Sink.java:31-47); the data-generator source produces synthetic test
records (pulsar-io/data-generator/.../DataGeneratorSource.java).

Spark-first: a "connector" is a named factory returning a DataFrame
(source) or a writer callback (sink); streaming sources map to
``readStream.format(...)`` and sinks to ``writeStream``/foreachBatch.
The registry is the SPI surface; the built-ins cover the formats the
driver environment has (parquet/json/csv/rate/memory).
"""

from __future__ import annotations

from typing import Any, Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pulsar_spark.durable import read_json, recover_swap, rewrite_path, swap_in, write_atomic

_SOURCES: dict[str, Callable[..., DataFrame]] = {}
_SINKS: dict[str, Callable[..., Any]] = {}


def register_source(name: str):
    def deco(fn):
        _SOURCES[name] = fn
        return fn

    return deco


def register_sink(name: str):
    def deco(fn):
        _SINKS[name] = fn
        return fn

    return deco


def open_source(name: str, spark: SparkSession, **config) -> DataFrame:
    """Source.open(config, ctx) analog."""
    return _SOURCES[name](spark, **config)


def open_sink(name: str, **config) -> Callable[[DataFrame], Any]:
    """Sink.open(config, ctx) analog; returns write(df)."""
    return _SINKS[name](**config)


def list_connectors() -> dict[str, list[str]]:
    return {"sources": sorted(_SOURCES), "sinks": sorted(_SINKS)}


# ---------------------------------------------------------------- built-ins


@register_source("datagen")
def datagen_source(
    spark: SparkSession, rows: int = 1000, partitions: int = 4, seed: int = 42
) -> DataFrame:
    """Deterministic synthetic Person records — the data-generator
    connector analog (DataGeneratorSource produces Person objects)."""
    first = F.array(*[F.lit(x) for x in ["ada", "bob", "carol", "dan", "eve", "fay"]])
    last = F.array(*[F.lit(x) for x in ["lee", "kim", "ray", "fox", "day"]])
    df = spark.range(0, rows, 1, partitions)
    return df.select(
        F.col("id").alias("record_id"),
        F.element_at(first, (F.pmod(F.hash(F.col("id"), F.lit(seed)), F.size(first)) + 1).cast("int")).alias("first_name"),
        F.element_at(last, (F.pmod(F.hash(F.col("id"), F.lit(seed + 1)), F.size(last)) + 1).cast("int")).alias("last_name"),
        (F.pmod(F.hash(F.col("id"), F.lit(seed + 2)), F.lit(80)) + 18).cast("int").alias("age"),
    )


@register_source("rate_stream")
def rate_stream_source(spark: SparkSession, rows_per_second: int = 100) -> DataFrame:
    """Continuous synthetic stream (Spark's rate source)."""
    return spark.readStream.format("rate").option("rowsPerSecond", rows_per_second).load()


@register_source("file")
def file_source(
    spark: SparkSession, path: str, format: str = "parquet", streaming: bool = False, **options
) -> DataFrame:
    if streaming:
        static = spark.read.format(format).options(**options).load(path)
        return spark.readStream.schema(static.schema).format(format).options(**options).load(path)
    return spark.read.format(format).options(**options).load(path)


# The pulsar-io file-connector family (pulsar-io/file reads a directory
# of files as records; the kafka-connect-adaptor carries csv/json
# payloads): per-format named connectors over the same file machinery,
# so `open_source("csv", ...)` works like deploying the corresponding
# connector archive. Each is a thin binding of `file_source` — the
# registry name IS the connector contract.


@register_source("csv")
def csv_source(spark: SparkSession, path: str, header: bool = True, **options) -> DataFrame:
    return file_source(spark, path, format="csv", header=str(header).lower(), **options)


@register_source("jsonl")
def jsonl_source(spark: SparkSession, path: str, **options) -> DataFrame:
    return file_source(spark, path, format="json", **options)


@register_source("text")
def text_source(spark: SparkSession, path: str, **options) -> DataFrame:
    """One record per line with the file path attached — the pulsar-io
    file source's record shape (AbstractedFileSource emits line records
    keyed by file name)."""
    return (
        file_source(spark, path, format="text", **options)
        .withColumn("file", F.input_file_name())
        .select(F.col("value").alias("line"), "file")
    )


# ---------------------------------------------------------- batch sources


class BatchSourceRunner:
    """The BatchSource discover -> read -> commit cycle
    (pulsar-io/core/.../BatchSource.java:62: ``discover(taskEater)``
    emits discovered tasks, ``prepare``/``readNext`` consumes one task
    at a time; ``batch-discovery-triggerers/`` fires each discovery
    round, e.g. on a cron).

    Spark-first: one trigger = one bounded job. ``discover()`` returns
    task descriptors (here: file paths / partition ids); tasks already
    in the commit ledger are skipped; the remaining tasks are read as a
    SINGLE DataFrame (one job, not a per-task loop — at 1000 executors
    the union of task splits is what parallelizes) and handed to the
    sink callback; on success the ledger commits them. A crash before
    commit re-reads the whole batch next trigger — the same
    at-least-once contract as the reference's intermediate task state.

    The ledger is a JSON sidecar next to the destination (tiny,
    driver-side — task descriptors, not data).
    """

    def __init__(
        self,
        discover: Callable[[], list[str]],
        read_tasks: Callable[[SparkSession, list[str]], DataFrame],
        sink: Callable[[DataFrame], Any],
        ledger_path: str,
    ):
        self.discover = discover
        self.read_tasks = read_tasks
        self.sink = sink
        self.ledger_path = ledger_path

    def _committed(self) -> list[str]:
        return read_json(self.ledger_path, [])

    def trigger(self, spark: SparkSession, count_rows: bool = False) -> dict[str, int]:
        """Run one discovery cycle; returns counts for observability.

        ``count_rows=True`` adds an ``ingested_rows`` count — a SECOND
        read of the batch purely for observability, off by default so
        the ingest path stays one pass (``-1`` when disabled).

        The ledger commit is ``durable.write_atomic``: a crash
        mid-commit leaves the previous ledger intact, so the worst case
        is re-reading the current batch (the documented at-least-once
        contract), never a corrupt ledger or a re-ingest of history.
        """
        committed = self._committed()
        tasks = [t for t in self.discover() if t not in set(committed)]
        if not tasks:
            return {"discovered": 0, "ingested_rows": 0}
        df = self.read_tasks(spark, tasks)
        n = df.count() if count_rows else -1
        self.sink(df)
        write_atomic(self.ledger_path, committed + tasks)
        return {"discovered": len(tasks), "ingested_rows": n}


def file_batch_source(
    pattern: str,
    sink: Callable[[DataFrame], Any],
    ledger_path: str,
    format: str = "parquet",
) -> BatchSourceRunner:
    """BatchSource over a file glob: each discovery lists files matching
    ``pattern``; new files since the last commit are ingested as one
    bounded batch. Mirrors the file-connector + discovery-triggerer
    pairing in pulsar-io."""
    import glob as _glob

    def discover() -> list[str]:
        return sorted(_glob.glob(pattern))

    def read_tasks(spark: SparkSession, tasks: list[str]) -> DataFrame:
        return spark.read.format(format).load(tasks)

    return BatchSourceRunner(discover, read_tasks, sink, ledger_path)


@register_sink("parquet")
def parquet_sink(path: str, mode: str = "append", partition_by: list[str] | None = None):
    def write(df: DataFrame) -> None:
        w = df.write.mode(mode)
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(path)

    return write


@register_sink("csv")
def csv_sink(path: str, mode: str = "append", header: bool = True, **options):
    def write(df: DataFrame) -> None:
        df.write.mode(mode).options(header=str(header).lower(), **options).csv(path)

    return write


@register_sink("jsonl")
def jsonl_sink(path: str, mode: str = "append", **options):
    def write(df: DataFrame) -> None:
        df.write.mode(mode).options(**options).json(path)

    return write


@register_sink("kv")
def kv_sink(path: str, key_col: str = "key", order_col: str = "offset"):
    """Keyed-upsert sink — the semantic shared by the reference's
    Redis / HBase / InfluxDB / JDBC-upsert sink family (pulsar-io/jdbc
    BaseJdbcAutoSchemaSink upserts on the record key): each write folds
    the batch into a latest-value-per-key table, merging with what the
    store already holds.

    Scale shape: one hash agg over batch + existing store keyed by
    ``key_col`` (max_by on ``order_col``), rewritten beside the store
    and installed with ``durable.swap_in``. The store stays
    O(distinct keys), not O(writes).
    """
    import os

    def write(df: DataFrame) -> None:
        spark = df.sparkSession
        # Recover an interrupted swap FIRST, so no committed write is
        # ever lost and no stale __old is in the swap's way.
        recover_swap(spark, path)
        value_cols = [c for c in df.columns if c != key_col]
        merged = df
        # Only merge when data files exist: a zero-row write leaves a
        # _SUCCESS-only dir that parquet cannot infer a schema from. A
        # present-but-unreadable part file still raises — store
        # corruption must not be silently treated as an empty store.
        if os.path.isdir(path) and any(f.startswith("part-") for f in os.listdir(path)):
            merged = merged.unionByName(spark.read.parquet(path), allowMissingColumns=False)
        latest = (
            merged.groupBy(key_col)
            .agg(F.max_by(F.struct(*value_cols), F.col(order_col)).alias("_v"))
            .select(key_col, "_v.*")
        )
        latest.write.mode("overwrite").parquet(rewrite_path(path))
        swap_in(spark, path)

    return write


@register_sink("topic")
def topic_sink(topic_path: str, **produce_kwargs):
    """Sink into an engine topic with envelope minting (the
    external->topic direction of Pulsar IO)."""

    def write(df: DataFrame) -> None:
        from pulsar_spark.sources.topics import produce

        produce(df, topic_path, **produce_kwargs)

    return write
