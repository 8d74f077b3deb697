"""Streaming sinks: idempotent foreachBatch overwrite + test helpers.

``foreach_batch_overwrite`` is the engine's replacement for the
reference's ES maintenance (``App.java:146-157``: delete the speed-layer
rows for a window, then (commented-out) insert the batch rows): each
micro-batch dynamically overwrites exactly the result partitions it
contains. Re-running a batch rewrites the same partitions — idempotent,
no delete window arithmetic, no month off-by-one bug (SURVEY.md §1.2).

Every streaming query the engine starts goes through this module
(:func:`start_foreach_batch`, :func:`run_to_memory`), so every stream
runs its shuffles and state at core count — see :func:`_start`.
"""

from __future__ import annotations

import threading
from collections.abc import Callable, Mapping
from types import MappingProxyType

from pyspark.sql import DataFrame
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery

AVAILABLE_NOW: Mapping[str, object] = MappingProxyType({"availableNow": True})

_SHUFFLE_PARTITIONS = "spark.sql.shuffle.partitions"
_START_LOCK = threading.Lock()


def _start(stream: DataFrame, writer: DataStreamWriter) -> StreamingQuery:
    """Start ``writer`` with ``spark.sql.shuffle.partitions`` at
    min(session value, cores), then restore the caller's value.

    Spark turns AQE off inside streaming queries, so nothing coalesces
    the batch default (32) and every micro-batch pays one task per
    partition per exchange plus one state-store commit per state
    partition — with no input, a batch cost as much as one with input.
    ``DataStreamWriter.start`` clones the session conf synchronously
    (StreamExecution's ``sparkSessionForStream``), so the value is only
    needed for the duration of the call; the lock keeps two concurrent
    starts from restoring each other's override.  It applies on every
    start: a restarted query keeps the state partition count its
    checkpoint recorded (Spark pins it for the checkpoint's life), but
    its foreachBatch exchanges follow the start-time conf.
    """
    spark = stream.sparkSession
    with _START_LOCK:
        prev = spark.conf.get(_SHUFFLE_PARTITIONS)
        cores = spark.sparkContext.defaultParallelism
        spark.conf.set(_SHUFFLE_PARTITIONS, str(min(int(prev), cores)))
        try:
            return writer.start()
        finally:
            spark.conf.set(_SHUFFLE_PARTITIONS, prev)


def start_foreach_batch(
    stream: DataFrame,
    fn: Callable[[DataFrame, int], None],
    checkpoint: str,
    trigger: Mapping[str, object] = AVAILABLE_NOW,
) -> StreamingQuery:
    """Start ``stream`` with ``fn(batch, batch_id)`` as its foreachBatch
    sink — the one start path of every foreachBatch query.

    ``trigger`` is passed to ``DataStreamWriter.trigger`` as keywords:
    the default drains what is there and stops; a long-running query
    passes e.g. ``{"processingTime": "30 seconds"}`` (Spark's own
    default is ``{"processingTime": "0 seconds"}``).
    """
    writer = (
        stream.writeStream.foreachBatch(fn)
        .option("checkpointLocation", checkpoint)
        .trigger(**trigger)
    )
    return _start(stream, writer)


def foreach_batch_overwrite(
    stream: DataFrame,
    path: str,
    partition_by: list[str],
    checkpoint: str,
    transform: Callable[[DataFrame], DataFrame] | None = None,
    trigger: Mapping[str, object] = AVAILABLE_NOW,
) -> StreamingQuery:
    """foreachBatch → dynamic partition overwrite of parquet.

    ``transform`` runs per micro-batch on the driver-side plan (e.g. the
    per-window top-K ranking that can't run inside the stream).
    ``trigger`` as in :func:`start_foreach_batch`.
    """

    def _write(batch: DataFrame, batch_id: int) -> None:
        out = transform(batch) if transform is not None else batch
        (
            out.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(*partition_by)
            .parquet(path)
        )

    return start_foreach_batch(stream, _write, checkpoint, trigger=trigger)


def foreach_batch_top_k(
    windowed_counts: DataFrame,
    path: str,
    checkpoint: str,
    key: str,
    k: int = 10,
    count_col: str = "n",
    trigger: Mapping[str, object] = AVAILABLE_NOW,
) -> StreamingQuery:
    """The streaming reference query's sink: per finalized window, keep
    the top-K keys by count and overwrite that window's result partition.

    Ranking runs in the micro-batch (append mode delivers each window
    exactly once, after the watermark closes it), so state stays the
    incremental windowed count — Spark needs no sorted/update-mode
    output support.  This is `App.java:99+134`'s orderBy+limit applied
    per hour-window, continuously.  ``trigger`` as in
    :func:`start_foreach_batch`.
    """
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    def rank(batch: DataFrame) -> DataFrame:
        w = W.partitionBy("window_start").orderBy(
            F.desc(count_col), F.asc(key)
        )
        return (
            batch.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .drop("rank")
        )

    return foreach_batch_overwrite(
        windowed_counts,
        path,
        partition_by=["window_start"],
        checkpoint=checkpoint,
        transform=rank,
        trigger=trigger,
    )


def run_to_memory(
    stream: DataFrame,
    name: str,
    output_mode: str = "append",
) -> StreamingQuery:
    """Drain a (bounded) stream into an in-memory table and return the
    query; callers awaitTermination then read ``spark.table(name)``.
    Test-only: memory sink collects to the driver."""
    writer = (
        stream.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(**AVAILABLE_NOW)
    )
    return _start(stream, writer)


def foreach_batch_kv_upsert(
    stream: DataFrame,
    table_path: str,
    key_col: str,
    checkpoint: str,
    n_buckets: int = 16,
    seq_col: str | None = None,
    trigger: Mapping[str, object] = AVAILABLE_NOW,
) -> StreamingQuery:
    """Keyed bulk-upsert sink — the live analog of the reference's
    commented-out ES bulk index (``saveNewResults``,
    ``App.java:159-178``), which paired with the delete-by-window
    (``App.java:146-157``) formed a delete-then-insert replace of the
    speed-layer rows.  Here both halves collapse into one idempotent
    keyed upsert per micro-batch: last-writer-wins on ``key_col`` into
    a bucket-partitioned parquet "index" maintained by the generic
    stage-then-swap engine (``streaming/sketch.upsert_rows_by_bucket``)
    — the same batch → keyed merge → atomic-enough swap shape a
    JDBC/REST bulk-upsert writer takes, testable without an external
    endpoint (this sandbox has none).

    Within-batch duplicate keys: with ``seq_col`` the max-sequence row
    wins (arrival-order semantics that survive backfills batching
    differently); without it the lexicographically largest value struct
    wins — deterministic, but within-trigger order is undefined (the
    streaming/ann dedup contract).  Across batches the upsert gives
    last-writer-wins, and replaying a batch converges to the same
    table.  ``trigger`` as in :func:`start_foreach_batch`.
    """
    from pyspark.sql import functions as F

    from tweets_spark_top_10_spark.functions.sampling import hash_bucket
    from tweets_spark_top_10_spark.streaming.sketch import upsert_rows_by_bucket

    def _merge(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        others = [c for c in batch.columns if c != key_col]
        if seq_col is not None:
            one = batch.groupBy(key_col).agg(
                F.max_by(F.struct(*others), F.col(seq_col)).alias("__r")
            )
        else:
            one = batch.groupBy(key_col).agg(F.max(F.struct(*others)).alias("__r"))
        keyed = one.select(F.col(key_col), F.col("__r.*")).withColumn(
            "bucket", hash_bucket(key_col, n_buckets)
        )
        upsert_rows_by_bucket(batch.sparkSession, keyed, table_path, key_col)

    return start_foreach_batch(stream, _merge, checkpoint, trigger=trigger)
