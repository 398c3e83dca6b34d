"""Watermarked window aggregations over the events stream, and the one
runner every stream in the package goes through.

The window and rollup builders are the streaming twins of the batch
queries in ``queries/streaming_queries.py`` — same transformations,
incremental execution. The batch versions carry the DuckDB oracles; the
tests run these through :func:`run_stream` and assert the streaming
results equal the batch results (exactly-once, no late drops when the
watermark covers the data).

:func:`run_stream` starts a stream, waits until its input is drained,
stops it and cleans up after it; no other module calls
``.writeStream`` (``tests/test_antipatterns.py`` enforces it).

100 TB notes: a file-source stream with ``maxFilesPerTrigger`` gives
bounded micro-batches; state for windowed aggs is bounded by the
watermark horizon (here 2 hours), so state store size is O(windows ×
keys in horizon), not O(stream length). ``spark.sql.shuffle.partitions``
sizes the state store parallelism — set it once for the job; AQE does
not apply inside streaming aggregations.
"""

from __future__ import annotations

import shutil
import tempfile
import time
import uuid
from collections.abc import Callable
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from chapterhouseqe_spark.queries.registry import dsum, ts_str
from chapterhouseqe_spark.session import _own

# the one bound on a stream's run; a stream still running when it
# passes is stopped and reported as an infra stall
STREAM_TIMEOUT_S = 300
# shuffle partitions (state stores) every stream runs with
STREAM_STATE_PARTITIONS = 8
_POLL_S = 0.1


@contextmanager
def stream_state_partitions(spark: SparkSession, n: int):
    """Pin ``spark.sql.shuffle.partitions`` for a stream's lifetime.

    :func:`run_stream` holds this pin from ``.start()`` until the query
    has stopped, with ``n = STREAM_STATE_PARTITIONS``: the value is read
    when the FIRST BATCH plans, and it is frozen into the checkpoint.

    A stateful streaming query instantiates one state store (and, for
    ``applyInPandasWithState``, one Python worker) PER shuffle partition
    PER micro-batch, and AQE never coalesces it (see the module
    docstring). So the right number is keyed to the stream's KEY
    CARDINALITY, not the session's batch-shuffle width: a 5-key demo
    stream inheriting the session's 32 pays 32 store commits + 32
    pandas workers per micro-batch to move ~30 rows (measured 13.4s ->
    ~4s for the EWMA replay at sf0.1). At production cardinality size
    ``n`` up. Restores the previous value on exit.

    SINGLE-THREADED-SESSION ASSUMPTION: the pin mutates the
    SESSION-global conf for the whole run, so any concurrent batch work
    on the same session (other threads) plans with width ``n`` while
    the pin is held, and the get/restore pair is not atomic across
    threads. This matches the repo's harness (one driver thread per
    session); callers running concurrent queries should use a dedicated
    session (``spark.newSession()``) for the stream so the pin is
    scoped to its own conf clone.
    """
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(n))
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


def read_events_stream(
    spark: SparkSession, sf_dir: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """File-source stream over the events parquet (schema from the batch
    reader; ts arrives as long nanos under nanosAsLong — convert)."""
    from chapterhouseqe_spark.queries.tables import load_table

    # load_table sets the nanosAsLong conf (events.parquet is
    # TIMESTAMP(NANOS)) and returns the RAW schema — exactly what
    # readStream needs; conversion happens on the stream below.
    batch = load_table(spark, sf_dir, "events")
    # the file-stream source wants a DIRECTORY; the events table is a
    # single file, so stream the directory with a glob filter.
    reader = (
        spark.readStream.schema(batch.schema)
        .option("pathGlobFilter", "events.parquet")
    )
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    df = reader.parquet(sf_dir)
    ts_type = dict(df.dtypes).get("ts")
    if ts_type == "bigint":
        df = df.withColumn(
            "ts", F.timestamp_micros(F.call_function("div", F.col("ts"), F.lit(1000)))
        )
    elif ts_type == "timestamp_ntz":
        # withWatermark requires TIMESTAMP (LTZ); NTZ→LTZ cast is
        # wall-clock-preserving under the engine's UTC session timezone.
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def stream_window_counts(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """1h tumbling window counts + value sums with late-data watermark.

    Matches queries/streaming_queries.py::events_tumbling_window.
    """
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("cnt"), dsum(F.col("value")).alias("sum_value"))
        .select(
            ts_str(F.col("w.start")).alias("window_start"),
            "event_type",
            "cnt",
            "sum_value",
        )
    )


def stream_user_rollup(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Per-user lifetime rollup as an update-mode stateful aggregation.

    Matches queries/streaming_queries.py::events_user_activity (without
    countDistinct, which streaming aggs don't support — approx_count_
    distinct is the streaming-safe alternative).
    """
    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            ts_str(F.min("ts")).alias("first_seen"),
            ts_str(F.max("ts")).alias("last_seen"),
        )
    )


def _drained(q: StreamingQuery) -> bool:
    """Whether a running query has consumed all of its input.

    True once a finished trigger found no new input — the status says
    no data is available and no trigger is running — or once the last
    reported batch read zero rows while no data is available. The
    second case is a stateful operator with a processing-time timeout:
    it runs a no-data batch on every trigger, so a trigger is always
    active and the query never idles. Both cases need a reported
    batch: before the first one, the status reads "no data" while the
    sources are still being opened.
    """
    status, progress = q.status, q.lastProgress
    return (
        progress is not None
        and not status["isDataAvailable"]
        and (not status["isTriggerActive"] or progress["numInputRows"] == 0)
    )


def run_stream(
    stream_df: DataFrame,
    name: str,
    sink: Callable[[DataFrame, int], None] | None = None,
    output_mode: str = "append",
) -> DataFrame | None:
    """Run a bounded stream until its input is drained, then stop it.

    ``sink`` is a ``foreachBatch`` function, or ``None`` for a memory
    sink under a fresh ``{name}_<uuid>`` query name; the memory sink's
    rows are returned as a batch DataFrame. Its temp view is dropped
    when the innermost :func:`~chapterhouseqe_spark.session.released`
    scope closes, so the returned frame must be read inside that scope.

    The run owns a fresh checkpoint directory and removes it, and holds
    the :func:`stream_state_partitions` pin throughout. It waits at
    most ``STREAM_TIMEOUT_S`` and raises ``RuntimeError`` past it; a
    failed query raises its own error. The query is stopped in every
    case BEFORE the checkpoint (and any input the caller staged) is
    deleted: a live query whose files vanish keeps failing in the
    background of the shared session.

    Trigger: ``processingTime="0 seconds"`` for every stream, with
    :func:`_drained` deciding when it is done. ``availableNow`` would
    end file-source streams by itself, but it stops an on-demand
    Python source (``sources/synthetic.py``) after its first prefetched
    batch, and it never ends a stream whose stateful operator has a
    processing-time timeout (that operator asks for a no-data batch on
    every trigger).
    """
    spark = stream_df.sparkSession
    query_name = f"{name}_{uuid.uuid4().hex[:8]}"
    writer = stream_df.writeStream.queryName(query_name).outputMode(output_mode)
    if sink is None:
        writer = writer.format("memory")
        _own(lambda: spark.catalog.dropTempView(query_name))
    else:
        writer = writer.foreachBatch(sink)
    ckpt = tempfile.mkdtemp(prefix="chqe_stream_ckpt_")
    try:
        with stream_state_partitions(spark, STREAM_STATE_PARTITIONS):
            q = (
                writer.option("checkpointLocation", ckpt)
                .trigger(processingTime="0 seconds")
                .start()
            )
            try:
                deadline = time.monotonic() + STREAM_TIMEOUT_S
                while not q.awaitTermination(_POLL_S) and not _drained(q):
                    if time.monotonic() > deadline:
                        raise RuntimeError(
                            f"{name}: stream did not finish within "
                            f"{STREAM_TIMEOUT_S}s — infra stall, not a query bug"
                        )
            finally:
                q.stop()
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)
    return spark.table(query_name) if sink is None else None


def stream_enrich(
    events: DataFrame,
    dim: DataFrame,
    on: str,
    how: str = "left",
) -> DataFrame:
    """Stream-static enrichment join: attach a dimension table to a
    stream.

    The static side is re-planned per micro-batch (so slowly-changing
    dimensions refresh without restarting the stream) and broadcasts
    when under the threshold — the standard lookup-join at 100 TB/day:
    no stream-side state, no watermark needed, unlike stream-stream
    joins. ``how`` is 'inner' or 'left' (stream side preserved).
    """
    return events.join(F.broadcast(dim), on, how)


def stream_stream_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    time_col: str = "ts",
    within: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Windowed stream-stream inner join: right events within
    ``(left.ts, left.ts + within]`` for the same key.

    Both sides carry watermarks and the join condition bounds the time
    range, so Spark can evict state: each side buffers only rows inside
    its watermark horizon — state is O(rate × horizon), not O(stream).
    An unbounded-condition stream-stream join would grow state forever;
    the range predicate is what makes this 100 TB/day-safe. Output
    columns are prefixed l_/r_ to keep both sides addressable.
    """
    l = left.withWatermark(time_col, watermark).select(
        F.col(key).alias("l_key"),
        F.col(time_col).alias("l_ts"),
        *[
            F.col(c).alias(f"l_{c}")
            for c in left.columns
            if c not in (key, time_col)
        ],
    )
    r = right.withWatermark(time_col, watermark).select(
        F.col(key).alias("r_key"),
        F.col(time_col).alias("r_ts"),
        *[
            F.col(c).alias(f"r_{c}")
            for c in right.columns
            if c not in (key, time_col)
        ],
    )
    cond = (
        (F.col("l_key") == F.col("r_key"))
        & (F.col("r_ts") > F.col("l_ts"))
        & (F.col("r_ts") <= F.col("l_ts") + F.expr(f"INTERVAL {within}"))
    )
    return l.join(r, cond)


def stream_dedup(
    events: DataFrame, key_cols: list[str], watermark: str = "2 hours"
) -> DataFrame:
    """Streaming exact dedup: first occurrence per key within the
    watermark horizon (``dropDuplicatesWithinWatermark``).

    The streaming arm of operators/dedup.py:exact_dedup — state holds
    one entry per key seen inside the horizon, so memory is bounded by
    key cardinality × horizon, not stream length. At 100 TB/day this is
    the dedup-on-ingest pattern; the batch MinHash pipeline handles
    retrospective near-dup sweeps.
    """
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        key_cols
    )


def idempotent_batch_writer(path: str, batch_col: str = "__batch_id"):
    """An exactly-once ``foreachBatch`` parquet writer.

    Structured Streaming guarantees at-least-once delivery to
    ``foreachBatch`` — after a failure the SAME micro-batch (same
    ``batch_id``) can be re-delivered, and a naive append sink
    duplicates it. This writer makes the replay idempotent with vanilla
    parquet: every batch lands in its own ``__batch_id=<n>`` hive
    partition via DYNAMIC partition overwrite, so a re-delivered batch
    REPLACES its directory instead of appending. Readers prune or drop
    the batch column. This is the standard exactly-once recipe for
    non-transactional sinks (the same idea Delta implements with
    txn-version dedup), and it scales: each micro-batch touches only
    its own directory, never the accumulated table.

    Use: ``run_stream(stream, name, sink=idempotent_batch_writer(p))``.
    """

    def write(batch_df: DataFrame, batch_id: int) -> None:
        (
            batch_df.withColumn(batch_col, F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(batch_col)
            .parquet(path)
        )

    return write
