"""SparkSession construction with scale-oriented defaults.

Local testing runs ``local[$SPARK_GRAFT_CPUS]`` but every config here is
chosen to also be the right default on a large cluster: AQE on (runtime
re-planning, skew-join splitting, partition coalescing), broadcast-join
threshold generous enough for dimension tables, Arrow enabled for the
Python boundary, UTC session timezone so timestamp semantics match
engines that store UTC-naive (the DuckDB oracle, Parquet footers).

Ownership: operators persist intermediates only through :func:`keep`
and local-checkpoint them only through :func:`checkpoint`; both record
the frame in the innermost :func:`released` scope, and the scope
releases what was recorded in it when it exits. So a query releases
exactly what it persisted and never the rest of the session's cache.
Scopes are context-local, so each ``QueryEngine`` worker thread owns
its own. Outside any scope the two calls only persist or checkpoint,
and nothing releases the frame. Two queries that persist the same plan
share one cache entry, and the first scope to close releases it:
results stay correct, but the other query may recompute the frame. A
local checkpoint's blocks are its only copy, so no frame read from one
may be used after its scope closes.
"""

from __future__ import annotations

import os
from collections.abc import Callable
from contextlib import contextmanager
from contextvars import ContextVar

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession

DEFAULT_CONFS: dict[str, str] = {
    # --- optimizer / adaptive execution -------------------------------
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # wide aggregations (e.g. 128 MinHash mins) stay in whole-stage
    # codegen instead of falling back to interpreted eval at >100 fields
    "spark.sql.codegen.maxFields": "256",
    # dimension tables (region/nation/customer/supplier/part at any SF's
    # head) should broadcast; 64m is safe with multi-GiB executors.
    "spark.sql.autoBroadcastJoinThreshold": "64m",
    # --- python boundary ----------------------------------------------
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
    # --- determinism for oracle comparison ----------------------------
    "spark.sql.session.timeZone": "UTC",
    # --- parquet ------------------------------------------------------
    # nanosecond-precision timestamps (e.g. the events table) arrive as
    # LongType nanos instead of failing the scan; loaders convert.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.parquet.filterPushdown": "true",
    "spark.sql.parquet.mergeSchema": "false",
    "spark.sql.files.maxPartitionBytes": "128m",
    # local mode niceties; harmless on a cluster
    "spark.ui.enabled": "false",
    # Console progress bars write to the driver's stderr mid-query; in
    # harness runs that capture a bounded output tail they can crowd
    # out the one JSON result line (BENCH_r06.json lost its headline
    # block exactly this way). Progress rendering is cosmetic — off.
    "spark.ui.showConsoleProgress": "false",
    "spark.sql.warehouse.dir": os.environ.get("SPARK_WAREHOUSE_DIR", "/tmp/chqe_warehouse"),
}


def get_spark(
    app_name: str = "chapterhouseqe_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the engine's SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default 32)
    when no cluster master is configured; on a real deployment the
    launcher supplies ``--master`` and this falls through to it.
    ``shuffle_partitions`` defaults to the local core count — at cluster
    scale, AQE coalesces the initial number downward so a generous value
    is the right call there too.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    builder = SparkSession.builder.appName(app_name)
    local_mode = False
    if master is not None:
        builder = builder.master(master)
        local_mode = master.startswith("local")
    elif "SPARK_MASTER" not in os.environ:
        builder = builder.master(f"local[{cpus}]")
        local_mode = True
    if local_mode:
        # In local mode the driver JVM IS every executor; Spark's 1g
        # default heap starves 32 task threads and fails broadcast
        # builds long before the machine is actually out of memory
        # (surfaced by the sf1 scale probe, PLANS.md). On a cluster the
        # launcher sizes driver/executor memory and this is skipped.
        # 4g, not bigger: an A/B at sf0.1 measured a 16g heap costing
        # 15-40% wall-clock across the bench (larger young gen → longer
        # minor-GC pauses across 32 task threads) while 4g keeps the
        # sf1 broadcast headroom that 1g lacked.
        builder = builder.config(
            "spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "4g")
        )
    builder = builder.config(
        "spark.sql.shuffle.partitions", str(shuffle_partitions or cpus)
    )
    for k, v in DEFAULT_CONFS.items():
        builder = builder.config(k, v)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


# the open scopes, innermost last; each holds the release calls of
# what was kept in it
_SCOPES: ContextVar[tuple[list[Callable[[], object]], ...]] = ContextVar(
    "chqe_persist_scopes", default=()
)


def _own(release: Callable[[], object]) -> None:
    scopes = _SCOPES.get()
    if scopes:
        scopes[-1].append(release)


def keep(
    df: DataFrame, level: StorageLevel = StorageLevel.MEMORY_AND_DISK
) -> DataFrame:
    """Persist ``df`` and record it in the current :func:`released` scope."""
    df.persist(level)
    _own(df.unpersist)
    return df


def checkpoint(df: DataFrame, eager: bool = True) -> DataFrame:
    """``df.localCheckpoint(eager)``, with the checkpoint's blocks
    recorded in the current :func:`released` scope."""
    out = df.localCheckpoint(eager=eager)
    rdd = out._jdf.queryExecution().analyzed().rdd()
    _own(lambda: rdd.unpersist(False))
    return out


@contextmanager
def released():
    """Open a scope that releases everything kept in it on exit, normal
    or by exception. Frames go last kept first: a frame is dropped
    before the frames its plan reads, so Spark has no dependent cache
    entry to re-plan."""
    releases: list[Callable[[], object]] = []
    token = _SCOPES.set(_SCOPES.get() + (releases,))
    try:
        yield
    finally:
        _SCOPES.reset(token)
        for release in reversed(releases):
            release()
