"""Test-table loading (TESTDATA.md star schema + events/documents/embeddings)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

# Dimension tables small enough to broadcast at ANY scale factor —
# region/nation are fixed-size; documents/embeddings are fixed 500 rows
# in this dataset. customer/supplier/part grow with SF and are left to
# Catalyst's size-based broadcast decision (threshold in session.py).
ALWAYS_BROADCAST = {"region", "nation"}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Raw table load; the ONE place that makes events.parquet readable.

    Returns the file-native schema (events ``ts`` as long nanos under
    nanosAsLong) — callers that want wall-clock timestamps apply
    :func:`events_ts_micros`; the streaming reader needs the raw schema
    for ``readStream`` and converts after.
    """
    if name == "events":
        # TIMESTAMP(NANOS) parquet is illegal on a vanilla session; the
        # conf is runtime-settable, so set it here rather than rely on the
        # caller having built the session via session.get_spark().
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    return spark.read.parquet(f"{sf_dir.rstrip('/')}/{name}.parquet")


def events_ts_micros(df: DataFrame) -> DataFrame:
    """Convert an events frame's long-nanos ``ts`` to a timestamp.

    Truncates to micros (DuckDB stores micros, so the oracle agrees
    bit-for-bit); no-op when ``ts`` already reads as a timestamp.
    """
    from pyspark.sql import functions as F

    if dict(df.dtypes).get("ts") != "bigint":
        return df
    return df.withColumn(
        "ts",
        F.timestamp_micros(F.call_function("div", F.col("ts"), F.lit(1000))),
    )

