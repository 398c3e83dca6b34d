"""Streaming-shaped queries over the ``events`` table.

The reference has NO streaming (SURVEY §2.9 — the README "Ideas" block is
design fiction); these are the Spark-native extension. Each registered
query here is the *batch-equivalent* of a Structured Streaming pipeline in
:mod:`chapterhouseqe_spark.streaming` — identical transformations, so the
DuckDB oracle validates the streaming logic's semantics while the
streaming tests (tests/test_streaming.py) validate the incremental
execution path (watermarks, real micro-batches). The ``stream_*`` queries
run their streams through :func:`~chapterhouseqe_spark.streaming.windows.run_stream`.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from chapterhouseqe_spark.queries.registry import dsum, o_dsum, o_ts_str, query, ts_str
from chapterhouseqe_spark.queries.core_sql import t
from chapterhouseqe_spark.session import checkpoint, keep
from chapterhouseqe_spark.streaming.windows import run_stream


@query(
    "events_tumbling_window",
    oracle=f"""
    SELECT {o_ts_str("date_trunc('hour', ts)")} AS window_start, event_type,
           COUNT(*) AS cnt, {o_dsum('value')} AS sum_value
    FROM events GROUP BY date_trunc('hour', ts), event_type
    """,
    tags=("streaming", "window"),
    doc="1h tumbling window agg — batch equivalent of streaming.window_counts",
)
def events_tumbling_window(spark, sf_dir):
    ev = t(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.window("ts", "1 hour").alias("w"), "event_type"
        )
        .agg(F.count(F.lit(1)).alias("cnt"), dsum(F.col("value")).alias("sum_value"))
        .select(
            ts_str(F.col("w.start")).alias("window_start"),
            "event_type",
            "cnt",
            "sum_value",
        )
    )


@query(
    "events_sliding_window",
    oracle=f"""
    WITH slides AS (
      SELECT ts, value,
             date_trunc('hour', ts) AS h0,
             date_trunc('hour', ts - INTERVAL 30 MINUTE) + INTERVAL 30 MINUTE AS h1
      FROM events
    )
    SELECT {o_ts_str('w')} AS window_start, COUNT(*) AS cnt
    FROM (
      SELECT h0 AS w, value FROM slides
      UNION ALL
      SELECT h1 AS w, value FROM slides
    ) x
    GROUP BY w
    """,
    tags=("streaming", "window"),
    doc="1h window sliding every 30min — each event lands in 2 windows",
)
def events_sliding_window(spark, sf_dir):
    ev = t(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(ts_str(F.col("w.start")).alias("window_start"), "cnt")
    )


@query(
    "events_user_activity",
    oracle=f"""
    SELECT user_id, COUNT(*) AS n_events,
           COUNT(DISTINCT event_type) AS n_types,
           {o_ts_str('MIN(ts)')} AS first_seen,
           {o_ts_str('MAX(ts)')} AS last_seen
    FROM events GROUP BY user_id
    """,
    tags=("streaming", "agg"),
    doc="per-user lifetime rollup — batch equivalent of a stateful stream agg",
)
def events_user_activity(spark, sf_dir):
    ev = t(spark, sf_dir, "events")
    return ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("event_type").alias("n_types"),
        ts_str(F.min("ts")).alias("first_seen"),
        ts_str(F.max("ts")).alias("last_seen"),
    )


@query(
    "events_sessionization",
    oracle="""
    WITH marked AS (
      SELECT user_id, ts,
             CASE WHEN LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                    OR epoch(ts) - epoch(LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)) >= 1800
                  THEN 1 ELSE 0 END AS new_s
      FROM events
    ),
    sess AS (
      SELECT user_id, ts,
             SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sno
      FROM marked
    )
    SELECT user_id, strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
           COUNT(*) AS n_events
    FROM sess GROUP BY user_id, sno
    """,
    tags=("streaming", "session"),
    doc="session windows (30min gap) — native session_window operator; "
    "oracle recomputes sessions via lag + cumulative-sum (same ≥gap rule)",
)
def events_sessionization(spark, sf_dir):
    from chapterhouseqe_spark.streaming.sessions import sessionize

    return sessionize(t(spark, sf_dir, "events"), gap="30 minutes")


@query(
    "events_enriched_rollup",
    oracle=f"""
    SELECT c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           {o_dsum('value')} AS sum_value
    FROM events JOIN customer ON user_id = c_custkey
    GROUP BY c_mktsegment
    """,
    tags=("streaming", "join"),
    doc="stream-static enrichment join — batch equivalent of "
    "streaming.windows.stream_enrich (dimension broadcasts, no "
    "stream-side state); customer stands in for the user dimension",
)
def events_enriched_rollup(spark, sf_dir):
    from chapterhouseqe_spark.streaming.windows import stream_enrich

    ev = t(spark, sf_dir, "events")
    dim = t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    enriched = stream_enrich(
        ev.withColumnRenamed("user_id", "c_custkey"), dim, "c_custkey", "inner"
    )
    return enriched.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_events"),
        dsum(F.col("value")).alias("sum_value"),
    )


@query(
    "events_click_to_purchase",
    oracle=f"""
    SELECT c.user_id,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           {o_dsum('p.value')} AS purchase_value
    FROM events c JOIN events p
      ON p.user_id = c.user_id
     AND p.ts >  c.ts
     AND p.ts <= c.ts + INTERVAL 1 HOUR
    WHERE c.event_type = 'click' AND p.event_type = 'purchase'
    GROUP BY c.user_id
    """,
    tags=("streaming", "join"),
    doc="click→purchase attribution within 1h — batch equivalent of "
    "streaming.windows.stream_stream_join (watermarked range-bounded "
    "stream-stream join; state is O(rate × horizon))",
)
def events_click_to_purchase(spark, sf_dir):
    from chapterhouseqe_spark.streaming.windows import stream_stream_join

    ev = t(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select("user_id", "ts")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "value"
    )
    joined = stream_stream_join(clicks, purchases, "user_id")
    return joined.groupBy(F.col("l_key").alias("user_id")).agg(
        F.count(F.lit(1)).alias("n_pairs"),
        dsum(F.col("r_value")).alias("purchase_value"),
    )


@query(
    "stream_source_replay_agg",
    oracle="""
    SELECT 'l' || CAST(i % 5 AS VARCHAR) AS label,
           COUNT(*) AS cnt,
           CAST(SUM(CAST((i * 37 % 1000) / 10.0 AS DECIMAL(27,4))) AS DOUBLE)
             AS total_value
    FROM generate_series(0, 119) g(i)
    GROUP BY label
    """,
    tags=("streaming", "source", "extension"),
    doc="streaming Python Data Source end-to-end: the "
    "SimpleDataSourceStreamReader (sources/synthetic.py) is driven "
    "through real micro-batches (30 rows/trigger x 4) into a memory "
    "sink, then aggregated; the oracle recomputes the deterministic "
    "row function over the full offset range. Offset replay "
    "(readBetweenOffsets) is pinned by tests/test_table_functions.py",
)
def stream_source_replay_agg(spark, sf_dir):
    from chapterhouseqe_spark.sources.synthetic import register_synthetic_source

    register_synthetic_source(spark)
    stream = (
        spark.readStream.format("chqe_synthetic")
        .option("batch_rows", 30)
        .option("max_rows", 120)
        .load()
    )
    sink = run_stream(stream, "stream_replay")
    got = sink.count()
    if got < 120:
        # A short stream must fail loudly, not return a partial
        # aggregate that the oracle would grade as a wrong answer.
        raise RuntimeError(
            f"stream_source_replay_agg: stream produced {got}/120 rows"
        )
    return sink.groupBy("label").agg(
        F.count(F.lit(1)).alias("cnt"),
        dsum(F.col("value")).alias("total_value"),
    )


@query(
    "stream_ewma_replay",
    oracle="""
    WITH RECURSIVE base AS (
      SELECT i AS event_id,
             'l' || CAST(i % 5 AS VARCHAR) AS event_type,
             (i * 37 % 1000) / 10.0 AS value,
             ROW_NUMBER() OVER (PARTITION BY i % 5 ORDER BY i) AS rn
      FROM generate_series(0, 119) g(i)
    ),
    r AS (
      SELECT event_type, event_id, value, rn, value AS ewma
      FROM base WHERE rn = 1
      UNION ALL
      SELECT n.event_type, n.event_id, n.value, n.rn,
             0.25 * n.value + 0.75 * r.ewma
      FROM r JOIN base n
        ON n.event_type = r.event_type AND n.rn = r.rn + 1
    )
    SELECT event_type, CAST(event_id AS BIGINT) AS event_id, value, ewma
    FROM r
    """,
    tags=("streaming", "stateful", "source", "extension"),
    doc="stateful streaming recurrence end-to-end (r8 verdict item 6): "
    "streaming.recurrence.streaming_ewma (applyInPandasWithState — "
    "per-key level carried ACROSS micro-batches) driven through 4 real "
    "30-row micro-batches of the replayable Python Data Source "
    "(sources/synthetic.py), so the graded rows include state that "
    "survived 3 micro-batch boundaries. The oracle replays the "
    "identical per-key fold as a recursive CTE over the source's "
    "deterministic row function; alpha=0.25 is an exact binary "
    "fraction, so every step is the same two mults + one add in both "
    "engines — bit-identical doubles out. The batch twin "
    "(operators/temporal.ewma_series) is graded as events_ewma_hourly; "
    "tests/test_streaming.py pins stream==batch cross-batch equality",
)
def stream_ewma_replay(spark, sf_dir):
    from chapterhouseqe_spark.sources.synthetic import register_synthetic_source
    from chapterhouseqe_spark.streaming.recurrence import streaming_ewma

    register_synthetic_source(spark)
    stream = (
        spark.readStream.format("chqe_synthetic")
        .option("batch_rows", 30)
        .option("max_rows", 120)
        .load()
        .select(
            F.col("label").alias("event_type"),
            F.timestamp_seconds(F.col("id")).alias("ts"),
            F.col("id").alias("event_id"),
            "value",
        )
    )
    sink = run_stream(streaming_ewma(stream, alpha=0.25), "stream_ewma")
    got = sink.count()
    if got < 120:
        # A short stream must fail loudly, not return partial rows the
        # oracle would grade as a wrong answer.
        raise RuntimeError(f"stream_ewma_replay: stream produced {got}/120 rows")
    return sink.select(
        "event_type",
        F.col("event_id").cast("bigint").alias("event_id"),
        "value",
        "ewma",
    )


@query(
    "events_cohort_retention",
    oracle="""
    WITH firsts AS (
      SELECT user_id, date_trunc('week', MIN(ts)) AS cohort_week
      FROM events GROUP BY user_id
    ),
    activity AS (
      SELECT DISTINCT e.user_id,
             date_trunc('week', e.ts) AS act_week
      FROM events e
    )
    SELECT strftime(f.cohort_week, '%Y-%m-%d') AS cohort_week_s,
           CAST(date_diff('week', f.cohort_week, a.act_week) AS BIGINT)
             AS weeks_since,
           COUNT(*) AS n_users
    FROM firsts f JOIN activity a ON a.user_id = f.user_id
    GROUP BY 1, 2
    """,
    tags=("streaming", "analytics"),
    doc="classic cohort retention over events: users grouped by "
    "first-seen week, counted per weeks-since-cohort — two keyed "
    "aggregations plus one join, no window over the full event stream",
)
def events_cohort_retention(spark, sf_dir):
    ev = t(spark, sf_dir, "events")
    firsts = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort_week")
    )
    activity = ev.select(
        "user_id", F.date_trunc("week", F.col("ts")).alias("act_week")
    ).distinct()
    return (
        firsts.join(activity, "user_id")
        .groupBy(
            F.date_format("cohort_week", "yyyy-MM-dd").alias("cohort_week_s"),
            F.floor(
                (F.unix_timestamp("act_week") - F.unix_timestamp("cohort_week"))
                / (7 * 86400)
            ).alias("weeks_since"),
        )
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


@query(
    "stream_dedup_watermark",
    oracle=f"""
    SELECT event_type, COUNT(*) AS cnt, {o_dsum('value')} AS sum_value
    FROM events GROUP BY event_type
    """,
    tags=("streaming", "dedup"),
    doc="streaming exactly-once dedup under at-least-once delivery, run "
    "through REAL micro-batches: the events table is doubled (every "
    "row delivered twice), streamed from parquet, deduplicated with "
    "dropDuplicatesWithinWatermark(event_id), and aggregated — the "
    "oracle is the plain single-copy aggregate, so a single leaked or "
    "over-dropped duplicate is a red row. WithinWatermark is the "
    "variant whose state actually EVICTS at the watermark horizon "
    "(plain dropDuplicates without the event-time column in its keys "
    "never evicts — measured at 1M rows in the r7 probe, PLANS.md); "
    "the delay here exceeds the dataset's span so the replay is exact "
    "and deterministic regardless of batch splits",
)
def stream_dedup_watermark(spark, sf_dir):
    import shutil
    import tempfile

    ev = t(spark, sf_dir, "events")
    n_expected = ev.count()
    tmp = tempfile.mkdtemp(prefix="chqe_stream_dedup_")
    try:
        data_dir = f"{tmp}/data"
        # at-least-once delivery: every event arrives exactly twice
        ev.unionAll(ev).write.parquet(data_dir)
        stream = spark.readStream.schema(ev.schema).parquet(data_dir)
        # parquet ts is TIMESTAMP_NTZ; event-time watermarks require
        # TIMESTAMP (session tz is pinned UTC, so the cast is stable)
        deduped = (
            stream.withColumn("ts", F.col("ts").cast("timestamp"))
            .withWatermark("ts", "3650 days")
            # WithinWatermark, not plain dropDuplicates: without the
            # event-time column in the key set, plain dropDuplicates
            # NEVER evicts its state (the r7 1M-row probe measured it
            # pinning one state row per distinct key forever, 266 MB
            # and corpus-proportional; the WithinWatermark variant
            # evicted to the watermark horizon — PLANS.md). Semantics
            # here are identical: the delay exceeds the data span, so
            # every duplicate is within the window and nothing is late.
            .dropDuplicatesWithinWatermark(["event_id"])
        )
        sink = run_stream(deduped, "stream_dedup")
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    got = sink.count()
    if got != n_expected:
        raise RuntimeError(
            f"stream_dedup_watermark: sink has {got} rows, expected "
            f"{n_expected} — duplicates leaked or rows over-dropped"
        )
    return sink.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("cnt"),
        dsum(F.col("value")).alias("sum_value"),
    )


@query(
    "events_resample_gapfill",
    oracle=f"""
    WITH bounds AS (
      SELECT event_type,
             date_trunc('hour', MIN(ts)) AS lo,
             date_trunc('hour', MAX(ts)) AS hi
      FROM events GROUP BY event_type
    ),
    slots AS (
      SELECT event_type, unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS h
      FROM bounds
    ),
    counts AS (
      SELECT event_type, date_trunc('hour', ts) AS h,
             COUNT(*) AS c, {o_dsum('value')} AS sv
      FROM events GROUP BY 1, 2
    )
    SELECT s.event_type, {o_ts_str('s.h')} AS hour_s,
           COALESCE(c.c, 0) AS cnt,
           COALESCE(c.sv, 0.0) AS sum_value
    FROM slots s LEFT JOIN counts c
      ON c.event_type = s.event_type AND c.h = s.h
    """,
    tags=("streaming", "timeseries"),
    doc="time-series resampling with gap filling: per event type, a "
    "dense hourly grid spans min..max event time (sequence + explode — "
    "the grid is generated, never scanned) and left-joins the hourly "
    "rollup so silent hours appear as explicit zeros — what downstream "
    "anomaly/trend consumers need instead of missing rows",
)
def events_resample_gapfill(spark, sf_dir):
    ev = t(spark, sf_dir, "events")
    bounds = ev.groupBy("event_type").agg(
        F.date_trunc("hour", F.min("ts")).alias("lo"),
        F.date_trunc("hour", F.max("ts")).alias("hi"),
    )
    slots = bounds.select(
        "event_type",
        F.explode(
            F.sequence("lo", "hi", F.expr("interval 1 hour"))
        ).alias("h"),
    )
    counts = ev.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("h")
    ).agg(
        F.count(F.lit(1)).alias("c"),
        dsum(F.col("value")).alias("sv"),
    )
    return slots.join(counts, ["event_type", "h"], "left").select(
        "event_type",
        ts_str(F.col("h")).alias("hour_s"),
        F.coalesce(F.col("c"), F.lit(0)).alias("cnt"),
        F.coalesce(F.col("sv"), F.lit(0.0)).alias("sum_value"),
    )


@query(
    "events_funnel_stages",
    oracle="""
    WITH v AS (
      SELECT user_id, MIN(ts) AS t1 FROM events
      WHERE event_type = 'view' GROUP BY user_id
    ),
    c AS (
      SELECT e.user_id, MIN(e.ts) AS t2
      FROM events e JOIN v ON v.user_id = e.user_id
      WHERE e.event_type = 'click' AND e.ts > v.t1
      GROUP BY e.user_id
    ),
    p AS (
      SELECT e.user_id, MIN(e.ts) AS t3
      FROM events e JOIN c ON c.user_id = e.user_id
      WHERE e.event_type = 'purchase' AND e.ts > c.t2
      GROUP BY e.user_id
    )
    SELECT 'view' AS stage, COUNT(*) AS n_users,
           CAST(0 AS BIGINT) AS sum_lag_us FROM v
    UNION ALL
    SELECT 'view>click', COUNT(*),
           CAST(SUM(epoch_us(c.t2) - epoch_us(v.t1)) AS BIGINT)
    FROM c JOIN v ON v.user_id = c.user_id
    UNION ALL
    SELECT 'view>click>purchase', COUNT(*),
           CAST(SUM(epoch_us(p.t3) - epoch_us(c.t2)) AS BIGINT)
    FROM p JOIN c ON c.user_id = p.user_id
    """,
    tags=("streaming", "funnel"),
    doc="ordered-funnel analysis (view THEN click THEN purchase, "
    "strictly increasing timestamps): each stage is min-ts-after-"
    "previous-stage, the classic product-analytics sequence-match; "
    "stage populations and conversion-lag sums are exact BIGINT "
    "microseconds (epoch differences cancel any tz interpretation). 100 TB shape: "
    "three user-keyed aggregations reusing ONE partitioning, each "
    "stage frame smaller than the last",
)
def events_funnel_stages(spark, sf_dir):
    ev = t(spark, sf_dir, "events")
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    # ts is TIMESTAMP_NTZ; the cast to TIMESTAMP applies the session tz
    # (pinned UTC in session.py) and the difference cancels it anyway
    lag_cp = F.unix_micros(F.col("t2").cast("timestamp")) - F.unix_micros(
        F.col("t1").cast("timestamp")
    )
    lag_pp = F.unix_micros(F.col("t3").cast("timestamp")) - F.unix_micros(
        F.col("t2").cast("timestamp")
    )
    s1 = v.agg(
        F.lit("view").alias("stage"),
        F.count(F.lit(1)).alias("n_users"),
        F.lit(0).cast("long").alias("sum_lag_us"),
    )
    s2 = (
        c.join(v, "user_id")
        .agg(F.count(F.lit(1)).alias("n_users"), F.sum(lag_cp).alias("sum_lag_us"))
        .select(F.lit("view>click").alias("stage"), "n_users", "sum_lag_us")
    )
    s3 = (
        p.join(c, "user_id")
        .agg(F.count(F.lit(1)).alias("n_users"), F.sum(lag_pp).alias("sum_lag_us"))
        .select(F.lit("view>click>purchase").alias("stage"), "n_users", "sum_lag_us")
    )
    return s1.unionAll(s2).unionAll(s3)


@query(
    "events_windowed_topk",
    oracle=f"""
    SELECT window_start, event_type, cnt, rnk FROM (
      SELECT {o_ts_str("date_trunc('hour', ts)")} AS window_start,
             event_type, COUNT(*) AS cnt,
             ROW_NUMBER() OVER (
               PARTITION BY date_trunc('hour', ts)
               ORDER BY COUNT(*) DESC, event_type) AS rnk
      FROM events GROUP BY date_trunc('hour', ts), event_type
    ) x WHERE rnk <= 3
    """,
    tags=("streaming", "window"),
    doc="windowed top-k (trending items per hour): tumbling-window "
    "counts then a rank window PARTITIONED BY the time window — the "
    "per-window top-3 event types, ties to the smaller name. The rank "
    "input is already collapsed to |windows|x|types| rows by the "
    "map-side-combinable count, so the window sort is tiny regardless "
    "of event volume — the standard trending-topics shape",
)
def events_windowed_topk(spark, sf_dir):
    from pyspark.sql import Window

    ev = t(spark, sf_dir, "events")
    counts = ev.groupBy(
        F.window("ts", "1 hour").alias("w"), "event_type"
    ).agg(F.count(F.lit(1)).alias("cnt"))
    w = Window.partitionBy("w").orderBy(F.col("cnt").desc(), "event_type")
    return (
        counts.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select(
            ts_str(F.col("w.start")).alias("window_start"),
            "event_type",
            "cnt",
            F.col("rnk").cast("bigint").alias("rnk"),
        )
    )


@query(
    "events_anomaly_zscore",
    oracle=f"""
    WITH hourly AS (
      SELECT date_trunc('hour', ts) AS h, event_type,
             CAST(COUNT(*) AS BIGINT) AS cnt
      FROM events GROUP BY 1, 2
    ),
    stats AS (
      SELECT h, event_type, cnt,
             COUNT(*) OVER w AS n_prev,
             CAST(SUM(cnt) OVER w AS BIGINT) AS sum_prev,
             CAST(SUM(cnt * cnt) OVER w AS BIGINT) AS sumsq_prev
      FROM hourly
      WINDOW w AS (PARTITION BY event_type ORDER BY h
                   ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)
    )
    SELECT {o_ts_str('h')} AS window_start, event_type, cnt,
           CAST(sum_prev AS DOUBLE) / CAST(n_prev AS DOUBLE) AS mean_prev,
           (CAST(cnt AS DOUBLE)
            - CAST(sum_prev AS DOUBLE) / CAST(n_prev AS DOUBLE))
           / sqrt((CAST(sumsq_prev AS DOUBLE)
                   - CAST(sum_prev AS DOUBLE) * CAST(sum_prev AS DOUBLE)
                     / CAST(n_prev AS DOUBLE))
                  / CAST(n_prev - 1 AS DOUBLE) + 1.0) AS zscore
    FROM stats WHERE n_prev >= 12
    """,
    tags=("streaming", "window", "stats"),
    doc="windowed anomaly score: each hour's event count vs its "
    "trailing-24h baseline, z = (x - mean)/sqrt(var + 1) per event "
    "type (the +1 regularizer keeps constant-rate windows finite — "
    "and in integer arithmetic until the last few IEEE ops, evaluated "
    "in the same order on both engines so the score replays exactly; "
    "a log-domain or engine-native stddev would not). The rank input "
    "is the |hours|x|types| count table, so the trailing window is "
    "tiny regardless of event volume — the standard rate-anomaly "
    "monitor over an event stream",
)
def events_anomaly_zscore(spark, sf_dir):
    from pyspark.sql import Window

    ev = t(spark, sf_dir, "events")
    hourly = ev.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("h"), "event_type"
    ).agg(F.count(F.lit(1)).alias("cnt"))
    w = (
        Window.partitionBy("event_type")
        .orderBy("h")
        .rowsBetween(-24, -1)
    )
    stats = hourly.select(
        "h",
        "event_type",
        "cnt",
        F.count(F.lit(1)).over(w).alias("n_prev"),
        F.sum("cnt").over(w).alias("sum_prev"),
        F.sum(F.col("cnt") * F.col("cnt")).over(w).alias("sumsq_prev"),
    ).filter(F.col("n_prev") >= 12)
    mean = F.col("sum_prev").cast("double") / F.col("n_prev").cast("double")
    var = (
        F.col("sumsq_prev").cast("double")
        - F.col("sum_prev").cast("double")
        * F.col("sum_prev").cast("double")
        / F.col("n_prev").cast("double")
    ) / (F.col("n_prev") - 1).cast("double")
    return stats.select(
        ts_str(F.col("h")).alias("window_start"),
        "event_type",
        "cnt",
        mean.alias("mean_prev"),
        ((F.col("cnt").cast("double") - mean) / F.sqrt(var + F.lit(1.0))).alias(
            "zscore"
        ),
    )


@query(
    "events_transition_matrix",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type,
             LAG(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev_type
      FROM events
    ),
    trans AS (
      SELECT prev_type, event_type AS next_type,
             CAST(COUNT(*) AS BIGINT) AS cnt
      FROM seq WHERE prev_type IS NOT NULL
      GROUP BY prev_type, event_type
    ),
    tot AS (
      SELECT prev_type, CAST(SUM(cnt) AS BIGINT) AS row_total
      FROM trans GROUP BY prev_type
    )
    SELECT t.prev_type, t.next_type, t.cnt,
           CAST(t.cnt AS DOUBLE) / CAST(tt.row_total AS DOUBLE) AS p
    FROM trans t JOIN tot tt USING (prev_type)
    """,
    tags=("streaming", "session", "stats"),
    doc="first-order Markov transition matrix over per-user event "
    "sequences (the action-sequence model behind next-event "
    "prediction and behavioral cohorting): lag per user with the "
    "event_id tie-break, transition counts, and row-normalized "
    "probabilities as one division of exact BIGINTs. The matrix is "
    "|types|^2 rows however large the stream; the per-user window "
    "reads each partition once",
)
def events_transition_matrix(spark, sf_dir):
    from pyspark.sql import Window

    ev = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "user_id",
        "event_type",
        F.lag("event_type").over(w).alias("prev_type"),
    ).filter(F.col("prev_type").isNotNull())
    trans = seq.groupBy("prev_type", F.col("event_type").alias("next_type")).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    tot = trans.groupBy("prev_type").agg(F.sum("cnt").alias("row_total"))
    return trans.join(F.broadcast(tot), "prev_type").select(
        "prev_type",
        "next_type",
        "cnt",
        (F.col("cnt").cast("double") / F.col("row_total").cast("double")).alias(
            "p"
        ),
    )


@query(
    "events_dau_stickiness",
    oracle="""
    WITH ud AS (
      SELECT DISTINCT strftime(ts, '%Y-%m-%d') AS day, user_id FROM events
    ),
    dau AS (SELECT day, CAST(COUNT(*) AS BIGINT) AS dau FROM ud GROUP BY day),
    wau AS (
      SELECT d.day, CAST(COUNT(DISTINCT u.user_id) AS BIGINT) AS wau
      FROM dau d JOIN ud u
        ON u.day <= d.day
       AND u.day >= strftime(CAST(d.day AS DATE) - INTERVAL 6 DAY, '%Y-%m-%d')
      GROUP BY d.day
    )
    SELECT d.day, d.dau, w.wau,
           CAST(d.dau AS DOUBLE) / CAST(w.wau AS DOUBLE) AS stickiness
    FROM dau d JOIN wau w USING (day)
    """,
    tags=("streaming", "agg", "stats"),
    doc="DAU / trailing-7-day WAU / stickiness (the product-analytics "
    "engagement triple): the stream collapses to DISTINCT (day, user) "
    "first — everything after runs on that bounded frame, and the "
    "trailing-window distinct is a range join of |days| x (day,user) "
    "rows, never a rescan of raw events. Stickiness is one division "
    "of exact BIGINTs",
)
def events_dau_stickiness(spark, sf_dir):
    ev = t(spark, sf_dir, "events")
    ud = ev.select(
        F.date_format("ts", "yyyy-MM-dd").alias("day"), "user_id"
    ).distinct()
    dau = ud.groupBy("day").agg(F.count(F.lit(1)).alias("dau"))
    days = dau.select("day")
    win = (
        days.alias("d")
        .join(
            ud.alias("u"),
            (F.col("u.day") <= F.col("d.day"))
            & (
                F.col("u.day")
                >= F.date_format(
                    F.date_sub(F.col("d.day").cast("date"), 6), "yyyy-MM-dd"
                )
            ),
        )
        .groupBy(F.col("d.day").alias("day"))
        .agg(F.countDistinct("u.user_id").alias("wau"))
    )
    return (
        dau.join(win, "day")
        .select(
            "day",
            "dau",
            "wau",
            (F.col("dau").cast("double") / F.col("wau").cast("double")).alias(
                "stickiness"
            ),
        )
    )


@query(
    "stream_interval_join",
    oracle="""
    WITH c AS (
      SELECT user_id, ts AS cts FROM events WHERE event_type = 'click'
    ),
    p AS (
      SELECT user_id, ts AS pts, value FROM events
      WHERE event_type = 'purchase'
    )
    SELECT c.user_id,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(SUM(CAST(p.value AS DECIMAL(27,4))) AS DOUBLE)
             AS attributed_value
    FROM c JOIN p ON p.user_id = c.user_id
                 AND p.pts >= c.cts
                 AND p.pts <= c.cts + INTERVAL 1 HOUR
    GROUP BY c.user_id
    """,
    tags=("streaming", "join"),
    doc="STREAM-STREAM interval join through real micro-batches: "
    "clicks and purchases arrive as two independent file streams, "
    "joined on user_id with a one-hour event-time range condition "
    "under watermarks on BOTH sides — the canonical Structured "
    "Streaming two-stream state shape (each side buffers only rows "
    "newer than the other side's watermark minus the interval, so "
    "state is bounded by rate x window, not stream length). The "
    "watermark delay here exceeds the dataset span, so the streamed "
    "join is exact and the oracle is the plain batch interval join",
)
def stream_interval_join(spark, sf_dir):
    import shutil
    import tempfile

    from chapterhouseqe_spark.queries.core_sql import t

    ev = t(spark, sf_dir, "events")
    tmp = tempfile.mkdtemp(prefix="chqe_stream_ij_")
    try:
        clicks_dir, purch_dir = f"{tmp}/clicks", f"{tmp}/purchases"
        ev.filter(F.col("event_type") == "click").write.parquet(clicks_dir)
        ev.filter(F.col("event_type") == "purchase").write.parquet(purch_dir)
        c = (
            spark.readStream.schema(ev.schema)
            .parquet(clicks_dir)
            .select(
                F.col("user_id"),
                F.col("ts").cast("timestamp").alias("cts"),
            )
            .withWatermark("cts", "3650 days")
        )
        p = (
            spark.readStream.schema(ev.schema)
            .parquet(purch_dir)
            .select(
                F.col("user_id").alias("p_user_id"),
                F.col("ts").cast("timestamp").alias("pts"),
                F.col("value"),
            )
            .withWatermark("pts", "3650 days")
        )
        joined = c.join(
            p,
            (F.col("p_user_id") == F.col("user_id"))
            & (F.col("pts") >= F.col("cts"))
            & (F.col("pts") <= F.col("cts") + F.expr("INTERVAL 1 HOUR")),
        )
        sink = run_stream(joined, "stream_ij")
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return sink.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum(F.col("value").cast("decimal(27,4)"))
        .cast("double")
        .alias("attributed_value"),
    )


@query(
    "events_debounce",
    oracle="""
    WITH seq AS (
      SELECT event_type,
             epoch_us(ts) - LAG(epoch_us(ts)) OVER (
               PARTITION BY user_id, event_type
               ORDER BY ts, event_id) AS gap_us
      FROM events
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CASE WHEN gap_us IS NULL OR gap_us >= 60000000
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           CAST(SUM(CASE WHEN gap_us < 60000000
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped
    FROM seq GROUP BY event_type
    """,
    tags=("streaming", "window", "dedup"),
    doc="per-stream throttle / min-gap filter: an event survives only "
    "if >= 60s elapsed since the PREVIOUS raw event of the same "
    "(user, type) — the bot-burst / double-fire suppressor that runs "
    "before sessionization (distinct from true previous-KEPT-event "
    "debounce, which is iterative state — that variant lives in the "
    "streaming harness as watermark dedup). One (user,type)-keyed "
    "window with an event_id tiebreak, then a keyed rollup; the event "
    "stream shuffles exactly once. 100 TB: state is one lag row per "
    "key, and the keyed window never funnels",
)
def events_debounce(spark, sf_dir):
    from pyspark.sql import Window

    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    gap = us - F.lag(us).over(w)
    return (
        t(spark, sf_dir, "events")
        .select("user_id", "event_type", "ts", "event_id")
        .select("event_type", gap.alias("gap_us"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(
                (
                    F.col("gap_us").isNull()
                    | (F.col("gap_us") >= 60_000_000)
                ).cast("bigint")
            ).alias("n_kept"),
            F.sum(
                (F.col("gap_us") < 60_000_000).cast("bigint")
            ).alias("n_dropped"),
        )
    )


@query(
    "events_power_user_share",
    oracle="""
    WITH counts AS (
      SELECT user_id, COUNT(*) AS n FROM events GROUP BY user_id
    ),
    tiles AS (
      SELECT user_id, n,
             NTILE(100) OVER (ORDER BY n DESC, user_id) AS tile
      FROM counts
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
           CAST(SUM(CASE WHEN tile = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_top_users,
           CAST(SUM(CASE WHEN tile = 1 THEN n ELSE 0 END) AS BIGINT)
             AS top_events,
           CAST(SUM(n) AS BIGINT) AS total_events,
           CAST(SUM(CASE WHEN tile = 1 THEN n ELSE 0 END) AS DOUBLE)
             / SUM(n) AS top_share
    FROM tiles
    """,
    tags=("streaming", "agg", "skew", "stats"),
    doc="traffic concentration audit: what share of all events comes "
    "from the top percentile of users (NTILE over a fully-tiebroken "
    "order, so both engines bucket identically) — the whale/bot "
    "detector, and the measurement that decides whether user_id is "
    "salt-worthy as a shuffle key (companion to audit_join_skew's "
    "max/mean ratio). The event stream collapses to the |users|-row "
    "count frame before the single-partition percentile window — the "
    "documented bounded pattern; the share is one BIGINT/BIGINT "
    "division",
)
def events_power_user_share(spark, sf_dir):
    from pyspark.sql import Window

    counts = (
        t(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    tiles = counts.select(
        "n",
        F.ntile(100)
        .over(Window.orderBy(F.col("n").desc(), F.col("user_id")))
        .alias("tile"),
    )
    top = F.when(F.col("tile") == 1, F.col("n")).otherwise(F.lit(0))
    return tiles.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum((F.col("tile") == 1).cast("bigint")).alias("n_top_users"),
        F.sum(top).alias("top_events"),
        F.sum("n").alias("total_events"),
        (F.sum(top).cast("double") / F.sum("n")).alias("top_share"),
    )


@query(
    "events_forward_fill",
    oracle=f"""
    WITH bounds AS (
      SELECT event_type,
             date_trunc('hour', MIN(ts)) AS lo,
             date_trunc('hour', MAX(ts)) AS hi
      FROM events GROUP BY event_type
    ),
    slots AS (
      SELECT event_type, unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS h
      FROM bounds
    ),
    hourly AS (
      SELECT event_type, date_trunc('hour', ts) AS h,
             COUNT(*) AS c, {o_dsum('value')} AS sv
      FROM events GROUP BY 1, 2
    ),
    grid AS (
      SELECT s.event_type, s.h, COALESCE(hr.c, 0) AS cnt, hr.sv
      FROM slots s LEFT JOIN hourly hr
        ON hr.event_type = s.event_type AND hr.h = s.h
    )
    SELECT event_type, {o_ts_str('h')} AS hour_s, CAST(cnt AS BIGINT) AS cnt,
           COALESCE(last_value(sv IGNORE NULLS) OVER (
               PARTITION BY event_type ORDER BY h
               ROWS UNBOUNDED PRECEDING), 0.0) AS filled_value,
           CAST(cnt > 0 AS BOOLEAN) AS observed
    FROM grid
    """,
    tags=("streaming", "timeseries", "window"),
    doc="forward-fill resampling (LOCF): the dense hourly grid again, "
    "but silent hours CARRY the last observed hourly value instead of "
    "zeroing — last-observation-carried-forward, the fill rule "
    "sensor/price/feature pipelines need where absence means "
    "'unchanged', not 'zero' (events_resample_gapfill covers the "
    "count-like case). One ignore-nulls running last_value per "
    "type-keyed window over the |types|x|hours| grid — the grid, "
    "never the event stream, pays the window; the hourly sums "
    "carried are decimal-exact so LOCF propagates bit-identical "
    "values in both engines",
)
def events_forward_fill(spark, sf_dir):
    from pyspark.sql import Window

    ev = t(spark, sf_dir, "events")
    bounds = ev.groupBy("event_type").agg(
        F.date_trunc("hour", F.min("ts")).alias("lo"),
        F.date_trunc("hour", F.max("ts")).alias("hi"),
    )
    slots = bounds.select(
        "event_type",
        F.explode(F.sequence("lo", "hi", F.expr("interval 1 hour"))).alias(
            "h"
        ),
    )
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("h")
    ).agg(F.count(F.lit(1)).alias("c"), dsum(F.col("value")).alias("sv"))
    grid = slots.join(hourly, ["event_type", "h"], "left")
    w = (
        Window.partitionBy("event_type")
        .orderBy("h")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return grid.select(
        "event_type",
        ts_str(F.col("h")).alias("hour_s"),
        F.coalesce(F.col("c"), F.lit(0)).cast("bigint").alias("cnt"),
        F.coalesce(
            F.last("sv", ignorenulls=True).over(w), F.lit(0.0)
        ).alias("filled_value"),
        (F.coalesce(F.col("c"), F.lit(0)) > 0).alias("observed"),
    )


@query(
    "events_ewma_hourly",
    oracle=f"""
    WITH RECURSIVE hourly AS (
      SELECT event_type, date_trunc('hour', ts) AS h,
             {o_dsum('value')} / COUNT(*) AS avg_val
      FROM events GROUP BY 1, 2
    ),
    ranked AS (
      SELECT event_type, h, avg_val,
             ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY h) AS rn
      FROM hourly
    ),
    r AS (
      SELECT event_type, h, avg_val, rn, avg_val AS ewma
      FROM ranked WHERE rn = 1
      UNION ALL
      SELECT n.event_type, n.h, n.avg_val, n.rn,
             0.25 * n.avg_val + 0.75 * r.ewma
      FROM r JOIN ranked n
        ON n.event_type = r.event_type AND n.rn = r.rn + 1
    )
    SELECT event_type, {o_ts_str('h')} AS hour_s, avg_val, ewma FROM r
    """,
    tags=("streaming", "timeseries", "stateful"),
    doc="per-type hourly EWMA (alpha=0.25) — a linear recurrence no "
    "built-in window frame expresses, run as applyInPandas over the "
    "hourly grid: the event stream collapses in ONE decimal-exact "
    "aggregation (map-side partials), then each |hours|-row series "
    "folds sequentially inside its own Arrow batch, partitioned by "
    "series key. The oracle replays the identical fold as a recursive "
    "CTE; alpha is an exact binary fraction so every step is the same "
    "two mults + one add in both engines — bit-identical doubles out",
)
def events_ewma_hourly(spark, sf_dir):
    from chapterhouseqe_spark.operators.temporal import ewma_series

    ev = t(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("h")
    ).agg((dsum(F.col("value")) / F.count(F.lit(1))).alias("avg_val"))
    hourly = hourly.select(
        "event_type", ts_str(F.col("h")).alias("hour_s"), "avg_val"
    )
    return ewma_series(hourly, ["event_type"], "hour_s", "avg_val", alpha=0.25)


@query(
    "events_ewma_anomaly",
    oracle=f"""
    WITH RECURSIVE hourly AS (
      SELECT event_type, date_trunc('hour', ts) AS h,
             {o_dsum('value')} / COUNT(*) AS avg_val
      FROM events GROUP BY 1, 2
    ),
    ranked AS (
      SELECT event_type, h, avg_val,
             ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY h) AS rn
      FROM hourly
    ),
    r AS (
      SELECT event_type, h, avg_val, rn,
             avg_val AS ewma, CAST(0.0 AS DOUBLE) AS ewmad,
             CAST(NULL AS DOUBLE) AS expected,
             CAST(NULL AS DOUBLE) AS deviation,
             CAST(NULL AS DOUBLE) AS band,
             FALSE AS is_anom
      FROM ranked WHERE rn = 1
      UNION ALL
      SELECT n.event_type, n.h, n.avg_val, n.rn,
             0.25 * n.avg_val + 0.75 * r.ewma,
             0.25 * abs(n.avg_val - r.ewma) + 0.75 * r.ewmad,
             r.ewma,
             abs(n.avg_val - r.ewma),
             3.0 * r.ewmad,
             n.rn > 12 AND abs(n.avg_val - r.ewma) > 3.0 * r.ewmad
      FROM r JOIN ranked n
        ON n.event_type = r.event_type AND n.rn = r.rn + 1
    )
    SELECT event_type, {o_ts_str('h')} AS hour_s, avg_val,
           expected, deviation, band
    FROM r WHERE is_anom
    """,
    tags=("streaming", "timeseries", "stateful"),
    doc="EWMA-residual anomaly hours: two coupled recurrences (level + "
    "EW mean-abs-deviation) fold per series in one applyInPandas pass; "
    "a point is anomalous when it deviates from the PRE-update level "
    "by more than 3x the PRE-update deviation estimate after a "
    "12-point warmup. The oracle recursion carries both accumulators, "
    "so the flagged set — thresholded doubles included — is "
    "bit-identical; shows the recurrence seam handles vector state "
    "(Holt's trend is the same shape with one more accumulator)",
)
def events_ewma_anomaly(spark, sf_dir):
    from chapterhouseqe_spark.operators.temporal import ewma_anomaly_series

    ev = t(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("h")
    ).agg((dsum(F.col("value")) / F.count(F.lit(1))).alias("avg_val"))
    hourly = hourly.select(
        "event_type", ts_str(F.col("h")).alias("hour_s"), "avg_val"
    )
    return ewma_anomaly_series(
        hourly, ["event_type"], "hour_s", "avg_val", alpha=0.25, k=3.0, warmup=12
    )


@query(
    "events_holt_forecast",
    oracle=f"""
    WITH RECURSIVE hourly AS (
      SELECT event_type, date_trunc('hour', ts) AS h,
             {o_dsum('value')} / COUNT(*) AS avg_val
      FROM events GROUP BY 1, 2
    ),
    ranked AS (
      SELECT event_type, avg_val,
             ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY h) AS rn,
             COUNT(*) OVER (PARTITION BY event_type) AS n_pts
      FROM hourly
    ),
    r AS (
      SELECT event_type, rn, n_pts,
             avg_val AS l, CAST(0.0 AS DOUBLE) AS b
      FROM ranked WHERE rn = 1
      UNION ALL
      SELECT n.event_type, n.rn, n.n_pts,
             0.25 * n.avg_val + 0.75 * (r.l + r.b),
             0.25 * ((0.25 * n.avg_val + 0.75 * (r.l + r.b)) - r.l)
               + 0.75 * r.b
      FROM r JOIN ranked n
        ON n.event_type = r.event_type AND n.rn = r.rn + 1
    )
    SELECT event_type, CAST(g.h AS INTEGER) AS h,
           l AS level, b AS trend, l + (g.h * b) AS forecast
    FROM r, generate_series(1, 6) AS g(h)
    WHERE rn = n_pts
    """,
    tags=("streaming", "timeseries", "stateful", "forecast"),
    doc="Holt linear-trend forecast, 6 hours ahead per event type: the "
    "level+trend double recurrence folds over the hourly grid in the "
    "same applyInPandas seam as the EWMA family (b_1=0 forward init — "
    "no lookahead, so a recursive CTE replays it exactly), then each "
    "series projects l_T + h*b_T for h=1..6. Forecasting as a "
    "DataFrame op: one decimal-exact collapse of the stream, one "
    "series-key shuffle, |types|x6 rows out, bit-identical doubles",
)
def events_holt_forecast(spark, sf_dir):
    from chapterhouseqe_spark.operators.temporal import holt_forecast

    ev = t(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("h")
    ).agg((dsum(F.col("value")) / F.count(F.lit(1))).alias("avg_val"))
    hourly = hourly.select(
        "event_type", ts_str(F.col("h")).alias("hour_s"), "avg_val"
    )
    return holt_forecast(
        hourly, ["event_type"], "hour_s", "avg_val",
        alpha=0.25, beta=0.25, horizon=6,
    )


@query(
    "events_seasonality_profile",
    oracle=f"""
    WITH per_hod AS (
      SELECT event_type, CAST(date_part('hour', ts) AS INTEGER) AS hod,
             COUNT(*) AS n, {o_dsum('value')} / COUNT(*) AS hod_avg
      FROM events GROUP BY 1, 2
    ),
    per_type AS (
      SELECT event_type, {o_dsum('value')} / COUNT(*) AS type_avg
      FROM events GROUP BY 1
    )
    SELECT h.event_type, h.hod, h.n, h.hod_avg,
           h.hod_avg / t.type_avg AS seasonal_index,
           ROW_NUMBER() OVER (
             PARTITION BY h.event_type
             ORDER BY h.hod_avg / t.type_avg DESC, h.hod
           ) AS peak_rank
    FROM per_hod h JOIN per_type t USING (event_type)
    """,
    tags=("streaming", "timeseries"),
    doc="hour-of-day seasonality profile: per (type, hour-of-day) mean "
    "over per-type mean — the multiplicative seasonal index — plus a "
    "peak-hour ranking. Every mean is a decimal-exact sum with ONE "
    "double division, and the index is one more division of those "
    "bit-identical doubles, so no float accumulation order exists to "
    "diverge; two map-side-partial aggregations over the stream, a "
    "|types|-row broadcast join, a |types|x24 window",
)
def events_seasonality_profile(spark, sf_dir):
    from pyspark.sql import Window

    ev = t(spark, sf_dir, "events")
    per_hod = ev.groupBy(
        "event_type", F.hour("ts").alias("hod")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        (dsum(F.col("value")) / F.count(F.lit(1))).alias("hod_avg"),
    )
    per_type = ev.groupBy("event_type").agg(
        (dsum(F.col("value")) / F.count(F.lit(1))).alias("type_avg")
    )
    joined = per_hod.join(F.broadcast(per_type), "event_type").withColumn(
        "seasonal_index", F.col("hod_avg") / F.col("type_avg")
    )
    w = Window.partitionBy("event_type").orderBy(
        F.col("seasonal_index").desc(), F.col("hod")
    )
    return joined.select(
        "event_type", "hod", "n", "hod_avg", "seasonal_index",
        F.row_number().over(w).alias("peak_rank"),
    )


@query(
    "events_cusum_changepoints",
    oracle=f"""
    WITH RECURSIVE hourly AS (
      SELECT event_type, date_trunc('hour', ts) AS hr,
             {o_dsum('value')} / COUNT(*) AS avg_val
      FROM events GROUP BY 1, 2
    ),
    params AS (
      SELECT event_type, {o_dsum('value')} / COUNT(*) AS mu
      FROM events GROUP BY 1
    ),
    ranked AS (
      SELECT h.event_type, h.hr, h.avg_val, p.mu,
             0.25 * p.mu AS kappa,
             ROW_NUMBER() OVER (PARTITION BY h.event_type ORDER BY h.hr) AS rn
      FROM hourly h JOIN params p USING (event_type)
    ),
    r AS (
      SELECT event_type, hr, avg_val, mu, kappa, rn,
             CASE WHEN GREATEST(0.0, 0.0 + ((avg_val - mu) - kappa)) > mu
                    OR GREATEST(0.0, 0.0 + ((mu - kappa) - avg_val)) > mu
                  THEN 0.0
                  ELSE GREATEST(0.0, 0.0 + ((avg_val - mu) - kappa)) END AS sp,
             CASE WHEN GREATEST(0.0, 0.0 + ((avg_val - mu) - kappa)) > mu
                    OR GREATEST(0.0, 0.0 + ((mu - kappa) - avg_val)) > mu
                  THEN 0.0
                  ELSE GREATEST(0.0, 0.0 + ((mu - kappa) - avg_val)) END AS sn,
             CASE WHEN GREATEST(0.0, 0.0 + ((avg_val - mu) - kappa)) > mu
                  THEN GREATEST(0.0, 0.0 + ((avg_val - mu) - kappa))
                  WHEN GREATEST(0.0, 0.0 + ((mu - kappa) - avg_val)) > mu
                  THEN GREATEST(0.0, 0.0 + ((mu - kappa) - avg_val))
                  END AS cusum,
             CASE WHEN GREATEST(0.0, 0.0 + ((avg_val - mu) - kappa)) > mu
                  THEN 'up'
                  WHEN GREATEST(0.0, 0.0 + ((mu - kappa) - avg_val)) > mu
                  THEN 'down' END AS direction
      FROM ranked WHERE rn = 1
      UNION ALL
      SELECT n.event_type, n.hr, n.avg_val, n.mu, n.kappa, n.rn,
             CASE WHEN GREATEST(0.0, r.sp + ((n.avg_val - n.mu) - n.kappa)) > n.mu
                    OR GREATEST(0.0, r.sn + ((n.mu - n.kappa) - n.avg_val)) > n.mu
                  THEN 0.0
                  ELSE GREATEST(0.0, r.sp + ((n.avg_val - n.mu) - n.kappa)) END,
             CASE WHEN GREATEST(0.0, r.sp + ((n.avg_val - n.mu) - n.kappa)) > n.mu
                    OR GREATEST(0.0, r.sn + ((n.mu - n.kappa) - n.avg_val)) > n.mu
                  THEN 0.0
                  ELSE GREATEST(0.0, r.sn + ((n.mu - n.kappa) - n.avg_val)) END,
             CASE WHEN GREATEST(0.0, r.sp + ((n.avg_val - n.mu) - n.kappa)) > n.mu
                  THEN GREATEST(0.0, r.sp + ((n.avg_val - n.mu) - n.kappa))
                  WHEN GREATEST(0.0, r.sn + ((n.mu - n.kappa) - n.avg_val)) > n.mu
                  THEN GREATEST(0.0, r.sn + ((n.mu - n.kappa) - n.avg_val))
                  END,
             CASE WHEN GREATEST(0.0, r.sp + ((n.avg_val - n.mu) - n.kappa)) > n.mu
                  THEN 'up'
                  WHEN GREATEST(0.0, r.sn + ((n.mu - n.kappa) - n.avg_val)) > n.mu
                  THEN 'down' END
      FROM r JOIN ranked n
        ON n.event_type = r.event_type AND n.rn = r.rn + 1
    )
    SELECT event_type, {o_ts_str('hr')} AS hour_s, avg_val, cusum, direction
    FROM r WHERE direction IS NOT NULL
    """,
    tags=("streaming", "timeseries", "stateful"),
    doc="two-sided CUSUM changepoint detection (Page 1954) over the "
    "hourly grid: reflected cumulative sums of slack-adjusted "
    "deviations, reset on detection, flagging sustained drifts the "
    "point-wise anomaly queries miss. In-control target mu is the "
    "decimal-exact per-type mean of the RAW stream (deriving it from "
    "the series' own doubles would re-introduce order-dependent "
    "sums); kappa = mu/4, threshold = mu. The oracle recursion "
    "repeats the GREATEST step expression per CASE arm — verbose but "
    "bit-identical to the fold's two reflected accumulators",
)
def events_cusum_changepoints(spark, sf_dir):
    from chapterhouseqe_spark.operators.temporal import cusum_changepoints

    ev = t(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("h")
    ).agg((dsum(F.col("value")) / F.count(F.lit(1))).alias("avg_val"))
    params = ev.groupBy("event_type").agg(
        (dsum(F.col("value")) / F.count(F.lit(1))).alias("mu")
    )
    grid = (
        hourly.join(F.broadcast(params), "event_type")
        .withColumn("kappa", F.lit(0.25) * F.col("mu"))
        .withColumn("hthr", F.col("mu"))
        .select(
            "event_type", ts_str(F.col("h")).alias("hour_s"),
            "avg_val", "mu", "kappa", "hthr",
        )
    )
    return cusum_changepoints(
        grid, ["event_type"], "hour_s", "avg_val",
        target_col="mu", slack_col="kappa", threshold_col="hthr",
    )


@query(
    "events_holt_backtest",
    oracle=f"""
    WITH RECURSIVE hourly AS (
      SELECT event_type, date_trunc('hour', ts) AS hr,
             {o_dsum('value')} / COUNT(*) AS avg_val
      FROM events GROUP BY 1, 2
    ),
    ranked AS (
      SELECT event_type, hr, avg_val,
             ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY hr) AS rn,
             COUNT(*) OVER (PARTITION BY event_type) AS n_pts
      FROM hourly
    ),
    train AS (SELECT * FROM ranked WHERE rn <= n_pts - 24),
    r AS (
      SELECT event_type, rn, n_pts,
             avg_val AS l, CAST(0.0 AS DOUBLE) AS b
      FROM train WHERE rn = 1
      UNION ALL
      SELECT n.event_type, n.rn, n.n_pts,
             0.25 * n.avg_val + 0.75 * (r.l + r.b),
             0.25 * ((0.25 * n.avg_val + 0.75 * (r.l + r.b)) - r.l)
               + 0.75 * r.b
      FROM r JOIN train n
        ON n.event_type = r.event_type AND n.rn = r.rn + 1
    ),
    fc AS (
      SELECT event_type, CAST(g.h AS INTEGER) AS h,
             l + (g.h * b) AS forecast
      FROM r, generate_series(1, 24) AS g(h)
      WHERE rn = n_pts - 24
    )
    SELECT f.event_type, f.h, t.avg_val AS actual, f.forecast,
           abs(f.forecast - t.avg_val) AS abs_err
    FROM fc f JOIN ranked t
      ON t.event_type = f.event_type AND t.rn = (t.n_pts - 24) + f.h
    """,
    tags=("streaming", "timeseries", "forecast"),
    doc="walk-forward backtest of the Holt forecaster: hold out each "
    "series' last 24 hours, fit level+trend on the prefix, forecast "
    "h=1..24, and report per-step absolute error against the held-out "
    "actuals — the train/test split, the fit, and the error "
    "measurement all inside the engine. Errors stay per-(series, h) "
    "rows (no error MEAN: averaging doubles would re-introduce "
    "order-dependent accumulation); |types|x24 rows out",
)
def events_holt_backtest(spark, sf_dir):
    from pyspark.sql import Window

    from chapterhouseqe_spark.operators.temporal import holt_forecast

    ev = t(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("h")
    ).agg((dsum(F.col("value")) / F.count(F.lit(1))).alias("avg_val"))
    w = Window.partitionBy("event_type").orderBy("h")
    wn = Window.partitionBy("event_type")
    ranked = hourly.select(
        "event_type", ts_str(F.col("h")).alias("hour_s"), "avg_val",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n_pts"),
    )
    train = ranked.filter(F.col("rn") <= F.col("n_pts") - 24).select(
        "event_type", "hour_s", "avg_val"
    )
    fc = holt_forecast(
        train, ["event_type"], "hour_s", "avg_val",
        alpha=0.25, beta=0.25, horizon=24,
    )
    test = ranked.filter(F.col("rn") > F.col("n_pts") - 24).select(
        "event_type",
        (F.col("rn") - (F.col("n_pts") - 24)).cast("int").alias("h"),
        F.col("avg_val").alias("actual"),
    )
    return (
        fc.join(test, ["event_type", "h"])
        .select(
            "event_type", "h", "actual", "forecast",
            F.abs(F.col("forecast") - F.col("actual")).alias("abs_err"),
        )
    )


@query(
    "events_linear_trend",
    oracle="""
    WITH base AS (
      SELECT event_type, epoch_us(ts) // 3600000000 AS hidx, value
      FROM events
    ),
    anchored AS (
      SELECT b.event_type,
             CAST(b.hidx - m.minh AS DECIMAL(12,0)) AS x,
             CAST(b.value AS DECIMAL(18,4)) AS y
      FROM base b
      JOIN (SELECT event_type, MIN(hidx) AS minh FROM base GROUP BY 1) m
        USING (event_type)
    ),
    sums AS (
      -- widths chosen so every product below stays within 38 digits
      -- AND at least one factor exceeds 18 digits (int128 arithmetic;
      -- DuckDB overflows int64 on DECIMAL(18)xDECIMAL(18) products)
      SELECT event_type,
             CAST(COUNT(*) AS DECIMAL(13,0)) AS n,
             CAST(SUM(x) AS DECIMAL(14,0)) AS sx,
             CAST(SUM(x * x) AS DECIMAL(24,0)) AS sxx,
             CAST(SUM(y) AS DECIMAL(19,4)) AS sy,
             CAST(SUM(x * y) AS DECIMAL(24,4)) AS sxy,
             CAST(SUM(y * y) AS DECIMAL(20,8)) AS syy
      FROM anchored GROUP BY 1
    ),
    parts AS (
      SELECT event_type, n,
             CAST(n * sxy - sx * sy AS DOUBLE) AS cov_n,
             CAST(n * sxx - sx * sx AS DOUBLE) AS var_x_n,
             -- sy stays DECIMAL(19): one int128 factor per product, or
             -- DuckDB multiplies in int64 and bounds the raw product
             -- at 10^18 regardless of whether it fits the result type
             CAST(n * syy - sy * CAST(sy AS DECIMAL(15,4))
                  AS DOUBLE) AS var_y_n,
             CAST(sx AS DOUBLE) AS sxd, CAST(sy AS DOUBLE) AS syd
      FROM sums
    ),
    fit AS (
      SELECT event_type, n, sxd, syd, cov_n, var_x_n, var_y_n,
             cov_n / var_x_n AS slope
      FROM parts
    )
    SELECT event_type, CAST(n AS BIGINT) AS n, slope,
           (syd - slope * sxd) / CAST(n AS DOUBLE) AS intercept,
           (cov_n * cov_n) / (var_x_n * var_y_n) AS r2
    FROM fit
    """,
    tags=("streaming", "timeseries", "stats"),
    doc="per-type OLS linear trend (value vs hours-since-series-start) "
    "via EXACT normal equations: x is an anchored integer hour index, "
    "y casts to decimal while still RAW (computed doubles never cast "
    "to decimal — not portable), and every sum/product stays within "
    "explicitly bounded decimal precisions so n*Sxy - Sx*Sy etc. are "
    "exact rationals; slope/intercept/r2 are then a fixed handful of "
    "double ops on bit-identical operands. Distributed OLS with zero "
    "float accumulation — one agg with map-side partials after a "
    "broadcast min-anchor join",
)
def events_linear_trend(spark, sf_dir):
    ev = t(spark, sf_dir, "events")
    base = ev.select(
        "event_type",
        F.expr("unix_micros(cast(ts as timestamp)) div 3600000000").alias("hidx"),
        "value",
    )
    minh = base.groupBy("event_type").agg(F.min("hidx").alias("minh"))
    anchored = base.join(F.broadcast(minh), "event_type").select(
        "event_type",
        (F.col("hidx") - F.col("minh")).cast("decimal(12,0)").alias("x"),
        F.col("value").cast("decimal(18,4)").alias("y"),
    )
    sums = anchored.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("decimal(13,0)").alias("n"),
        F.sum("x").cast("decimal(14,0)").alias("sx"),
        F.sum(F.col("x") * F.col("x")).cast("decimal(24,0)").alias("sxx"),
        F.sum("y").cast("decimal(19,4)").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("decimal(24,4)").alias("sxy"),
        F.sum(F.col("y") * F.col("y")).cast("decimal(20,8)").alias("syy"),
    )
    sy15 = F.col("sy").cast("decimal(15,4)")
    parts = sums.select(
        "event_type", "n",
        (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
        .cast("double").alias("cov_n"),
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
        .cast("double").alias("var_x_n"),
        (F.col("n") * F.col("syy") - sy15 * sy15)
        .cast("double").alias("var_y_n"),
        F.col("sx").cast("double").alias("sxd"),
        F.col("sy").cast("double").alias("syd"),
    )
    fit = parts.withColumn("slope", F.col("cov_n") / F.col("var_x_n"))
    return fit.select(
        "event_type",
        F.col("n").cast("bigint").alias("n"),
        "slope",
        ((F.col("syd") - F.col("slope") * F.col("sxd")) / F.col("n").cast("double"))
        .alias("intercept"),
        ((F.col("cov_n") * F.col("cov_n")) / (F.col("var_x_n") * F.col("var_y_n")))
        .alias("r2"),
    )


@query(
    "events_type_correlation",
    oracle="""
    WITH base AS (
      SELECT event_type, epoch_us(ts) // 3600000000 AS hidx FROM events
    ),
    bounds AS (SELECT MIN(hidx) AS lo, MAX(hidx) AS hi FROM base),
    hours AS (
      SELECT unnest(generate_series(lo, hi)) AS hidx FROM bounds
    ),
    types AS (SELECT DISTINCT event_type FROM base),
    counts AS (
      SELECT event_type, hidx, COUNT(*) AS c FROM base GROUP BY 1, 2
    ),
    grid AS (
      SELECT t.event_type, h.hidx, COALESCE(c.c, 0) AS c
      FROM types t CROSS JOIN hours h
      LEFT JOIN counts c
        ON c.event_type = t.event_type AND c.hidx = h.hidx
    ),
    sums AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b,
             COUNT(*) AS n,
             SUM(a.c) AS sa, SUM(b.c) AS sb,
             SUM(a.c * a.c) AS saa, SUM(b.c * b.c) AS sbb,
             SUM(a.c * b.c) AS sab
      FROM grid a JOIN grid b
        ON a.hidx = b.hidx AND a.event_type < b.event_type
      GROUP BY 1, 2
    ),
    parts AS (
      SELECT type_a, type_b, n,
             CAST(n * sab - sa * sb AS DOUBLE) AS cov_n,
             CAST(n * saa - sa * sa AS DOUBLE) AS var_a_n,
             CAST(n * sbb - sb * sb AS DOUBLE) AS var_b_n
      FROM sums
    )
    SELECT type_a, type_b, CAST(n AS BIGINT) AS n,
           cov_n / sqrt(var_a_n * var_b_n) AS pearson_r
    FROM parts
    """,
    tags=("streaming", "timeseries", "stats"),
    doc="cross-series Pearson correlation matrix from dense hourly "
    "COUNT vectors (zero-filled grid so silent hours count, which is "
    "what makes correlations honest): every sum is integer-exact, so "
    "r is four double ops on exact operands — and sqrt, unlike log, "
    "is IEEE-754 correctly-rounded everywhere, hence bit-portable. "
    "The pair join runs on the |types|x|hours| grid, never the stream",
)
def events_type_correlation(spark, sf_dir):
    ev = t(spark, sf_dir, "events")
    base = ev.select(
        "event_type",
        F.expr("unix_micros(cast(ts as timestamp)) div 3600000000").alias("hidx"),
    )
    # ONE stream scan: bounds and the type list both derive from the
    # persisted (type, hour, count) collapse, not from re-reading events
    counts = keep(base.groupBy("event_type", "hidx").agg(
        F.count(F.lit(1)).alias("c")
    ))
    bounds = counts.agg(F.min("hidx").alias("lo"), F.max("hidx").alias("hi"))
    types = counts.select("event_type").distinct()
    hours = bounds.select(F.explode(F.sequence("lo", "hi")).alias("hidx"))
    grid = (
        types.crossJoin(F.broadcast(hours))
        .join(counts, ["event_type", "hidx"], "left")
        .select(
            "event_type", "hidx",
            F.coalesce(F.col("c"), F.lit(0)).alias("c"),
        )
    )
    a = grid.select(
        F.col("event_type").alias("type_a"), "hidx", F.col("c").alias("ca")
    )
    b = grid.select(
        F.col("event_type").alias("type_b"), "hidx", F.col("c").alias("cb")
    )
    pairs = a.join(b, "hidx").filter(F.col("type_a") < F.col("type_b"))
    sums = pairs.groupBy("type_a", "type_b").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("ca").alias("sa"),
        F.sum("cb").alias("sb"),
        F.sum(F.col("ca") * F.col("ca")).alias("saa"),
        F.sum(F.col("cb") * F.col("cb")).alias("sbb"),
        F.sum(F.col("ca") * F.col("cb")).alias("sab"),
    )
    parts = sums.select(
        "type_a", "type_b", "n",
        (F.col("n") * F.col("sab") - F.col("sa") * F.col("sb"))
        .cast("double").alias("cov_n"),
        (F.col("n") * F.col("saa") - F.col("sa") * F.col("sa"))
        .cast("double").alias("var_a_n"),
        (F.col("n") * F.col("sbb") - F.col("sb") * F.col("sb"))
        .cast("double").alias("var_b_n"),
    )
    return parts.select(
        "type_a", "type_b", "n",
        (F.col("cov_n") / F.sqrt(F.col("var_a_n") * F.col("var_b_n")))
        .alias("pearson_r"),
    )


@query(
    "events_markov_prediction_eval",
    oracle="""
    WITH seq AS (
      SELECT user_id, ts, event_type,
             LAG(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev_type
      FROM events
    ),
    train AS (
      SELECT prev_type, event_type AS next_type, COUNT(*) AS cnt
      FROM seq
      WHERE prev_type IS NOT NULL AND ts < TIMESTAMP '2024-01-24'
      GROUP BY 1, 2
    ),
    pred AS (
      SELECT prev_type, next_type AS predicted FROM (
        SELECT prev_type, next_type,
               ROW_NUMBER() OVER (
                 PARTITION BY prev_type ORDER BY cnt DESC, next_type
               ) AS rn
        FROM train
      ) WHERE rn = 1
    ),
    test AS (
      SELECT prev_type, event_type AS actual
      FROM seq
      WHERE prev_type IS NOT NULL AND ts >= TIMESTAMP '2024-01-24'
    )
    SELECT t.prev_type,
           CAST(COUNT(*) AS BIGINT) AS n_test,
           CAST(SUM(CASE WHEN t.actual = p.predicted THEN 1 ELSE 0 END)
                AS BIGINT) AS hits,
           CAST(SUM(CASE WHEN t.actual = p.predicted THEN 1 ELSE 0 END)
                AS DOUBLE) / COUNT(*) AS hit_rate
    FROM test t JOIN pred p USING (prev_type)
    GROUP BY t.prev_type
    """,
    tags=("streaming", "session", "stats", "eval"),
    doc="next-event prediction eval for the first-order Markov model: "
    "train argmax-next-type transitions on events before a fixed time "
    "cutoff (deterministic count-desc/type-asc tiebreak), score on "
    "the held-out tail, report per-state hit counts and rate — the "
    "train/test discipline of events_holt_backtest applied to the "
    "transition matrix. Everything is integers until one final "
    "division; the model join broadcasts |types| rows. NOTE: test "
    "pairs whose PREVIOUS event predates the cutoff are included — "
    "the transition is scored where it lands, matching online serving",
)
def events_markov_prediction_eval(spark, sf_dir):
    from pyspark.sql import Window

    ev = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "user_id", "ts", "event_type",
        F.lag("event_type").over(w).alias("prev_type"),
    ).filter(F.col("prev_type").isNotNull())
    cutoff = F.lit("2024-01-24").cast("timestamp")
    train = (
        seq.filter(F.col("ts") < cutoff)
        .groupBy("prev_type", F.col("event_type").alias("next_type"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    wp = Window.partitionBy("prev_type").orderBy(
        F.col("cnt").desc(), F.col("next_type")
    )
    pred = (
        train.withColumn("rn", F.row_number().over(wp))
        .filter(F.col("rn") == 1)
        .select("prev_type", F.col("next_type").alias("predicted"))
    )
    test = seq.filter(F.col("ts") >= cutoff).select(
        "prev_type", F.col("event_type").alias("actual")
    )
    hit = (F.col("actual") == F.col("predicted")).cast("bigint")
    return (
        test.join(F.broadcast(pred), "prev_type")
        .groupBy("prev_type")
        .agg(
            F.count(F.lit(1)).alias("n_test"),
            F.sum(hit).alias("hits"),
            (F.sum(hit).cast("double") / F.count(F.lit(1))).alias("hit_rate"),
        )
    )


# session-lifetime staged stream sources (r12 verdict item 8): keyed by
# (sf_dir, row count); the staged copy is immutable testdata, so reuse
# across runs in one session is safe and the probe measures the
# scoring stage instead of the copy
_STREAM_STAGE: dict[str, str] = {}


def _stage_stream_source(spark, docs, key: str) -> str:
    import atexit
    import os
    import shutil
    import tempfile

    path = _STREAM_STAGE.get(key)
    if path and os.path.isdir(path):
        return path
    tmp = tempfile.mkdtemp(prefix="chqe_stream_stage_")
    # session-lifetime cache, but not beyond: reclaim the staged copy
    # when the process exits (nothing reads it after the session dies,
    # and repeated bench/check runs would otherwise accumulate copies)
    atexit.register(shutil.rmtree, tmp, ignore_errors=True)
    data_dir = f"{tmp}/data"
    # ~2k rows per file: multi-file micro-batch parallelism at every
    # probe scale without a tiny-file explosion (sf0.1 -> ~3 files,
    # the 10x probe corpus -> ~250)
    docs.write.option("maxRecordsPerFile", 2000).parquet(data_dir)
    _STREAM_STAGE[key] = data_dir
    return data_dir


def _stream_quality_oracle() -> str:
    from chapterhouseqe_spark.queries.pipeline_queries import (
        _quality_clf_weights_sql,
    )

    return f"""
    WITH w(wv) AS (VALUES ({_quality_clf_weights_sql()})),
    feats AS (
      SELECT doc_id,
        list_transform(generate_series(0, 63), j ->
          CAST(len(list_filter(
            list_transform(string_split_regex(trim(text), '\\s+'),
                           t -> ('0x' || substr(md5(t), 1, 15))::BIGINT % 64),
            h -> h = j)) AS DOUBLE)) AS c
      FROM documents
    ),
    scored AS (
      SELECT doc_id,
        list_reduce(
          list_prepend(CAST(0.0 AS DOUBLE),
            list_transform(generate_series(1, 64), i -> c[i] * wv[i])),
          (a, b) -> a + b) AS score
      FROM feats, w
    )
    SELECT score > 0 AS is_quality,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           {o_dsum("score")} AS sum_score
    FROM scored GROUP BY 1
    """


@query(
    "stream_quality_filter_agg",
    oracle=_stream_quality_oracle(),
    tags=("streaming", "quality"),
    doc="the hashed linear quality classifier run INSIDE a structured "
    "stream: documents stream from parquet through real micro-batches, "
    "each batch is scored by the same stateless scan-stage projection "
    "the batch query uses (operators/corpus.py:hashed_linear_score), "
    "and the scored rows aggregate to per-verdict counts + a "
    "decimal-exact score sum. The oracle recomputes the classifier in "
    "SQL over the table — a single row scored differently between the "
    "batch and streaming paths is a red row. Stateless projection -> "
    "no watermark, no state store; the streaming cost equals the "
    "batch cost per micro-batch",
)
def stream_quality_filter_agg(spark, sf_dir):
    from chapterhouseqe_spark.operators.corpus import hashed_linear_score

    docs = t(spark, sf_dir, "documents")
    n_expected = docs.count()
    # r12 verdict item 8: the per-RUN corpus copy dominated the scale
    # probe (6.2x growth at 10x was shutil + a single-file write, not
    # the scoring stage). Stage the stream source ONCE per session per
    # corpus, split into ~2k-row files so the micro-batches get
    # multi-file parallelism; only the checkpoint dir is per-run.
    data_dir = _stage_stream_source(spark, docs, f"{sf_dir}:{n_expected}")
    stream = spark.readStream.schema(docs.schema).parquet(data_dir)
    sink = run_stream(hashed_linear_score(stream, dim=64, seed=7), "stream_quality")
    got = sink.count()
    if got < n_expected:
        raise RuntimeError(
            f"stream_quality_filter_agg: stream produced {got}/{n_expected} rows"
        )
    return sink.groupBy("is_quality").agg(
        F.count(F.lit(1)).alias("n_docs"),
        dsum(F.col("score")).alias("sum_score"),
    )


def _stream_decontam_oracle() -> str:
    from chapterhouseqe_spark.queries.pipeline_queries import (
        DECONTAM_BENCH_ORACLE,
    )

    return DECONTAM_BENCH_ORACLE


@query(
    "stream_decontaminate_ingest",
    oracle=_stream_decontam_oracle(),
    tags=("streaming", "hygiene", "dedup"),
    doc="fixed-benchmark decontamination AT INGEST: documents stream "
    "through real micro-batches and each batch is screened against "
    "the constant <= 40-doc benchmark's 8-gram shingle broadcast "
    "(operators/dedup.py:contamination_overlap) inside foreachBatch; "
    "flagged docs land in an idempotent quarantine sink (per-batch "
    "dynamic partition overwrite -> a replayed batch rewrites its own "
    "partition instead of duplicating, the exactly-once foreachBatch "
    "idiom). ZERO streaming state: a document's row lives in exactly "
    "one micro-batch, so the per-doc overlap count is batch-local — "
    "no watermark, no state store, and the union of per-batch screens "
    "equals the full-corpus screen, which is what the (shared batch) "
    "oracle grades. 100 TB: benchmark broadcast constant, per-batch "
    "cost linear in batch rows, quarantine appends only flagged docs",
)
def stream_decontaminate_ingest(spark, sf_dir):
    import shutil
    import tempfile

    from chapterhouseqe_spark.operators.dedup import word_shingles

    docs = t(spark, sf_dir, "documents")
    n_expected = docs.count()
    data_dir = _stage_stream_source(spark, docs, f"{sf_dir}:{n_expected}")
    # Compute the benchmark's distinct 8-gram shingle set ONCE and pin
    # it — the production shape (benchmarks are fixed; their shingles
    # are derived at deploy time, not per batch). Each micro-batch
    # then pays only a broadcast build over the pinned rows + one
    # narrow probe pass; re-deriving the eval side per batch cost
    # ~1.4s/batch of pure re-computation in the first cut (25-batch
    # sf1 run: 36.2s -> see PLANS.md for the post-pin number).
    ev = checkpoint(
        docs.filter(F.col("doc_id") < 40)
        .select(F.explode(word_shingles(F.col("text"), 8)).alias("s"))
        .distinct()
    )
    out_dir = tempfile.mkdtemp(prefix="chqe_stream_decontam_")
    sink_schema = "doc_id bigint, n_overlap bigint, _batch_id bigint"

    def _screen(batch, batch_id):
        tr = batch.filter(F.col("doc_id") >= 40).select(
            F.col("doc_id"),
            F.explode(word_shingles(F.col("text"), 8)).alias("s"),
        )
        flagged = (
            tr.join(F.broadcast(ev), "s")
            .groupBy("doc_id")
            .agg(F.count("*").alias("n_overlap"))
            .filter(F.col("n_overlap") >= 1)
        )
        (
            flagged.withColumn("_batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("_batch_id")
            .parquet(out_dir)
        )

    try:
        # Two staged files (~4k docs) per trigger => the larger scales
        # really run MULTIPLE micro-batches (sf0.1: 2, sf1: 13), so the
        # batch-local-aggregation and per-batch-partition idempotence
        # claims are exercised, not vacuously true on one all-files
        # batch. Production ingest would batch by arrival; the per-batch
        # cost here is the same screen at whatever the batch size is.
        # The runner's shuffle-width pin also covers the foreachBatch
        # groupBy: a ~4k-doc batch on 32 shuffle tasks is pure
        # scheduling overhead (instrumented ~0.85s/batch fixed cost at
        # width 32); 8 matches the batch size.
        stream = (
            spark.readStream.schema(docs.schema)
            .option("maxFilesPerTrigger", 2)
            .parquet(data_dir)
        )
        run_stream(stream, "stream_decontaminate", sink=_screen)
        # drained => every input file's batch committed. Materialize
        # before the cleanup (the returned frame must not read a
        # deleted sink); flagged sets are tiny by design.
        return checkpoint(
            spark.read.schema(sink_schema)
            .parquet(out_dir)
            .select("doc_id", "n_overlap")
        )
    finally:
        shutil.rmtree(out_dir, ignore_errors=True)
