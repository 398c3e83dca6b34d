"""Deterministic Bloom-filter sketches for join pruning.

Spark's own runtime bloom filters (``spark.sql.optimizer.
runtimeFilter.bloomFilter.enabled``) inject exactly this shape into
shuffle joins automatically; this module makes the pattern an explicit,
cross-engine-replayable operator so (a) the pruning statistics are a
queryable result, and (b) a DuckDB oracle can replay membership
bit-for-bit — the hash family is md5-based (public, standardized)
rather than the JVM's xxhash64, trading a little speed for exact
replayability (same convention as registry.md5_int).

100 TB shape: the filter side collapses to ≤ ``n_hashes × |keys|``
distinct bit positions — a KB-sized frame that BROADCASTS — so the big
probe side is pruned map-side before any shuffle toward the exact
join. This is the classic semi-join reduction: ship bits, not keys.
False positives only ever ADD candidate rows; the exact join after the
filter removes them, so results are identical with pruning on or off.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from chapterhouseqe_spark.session import checkpoint


def bloom_positions(key: Column, n_hashes: int, m_bits: int) -> Column:
    """Array of ``n_hashes`` bit positions for a key.

    position_j = md5("<j>:<key>")[:15 hex] as int % m_bits — each hash
    j gets an independent stream by prefixing the index. The 60-bit
    md5 prefix is uniform and positive, so ``%`` is bias-free at any
    practical m_bits and identical in DuckDB
    (``('0x' || substr(md5(...), 1, 15))::BIGINT % m``).
    """
    return F.array(
        *[
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit(f"{j}:"), key.cast("string"))), 1, 15
                ),
                16,
                10,
            ).cast("long")
            % m_bits
            for j in range(n_hashes)
        ]
    )


def bloom_bits(
    keys: DataFrame, key_col: str, m_bits: int = 4096, n_hashes: int = 3
) -> DataFrame:
    """The filter: distinct set bit positions for a key set.

    One column ``bit`` with ≤ min(m_bits, n_hashes × |keys|) rows —
    broadcastable by construction regardless of the probe side's size.
    """
    return (
        keys.select(
            F.explode(
                bloom_positions(F.col(key_col), n_hashes, m_bits)
            ).alias("bit")
        )
        .distinct()
    )


def bloom_filter_keys(
    cand: DataFrame,
    key_col: str,
    bits: DataFrame,
    m_bits: int = 4096,
    n_hashes: int = 3,
) -> DataFrame:
    """Distinct candidate keys that MIGHT be in the filter's key set.

    A key passes iff every one of its positions is set: explode the
    positions, inner-join the broadcast bit set, and keep keys whose
    match count equals ``n_hashes`` (duplicate positions within one
    key either all match or all miss, so the count test is exact).
    Returns one column named ``key_col``. No driver-side state — the
    membership test is a broadcast join, so it scales with the probe
    side's partitioning.
    """
    pos = (
        cand.select(F.col(key_col).alias("__k"))
        .distinct()
        .select(
            "__k",
            F.explode(
                bloom_positions(F.col("__k"), n_hashes, m_bits)
            ).alias("bit"),
        )
    )
    hits = (
        pos.join(F.broadcast(bits), "bit")
        .groupBy("__k")
        .agg(F.count(F.lit(1)).alias("__nh"))
    )
    return hits.filter(F.col("__nh") == n_hashes).select(
        F.col("__k").alias(key_col)
    )


# ------------------------------------------------------ count-min sketch


def cms_counters(
    df: DataFrame, key_col: str, depth: int = 3, width: int = 64
) -> DataFrame:
    """Count-min sketch counter table (j, p, c) for a key stream.

    The same md5 hash family as the bloom filter (replayable in any
    engine); ``depth × width`` counters total. 100 TB shape: the
    explode fans each row out ``depth``× but the groupBy has at most
    depth×width groups, so the exchange after the map-side partial
    count carries ≤ partitions × depth × width rows — the sketch is
    the only thing shuffled, never the stream. Counters are exact
    BIGINTs (mergeable across shards by summing cellwise).
    """
    return (
        df.select(
            F.posexplode(
                bloom_positions(F.col(key_col), depth, width)
            ).alias("j", "p")
        )
        .groupBy("j", "p")
        .agg(F.count(F.lit(1)).alias("c"))
    )


def cms_estimate(
    keys: DataFrame,
    key_col: str,
    counters: DataFrame,
    depth: int = 3,
    width: int = 64,
) -> DataFrame:
    """Point-query the sketch: est(key) = min over rows of its cells.

    Guarantees est ≥ true count for any key that appeared in the
    stream (collisions only ever inflate). The counter table is
    broadcast (KB-sized by construction), so estimation is a map-side
    join + a ``depth``-group min — usable as a pre-filter for exact
    heavy-hitter counting without shuffling the stream.
    """
    kpos = keys.select(
        F.col(key_col),
        F.posexplode(
            bloom_positions(F.col(key_col), depth, width)
        ).alias("j", "p"),
    )
    return (
        kpos.join(F.broadcast(counters), ["j", "p"])
        .groupBy(key_col)
        .agg(F.min("c").alias("cms_est"))
    )


# ---------------------------------------------------------- hyperloglog


# Standard HLL bias constant for m=64 registers (Flajolet et al. 2007).
_HLL_ALPHA_64 = 0.709


def hll_registers(df: DataFrame, key_col: str, m: int = 64) -> DataFrame:
    """HyperLogLog register table (bucket, M) for a key column.

    The md5-60-bit hash (same family as the rest of this module) is
    split into a bucket index (``h % m``) and a 54-bit window
    (``h // m`` — exact integer division; a double divide would round
    above 2^53). ``M`` = max over the bucket's keys of the position of
    the leftmost 1-bit in the window, computed via the BINARY-STRING
    length (``55 - length(bin(rem))``) rather than log2 — string ops
    are bit-portable across engines, libm is not. ``m`` must stay a
    power of two so ``%``/``//`` are bit slices.

    100 TB shape: the groupBy has at most ``m`` groups, map-side
    combinable, so the exchange carries ≤ partitions × m rows no
    matter the stream size; shard register tables merge by cellwise
    MAX — the textbook mergeable-sketch contract.
    """
    if m & (m - 1) or not 2 <= m <= 4096:
        raise ValueError(f"m must be a power of two in [2, 4096], got {m}")
    w_plus_1 = 60 - m.bit_length() + 2  # 55 for m=64
    h = (
        F.conv(F.substring(F.md5(F.col(key_col).cast("string")), 1, 15), 16, 10)
        .cast("long")
    )
    rem = F.call_function("div", h, F.lit(m))
    rho = F.when(rem == 0, F.lit(w_plus_1)).otherwise(
        F.lit(w_plus_1) - F.length(F.bin(rem))
    )
    return (
        df.filter(F.col(key_col).isNotNull())
        .select((h % m).alias("bucket"), rho.alias("rho"))
        .groupBy("bucket")
        .agg(F.max("rho").alias("M"))
    )


def hll_estimate(
    df: DataFrame, key_col: str, m: int = 64, exact: bool = True
) -> DataFrame:
    """One-row HLL cardinality estimate with integer-exact sketch state.

    The harmonic-mean denominator Σ 2^-Mj is kept EXACT by scaling to
    integers: each term is ``1 << (56 - M)`` (a BIGINT; Mj ≤ 55 and
    m ≤ 64 keep the sum under 2^63), empty registers contribute
    ``1 << 56`` each. The only float op is the single final division
    ``alpha·m²·2^56 / S`` — deterministic in any IEEE-754 engine, so
    the estimate itself is gradeable, unlike a sum-of-2^-x in doubles
    (adding 2^0 to 2^-60 already needs a 61-bit mantissa).

    With ``exact=True`` the true distinct count is graded alongside —
    that column shuffles every distinct key and exists only because
    the point of the graded query is sketch-vs-truth (same caveat as
    :func:`linear_counting`).
    """
    if m != 64:
        # alpha is the m=64 bias constant and the 1<<(56-M) scaling
        # needs M <= 55 (i.e. m >= 64); generalizing means an alpha
        # table plus a wider scale — reject rather than mis-estimate
        raise ValueError("hll_estimate currently supports m=64 only")
    regs = hll_registers(df, key_col, m)
    numerator = _HLL_ALPHA_64 * m * m * float(1 << 56)
    filled = regs.agg(
        F.count(F.lit(1)).alias("n_filled"),
        # empty stream → SUM is NULL; coalesce so the all-empty sketch
        # degrades to S = m·2^56 (estimate ≈ alpha·m ≈ 45, not NULL)
        F.coalesce(
            F.sum(F.expr("CAST(1 AS BIGINT) << (56 - M)")),
            F.lit(0).cast("long"),
        ).alias("s_filled"),
    )
    s_total = (
        F.col("s_filled")
        + (F.lit(m).cast("long") - F.col("n_filled")) * F.lit(1 << 56).cast("long")
    )
    out = filled.select(
        F.lit(m).alias("m"),
        F.col("n_filled").cast("long").alias("n_filled"),
        s_total.alias("s_scaled"),
        (F.lit(numerator) / s_total.cast("double")).alias("hll_est"),
    )
    if exact:
        ex = df.filter(F.col(key_col).isNotNull()).agg(
            F.countDistinct(F.col(key_col)).alias("n_exact")
        )
        out = out.crossJoin(F.broadcast(ex))
    return out


def hll_grouped_estimate(
    df: DataFrame,
    key_col: str,
    group_col: str,
    m: int = 64,
    exact: bool = True,
) -> DataFrame:
    """Per-group HLL — distinct keys per segment in one pass, the
    production shape ("unique users per country per day"): the sketch
    state is ``|groups| × m`` register rows, so a billion-row stream
    aggregates map-side to a bounded frame keyed by (group, bucket)
    and per-group sketches still merge cellwise-MAX across shards.
    Same integer-exact estimate arithmetic as :func:`hll_estimate`.
    """
    if m != 64:
        raise ValueError("hll_grouped_estimate currently supports m=64 only")
    w_plus_1 = 60 - m.bit_length() + 2
    h = (
        F.conv(F.substring(F.md5(F.col(key_col).cast("string")), 1, 15), 16, 10)
        .cast("long")
    )
    rem = F.call_function("div", h, F.lit(m))
    rho = F.when(rem == 0, F.lit(w_plus_1)).otherwise(
        F.lit(w_plus_1) - F.length(F.bin(rem))
    )
    regs = (
        df.filter(F.col(key_col).isNotNull())
        .select(F.col(group_col), (h % m).alias("bucket"), rho.alias("rho"))
        .groupBy(group_col, "bucket")
        .agg(F.max("rho").alias("M"))
    )
    numerator = _HLL_ALPHA_64 * m * m * float(1 << 56)
    filled = regs.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("n_filled"),
        F.coalesce(
            F.sum(F.expr("CAST(1 AS BIGINT) << (56 - M)")),
            F.lit(0).cast("long"),
        ).alias("s_filled"),
    )
    s_total = (
        F.col("s_filled")
        + (F.lit(m).cast("long") - F.col("n_filled")) * F.lit(1 << 56).cast("long")
    )
    out = filled.select(
        F.col(group_col),
        F.lit(m).alias("m"),
        F.col("n_filled").cast("long").alias("n_filled"),
        s_total.alias("s_scaled"),
        (F.lit(numerator) / s_total.cast("double")).alias("hll_est"),
    )
    if exact:
        ex = (
            df.filter(F.col(key_col).isNotNull())
            .groupBy(group_col)
            .agg(F.countDistinct(F.col(key_col)).alias("n_exact"))
        )
        out = out.join(ex, group_col)
    return out


def hll_grouped_oracle_sql(
    table: str, key_expr: str, group_expr: str, m: int = 64
) -> str:
    """DuckDB replay of :func:`hll_grouped_estimate` (exact included)."""
    from chapterhouseqe_spark.queries.registry import o_md5_int

    w_plus_1 = 60 - m.bit_length() + 2
    numerator = repr(_HLL_ALPHA_64 * m * m * float(1 << 56))
    h_expr = o_md5_int(f"CAST({key_expr} AS VARCHAR)")
    return f"""
    WITH h AS (
      SELECT {group_expr} AS g, {h_expr} AS h
      FROM {table} WHERE {key_expr} IS NOT NULL
    ),
    regs AS (
      SELECT g, h % {m} AS bucket,
             MAX(CASE WHEN h // {m} = 0 THEN {w_plus_1}
                      ELSE {w_plus_1} - length(bin(h // {m})) END) AS M
      FROM h GROUP BY g, h % {m}
    ),
    s AS (
      SELECT g, COUNT(*) AS n_filled,
             COALESCE(SUM((CAST(1 AS BIGINT) << (56 - M))),
                      CAST(0 AS BIGINT)) AS s_filled
      FROM regs GROUP BY g
    ),
    ex AS (
      SELECT {group_expr} AS g, COUNT(DISTINCT {key_expr}) AS n_exact
      FROM {table} WHERE {key_expr} IS NOT NULL GROUP BY {group_expr}
    )
    SELECT s.g AS {group_expr}, {m} AS m,
           CAST(s.n_filled AS BIGINT) AS n_filled,
           CAST(s.s_filled + ({m} - s.n_filled) * (CAST(1 AS BIGINT) << 56) AS BIGINT) AS s_scaled,
           {numerator} / CAST(s.s_filled + ({m} - s.n_filled) * (CAST(1 AS BIGINT) << 56) AS DOUBLE) AS hll_est,
           ex.n_exact AS n_exact
    FROM s JOIN ex ON ex.g = s.g
    """


def hll_oracle_sql(
    table: str, key_expr: str, m: int = 64, exact: bool = True
) -> str:
    """DuckDB replay of :func:`hll_estimate` (same md5/bit arithmetic)."""
    from chapterhouseqe_spark.queries.registry import o_md5_int

    w_plus_1 = 60 - m.bit_length() + 2
    numerator = repr(_HLL_ALPHA_64 * m * m * float(1 << 56))
    h_expr = o_md5_int(f"CAST({key_expr} AS VARCHAR)")
    exact_cte = (
        f", ex AS (SELECT COUNT(DISTINCT {key_expr}) AS n_exact "
        f"FROM {table} WHERE {key_expr} IS NOT NULL)"
        if exact
        else ""
    )
    exact_col = ", ex.n_exact AS n_exact" if exact else ""
    exact_from = ", ex" if exact else ""
    return f"""
    WITH h AS (
      SELECT {h_expr} AS h
      FROM {table} WHERE {key_expr} IS NOT NULL
    ),
    regs AS (
      SELECT h % {m} AS bucket,
             MAX(CASE WHEN h // {m} = 0 THEN {w_plus_1}
                      ELSE {w_plus_1} - length(bin(h // {m})) END) AS M
      FROM h GROUP BY h % {m}
    ),
    s AS (
      SELECT COUNT(*) AS n_filled,
             COALESCE(SUM((CAST(1 AS BIGINT) << (56 - M))),
                      CAST(0 AS BIGINT)) AS s_filled
      FROM regs
    ){exact_cte}
    SELECT {m} AS m,
           CAST(s.n_filled AS BIGINT) AS n_filled,
           CAST(s.s_filled + ({m} - s.n_filled) * (CAST(1 AS BIGINT) << 56) AS BIGINT) AS s_scaled,
           {numerator} / CAST(s.s_filled + ({m} - s.n_filled) * (CAST(1 AS BIGINT) << 56) AS DOUBLE) AS hll_est{exact_col}
    FROM s{exact_from}
    """


# -------------------------------------------------- histogram quantiles


def histogram_counts(
    df: DataFrame, value_col: str, lo: float, width: float, nbins: int
) -> DataFrame:
    """Fixed-grid histogram (bin, c) for a numeric column.

    bin = clamp(floor((x - lo) / width), 0, nbins-1): one subtraction
    + one division + floor, the identical IEEE sequence in any engine.
    The groupBy has at most ``nbins`` groups (map-side combined), so
    the exchange is bounded by partitions × nbins regardless of table
    size, and shard histograms MERGE BY CELLWISE SUM — the mergeable-
    sketch contract that lets quantile estimation run as a tree
    aggregation over a 100 TB column.
    """
    b = F.least(
        F.greatest(
            F.floor(
                (F.col(value_col).cast("double") - F.lit(lo)) / F.lit(width)
            ).cast("int"),
            F.lit(0),
        ),
        F.lit(nbins - 1),
    )
    return (
        df.filter(F.col(value_col).isNotNull())
        .groupBy(b.alias("bin"))
        .agg(F.count(F.lit(1)).alias("c"))
    )


def histogram_quantiles(
    df: DataFrame,
    value_col: str,
    lo: float,
    width: float,
    nbins: int,
    qs: tuple[float, ...] = (0.25, 0.5, 0.9, 0.99),
) -> DataFrame:
    """Quantile estimates from the mergeable fixed-grid histogram —
    the equi-width analog of a t-digest/KLL sketch with every count an
    exact BIGINT, so the whole estimate replays in SQL.

    Per q: target_rank = max(1, floor(q·total)) (one IEEE multiply +
    trunc), the answer bin is the first whose cumulative count reaches
    the rank, and est = lo + (bin + 0.5)·width (bin midpoint — the
    sketch's resolution is ``width`` by construction).

    The cumulative is a triangular self-join over the ≤``nbins``-row
    histogram rather than a partitionless window: nbins² rows at most,
    fully parallel, and keeps WindowExec warnings meaningful in bench
    logs. Returns (q, target_rank, bin, bin_count, cum, est).
    """
    hist = histogram_counts(df, value_col, lo, width, nbins)
    h2 = hist.select(F.col("bin").alias("b2"), F.col("c").alias("c2"))
    cum = (
        hist.join(F.broadcast(h2), F.col("b2") <= F.col("bin"))
        .groupBy("bin", "c")
        .agg(F.sum("c2").alias("cum"))
    )
    tot = hist.agg(F.sum("c").alias("total"))
    spark = df.sparkSession
    qdf = spark.createDataFrame([(float(q),) for q in qs], "q double")
    targets = qdf.crossJoin(F.broadcast(tot)).select(
        "q",
        F.greatest(
            F.lit(1).cast("long"),
            F.floor(F.col("q") * F.col("total")).cast("long"),
        ).alias("target_rank"),
    )
    joined = targets.join(
        F.broadcast(cum), F.col("cum") >= F.col("target_rank")
    )
    from pyspark.sql import Window

    w = Window.partitionBy("q").orderBy("bin")
    return (
        joined.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "q",
            "target_rank",
            "bin",
            F.col("c").alias("bin_count"),
            "cum",
            (
                F.lit(float(lo))
                + (F.col("bin").cast("double") + F.lit(0.5)) * F.lit(float(width))
            ).alias("est"),
        )
    )


# ------------------------------------------------------- linear counting


def linear_counting(
    df: DataFrame, key_col: str, m_bits: int = 4096
) -> DataFrame:
    """Cardinality sketch: 1 row (n_exact, bits_set) for a key column.

    Linear counting (Whang et al. 1990 — the pre-HLL cardinality
    sketch): each key sets bit ``md5(key) % m``; the estimate is
    ``m * ln(m / (m - bits_set))``. The GRADED outputs are the exact
    integers (`bits_set`, plus the true distinct count alongside) —
    the ln() is left to the caller because libm's last-ulp behavior is
    the one piece that is NOT bit-portable across engines, and the
    sketch's state IS the bitmap. Completes the sketch family: bloom =
    membership, count-min = frequency, linear counting = cardinality,
    all on the same replayable md5 hash family.

    100 TB shape: the SKETCH column (``bits_set``) is the bounded one —
    ``countDistinct(position)`` partial-aggregates to at most
    ``m_bits`` values per partition before its exchange, and shard
    bitmaps merge by OR (here: distinct-union). ``n_exact`` is the
    verification baseline graded NEXT TO the sketch and is NOT bounded
    — its countDistinct shuffles every distinct key (plus an Expand
    for the two distinct aggregates). At real scale drop ``n_exact``
    and keep only the bitmap; it exists here because the whole point
    of the graded query is sketch-vs-truth.
    """
    pos = F.element_at(bloom_positions(F.col(key_col), 1, m_bits), 1)
    return df.agg(
        F.countDistinct(F.col(key_col)).alias("n_exact"),
        F.countDistinct(pos).alias("bits_set"),
    )


def _hll_estimate_from_registers(regs: DataFrame, m: int):
    """(n_filled, s_scaled, hll_est) aggregate over a (bucket, M)
    register frame — the shared integer-exact estimate used by
    :func:`hll_estimate` and the set-algebra path."""
    numerator = _HLL_ALPHA_64 * m * m * float(1 << 56)
    filled = regs.agg(
        F.count(F.lit(1)).alias("n_filled"),
        F.coalesce(
            F.sum(F.expr("CAST(1 AS BIGINT) << (56 - M)")),
            F.lit(0).cast("long"),
        ).alias("s_filled"),
    )
    s_total = (
        F.col("s_filled")
        + (F.lit(m).cast("long") - F.col("n_filled"))
        * F.lit(1 << 56).cast("long")
    )
    return filled.select(
        (F.lit(numerator) / s_total.cast("double")).alias("est")
    )


def hll_set_estimates(
    df_a: DataFrame,
    df_b: DataFrame,
    key_col: str,
    m: int = 64,
) -> DataFrame:
    """HLL SET ALGEBRA — the mergeability contract exercised for real:
    sketch A and sketch B merge by cellwise register MAX (a full-outer
    join on bucket; a missing register is 0), the merged sketch
    estimates ``|A ∪ B|`` WITHOUT rescanning either stream, and
    ``|A ∩ B|`` follows by inclusion-exclusion
    (est_a + est_b - est_union). This is what makes HLL state shippable
    at 100 TB: per-shard/per-day sketches union by MAX — never by
    re-aggregating keys — and audience-overlap style questions answer
    from m-row states.

    Returns ONE row: (m, est_a, est_b, est_union, est_intersection,
    n_exact_a, n_exact_b, n_exact_union, n_exact_intersection) — the
    exact columns grade the estimates against truth; the estimates
    themselves are integer-exact up to one final division each, and
    the intersection is a fixed-order 3-term double expression, so
    every column replays bit-for-bit.
    """
    if m != 64:
        raise ValueError("hll_set_estimates currently supports m=64 only")
    ra = hll_registers(df_a, key_col, m)
    rb = hll_registers(df_b, key_col, m)
    merged = (
        ra.select("bucket", F.col("M").alias("Ma"))
        .join(rb.select("bucket", F.col("M").alias("Mb")), "bucket", "full")
        .select(
            "bucket",
            F.greatest(
                F.coalesce(F.col("Ma"), F.lit(0)),
                F.coalesce(F.col("Mb"), F.lit(0)),
            ).alias("M"),
        )
    )
    ea = _hll_estimate_from_registers(ra, m).select(F.col("est").alias("est_a"))
    eb = _hll_estimate_from_registers(rb, m).select(F.col("est").alias("est_b"))
    eu = _hll_estimate_from_registers(merged, m).select(
        F.col("est").alias("est_union")
    )
    ka = df_a.filter(F.col(key_col).isNotNull()).select(
        F.col(key_col).alias("k")
    )
    kb = df_b.filter(F.col(key_col).isNotNull()).select(
        F.col(key_col).alias("k")
    )
    exact = (
        ka.distinct()
        .withColumn("in_a", F.lit(1))
        .join(kb.distinct().withColumn("in_b", F.lit(1)), "k", "full")
        .agg(
            F.sum(F.coalesce(F.col("in_a"), F.lit(0))).alias("n_exact_a"),
            F.sum(F.coalesce(F.col("in_b"), F.lit(0))).alias("n_exact_b"),
            F.count(F.lit(1)).alias("n_exact_union"),
            F.sum(
                (
                    F.col("in_a").isNotNull() & F.col("in_b").isNotNull()
                ).cast("bigint")
            ).alias("n_exact_intersection"),
        )
    )
    return (
        ea.crossJoin(F.broadcast(eb))
        .crossJoin(F.broadcast(eu))
        .crossJoin(F.broadcast(exact))
        .select(
            F.lit(m).alias("m"),
            "est_a",
            "est_b",
            "est_union",
            (F.col("est_a") + F.col("est_b") - F.col("est_union")).alias(
                "est_intersection"
            ),
            F.col("n_exact_a").cast("bigint").alias("n_exact_a"),
            F.col("n_exact_b").cast("bigint").alias("n_exact_b"),
            "n_exact_union",
            "n_exact_intersection",
        )
    )


def hll_sliding_estimate(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    window_hours: int = 6,
    m: int = 64,
    exact: bool = True,
) -> DataFrame:
    """Sliding-window distinct counts by MERGING per-hour HLL sketches
    — the pre-aggregate-once / merge-many pattern that makes sketch
    rollups cheap at stream scale.

    Registers build ONCE per (hour, bucket) — the only pass over the
    raw stream, map-side combinable to ≤ hours × m rows. Each hour's
    register row then explodes into the ``window_hours`` sliding
    windows covering it and merges by cellwise MAX — the mergeability
    contract (max is associative/commutative/idempotent), so merging
    per-hour sketches is PROVABLY identical to sketching each window's
    raw rows directly, which is exactly how the oracle replays it. At
    100 TB the explode+merge runs on the tiny register frame (720
    hours × 64 buckets for a 30-day stream), never on events; the
    naive alternative re-scans every event ``window_hours`` times.

    Same integer-exact estimate arithmetic as :func:`hll_estimate`;
    ``exact=True`` grades the true per-window distinct count alongside
    (that side DOES explode raw events into their windows — it exists
    only because the graded point is sketch-vs-truth).
    """
    if m != 64:
        raise ValueError("hll_sliding_estimate currently supports m=64 only")
    w_plus_1 = 60 - m.bit_length() + 2
    h = (
        F.conv(F.substring(F.md5(F.col(key_col).cast("string")), 1, 15), 16, 10)
        .cast("long")
    )
    rem = F.call_function("div", h, F.lit(m))
    rho = F.when(rem == 0, F.lit(w_plus_1)).otherwise(
        F.lit(w_plus_1) - F.length(F.bin(rem))
    )
    hour = F.date_trunc("hour", F.col(ts_col))
    hour_regs = (
        df.filter(F.col(key_col).isNotNull())
        .select(hour.alias("h"), (h % m).alias("bucket"), rho.alias("rho"))
        .groupBy("h", "bucket")
        .agg(F.max("rho").alias("M"))
    )
    k = F.explode(F.sequence(F.lit(0), F.lit(window_hours - 1)))
    win_start = F.timestamp_add("HOUR", -F.col("k"), F.col("h"))
    merged = (
        hour_regs.select("h", "bucket", "M", k.alias("k"))
        .select(win_start.alias("window_start"), "bucket", "M")
        .groupBy("window_start", "bucket")
        .agg(F.max("M").alias("M"))
    )
    numerator = _HLL_ALPHA_64 * m * m * float(1 << 56)
    filled = merged.groupBy("window_start").agg(
        F.count(F.lit(1)).alias("n_filled"),
        F.coalesce(
            F.sum(F.expr("CAST(1 AS BIGINT) << (56 - M)")),
            F.lit(0).cast("long"),
        ).alias("s_filled"),
    )
    s_total = (
        F.col("s_filled")
        + (F.lit(m).cast("long") - F.col("n_filled")) * F.lit(1 << 56).cast("long")
    )
    out = filled.select(
        "window_start",
        F.lit(m).alias("m"),
        F.col("n_filled").cast("long").alias("n_filled"),
        s_total.alias("s_scaled"),
        (F.lit(numerator) / s_total.cast("double")).alias("hll_est"),
    )
    if exact:
        ex = (
            df.filter(F.col(key_col).isNotNull())
            .select(
                hour.alias("h"),
                F.col(key_col).alias("k_"),
                k.alias("k"),
            )
            .select(
                F.timestamp_add("HOUR", -F.col("k"), F.col("h")).alias(
                    "window_start"
                ),
                "k_",
            )
            .groupBy("window_start")
            .agg(F.countDistinct("k_").alias("n_exact"))
        )
        out = out.join(ex, "window_start")
    return out


def hll_sliding_oracle_sql(
    table: str,
    key_expr: str,
    ts_expr: str,
    window_hours: int = 6,
    m: int = 64,
) -> str:
    """DuckDB replay of :func:`hll_sliding_estimate`. The oracle
    sketches each window's RAW rows directly; equality with the Spark
    side's merged per-hour registers is the mergeability law (cellwise
    MAX is associative), so the graded comparison PINS the merge law
    itself, not just the estimate arithmetic."""
    from chapterhouseqe_spark.queries.registry import o_md5_int

    w_plus_1 = 60 - m.bit_length() + 2
    numerator = repr(_HLL_ALPHA_64 * m * m * float(1 << 56))
    h_expr = o_md5_int("k_")  # k_ is pre-cast to VARCHAR below
    return f"""
    WITH win AS (
      SELECT {key_expr} AS k_,
             date_trunc('hour', {ts_expr}) - kk * INTERVAL 1 HOUR
               AS window_start
      FROM (SELECT {key_expr}, {ts_expr},
                   unnest(generate_series(0, {window_hours - 1})) AS kk
            FROM {table} WHERE {key_expr} IS NOT NULL)
    ),
    hh AS (
      SELECT window_start, {h_expr} AS hv
      FROM (SELECT window_start, CAST(k_ AS VARCHAR) AS k_ FROM win)
    ),
    regs AS (
      SELECT window_start, hv % {m} AS bucket,
             MAX(CASE WHEN hv // {m} = 0 THEN {w_plus_1}
                      ELSE {w_plus_1} - length(bin(hv // {m})) END) AS M
      FROM hh GROUP BY window_start, hv % {m}
    ),
    s AS (
      SELECT window_start, COUNT(*) AS n_filled,
             COALESCE(SUM((CAST(1 AS BIGINT) << (56 - M))),
                      CAST(0 AS BIGINT)) AS s_filled
      FROM regs GROUP BY window_start
    ),
    ex AS (
      SELECT window_start, COUNT(DISTINCT k_) AS n_exact
      FROM win GROUP BY window_start
    )
    SELECT s.window_start, {m} AS m,
           CAST(s.n_filled AS BIGINT) AS n_filled,
           CAST(s.s_filled + ({m} - s.n_filled) * (CAST(1 AS BIGINT) << 56)
                AS BIGINT) AS s_scaled,
           {numerator} / CAST(s.s_filled + ({m} - s.n_filled)
                              * (CAST(1 AS BIGINT) << 56) AS DOUBLE)
             AS hll_est,
           ex.n_exact AS n_exact
    FROM s JOIN ex USING (window_start)
    """


# --- MinHash signatures as a mergeable sketch ------------------------

# Universal-hash modulus: 2^31 - 1 (Mersenne prime). Base hashes and
# multipliers stay below 2^31, so a*x + b < 2^62 fits signed 64-bit
# arithmetic EXACTLY in both engines — the whole signature pipeline is
# integer math, bit-replayable by the SQL oracle.
MINHASH_P = 2_147_483_647


def minhash_params(num_hashes: int, seed: int = 13) -> list[tuple[int, int]]:
    """Seeded (a, b) pairs for the universal hash family
    ``h_i(x) = (a_i * x + b_i) mod P`` — shared by the Spark
    expressions and the oracle-SQL literal table so both engines run
    the identical family."""
    import random as _random

    rng = _random.Random(seed)
    return [
        (rng.randrange(1, MINHASH_P), rng.randrange(0, MINHASH_P))
        for _ in range(num_hashes)
    ]


def minhash_params_sql(num_hashes: int, seed: int = 13) -> str:
    """The same params as a SQL VALUES body: ``(i, a, b), ...``."""
    return ", ".join(
        f"({i}, {a}, {b})"
        for i, (a, b) in enumerate(minhash_params(num_hashes, seed))
    )


def minhash_group_signatures(
    df: DataFrame,
    key_col: str,
    group_col: str,
    num_hashes: int = 64,
    seed: int = 13,
) -> DataFrame:
    """Per-group MinHash signature over a set-element column: one
    ``array<bigint>`` of ``num_hashes`` component minima per group —
    the classic mergeable sketch (Broder 1997). Signatures of shards
    merge by COMPONENTWISE MIN, which is exactly what the map-side
    partial aggregation below already does, so a 100 TB corpus pays
    ONE scan and a ``num_groups``-row exchange of partial minima — no
    per-document shuffle, no pairing. Duplicate elements cannot move a
    min, so no pre-distinct pass is needed.

    The base hash is the engine-wide md5 -> 60-bit idiom folded into
    [0, P); the family is ``(a_i * x + b_i) mod P`` with seeded
    literal coefficients (:func:`minhash_params`) — all integer, so
    the oracle replays the signature bit-for-bit.
    """
    if num_hashes < 1:
        raise ValueError("need num_hashes >= 1")
    x = (
        F.conv(F.substring(F.md5(F.col(key_col)), 1, 15), 16, 10).cast(
            "long"
        )
        % F.lit(MINHASH_P)
    )
    # materialize the base hash ONCE per row; the num_hashes agg
    # expressions below each reference the aliased column, not a
    # fresh copy of the md5 fold
    prepped = df.select(F.col(group_col).alias("g"), x.alias("x"))
    params = minhash_params(num_hashes, seed)
    sig = prepped.groupBy("g").agg(
        *[
            F.min((F.lit(a) * F.col("x") + F.lit(b)) % F.lit(MINHASH_P)).alias(
                f"h{i}"
            )
            for i, (a, b) in enumerate(params)
        ]
    )
    return sig.select(
        F.col("g").alias(group_col),
        F.array(*[F.col(f"h{i}") for i in range(num_hashes)]).alias("sig"),
    )


def source_similarity_minhash(
    df: DataFrame,
    text_col: str = "text",
    source_col: str = "source",
    k: int = 3,
    num_hashes: int = 64,
    seed: int = 13,
) -> DataFrame:
    """Pairwise corpus-level similarity BETWEEN SOURCES: estimated
    shingle-set Jaccard for every source pair from their MinHash
    signatures — the curation question "how much does source A
    duplicate source B" answered without ever pairing documents.

    est_jaccard = (# matching signature components) / num_hashes, an
    unbiased Jaccard estimator with std err ~ 1/sqrt(num_hashes).
    The division is by a power of two, so even the double result is
    bit-exact across engines.

    100 TB shape: one scan + shingle explode, ONE map-side-combinable
    min-aggregation to ``n_sources`` signature rows, then an
    ``n_sources^2``-row comparison — trivially small (sources are
    crawls/registries, not documents). This is the sketch-algebra
    member of the dedup family: minhash_lsh_pairs answers "which DOC
    pairs overlap", this answers "which SOURCE pairs overlap".
    """
    from chapterhouseqe_spark.operators.dedup import word_shingles

    sh = df.select(
        F.col(source_col),
        F.explode(word_shingles(F.col(text_col), k)).alias("s"),
    )
    # the theta self-join below references sigs on BOTH sides, and join
    # branches do not share subtrees — without a materialization seam
    # the whole shingle-explode + 64-way min aggregation runs twice.
    # sigs is n_sources rows (sources are crawls/registries), so the
    # eager checkpoint is a tiny job (the minhash_lsh_pairs persist
    # discipline, hardened to a checkpoint per the r12 lazy-persist
    # race advisory).
    sigs = checkpoint(minhash_group_signatures(
        sh, "s", source_col, num_hashes, seed
    ))
    a = sigs.select(
        F.col(source_col).alias("src_a"), F.col("sig").alias("sig_a")
    )
    b = sigs.select(
        F.col(source_col).alias("src_b"), F.col("sig").alias("sig_b")
    )
    n_match = F.size(
        F.filter(
            F.zip_with(F.col("sig_a"), F.col("sig_b"), lambda u, v: u == v),
            lambda m: m,
        )
    )
    # est_jaccard derives from the ALIASED n_match attribute (the
    # repo-wide declined-CSE discipline: referencing the zip_with
    # fold twice in one projection would evaluate it twice per row)
    return (
        a.join(b, F.col("src_a") < F.col("src_b"))
        .select("src_a", "src_b", n_match.cast("bigint").alias("n_match"))
        .withColumn(
            "est_jaccard",
            F.col("n_match").cast("double") / F.lit(float(num_hashes)),
        )
    )
