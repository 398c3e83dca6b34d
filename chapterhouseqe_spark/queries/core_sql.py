"""Core SQL queries with DuckDB oracles — one per SURVEY.md §2 operator.

Covers the reference's implemented surface (read_files scan, filter,
projection incl. ``unnamed_<i>``, the 12 binary ops, integer division,
coercion) through the engine's reference mode, and every
declared-but-missing operator (README "Supported SQL" unchecked boxes:
joins, GROUP BY/HAVING, ORDER BY/LIMIT, set ops, LIKE/``||``, CSV/JSON,
named tables) the Spark-native way.

Determinism rules (see registry docstring): double sums through
``dsum``/``o_dsum``, timestamps through ``ts_str``/``o_ts_str``,
identical IEEE op order on both sides, unique ORDER BY tiebreakers
under every LIMIT.
"""

from __future__ import annotations

import hashlib
import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from chapterhouseqe_spark.connections import ConnectionRegistry
from chapterhouseqe_spark.engine import QueryEngine
from chapterhouseqe_spark.queries.registry import (
    drevenue,
    dsum,
    o_drevenue,
    o_dsum,
    o_ts_str,
    query,
    ts_str,
)
from chapterhouseqe_spark.session import keep


def t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    from chapterhouseqe_spark.queries.tables import events_ts_micros, load_table

    df = load_table(spark, sf_dir, name)
    return events_ts_micros(df) if name == "events" else df


def _ref_engine(spark: SparkSession, sf_dir: str) -> QueryEngine:
    return QueryEngine(spark, registry=ConnectionRegistry(default_base=sf_dir))


# =====================================================================
# Reference-mode surface (SURVEY §2.1-2.2): read_files → filter → project
# through the reference-semantics parser/compiler.
# =====================================================================


@query(
    "ref_scan_filter_project",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity
    FROM lineitem WHERE l_quantity > 25
    """,
    tags=("reference", "scan", "filter"),
    doc="read_files scan + WHERE + projection (read_files_task.rs, filter_task.rs)",
)
def ref_scan_filter_project(spark, sf_dir):
    return _ref_engine(spark, sf_dir).dataframe_for(
        "select l_orderkey, l_linenumber, l_quantity "
        "from read_files('lineitem.parquet') where l_quantity > 25",
        mode="reference",
    )


@query(
    "ref_projection_unnamed",
    oracle="""
    SELECT l_orderkey, l_orderkey + 1 AS nxt, l_orderkey * 2 AS unnamed_2,
           l_linenumber
    FROM lineitem WHERE l_linenumber = 1
    """,
    tags=("reference", "projection"),
    doc="unnamed_<i> naming for unaliased expressions (record_projection.rs:49-53)",
)
def ref_projection_unnamed(spark, sf_dir):
    return _ref_engine(spark, sf_dir).dataframe_for(
        "select l_orderkey, l_orderkey + 1 as nxt, l_orderkey * 2, l_linenumber "
        "from read_files('lineitem.parquet') where l_linenumber = 1",
        mode="reference",
    )


@query(
    "ref_int_division",
    oracle="""
    SELECT l_orderkey,
           (l_orderkey * 1000000000000) // 7 AS big_q,
           CAST(l_linenumber // 2 AS INTEGER) AS half
    FROM lineitem WHERE l_orderkey % 2 = 0
    """,
    tags=("reference", "expression"),
    doc="integral '/' incl. >2^53 operands (compute_value.rs:126-134)",
)
def ref_int_division(spark, sf_dir):
    return _ref_engine(spark, sf_dir).dataframe_for(
        "select l_orderkey, (l_orderkey * 1000000000000) / 7 as big_q, "
        "l_linenumber / 2 as half "
        "from read_files('lineitem.parquet') where l_orderkey % 2 = 0",
        mode="reference",
    )


@query(
    "ref_coercion_mixed",
    oracle="""
    SELECT l_orderkey,
           CAST(l_linenumber + 0.5 AS DOUBLE) AS f,
           l_quantity + 1 AS q,
           CAST(l_linenumber AS BIGINT) + l_orderkey AS wide
    FROM lineitem WHERE l_quantity > 25 AND l_quantity < 27
    """,
    tags=("reference", "coercion"),
    doc="coercion lattice: int⊕float32→float32, int widening (compute_value.rs:350-431)",
)
def ref_coercion_mixed(spark, sf_dir):
    df = _ref_engine(spark, sf_dir).dataframe_for(
        "select l_orderkey, l_linenumber + 0.5 as f, l_quantity + 1 as q, "
        "l_linenumber + l_orderkey as wide "
        "from read_files('lineitem.parquet') where l_quantity > 25 and l_quantity < 27",
        mode="reference",
    )
    # f is Float32 per the reference lattice; present as double for the
    # oracle (x.5 fractions are exact in both widths).
    return df.select(
        "l_orderkey", F.col("f").cast("double").alias("f"), "q", "wide"
    )


@query(
    "ref_comparison_ops",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           l_quantity >  30 AS gt,  l_quantity >= 30 AS ge,
           l_quantity <  10 AS lt,  l_quantity <= 10 AS le,
           l_linenumber =  1 AS eq, l_linenumber != 1 AS ne,
           (l_quantity > 30 AND l_linenumber = 1) AS b_and,
           (l_quantity > 45 OR  l_quantity < 5)   AS b_or
    FROM lineitem
    """,
    tags=("reference", "expression"),
    doc="all 6 comparison kernels + AND/OR (compute_value.rs:66-218)",
)
def ref_comparison_ops(spark, sf_dir):
    return _ref_engine(spark, sf_dir).dataframe_for(
        "select l_orderkey, l_linenumber, "
        "l_quantity > 30 as gt, l_quantity >= 30 as ge, "
        "l_quantity < 10 as lt, l_quantity <= 10 as le, "
        "l_linenumber = 1 as eq, l_linenumber != 1 as ne, "
        "l_quantity > 30 and l_linenumber = 1 as b_and, "
        "l_quantity > 45 or l_quantity < 5 as b_or "
        "from read_files('lineitem.parquet')",
        mode="reference",
    )


@query(
    "ref_qualified_wildcard",
    oracle="""
    SELECT r_regionkey, r_name, r_regionkey * 2 AS dbl
    FROM region
    """,
    tags=("reference", "projection"),
    doc="qualified wildcard t.* — reference errors here "
    "(record_projection.rs:33-38 'Alias not supported'); implemented "
    "with standard expansion semantics instead",
)
def ref_qualified_wildcard(spark, sf_dir):
    return _ref_engine(spark, sf_dir).dataframe_for(
        "select t.*, r_regionkey * 2 as dbl "
        "from read_files('region.parquet') t",
        mode="reference",
    )


@query(
    "ref_string_filter",
    oracle="""
    SELECT o_orderkey, o_orderstatus FROM orders WHERE o_orderstatus = 'F'
    """,
    tags=("reference", "filter", "string"),
    doc="string eq/neq kernels (test_compute_value.rs:178-227)",
)
def ref_string_filter(spark, sf_dir):
    return _ref_engine(spark, sf_dir).dataframe_for(
        "select o_orderkey, o_orderstatus from read_files('orders.parquet') "
        "where o_orderstatus = 'F'",
        mode="reference",
    )


# =====================================================================
# Sources beyond parquet (§2.1 — CSV/JSON declared-but-missing) + named
# tables (§2.1 S2).
# =====================================================================


def _source_fingerprint(sf_dir: str, table: str) -> str:
    """Cache key for derived copies of a source table.

    Folds the source parquet's mtime+size into the digest so a
    regenerated dataset at the SAME path (which happened to events in
    round 4) invalidates the /tmp cache instead of serving a stale copy
    that mismatches the oracle reading fresh data. str ``hash()`` is
    salted per process, hence md5.
    """
    path = f"{sf_dir.rstrip('/')}/{table}.parquet"
    h = hashlib.md5(sf_dir.encode())
    paths = [path]
    if os.path.isdir(path):
        paths = sorted(
            os.path.join(r, f) for r, _, fs in os.walk(path) for f in fs
        )
    for p in paths:
        st = os.stat(p)
        h.update(f"{os.path.basename(p)}:{st.st_mtime_ns}:{st.st_size}".encode())
    return h.hexdigest()[:12]


def _format_dir(spark, sf_dir, fmt: str, table: str) -> str:
    """Deterministic one-time conversion of a parquet table to csv/json."""
    key = _source_fingerprint(sf_dir, table)
    out = f"/tmp/chqe_formats/{key}/{table}_{fmt}"
    marker = os.path.join(out, "_SUCCESS")
    if not os.path.exists(marker):
        src = t(spark, sf_dir, table)
        w = src.coalesce(1).write.mode("overwrite")
        if fmt == "csv":
            w.option("header", "true").csv(out)
        elif fmt == "orc":
            w.orc(out)
        else:
            w.json(out)
    return out


@query(
    "csv_scan",
    oracle="SELECT r_regionkey, r_name FROM region",
    tags=("source", "csv"),
    doc="CSV source (README 'Supported SQL' unchecked box)",
)
def csv_scan(spark, sf_dir):
    path = _format_dir(spark, sf_dir, "csv", "region")
    eng = _ref_engine(spark, sf_dir)
    df = eng.dataframe_for(
        f"select * from read_files('{path}/*.csv')", mode="reference"
    )
    return df.select(F.col("r_regionkey").cast("int"), "r_name")


@query(
    "json_scan",
    oracle="SELECT n_nationkey, n_name, n_regionkey FROM nation",
    tags=("source", "json"),
    doc="JSON source (README 'Supported SQL' unchecked box)",
)
def json_scan(spark, sf_dir):
    path = _format_dir(spark, sf_dir, "json", "nation")
    eng = _ref_engine(spark, sf_dir)
    df = eng.dataframe_for(
        f"select * from read_files('{path}/*.json')", mode="reference"
    )
    return df.select(
        F.col("n_nationkey").cast("int"), "n_name", F.col("n_regionkey").cast("int")
    )


@query(
    "named_table_scan",
    oracle="SELECT n_nationkey, n_name FROM nation WHERE n_regionkey = 2",
    tags=("source", "table"),
    doc="named-table scan, the reference's NotImplemented S2 (builder.rs:67-72)",
)
def named_table_scan(spark, sf_dir):
    # the formatter spark.sql(text, **frames) uses: a uuid-named view
    # per frame, dropped once the reference engine has resolved it
    from pyspark.sql.sql_formatter import SQLStringFormatter

    views = SQLStringFormatter(spark)
    try:
        return _ref_engine(spark, sf_dir).dataframe_for(
            views.format(
                "select n_nationkey, n_name from {nation} where n_regionkey = 2",
                nation=t(spark, sf_dir, "nation"),
            ),
            mode="reference",
        )
    finally:
        views.clear()


# =====================================================================
# Joins (§2.3 — all declared-but-missing in the reference). Every join
# keys on the natural key; dimension sides are broadcast-size so AQE /
# the 64m threshold turns them into broadcast hash joins (no shuffle of
# the big side) — verified via .explain in tests.
# =====================================================================


@query(
    "join_inner_agg",
    oracle=f"""
    SELECT c_mktsegment, COUNT(*) AS cnt,
           {o_dsum('o_totalprice')} AS sum_price
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_mktsegment
    """,
    tags=("join", "agg"),
    doc="inner join + group-by; dimension side broadcast",
)
def join_inner_agg(spark, sf_dir):
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            dsum(F.col("o_totalprice")).alias("sum_price"),
        )
    )


@query(
    "join_left_with_zeros",
    oracle="""
    SELECT c_custkey, COUNT(o_orderkey) AS cnt
    FROM customer LEFT JOIN (SELECT * FROM orders WHERE o_totalprice > 400000) big
      ON o_custkey = c_custkey
    GROUP BY c_custkey
    """,
    tags=("join",),
    doc="left outer join preserving unmatched left rows",
)
def join_left_with_zeros(spark, sf_dir):
    c = t(spark, sf_dir, "customer")
    big = t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 400000)
    return (
        c.join(big, big.o_custkey == c.c_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("cnt"))
    )


@query(
    "join_right",
    oracle="""
    SELECT o_orderkey, COUNT(l_orderkey) AS n_items
    FROM (SELECT * FROM lineitem WHERE l_quantity > 49) l
    RIGHT JOIN orders ON l_orderkey = o_orderkey
    GROUP BY o_orderkey
    """,
    tags=("join",),
    doc="right outer join preserving unmatched right rows",
)
def join_right(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem").filter(F.col("l_quantity") > 49)
    o = t(spark, sf_dir, "orders")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey, "right")
        .groupBy("o_orderkey")
        .agg(F.count("l_orderkey").alias("n_items"))
    )


@query(
    "join_full_outer",
    oracle="""
    SELECT COALESCE(p_partkey, l_partkey) AS key, p_size, hi.cnt
    FROM (SELECT * FROM part WHERE p_size > 25) p
    FULL JOIN (SELECT l_partkey, COUNT(*) AS cnt
               FROM lineitem WHERE l_quantity > 49 GROUP BY l_partkey) hi
      ON p_partkey = l_partkey
    """,
    tags=("join",),
    doc="full outer join with NULLs on both sides",
)
def join_full_outer(spark, sf_dir):
    p = t(spark, sf_dir, "part").filter(F.col("p_size") > 25)
    hi = (
        t(spark, sf_dir, "lineitem")
        .filter(F.col("l_quantity") > 49)
        .groupBy("l_partkey")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return p.join(hi, p.p_partkey == hi.l_partkey, "full").select(
        F.coalesce("p_partkey", "l_partkey").alias("key"), "p_size", "cnt"
    )


@query(
    "join_semi",
    oracle="""
    SELECT c_custkey, c_name FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000)
    """,
    tags=("join",),
    doc="left semi join (EXISTS)",
)
def join_semi(spark, sf_dir):
    c = t(spark, sf_dir, "customer")
    big = t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 400000)
    return c.join(big, c.c_custkey == big.o_custkey, "left_semi").select(
        "c_custkey", "c_name"
    )


@query(
    "join_anti",
    oracle="""
    SELECT c_custkey, c_name FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000)
    """,
    tags=("join",),
    doc="left anti join (NOT EXISTS)",
)
def join_anti(spark, sf_dir):
    c = t(spark, sf_dir, "customer")
    big = t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 400000)
    return c.join(big, c.c_custkey == big.o_custkey, "left_anti").select(
        "c_custkey", "c_name"
    )


@query(
    "join_multiway_star",
    oracle="""
    SELECT r_name, n_name, COUNT(*) AS n_cust
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY r_name, n_name
    """,
    tags=("join", "agg"),
    doc="3-way star join over the dimension chain customer→nation→region",
)
def join_multiway_star(spark, sf_dir):
    c = t(spark, sf_dir, "customer")
    n = t(spark, sf_dir, "nation")
    r = t(spark, sf_dir, "region")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(F.count(F.lit(1)).alias("n_cust"))
    )


# =====================================================================
# Aggregations / ordering / sets (§2.4, §2.6, §2.7)
# =====================================================================


@query(
    "tpch_q1_pricing_summary",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           {o_dsum('l_quantity')} AS sum_qty,
           {o_dsum('l_extendedprice')} AS sum_base,
           {o_drevenue('l_extendedprice', 'l_discount')} AS sum_disc_price,
           {o_drevenue('l_extendedprice', 'l_discount', 'l_tax')} AS sum_charge,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
    tags=("agg", "headline"),
    doc="TPC-H Q1 shape: wide aggregation with map-side partial agg",
)
def tpch_q1_pricing_summary(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem")
    price, disc, tax = F.col("l_extendedprice"), F.col("l_discount"), F.col("l_tax")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum(F.col("l_quantity")).alias("sum_qty"),
            dsum(F.col("l_extendedprice")).alias("sum_base"),
            drevenue(price, disc).alias("sum_disc_price"),
            drevenue(price, disc, tax).alias("sum_charge"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@query(
    "group_having",
    oracle="""
    SELECT o_custkey, COUNT(*) AS cnt
    FROM orders GROUP BY o_custkey HAVING COUNT(*) > 12
    """,
    tags=("agg",),
    doc="GROUP BY + HAVING (README unchecked box)",
)
def group_having(spark, sf_dir):
    return (
        t(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") > 12)
    )


@query(
    "order_by_limit_topk",
    oracle="""
    SELECT o_orderkey, o_totalprice FROM orders
    ORDER BY o_totalprice DESC, o_orderkey LIMIT 10
    """,
    tags=("sort", "limit"),
    doc="ORDER BY + LIMIT = distributed top-k (TakeOrderedAndProject)",
)
def order_by_limit_topk(spark, sf_dir):
    return (
        t(spark, sf_dir, "orders")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .select("o_orderkey", "o_totalprice")
        .limit(10)
    )


@query(
    "distinct_values",
    oracle="SELECT DISTINCT c_mktsegment, c_nationkey FROM customer",
    tags=("agg",),
    doc="DISTINCT = hash aggregate without measures",
)
def distinct_values(spark, sf_dir):
    return t(spark, sf_dir, "customer").select("c_mktsegment", "c_nationkey").distinct()


@query(
    "set_union_all",
    oracle="""
    SELECT c_nationkey AS k FROM customer
    UNION ALL
    SELECT s_nationkey AS k FROM supplier
    """,
    tags=("setop",),
    doc="UNION ALL (bag union — no shuffle, plain concat of partitions)",
)
def set_union_all(spark, sf_dir):
    c = t(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("k"))
    s = t(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("k"))
    return c.unionAll(s)


@query(
    "set_intersect",
    oracle="""
    SELECT c_nationkey AS k FROM customer WHERE c_acctbal > 9000
    INTERSECT
    SELECT s_nationkey AS k FROM supplier
    """,
    tags=("setop",),
    doc="INTERSECT (set semantics in both engines)",
)
def set_intersect(spark, sf_dir):
    c = (
        t(spark, sf_dir, "customer")
        .filter(F.col("c_acctbal") > 9000)
        .select(F.col("c_nationkey").alias("k"))
    )
    s = t(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("k"))
    return c.intersect(s)


@query(
    "set_except",
    oracle="""
    SELECT c_nationkey AS k FROM customer
    EXCEPT
    SELECT s_nationkey AS k FROM supplier WHERE s_acctbal > 8000
    """,
    tags=("setop",),
    doc="EXCEPT (set semantics in both engines)",
)
def set_except(spark, sf_dir):
    c = t(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("k"))
    s = (
        t(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") > 8000)
        .select(F.col("s_nationkey").alias("k"))
    )
    return c.subtract(s)


@query(
    "rollup_agg",
    oracle="""
    SELECT c_mktsegment, c_nationkey, COUNT(*) AS cnt
    FROM customer GROUP BY ROLLUP (c_mktsegment, c_nationkey)
    """,
    tags=("agg",),
    doc="ROLLUP grouping sets (Spark-native extension beyond reference)",
)
def rollup_agg(spark, sf_dir):
    return (
        t(spark, sf_dir, "customer")
        .rollup("c_mktsegment", "c_nationkey")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


# =====================================================================
# Window functions (§2.5), CTEs, subqueries (all beyond-reference)
# =====================================================================


@query(
    "window_rank_topn",
    oracle="""
    SELECT * FROM (
      SELECT c_custkey, c_mktsegment, c_acctbal,
             ROW_NUMBER() OVER (PARTITION BY c_mktsegment
                                ORDER BY c_acctbal DESC, c_custkey) AS rn,
             RANK()       OVER (PARTITION BY c_mktsegment
                                ORDER BY c_acctbal DESC, c_custkey) AS rnk
      FROM customer) x
    WHERE rn <= 5
    """,
    tags=("window",),
    doc="window functions: per-group top-N via row_number/rank",
)
def window_rank_topn(spark, sf_dir):
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.col("c_acctbal").desc(), F.col("c_custkey")
    )
    return (
        t(spark, sf_dir, "customer")
        .select(
            "c_custkey",
            "c_mktsegment",
            "c_acctbal",
            F.row_number().over(w).alias("rn"),
            F.rank().over(w).alias("rnk"),
        )
        .filter(F.col("rn") <= 5)
    )


@query(
    "window_lag_running",
    oracle="""
    SELECT o_custkey, o_orderkey,
           LAG(o_orderkey) OVER (PARTITION BY o_custkey ORDER BY o_orderkey) AS prev_order,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(27,4)))
                OVER (PARTITION BY o_custkey ORDER BY o_orderkey
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS DOUBLE) AS running
    FROM orders
    """,
    tags=("window",),
    doc="lag + running sum over a partitioned ordered frame",
)
def window_lag_running(spark, sf_dir):
    w = Window.partitionBy("o_custkey").orderBy("o_orderkey")
    wsum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return t(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderkey",
        F.lag("o_orderkey").over(w).alias("prev_order"),
        F.sum(F.col("o_totalprice").cast("decimal(27,4)"))
        .over(wsum)
        .cast("double")
        .alias("running"),
    )


@query(
    "cte_segment_totals",
    oracle=f"""
    WITH seg AS (
      SELECT c_mktsegment AS seg, {o_dsum('c_acctbal')} AS total,
             COUNT(*) AS n
      FROM customer GROUP BY c_mktsegment
    )
    SELECT seg, total, n FROM seg WHERE n > 100
    """,
    tags=("cte",),
    doc="CTE (WITH clause) — declared-but-missing in the reference",
)
def cte_segment_totals(spark, sf_dir):
    seg = (
        t(spark, sf_dir, "customer")
        .groupBy(F.col("c_mktsegment").alias("seg"))
        .agg(dsum(F.col("c_acctbal")).alias("total"), F.count(F.lit(1)).alias("n"))
    )
    return seg.filter(F.col("n") > 100)


@query(
    "in_subquery",
    oracle="""
    SELECT o_orderkey, o_custkey FROM orders
    WHERE o_custkey IN (SELECT c_custkey FROM customer
                        WHERE c_mktsegment = 'BUILDING')
      AND o_totalprice > 300000
    """,
    tags=("subquery",),
    doc="IN subquery → left semi join under Catalyst",
)
def in_subquery(spark, sf_dir):
    return spark.sql(
        """
        SELECT o_orderkey, o_custkey FROM {orders}
        WHERE o_custkey IN (SELECT c_custkey FROM {customer}
                            WHERE c_mktsegment = 'BUILDING')
          AND o_totalprice > 300000
        """,
        orders=t(spark, sf_dir, "orders"),
        customer=t(spark, sf_dir, "customer"),
    )


@query(
    "scalar_subquery",
    oracle="""
    SELECT o_orderkey, o_totalprice FROM orders
    WHERE o_totalprice > 1.5 * (
      SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(27,4))) AS DOUBLE) / COUNT(*)
      FROM orders)
    """,
    tags=("subquery",),
    doc="scalar subquery with an exact (decimal-summed) global average",
)
def scalar_subquery(spark, sf_dir):
    return spark.sql(
        """
        SELECT o_orderkey, o_totalprice FROM {orders}
        WHERE o_totalprice > 1.5 * (
          SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(27,4))) AS DOUBLE) / COUNT(*)
          FROM {orders})
        """,
        orders=t(spark, sf_dir, "orders"),
    )


# =====================================================================
# Scalar function library (§2.8) — string / math / date / conditional
# =====================================================================


@query(
    "string_functions",
    oracle="""
    SELECT n_nationkey,
           UPPER(n_name) AS up, LOWER(n_name) AS lo,
           CAST(LENGTH(n_name) AS BIGINT) AS len,
           SUBSTRING(n_name, 1, 3) AS pre,
           n_name || '-' || CAST(n_regionkey AS VARCHAR) AS tagged,
           REPLACE(n_name, 'A', '@') AS repl,
           TRIM('  ' || n_name || ' ') AS trimmed
    FROM nation
    """,
    tags=("functions", "string"),
    doc="string library: ||, upper/lower/length/substr/replace/trim",
)
def string_functions(spark, sf_dir):
    n = t(spark, sf_dir, "nation")
    return n.select(
        "n_nationkey",
        F.upper("n_name").alias("up"),
        F.lower("n_name").alias("lo"),
        F.length("n_name").cast("bigint").alias("len"),
        F.substring("n_name", 1, 3).alias("pre"),
        F.concat_ws("-", F.col("n_name"), F.col("n_regionkey").cast("string")).alias(
            "tagged"
        ),
        F.replace(F.col("n_name"), F.lit("A"), F.lit("@")).alias("repl"),
        F.trim(F.concat(F.lit("  "), F.col("n_name"), F.lit(" "))).alias("trimmed"),
    )


@query(
    "like_patterns",
    oracle="""
    SELECT p_partkey, p_name, p_type FROM part
    WHERE p_type LIKE 'PRO%' OR p_name LIKE '%#13%'
    """,
    tags=("functions", "string"),
    doc="LIKE patterns (explicit reference TODO: 'Support string operations')",
)
def like_patterns(spark, sf_dir):
    p = t(spark, sf_dir, "part")
    return p.filter(
        F.col("p_type").like("PRO%") | F.col("p_name").like("%#13%")
    ).select("p_partkey", "p_name", "p_type")


@query(
    "math_functions",
    oracle="""
    SELECT o_orderkey,
           ABS(o_totalprice - 250000) AS dist,
           CAST(FLOOR(o_totalprice / 1000) AS BIGINT) AS bucket_floor,
           CAST(CEIL(o_totalprice / 1000)  AS BIGINT) AS bucket_ceil,
           o_orderkey % 97 AS m,
           SQRT(o_totalprice) AS rt
    FROM orders WHERE o_orderkey % 10 = 3
    """,
    tags=("functions", "math"),
    doc="math library: abs/floor/ceil/mod/sqrt (IEEE-exact both engines)",
)
def math_functions(spark, sf_dir):
    o = t(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 10 == 3)
    return o.select(
        "o_orderkey",
        F.abs(F.col("o_totalprice") - 250000).alias("dist"),
        F.floor(F.col("o_totalprice") / 1000).cast("bigint").alias("bucket_floor"),
        F.ceil(F.col("o_totalprice") / 1000).cast("bigint").alias("bucket_ceil"),
        (F.col("o_orderkey") % 97).alias("m"),
        F.sqrt("o_totalprice").alias("rt"),
    )


@query(
    "date_functions",
    oracle=f"""
    SELECT o_orderkey,
           CAST(YEAR(o_orderdate) AS BIGINT) AS y,
           CAST(MONTH(o_orderdate) AS BIGINT) AS mo,
           CAST(DAY(o_orderdate) AS BIGINT) AS d,
           {o_ts_str("date_trunc('month', o_orderdate)")} AS month_start
    FROM orders WHERE o_orderkey % 100 = 0
    """,
    tags=("functions", "date"),
    doc="date/time extraction (time types absent in reference — §1.3)",
)
def date_functions(spark, sf_dir):
    o = t(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 100 == 0)
    return o.select(
        "o_orderkey",
        F.year("o_orderdate").cast("bigint").alias("y"),
        F.month("o_orderdate").cast("bigint").alias("mo"),
        F.dayofmonth("o_orderdate").cast("bigint").alias("d"),
        ts_str(F.date_trunc("month", F.col("o_orderdate"))).alias("month_start"),
    )


@query(
    "case_when_buckets",
    oracle="""
    SELECT o_orderkey,
           CASE WHEN o_totalprice > 400000 THEN 'high'
                WHEN o_totalprice > 200000 THEN 'mid'
                ELSE 'low' END AS bucket
    FROM orders
    """,
    tags=("functions",),
    doc="CASE WHEN conditional",
)
def case_when_buckets(spark, sf_dir):
    return t(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.when(F.col("o_totalprice") > 400000, "high")
        .when(F.col("o_totalprice") > 200000, "mid")
        .otherwise("low")
        .alias("bucket"),
    )


# =====================================================================
# Headline analytical queries (bench workload; joins + agg at scale)
# =====================================================================


@query(
    "tpch_q3_shipping_priority",
    oracle=f"""
    SELECT o_orderkey, {o_drevenue('l_extendedprice', 'l_discount')} AS revenue,
           {o_ts_str('o_orderdate')} AS orderdate
    FROM customer JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
      AND l_shipdate  > TIMESTAMP '1998-03-15 00:00:00'
    GROUP BY o_orderkey, o_orderdate
    """,
    tags=("join", "agg", "headline"),
    doc="TPC-H Q3 shape: selective dimension filter + fact join + agg",
)
def tpch_q3_shipping_priority(spark, sf_dir):
    c = t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-03-15 00:00:00").cast("timestamp")
    )
    li = t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-03-15 00:00:00").cast("timestamp")
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("o_orderkey", "o_orderdate")
        .agg(drevenue(F.col("l_extendedprice"), F.col("l_discount")).alias("revenue"))
        .select(
            "o_orderkey", "revenue", ts_str(F.col("o_orderdate")).alias("orderdate")
        )
    )


@query(
    "tpch_q5_local_supplier",
    oracle=f"""
    SELECT n_name, {o_drevenue('l_extendedprice', 'l_discount')} AS revenue
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
    GROUP BY n_name
    """,
    tags=("join", "agg", "headline"),
    doc="TPC-H Q5 shape: 6-way join with a region filter",
)
def tpch_q5_local_supplier(spark, sf_dir):
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders")
    li = t(spark, sf_dir, "lineitem")
    s = t(spark, sf_dir, "supplier")
    n = t(spark, sf_dir, "nation")
    r = t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(
            F.broadcast(s),
            (li.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey),
        )
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(drevenue(F.col("l_extendedprice"), F.col("l_discount")).alias("revenue"))
    )


# =====================================================================
# Null handling / date arithmetic / regexp / CUBE / UDFs — rounding out
# §2.8 and §2.10
# =====================================================================


@query(
    "null_handling",
    oracle="""
    SELECT o_orderkey,
           NULLIF(o_orderstatus, 'O') AS closed_status,
           COALESCE(NULLIF(o_orderstatus, 'O'), 'open') AS status2,
           (NULLIF(o_orderstatus, 'O') IS NULL) AS is_open
    FROM orders WHERE o_orderkey % 7 = 0
    """,
    tags=("functions", "null"),
    doc="NULLIF / COALESCE / IS NULL",
)
def null_handling(spark, sf_dir):
    o = t(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 7 == 0)
    closed = F.nullif(F.col("o_orderstatus"), F.lit("O"))
    return o.select(
        "o_orderkey",
        closed.alias("closed_status"),
        F.coalesce(closed, F.lit("open")).alias("status2"),
        closed.isNull().alias("is_open"),
    )


@query(
    "date_arithmetic",
    oracle=f"""
    SELECT event_id,
           {o_ts_str("ts + INTERVAL 1 HOUR")} AS plus_hour,
           CAST(HOUR(ts) AS BIGINT) AS h,
           CAST(MINUTE(ts) AS BIGINT) AS m,
           {o_ts_str("date_trunc('day', ts)")} AS day_start
    FROM events WHERE event_id % 50 = 0
    """,
    tags=("functions", "date"),
    doc="timestamp interval arithmetic + extraction",
)
def date_arithmetic(spark, sf_dir):
    ev = t(spark, sf_dir, "events").filter(F.col("event_id") % 50 == 0)
    return ev.select(
        "event_id",
        ts_str(F.col("ts") + F.expr("INTERVAL 1 HOUR")).alias("plus_hour"),
        F.hour("ts").cast("bigint").alias("h"),
        F.minute("ts").cast("bigint").alias("m"),
        ts_str(F.date_trunc("day", F.col("ts"))).alias("day_start"),
    )


@query(
    "regexp_ops",
    oracle="""
    SELECT p_partkey,
           regexp_extract(p_name, '[0-9]+') AS num,
           regexp_replace(p_name, '[aeiou]', '_', 'g') AS devoweled,
           regexp_matches(p_type, '^(PRO|STA)') AS pro_or_sta
    FROM part WHERE p_partkey % 5 = 0
    """,
    tags=("functions", "string"),
    doc="regexp extract/replace/match",
)
def regexp_ops(spark, sf_dir):
    p = t(spark, sf_dir, "part").filter(F.col("p_partkey") % 5 == 0)
    return p.select(
        "p_partkey",
        F.regexp_extract("p_name", "[0-9]+", 0).alias("num"),
        F.regexp_replace("p_name", "[aeiou]", "_").alias("devoweled"),
        F.col("p_type").rlike("^(PRO|STA)").alias("pro_or_sta"),
    )


@query(
    "cube_agg",
    oracle="""
    SELECT n_regionkey, c_mktsegment, COUNT(*) AS cnt
    FROM customer JOIN nation ON c_nationkey = n_nationkey
    GROUP BY CUBE (n_regionkey, c_mktsegment)
    """,
    tags=("agg",),
    doc="CUBE grouping sets over a joined dimension",
)
def cube_agg(spark, sf_dir):
    c = t(spark, sf_dir, "customer")
    n = t(spark, sf_dir, "nation")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .cube("n_regionkey", "c_mktsegment")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


@query(
    "count_distinct",
    oracle="""
    SELECT c_mktsegment,
           COUNT(DISTINCT c_nationkey) AS n_nations,
           COUNT(*) AS n_rows
    FROM customer GROUP BY c_mktsegment
    """,
    tags=("agg",),
    doc="exact COUNT(DISTINCT) — expand-based distinct aggregate",
)
def count_distinct(spark, sf_dir):
    return (
        t(spark, sf_dir, "customer")
        .groupBy("c_mktsegment")
        .agg(
            F.countDistinct("c_nationkey").alias("n_nations"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


@query(
    "array_split_ops",
    oracle="""
    SELECT n_nationkey,
           array_to_string(string_split(n_name, 'A'), '|') AS parts_str,
           CAST(len(string_split(n_name, 'A')) AS INTEGER) AS n_parts,
           string_split(n_name, 'A')[1] AS head
    FROM nation
    """,
    tags=("functions", "array"),
    doc="split → array ops (size, element_at); graded projection is "
    "scalar-only — the driver's canonicalizer can't hash list cells "
    "(array-typed path covered in tests/test_queries_arrays.py)",
)
def array_split_ops(spark, sf_dir):
    n = t(spark, sf_dir, "nation")
    parts = F.split(F.col("n_name"), "A")
    return n.select(
        "n_nationkey",
        F.array_join(parts, "|").alias("parts_str"),
        F.size(parts).alias("n_parts"),
        F.element_at(parts, 1).alias("head"),
    )


@query(
    "udf_pandas_charge",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           l_extendedprice * (1 - l_discount) * (1 + l_tax) AS charge,
           CAST(len(string_split_regex(trim(l_returnflag || ' ' || l_linestatus), '\\s+'))
                AS BIGINT) AS wc
    FROM lineitem WHERE l_orderkey % 100 = 0
    """,
    tags=("functions", "udf"),
    doc="registered Arrow-batched pandas UDFs callable from SQL (§2.10)",
)
def udf_pandas_charge(spark, sf_dir):
    from chapterhouseqe_spark.functions.udfs import register_default_udfs

    register_default_udfs(spark)
    return spark.sql(
        """
        SELECT l_orderkey, l_linenumber,
               chqe_charge(l_extendedprice, l_discount, l_tax) AS charge,
               chqe_word_count(l_returnflag || ' ' || l_linestatus) AS wc
        FROM {lineitem} WHERE l_orderkey % 100 = 0
        """,
        lineitem=t(spark, sf_dir, "lineitem"),
    )


@query(
    "percentile_stats",
    oracle="""
    SELECT c_mktsegment,
           quantile_cont(o_totalprice, 0.5) AS median_price,
           quantile_cont(o_totalprice, 0.9) AS p90_price,
           MIN(o_totalprice) AS min_price,
           MAX(o_totalprice) AS max_price
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_mktsegment
    """,
    tags=("agg", "stats"),
    doc="exact interpolated percentiles (Spark percentile ≡ DuckDB quantile_cont)",
)
def percentile_stats(spark, sf_dir):
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.percentile("o_totalprice", 0.5).alias("median_price"),
            F.percentile("o_totalprice", 0.9).alias("p90_price"),
            F.min("o_totalprice").alias("min_price"),
            F.max("o_totalprice").alias("max_price"),
        )
    )


@query(
    "variance_exact",
    oracle="""
    SELECT c_mktsegment,
           (CAST(CAST(SUM(CAST(c_acctbal AS DECIMAL(27,4)) * CAST(c_acctbal AS DECIMAL(27,4))) AS VARCHAR) AS DOUBLE)
            - CAST(CAST(SUM(CAST(c_acctbal AS DECIMAL(27,4))) AS VARCHAR) AS DOUBLE)
              * CAST(CAST(SUM(CAST(c_acctbal AS DECIMAL(27,4))) AS VARCHAR) AS DOUBLE) / COUNT(*))
           / (COUNT(*) - 1) AS var_acctbal,
           COUNT(*) AS n
    FROM customer GROUP BY c_mktsegment
    """,
    tags=("agg", "stats"),
    doc=(
        "sample variance via the explicit sum-of-squares formula with "
        "decimal-exact sums — engine-native stddev/variance use "
        "different accumulation orders and would not hash-match"
    ),
)
def variance_exact(spark, sf_dir):
    c = t(spark, sf_dir, "customer")
    dec = F.col("c_acctbal").cast("decimal(27,4)")
    ssq = F.sum(dec * dec).cast("string").cast("double")
    s1 = F.sum(dec).cast("string").cast("double")
    n = F.count(F.lit(1))
    return c.groupBy("c_mktsegment").agg(
        ((ssq - s1 * s1 / n) / (n - F.lit(1))).alias("var_acctbal"),
        n.alias("n"),
    )


@query(
    "ref_order_by_limit",
    oracle="""
    SELECT o_orderkey, o_totalprice FROM orders
    WHERE o_totalprice > 100000
    ORDER BY o_totalprice DESC, o_orderkey LIMIT 20
    """,
    tags=("reference", "sort", "limit"),
    doc="ORDER BY + LIMIT in the reference dialect (both reference TODOs) "
    "— plans as TakeOrderedAndProject top-k",
)
def ref_order_by_limit(spark, sf_dir):
    return _ref_engine(spark, sf_dir).dataframe_for(
        "select o_orderkey, o_totalprice from read_files('orders.parquet') "
        "where o_totalprice > 100000 "
        "order by o_totalprice desc, o_orderkey limit 20",
        mode="reference",
    )


# =====================================================================
# Temporal joins (operators/temporal.py) and further SQL shapes:
# EXISTS / correlated-aggregate subqueries, pivot, explode, multi-
# granularity rollup — all beyond the reference's declared-but-missing
# join/agg surface (README "Supported SQL" unchecked boxes).
# =====================================================================


@query(
    "asof_join_clicks",
    oracle="""
    SELECT c.event_id, c.user_id,
           strftime(c.ts, '%Y-%m-%d %H:%M:%S') AS click_ts,
           strftime(p.ts, '%Y-%m-%d %H:%M:%S') AS purchase_ts,
           p.purchase_value
    FROM (SELECT event_id, user_id, ts FROM events
          WHERE event_type = 'click') c
    ASOF LEFT JOIN (SELECT user_id, ts, MAX(value) AS purchase_value
                    FROM events WHERE event_type = 'purchase'
                    GROUP BY user_id, ts) p
      ON c.user_id = p.user_id AND c.ts >= p.ts
    """,
    tags=("join", "temporal"),
    doc="as-of join: each click matched to the user's latest preceding "
    "purchase — union-sort formulation, one shuffle, no range explode "
    "(operators/temporal.py:asof_join); oracle is DuckDB's native ASOF JOIN",
)
def asof_join_clicks(spark, sf_dir):
    from chapterhouseqe_spark.operators.temporal import asof_join

    ev = t(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    # one row per (user, ts) so as-of ties are deterministic in both engines
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("purchase_value"))
    )
    j = asof_join(clicks, purchases, ["user_id"], "ts")
    return j.select(
        "event_id",
        "user_id",
        ts_str(F.col("ts")).alias("click_ts"),
        ts_str(F.col("ts_r")).alias("purchase_ts"),
        F.col("purchase_value_r").alias("purchase_value"),
    )


@query(
    "range_join_windows",
    oracle="""
    SELECT w.win_id, strftime(w.w_start, '%Y-%m-%d %H:%M:%S') AS w_start_s,
           COUNT(*) AS cnt,
           CAST(SUM(CAST(e.value AS DECIMAL(27,4))) AS DOUBLE) AS sum_value
    FROM read_parquet_events e
    JOIN (SELECT i AS win_id,
                 TIMESTAMP '2024-01-01 08:00:00' + i * INTERVAL 1 DAY AS w_start,
                 TIMESTAMP '2024-01-01 10:00:00' + i * INTERVAL 1 DAY AS w_end
          FROM range(30) t(i)) w
      ON e.ts >= w.w_start AND e.ts < w.w_end
    GROUP BY w.win_id, w_start_s
    """.replace("read_parquet_events", "events"),
    tags=("join", "temporal"),
    doc="interval range join: events bucketized into daily 2h maintenance "
    "windows via equi-join on fixed-width buckets, never O(rows×intervals) "
    "(operators/temporal.py:range_join)",
)
def range_join_windows(spark, sf_dir):
    from chapterhouseqe_spark.operators.temporal import range_join

    ev = t(spark, sf_dir, "events").select("ts", "value")
    wins = spark.range(30).select(
        F.col("id").alias("win_id"),
        F.expr("timestampadd(DAY, CAST(id AS INT), TIMESTAMP '2024-01-01 08:00:00')").alias("w_start"),
        F.expr("timestampadd(DAY, CAST(id AS INT), TIMESTAMP '2024-01-01 10:00:00')").alias("w_end"),
    )
    j = range_join(ev, wins, "ts", "w_start", "w_end", bucket_width=7200.0)
    return j.groupBy("win_id", ts_str(F.col("w_start")).alias("w_start_s")).agg(
        F.count(F.lit(1)).alias("cnt"), dsum(F.col("value")).alias("sum_value")
    )


@query(
    "exists_subquery",
    oracle="""
    SELECT o_orderpriority, COUNT(*) AS order_count
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1998-01-01'
      AND o.o_orderdate < TIMESTAMP '1999-01-01'
      AND EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey
                    AND l.l_shipdate > o.o_orderdate)
    GROUP BY o_orderpriority
    """,
    tags=("subquery",),
    doc="correlated EXISTS (TPC-H q4 shape) as a non-equi left-semi join; "
    "Spark plans the equi part as the shuffle key, extra predicate post-filters",
)
def exists_subquery(spark, sf_dir):
    o = t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1998-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1999-01-01").cast("timestamp"))
    )
    li = t(spark, sf_dir, "lineitem")
    matched = o.join(
        li,
        (o["o_orderkey"] == li["l_orderkey"]) & (li["l_shipdate"] > o["o_orderdate"]),
        "left_semi",
    )
    return matched.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("order_count")
    )


@query(
    "correlated_agg_subquery",
    oracle="""
    SELECT CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(27,4))) AS DOUBLE)
             AS total_price,
           COUNT(*) AS cnt
    FROM lineitem l
    JOIN (SELECT l_partkey,
                 CAST(SUM(CAST(l_quantity AS DECIMAL(27,4))) AS DOUBLE)
                   / COUNT(*) AS avg_qty
          FROM lineitem GROUP BY l_partkey) a
      ON l.l_partkey = a.l_partkey
    WHERE l.l_quantity < 0.2 * a.avg_qty
    """,
    tags=("subquery", "agg"),
    doc="correlated aggregate subquery (TPC-H q17 shape) decorrelated into "
    "a per-key aggregate + self-join on l_partkey — ONE shuffle key reused; "
    "avg computed decimal-exact so the 0.2× threshold is bit-identical",
)
def correlated_agg_subquery(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem")
    avg_q = li.groupBy("l_partkey").agg(
        (
            F.sum(F.col("l_quantity").cast("decimal(27,4)")).cast("double")
            / F.count(F.lit(1))
        ).alias("avg_qty")
    )
    j = li.join(avg_q, "l_partkey").filter(
        F.col("l_quantity") < F.lit(0.2) * F.col("avg_qty")
    )
    return j.agg(
        dsum(F.col("l_extendedprice")).alias("total_price"),
        F.count(F.lit(1)).alias("cnt"),
    )


@query(
    "tpch_q6_revenue",
    oracle="""
    SELECT CAST(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(27,6)))
                AS DOUBLE) AS revenue,
           COUNT(*) AS cnt
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1998-01-01'
      AND l_shipdate < TIMESTAMP '1999-01-01'
      AND l_discount BETWEEN 0.04 AND 0.08
      AND l_quantity < 24
    """,
    tags=("agg", "tpch"),
    doc="TPC-H q6 forecast-revenue: pure scan+filter+agg — every predicate "
    "pushes to the parquet scan, zero joins, one partial-agg shuffle of 1 row",
)
def tpch_q6_revenue(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem")
    f = li.filter(
        (F.col("l_shipdate") >= F.lit("1998-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1999-01-01").cast("timestamp"))
        & (F.col("l_discount") >= 0.04)
        & (F.col("l_discount") <= 0.08)
        & (F.col("l_quantity") < 24)
    )
    return f.agg(
        F.sum((F.col("l_extendedprice") * F.col("l_discount")).cast("decimal(27,6)"))
        .cast("double")
        .alias("revenue"),
        F.count(F.lit(1)).alias("cnt"),
    )


@query(
    "pivot_returnflag",
    oracle="""
    SELECT l_linestatus,
           CAST(SUM(CAST(l_quantity AS DECIMAL(27,4)))
                FILTER (WHERE l_returnflag = 'A') AS DOUBLE) AS qty_a,
           CAST(SUM(CAST(l_quantity AS DECIMAL(27,4)))
                FILTER (WHERE l_returnflag = 'N') AS DOUBLE) AS qty_n,
           CAST(SUM(CAST(l_quantity AS DECIMAL(27,4)))
                FILTER (WHERE l_returnflag = 'R') AS DOUBLE) AS qty_r
    FROM lineitem GROUP BY l_linestatus
    """,
    tags=("agg", "pivot"),
    doc="pivot (long→wide): groupBy().pivot() with explicit value list so "
    "Spark skips the extra distinct-values job; map-side partial aggs per "
    "(status, flag) then one shuffle",
)
def pivot_returnflag(spark, sf_dir):
    p = (
        t(spark, sf_dir, "lineitem")
        .groupBy("l_linestatus")
        .pivot("l_returnflag", ["A", "N", "R"])
        .agg(dsum(F.col("l_quantity")))
    )
    return p.select(
        "l_linestatus",
        F.col("A").alias("qty_a"),
        F.col("N").alias("qty_n"),
        F.col("R").alias("qty_r"),
    )


@query(
    "explode_word_count",
    oracle="""
    SELECT word, COUNT(*) AS cnt
    FROM (SELECT unnest(string_split_regex(lower(trim(text)), '\\s+')) AS word
          FROM documents)
    WHERE word <> ''
    GROUP BY word
    ORDER BY cnt DESC, word
    LIMIT 50
    """,
    tags=("explode", "text"),
    doc="explode/unnest (lateral flatten): tokenized word count over the "
    "corpus — generator stays inside codegen, partial-agg combine before "
    "the single shuffle on word",
)
def explode_word_count(spark, sf_dir):
    words = (
        t(spark, sf_dir, "documents")
        .select(
            F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias("word")
        )
        .filter(F.col("word") != "")
    )
    return (
        words.groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("word"))
        .limit(50)
    )


@query(
    "time_rollup_multi",
    oracle="""
    SELECT strftime(day, '%Y-%m-%d %H:%M:%S') AS day_s,
           strftime(hour, '%Y-%m-%d %H:%M:%S') AS hour_s,
           COUNT(*) AS cnt,
           CAST(SUM(CAST(value AS DECIMAL(27,4))) AS DOUBLE) AS sum_value
    FROM (SELECT date_trunc('day', ts) AS day, date_trunc('hour', ts) AS hour,
                 value FROM events)
    GROUP BY ROLLUP (day, hour)
    """,
    tags=("agg", "temporal"),
    doc="hypertable-style multi-granularity rollup: hour + day + grand "
    "total in ONE scan via ROLLUP grouping sets (vs a query per granularity)",
)
def time_rollup_multi(spark, sf_dir):
    ev = t(spark, sf_dir, "events").select(
        F.date_trunc("day", F.col("ts")).alias("day"),
        F.date_trunc("hour", F.col("ts")).alias("hour"),
        "value",
    )
    return (
        ev.rollup("day", "hour")
        .agg(F.count(F.lit(1)).alias("cnt"), dsum(F.col("value")).alias("sum_value"))
        .select(
            ts_str(F.col("day")).alias("day_s"),
            ts_str(F.col("hour")).alias("hour_s"),
            "cnt",
            "sum_value",
        )
    )


# =====================================================================
# JSON columns, explicit GROUPING SETS, time-range window frames, more
# TPC-H shapes, vector centroids, self-checking approximate sketches.
# =====================================================================


@query(
    "json_extract_props",
    oracle="""
    SELECT event_type,
           COUNT(*) AS cnt,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT))
                AS BIGINT) AS sum_k,
           MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
    FROM events GROUP BY event_type
    """,
    tags=("functions", "json"),
    doc="semi-structured JSON column: extract a field from the props JSON "
    "string and aggregate — extraction runs inside codegen, no UDF",
)
def json_extract_props(spark, sf_dir):
    k = F.get_json_object(F.col("props"), "$.k").cast("long")
    return (
        t(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum(k).alias("sum_k"),
            F.max(k).alias("max_k"),
        )
    )


@query(
    "grouping_sets_mix",
    oracle="""
    SELECT c_mktsegment, c_nationkey, COUNT(*) AS cnt,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(27,4))) AS DOUBLE) AS sum_bal
    FROM customer
    GROUP BY GROUPING SETS ((c_mktsegment), (c_nationkey), ())
    """,
    tags=("agg",),
    doc="explicit GROUPING SETS (disjoint dims + grand total) — one scan, "
    "one shuffle, vs three UNION'd aggregations",
)
def grouping_sets_mix(spark, sf_dir):
    return spark.sql(
        """
        SELECT c_mktsegment, c_nationkey, COUNT(*) AS cnt,
               CAST(SUM(CAST(c_acctbal AS DECIMAL(27,4))) AS DOUBLE) AS sum_bal
        FROM {customer}
        GROUP BY GROUPING SETS ((c_mktsegment), (c_nationkey), ())
        """,
        customer=t(spark, sf_dir, "customer"),
    )


@query(
    "window_time_range_avg",
    oracle="""
    SELECT o_orderkey, o_orderpriority,
           COUNT(*) OVER (
             PARTITION BY o_orderpriority
             ORDER BY CAST(epoch(o_orderdate) AS BIGINT)
             RANGE BETWEEN 2592000 PRECEDING AND CURRENT ROW) AS n_30d
    FROM orders WHERE o_orderkey % 5 = 0
    """,
    tags=("window", "temporal"),
    doc="RANGE window frame over event time (trailing 30 days) — a "
    "value-range frame, not a row-count frame; epoch-seconds ordering "
    "keeps both engines' frame bounds identical",
)
def window_time_range_avg(spark, sf_dir):
    w = (
        Window.partitionBy("o_orderpriority")
        .orderBy(F.unix_timestamp("o_orderdate"))
        .rangeBetween(-2592000, 0)
    )
    return (
        t(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 5 == 0)
        .select(
            "o_orderkey",
            "o_orderpriority",
            F.count(F.lit(1)).over(w).alias("n_30d"),
        )
    )


@query(
    "tpch_q14_promo_revenue",
    oracle="""
    SELECT 100.0 * CAST(SUM(CAST(CASE WHEN p_type LIKE 'PROMO%'
                   THEN l_extendedprice * (1 - l_discount) ELSE 0 END
                   AS DECIMAL(27,6))) AS DOUBLE)
             / CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                   AS DECIMAL(27,6))) AS DOUBLE) AS promo_pct
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1998-01-01'
      AND l_shipdate < TIMESTAMP '1998-07-01'
    """,
    tags=("tpch", "join", "agg"),
    doc="TPC-H q14 promo revenue: broadcast the part dim into the filtered "
    "fact scan; conditional aggregation, decimal-exact then one double division",
)
def tpch_q14_promo_revenue(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1998-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-07-01").cast("timestamp"))
    )
    p = t(spark, sf_dir, "part").select("p_partkey", "p_type")
    j = li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
    rev = F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))
    promo = F.when(F.col("p_type").like("PROMO%"), rev).otherwise(F.lit(0.0))
    return j.agg(
        (
            F.lit(100.0)
            * F.sum(promo.cast("decimal(27,6)")).cast("double")
            / F.sum(rev.cast("decimal(27,6)")).cast("double")
        ).alias("promo_pct")
    )


@query(
    "tpch_q18_large_orders",
    oracle="""
    SELECT c_name, o_orderkey,
           strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS orderdate_s,
           o_totalprice,
           CAST(SUM(CAST(l_quantity AS DECIMAL(27,4))) AS DOUBLE) AS sum_qty
    FROM orders
    JOIN lineitem ON o_orderkey = l_orderkey
    JOIN customer ON c_custkey = o_custkey
    WHERE o_orderkey IN (
      SELECT l_orderkey FROM lineitem
      GROUP BY l_orderkey
      HAVING SUM(CAST(l_quantity AS DECIMAL(27,4))) > 150)
    GROUP BY c_name, o_orderkey, orderdate_s, o_totalprice
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 100
    """,
    tags=("tpch", "join", "agg"),
    doc="TPC-H q18 large-volume orders: HAVING-filtered semi-join back into "
    "the fact — the qualifying-keys aggregate reuses the same shuffle key "
    "(l_orderkey) as the main join, so AQE plans one exchange per side",
)
def tpch_q18_large_orders(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast("decimal(27,4)")).alias("q"))
        .filter(F.col("q") > 150)
        .select("l_orderkey")
    )
    o = t(spark, sf_dir, "orders").join(
        big.withColumnRenamed("l_orderkey", "o_orderkey"), "o_orderkey", "left_semi"
    )
    c = t(spark, sf_dir, "customer").select("c_custkey", "c_name")
    j = o.join(li, o["o_orderkey"] == li["l_orderkey"]).join(
        F.broadcast(c), o["o_custkey"] == c["c_custkey"]
    )
    return (
        j.groupBy(
            "c_name",
            "o_orderkey",
            ts_str(F.col("o_orderdate")).alias("orderdate_s"),
            "o_totalprice",
        )
        .agg(dsum(F.col("l_quantity")).alias("sum_qty"))
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(100)
    )


@query(
    "embedding_centroids",
    oracle="""
    SELECT label, dim - 1 AS dim,
           CAST(SUM(CAST(FLOOR(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT))
                AS BIGINT) AS sum_x_micro,
           COUNT(*) AS n
    FROM (SELECT label, unnest(embedding) AS x,
                 generate_subscripts(embedding, 1) AS dim
          FROM embeddings)
    GROUP BY label, dim
    """,
    tags=("pipeline", "similarity"),
    doc="per-label centroid components via posexplode — the scalable "
    "long-form vector aggregate (one shuffle on (label, dim)). Values "
    "sum in the micro-scaled integer domain: float→double is exact, one "
    "IEEE multiply + floor is bit-identical in both engines, and BIGINT "
    "sums are order-insensitive (float/decimal sums are not)",
)
def embedding_centroids(spark, sf_dir):
    e = t(spark, sf_dir, "embeddings")
    micro = F.floor(F.col("x").cast("double") * F.lit(1000000.0)).cast("long")
    return (
        e.select("label", F.posexplode("embedding").alias("dim", "x"))
        .groupBy("label", "dim")
        .agg(F.sum(micro).alias("sum_x_micro"), F.count(F.lit(1)).alias("n"))
    )


@query(
    "approx_sketches_within_bounds",
    oracle="""
    SELECT event_type, TRUE AS hll_ok, TRUE AS pctl_ok
    FROM events GROUP BY event_type
    """,
    tags=("agg", "sketch"),
    doc="self-checking approximate aggregates: HLL distinct count "
    "(rsd=0.02) and approx_percentile must land within 10% / absolute "
    "0.5 of the exact answers computed in the same pass — the oracle "
    "pins the booleans TRUE, so a drifting sketch turns the row red. "
    "At 100 TB these sketches replace exact distinct/percentile "
    "shuffles with fixed-size mergeable state.",
)
def approx_sketches_within_bounds(spark, sf_dir):
    ev = t(spark, sf_dir, "events")
    agg = ev.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", rsd=0.02).alias("hll"),
        F.countDistinct("user_id").alias("exact_n"),
        F.percentile_approx("value", 0.5, 10000).alias("p50_approx"),
        F.expr("percentile(value, 0.5)").alias("p50_exact"),
    )
    return agg.select(
        "event_type",
        (
            F.abs(F.col("hll") - F.col("exact_n"))
            <= F.lit(0.1) * F.col("exact_n")
        ).alias("hll_ok"),
        (F.abs(F.col("p50_approx") - F.col("p50_exact")) <= F.lit(0.5)).alias(
            "pctl_ok"
        ),
    )


@query(
    "tpch_q10_returned_items",
    oracle=f"""
    SELECT c_custkey, c_name,
           {o_drevenue('l_extendedprice', 'l_discount')} AS revenue,
           c_acctbal, n_name
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation ON c_nationkey = n_nationkey
    WHERE o_orderdate >= TIMESTAMP '1997-01-01'
      AND o_orderdate < TIMESTAMP '1997-04-01'
      AND l_returnflag = 'R'
    GROUP BY c_custkey, c_name, c_acctbal, n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
    tags=("tpch", "join", "agg"),
    doc="TPC-H q10 returned items: one quarter of orders, returned lines "
    "only — both filters push into their scans before the joins; nation "
    "and customer broadcast; top-20 is TakeOrderedAndProject, not a "
    "global sort",
)
def tpch_q10_returned_items(spark, sf_dir):
    o = t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-04-01").cast("timestamp"))
    )
    li = t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    c = t(spark, sf_dir, "customer")
    n = t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    j = (
        c.join(o, c["c_custkey"] == o["o_custkey"])
        .join(li, o["o_orderkey"] == li["l_orderkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
    )
    return (
        j.groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(drevenue(F.col("l_extendedprice"), F.col("l_discount")).alias("revenue"))
        .select("c_custkey", "c_name", "revenue", "c_acctbal", "n_name")
        .orderBy(F.col("revenue").desc(), F.col("c_custkey"))
        .limit(20)
    )


@query(
    "tpch_q12_priority_class",
    oracle="""
    SELECT l_returnflag,
           CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      AND l_shipdate < TIMESTAMP '1998-01-01'
    GROUP BY l_returnflag
    """,
    tags=("tpch", "join", "agg"),
    doc="TPC-H q12 shape (shipmode → returnflag: testdata has no "
    "l_shipmode): conditional classification counts over a fact-dim "
    "join — integer CASE sums are order-insensitive, no float hazard",
)
def tpch_q12_priority_class(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    hi = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        o.join(li, o["o_orderkey"] == li["l_orderkey"])
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(hi, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~hi, 1).otherwise(0)).alias("low_line_count"),
        )
    )


@query(
    "tpch_q19_disjunctive",
    oracle=f"""
    SELECT {o_drevenue('l_extendedprice', 'l_discount')} AS revenue
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#12' AND l_quantity BETWEEN 1 AND 11
           AND p_size BETWEEN 1 AND 5)
       OR (p_brand = 'Brand#23' AND l_quantity BETWEEN 10 AND 20
           AND p_size BETWEEN 1 AND 10)
       OR (p_brand = 'Brand#15' AND l_quantity BETWEEN 20 AND 30
           AND p_size BETWEEN 1 AND 15)
    """,
    tags=("tpch", "join", "filter"),
    doc="TPC-H q19 shape: disjunction of brand × quantity × size "
    "conjunctions across a join — Catalyst pushes the common per-side "
    "implications (brand IN set, quantity/size envelope) below the join "
    "and evaluates the residual OR after; part broadcasts",
)
def tpch_q19_disjunctive(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem")
    p = t(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    j = li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
    cond = (
        (
            (F.col("p_brand") == "Brand#12")
            & F.col("l_quantity").between(1, 11)
            & F.col("p_size").between(1, 5)
        )
        | (
            (F.col("p_brand") == "Brand#23")
            & F.col("l_quantity").between(10, 20)
            & F.col("p_size").between(1, 10)
        )
        | (
            (F.col("p_brand") == "Brand#15")
            & F.col("l_quantity").between(20, 30)
            & F.col("p_size").between(1, 15)
        )
    )
    return j.filter(cond).agg(
        drevenue(F.col("l_extendedprice"), F.col("l_discount")).alias("revenue")
    )


@query(
    "tpch_q4_order_priority",
    oracle="""
    SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate < TIMESTAMP '1997-01-01'
      AND EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey
                    AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
    GROUP BY o_orderpriority
    """,
    tags=("tpch", "subquery", "agg"),
    doc="TPC-H q4 shape (lateness = shipped >60 days after order date; "
    "testdata has no commit/receipt dates): correlated EXISTS "
    "decorrelated into a distinct-key semi-join keyed on o_orderkey — "
    "the semi-join and the aggregation share no shuffle, but the "
    "lineitem side carries only (l_orderkey) after pruning",
)
def tpch_q4_order_priority(spark, sf_dir):
    o = t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    late = (
        li.join(o.select("o_orderkey", "o_orderdate"),
                li["l_orderkey"] == o["o_orderkey"])
        .filter(F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS"))
        .select("l_orderkey")
    )
    return (
        o.join(late, o["o_orderkey"] == late["l_orderkey"], "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


@query(
    "tpch_q13_customer_distribution",
    oracle="""
    SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist
    FROM (
      SELECT c_custkey, CAST(COUNT(o_orderkey) AS BIGINT) AS c_count
      FROM customer LEFT JOIN orders
        ON c_custkey = o_custkey AND o_orderstatus <> 'F'
      GROUP BY c_custkey
    ) per_cust
    GROUP BY c_count
    """,
    tags=("tpch", "join", "agg"),
    doc="TPC-H q13 shape: orders-per-customer histogram — left outer "
    "join with an ON-clause filter (kept on the join, NOT pushed to "
    "WHERE, so zero-order customers survive), two stacked aggregations; "
    "the second agg's input is one row per customer, tiny",
)
def tpch_q13_customer_distribution(spark, sf_dir):
    c = t(spark, sf_dir, "customer").select("c_custkey")
    o = t(spark, sf_dir, "orders").select("o_custkey", "o_orderkey", "o_orderstatus")
    per_cust = (
        c.join(
            o,
            (c["c_custkey"] == o["o_custkey"]) & (o["o_orderstatus"] != "F"),
            "left",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


@query(
    "tpch_q16_supplier_count",
    oracle="""
    SELECT p_brand, p_size, CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
    FROM part JOIN lineitem ON p_partkey = l_partkey
    WHERE p_brand <> 'Brand#45'
      AND p_size IN (1, 2, 3, 4, 5, 10, 15, 20)
      AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY p_brand, p_size
    """,
    tags=("tpch", "subquery", "agg"),
    doc="TPC-H q16 shape (lineitem as the part-supplier bridge: testdata "
    "has no partsupp): NOT IN over a filtered key set as a broadcast "
    "anti-join (s_suppkey is non-null so NOT IN ≡ anti-join), part "
    "broadcasts, COUNT DISTINCT per group",
)
def tpch_q16_supplier_count(spark, sf_dir):
    p = t(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#45")
        & F.col("p_size").isin(1, 2, 3, 4, 5, 10, 15, 20)
    ).select("p_partkey", "p_brand", "p_size")
    li = t(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    bad_supp = t(spark, sf_dir, "supplier").filter(F.col("s_acctbal") < 0).select(
        "s_suppkey"
    )
    li = li.join(
        F.broadcast(bad_supp), li["l_suppkey"] == bad_supp["s_suppkey"], "left_anti"
    )
    return (
        li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .groupBy("p_brand", "p_size")
        .agg(F.count_distinct("l_suppkey").alias("supplier_cnt"))
    )


@query(
    "tpch_q17_small_quantity_revenue",
    oracle="""
    WITH part_avg AS (
      SELECT l_partkey,
             CAST(SUM(CAST(l_quantity AS DECIMAL(27,4))) AS DOUBLE)
               / COUNT(*) AS avg_qty
      FROM lineitem GROUP BY l_partkey
    )
    SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(27,4))) AS DOUBLE) / 7.0
             AS avg_yearly
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    JOIN part_avg USING (l_partkey)
    WHERE p_brand = 'Brand#23' AND l_quantity < 0.2 * avg_qty
    """,
    tags=("tpch", "subquery", "agg"),
    doc="TPC-H q17 shape: correlated per-part AVG decorrelated into a "
    "grouped pre-aggregation joined back on l_partkey (same shuffle key "
    "both sides); the avg is decimal-sum/count so both engines compute "
    "bit-identical doubles before the 0.2× threshold",
)
def tpch_q17_small_quantity_revenue(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem")
    part_avg = (
        li.groupBy("l_partkey")
        .agg(
            (
                F.sum(F.col("l_quantity").cast("decimal(27,4)")).cast("double")
                / F.count(F.lit(1))
            ).alias("avg_qty")
        )
    )
    p = t(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#23").select(
        "p_partkey"
    )
    return (
        li.join(part_avg, "l_partkey")
        .join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .filter(F.col("l_quantity") < 0.2 * F.col("avg_qty"))
        .agg(
            (dsum(F.col("l_extendedprice")) / 7.0).alias("avg_yearly")
        )
    )


@query(
    "tpch_q21_waiting_supplier",
    oracle="""
    WITH l AS (
      SELECT l_orderkey, l_suppkey,
             CASE WHEN l_shipdate > o_orderdate + INTERVAL 30 DAY
                  THEN 1 ELSE 0 END AS late
      FROM lineitem JOIN orders ON o_orderkey = l_orderkey
      WHERE o_orderstatus = 'F'
    ),
    per_order AS (
      SELECT l_orderkey,
             COUNT(DISTINCT l_suppkey) AS ns,
             COUNT(DISTINCT CASE WHEN late = 1 THEN l_suppkey END) AS nl
      FROM l GROUP BY l_orderkey
    )
    SELECT s_name, CAST(COUNT(*) AS BIGINT) AS numwait
    FROM l
    JOIN per_order USING (l_orderkey)
    JOIN supplier ON s_suppkey = l_suppkey
    WHERE l.late = 1 AND per_order.ns >= 2 AND per_order.nl = 1
    GROUP BY s_name
    """,
    tags=("tpch", "subquery", "agg"),
    doc="TPC-H q21 shape (lateness = shipped >30 days after order date): "
    "the EXISTS(other supplier)/NOT EXISTS(other late supplier) pair "
    "decorrelates into one per-order aggregation (distinct suppliers, "
    "distinct LATE suppliers) joined back on l_orderkey — the same "
    "shuffle key as the lineitem-orders join, so the heavy frames stay "
    "co-partitioned; supplier broadcasts",
)
def tpch_q21_waiting_supplier(spark, sf_dir):
    o = t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F").select(
        "o_orderkey", "o_orderdate"
    )
    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey", "l_shipdate")
    lo = li.join(o, li["l_orderkey"] == o["o_orderkey"]).select(
        "l_orderkey",
        "l_suppkey",
        (
            F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS")
        ).alias("late"),
    )
    per_order = lo.groupBy("l_orderkey").agg(
        F.count_distinct("l_suppkey").alias("ns"),
        F.count_distinct(F.when(F.col("late"), F.col("l_suppkey"))).alias("nl"),
    )
    qual = lo.filter(F.col("late")).join(
        per_order.filter((F.col("ns") >= 2) & (F.col("nl") == 1)).select("l_orderkey"),
        "l_orderkey",
        "left_semi",
    )
    s = t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        qual.join(F.broadcast(s), qual["l_suppkey"] == s["s_suppkey"])
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
    )


@query(
    "tpch_q22_global_sales_opportunity",
    oracle="""
    WITH avg_bal AS (
      SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(27,4))) AS DOUBLE) / COUNT(*)
               AS a
      FROM customer WHERE c_acctbal > 0.0
    )
    SELECT c_nationkey,
           CAST(COUNT(*) AS BIGINT) AS numcust,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(27,4))) AS DOUBLE) AS totacctbal
    FROM customer, avg_bal
    WHERE c_acctbal > avg_bal.a
      AND NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey
                        AND o_orderpriority = 'URGENT')
    GROUP BY c_nationkey
    """,
    tags=("tpch", "subquery", "agg"),
    doc="TPC-H q22 shape (nationkey stands in for the phone country "
    "code; 'no URGENT order' stands in for 'no order' — every "
    "synthetic customer has at least one order): scalar AVG subquery "
    "(decimal-sum/count, bit-identical across engines) + NOT EXISTS "
    "as an anti-join on o_custkey; the scalar broadcasts, the "
    "anti-join is the only shuffle",
)
def tpch_q22_global_sales_opportunity(spark, sf_dir):
    c = t(spark, sf_dir, "customer")
    avg_bal = (
        c.filter(F.col("c_acctbal") > 0.0)
        .agg(
            (
                F.sum(F.col("c_acctbal").cast("decimal(27,4)")).cast("double")
                / F.count(F.lit(1))
            ).alias("a")
        )
    )
    o = (
        t(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "URGENT")
        .select("o_custkey")
    )
    return (
        c.crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("a"))
        .join(o, c["c_custkey"] == o["o_custkey"], "left_anti")
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            dsum(F.col("c_acctbal")).alias("totacctbal"),
        )
    )


@query(
    "tpch_q7_nation_volume",
    oracle=f"""
    SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           CAST(year(l_shipdate) AS INTEGER) AS l_year,
           {o_drevenue('l_extendedprice', 'l_discount')} AS revenue
    FROM lineitem
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN orders   ON o_orderkey = l_orderkey
    JOIN customer ON c_custkey = o_custkey
    JOIN nation n1 ON s_nationkey = n1.n_nationkey
    JOIN nation n2 ON c_nationkey = n2.n_nationkey
    WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
        OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
      AND l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate <  TIMESTAMP '1998-01-01'
    GROUP BY n1.n_name, n2.n_name, year(l_shipdate)
    """,
    tags=("tpch", "join", "agg"),
    doc="TPC-H q7 shape: shipping volume between two nations by year — "
    "a five-way join where every dimension (supplier, customer, both "
    "nation sides) broadcasts and lineitem-orders is the single "
    "key-partitioned fact join; the nation-pair disjunction prunes "
    "AFTER the broadcast joins but the date window pushes to the scan",
)
def tpch_q7_nation_volume(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    s = t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    c = t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    n1 = n.select(F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation"))
    n2 = n.select(F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation"))
    pair = (
        (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    ) | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(s), F.col("l_suppkey") == s["s_suppkey"])
        .join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n1), s["s_nationkey"] == F.col("n1_key"))
        .join(F.broadcast(n2), c["c_nationkey"] == F.col("n2_key"))
        .filter(pair)
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("int").alias("l_year"),
        )
        .agg(drevenue(F.col("l_extendedprice"), F.col("l_discount")).alias("revenue"))
    )


@query(
    "tpch_q9_nation_year_profit",
    oracle=f"""
    SELECT n_name AS nation, CAST(year(o_orderdate) AS INTEGER) AS o_year,
           {o_drevenue('l_extendedprice', 'l_discount')} AS sum_profit
    FROM lineitem
    JOIN part     ON p_partkey = l_partkey
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN orders   ON o_orderkey = l_orderkey
    JOIN nation   ON s_nationkey = n_nationkey
    WHERE p_name LIKE '%widget%'
    GROUP BY n_name, year(o_orderdate)
    """,
    tags=("tpch", "join", "agg"),
    doc="TPC-H q9 shape (profit = discounted revenue: testdata has no "
    "partsupp supply cost): part-name LIKE prunes the fact early via a "
    "broadcast semi-ish join on p_partkey; nation/supplier/part all "
    "broadcast, the lineitem-orders join is the one shuffle",
)
def tpch_q9_nation_year_profit(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem")
    p = t(spark, sf_dir, "part").filter(F.col("p_name").like("%widget%")).select(
        "p_partkey"
    )
    s = t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    n = t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return (
        li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(s), li["l_suppkey"] == s["s_suppkey"])
        .join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"])
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("int").alias("o_year"),
        )
        .agg(
            drevenue(F.col("l_extendedprice"), F.col("l_discount")).alias(
                "sum_profit"
            )
        )
    )


@query(
    "tpch_q15_top_supplier",
    oracle=f"""
    WITH rev AS (
      SELECT l_suppkey AS supplier_no,
             {o_drevenue('l_extendedprice', 'l_discount')} AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        AND l_shipdate <  TIMESTAMP '1997-04-01'
      GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, total_revenue
    FROM supplier JOIN rev ON s_suppkey = supplier_no
    WHERE total_revenue = (SELECT MAX(total_revenue) FROM rev)
    """,
    tags=("tpch", "subquery", "agg"),
    doc="TPC-H q15 shape: the revenue 'view' is a grouped aggregation; "
    "the MAX scalar subquery broadcasts back over it (1-row cross "
    "join), exactly Spark's decorrelation of the self-referencing "
    "MAX — revenue is decimal-exact so the equality is portable",
)
def tpch_q15_top_supplier(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-04-01").cast("timestamp"))
    )
    # rev feeds both the MAX scalar subquery and the main join; without a
    # persist Spark plans two full fact scans (no ReusedExchange across
    # the broadcast boundary). The per-supplier frame is tiny next to
    # lineitem, so caching it halves the fact I/O at any scale.
    rev = keep(
        li.groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(
            drevenue(F.col("l_extendedprice"), F.col("l_discount")).alias(
                "total_revenue"
            )
        )
    )
    mx = rev.agg(F.max("total_revenue").alias("mx"))
    s = t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        rev.crossJoin(F.broadcast(mx))
        .filter(F.col("total_revenue") == F.col("mx"))
        .join(F.broadcast(s), F.col("supplier_no") == s["s_suppkey"])
        .select("s_suppkey", "s_name", "total_revenue")
    )


@query(
    "tpch_q20_excess_supplier",
    oracle="""
    WITH per_ps AS (
      SELECT l_partkey, l_suppkey,
             SUM(CAST(l_quantity AS DECIMAL(27,4))) AS q
      FROM lineitem JOIN part ON p_partkey = l_partkey
      WHERE p_name LIKE '%bolt%'
      GROUP BY l_partkey, l_suppkey
    ),
    per_p AS (
      SELECT l_partkey, SUM(q) AS tq FROM per_ps GROUP BY l_partkey
    )
    SELECT s_suppkey, s_name
    FROM supplier
    WHERE s_suppkey IN (
      SELECT l_suppkey FROM per_ps JOIN per_p USING (l_partkey)
      WHERE CAST(q AS DOUBLE) > 0.15 * CAST(tq AS DOUBLE))
    """,
    tags=("tpch", "subquery", "agg"),
    doc="TPC-H q20 shape (shipped-share threshold stands in for "
    "partsupp availability): two stacked aggregations on the shared "
    "(l_partkey[, l_suppkey]) shuffle key, the dominance filter, then "
    "IN → left-semi join into supplier",
)
def tpch_q20_excess_supplier(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem")
    p = t(spark, sf_dir, "part").filter(F.col("p_name").like("%bolt%")).select(
        "p_partkey"
    )
    # per_ps feeds both the per-part rollup and the dominance join —
    # persist the (partkey, suppkey) frame so the part-pruned fact scan
    # and first aggregation run once, not twice.
    per_ps = keep(
        li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum(F.col("l_quantity").cast("decimal(27,4)")).alias("q"))
    )
    per_p = per_ps.groupBy("l_partkey").agg(F.sum("q").alias("tq"))
    dominant = (
        per_ps.join(per_p, "l_partkey")
        .filter(F.col("q").cast("double") > 0.15 * F.col("tq").cast("double"))
        .select("l_suppkey")
    )
    s = t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return s.join(
        dominant, s["s_suppkey"] == dominant["l_suppkey"], "left_semi"
    )


@query(
    "tpch_q2_min_cost_supplier",
    oracle="""
    WITH elig AS (
      SELECT s_suppkey, s_acctbal, s_name, n_name
      FROM supplier
      JOIN nation ON s_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      WHERE r_name = 'EUROPE'
    ),
    ps AS (
      SELECT l_partkey, l_suppkey, MIN(l_extendedprice / l_quantity) AS cost
      FROM lineitem GROUP BY l_partkey, l_suppkey
    ),
    rps AS (
      SELECT ps.l_partkey, ps.cost, elig.s_acctbal, elig.s_name, elig.n_name,
             MIN(ps.cost) OVER (PARTITION BY ps.l_partkey) AS min_cost
      FROM ps JOIN elig ON ps.l_suppkey = elig.s_suppkey
    )
    SELECT s_acctbal, s_name, n_name, p_partkey, p_brand, cost
    FROM rps JOIN part ON p_partkey = l_partkey
    WHERE p_size <= 5 AND cost = min_cost
    ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
    LIMIT 100
    """,
    tags=("tpch", "subquery", "window"),
    doc="TPC-H q2 shape (min-cost supplier; unit price from lineitem "
    "stands in for partsupp supply cost): the correlated "
    "MIN-per-part subquery decorrelates into a window MIN over the "
    "region-restricted part-supplier frame — one shuffle to build "
    "(partkey, suppkey) costs, one to repartition by partkey for the "
    "window; supplier/nation/region and the part filter all "
    "broadcast. cost is a single IEEE double division, so the "
    "cost = min_cost equality is bit-portable across engines",
)
def tpch_q2_min_cost_supplier(spark, sf_dir):
    s = t(spark, sf_dir, "supplier").select("s_suppkey", "s_acctbal", "s_name", "s_nationkey")
    n = t(spark, sf_dir, "nation").select("n_nationkey", "n_name", "n_regionkey")
    r = t(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE").select("r_regionkey")
    elig = (
        s.join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .select("s_suppkey", "s_acctbal", "s_name", "n_name")
    )
    ps = (
        t(spark, sf_dir, "lineitem")
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias("cost"))
    )
    w = Window.partitionBy("l_partkey")
    rps = (
        ps.join(F.broadcast(elig), ps["l_suppkey"] == elig["s_suppkey"])
        .withColumn("min_cost", F.min("cost").over(w))
    )
    p = (
        t(spark, sf_dir, "part")
        .filter(F.col("p_size") <= 5)
        .select("p_partkey", "p_brand")
    )
    return (
        rps.filter(F.col("cost") == F.col("min_cost"))
        .join(F.broadcast(p), F.col("l_partkey") == p["p_partkey"])
        .select("s_acctbal", "s_name", "n_name", "p_partkey", "p_brand", "cost")
        .orderBy(
            F.col("s_acctbal").desc(), "n_name", "s_name", "p_partkey"
        )
        .limit(100)
    )


@query(
    "tpch_q8_market_share",
    oracle="""
    SELECT o_year,
           CAST(SUM(CASE WHEN nation = 'NATION_1' THEN vol
                         ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE)
           / CAST(SUM(vol) AS DOUBLE) AS mkt_share
    FROM (
      SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year,
             CAST(l_extendedprice AS DECIMAL(12,2)) *
             (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2))) AS vol,
             n2.n_name AS nation
      FROM lineitem
      JOIN part     ON p_partkey = l_partkey
      JOIN orders   ON o_orderkey = l_orderkey
      JOIN customer ON c_custkey = o_custkey
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN nation n1 ON c_nationkey = n1.n_nationkey
      JOIN region    ON n1.n_regionkey = r_regionkey
      JOIN nation n2 ON s_nationkey = n2.n_nationkey
      WHERE r_name = 'ASIA' AND p_type = 'PROMO'
        AND o_orderdate >= TIMESTAMP '1996-01-01'
        AND o_orderdate <  TIMESTAMP '1998-01-01'
    ) AS all_nations
    GROUP BY o_year
    """,
    tags=("tpch", "join", "agg"),
    doc="TPC-H q8 shape: supplier-nation market share within a "
    "customer region — the eight-way join keeps lineitem-orders as "
    "the single key-partitioned shuffle (date + p_type filters push "
    "to the scans) while part/customer/supplier/nation(x2)/region "
    "broadcast; both numerator and denominator accumulate in the "
    "decimal domain and only the final ratio drops to double, so "
    "the share is order-insensitive and engine-exact",
)
def tpch_q8_market_share(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem")
    p = t(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO").select("p_partkey")
    o = t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    ).select("o_orderkey", "o_custkey", "o_orderdate")
    c = t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    s = t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = t(spark, sf_dir, "nation")
    n1 = n.select(F.col("n_nationkey").alias("n1_key"), F.col("n_regionkey").alias("n1_region"))
    n2 = n.select(F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("nation"))
    r = t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA").select("r_regionkey")
    one = F.lit(1).cast("decimal(3,2)")
    vol = F.col("l_extendedprice").cast("decimal(12,2)") * (
        one - F.col("l_discount").cast("decimal(3,2)")
    )
    zero = F.lit(0).cast("decimal(18,4)")
    return (
        li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(s), li["l_suppkey"] == s["s_suppkey"])
        .join(F.broadcast(n1), c["c_nationkey"] == F.col("n1_key"))
        .join(F.broadcast(r), F.col("n1_region") == r["r_regionkey"])
        .join(F.broadcast(n2), s["s_nationkey"] == F.col("n2_key"))
        .select(
            F.year("o_orderdate").cast("int").alias("o_year"),
            vol.alias("vol"),
            "nation",
        )
        .groupBy("o_year")
        .agg(
            (
                F.sum(
                    F.when(F.col("nation") == "NATION_1", F.col("vol")).otherwise(zero)
                ).cast("double")
                / F.sum("vol").cast("double")
            ).alias("mkt_share")
        )
    )


@query(
    "tpch_q11_important_stock",
    oracle="""
    WITH pv AS (
      SELECT l_partkey AS ps_partkey,
             SUM(CAST(l_extendedprice AS DECIMAL(27,4))) AS value_dec
      FROM lineitem
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN nation   ON s_nationkey = n_nationkey
      WHERE n_name = 'NATION_3'
      GROUP BY l_partkey
    )
    SELECT ps_partkey, CAST(value_dec AS DOUBLE) AS part_value
    FROM pv
    WHERE CAST(value_dec AS DOUBLE) >
          (SELECT CAST(SUM(value_dec) AS DOUBLE) * 0.001 FROM pv)
    ORDER BY part_value DESC, ps_partkey
    """,
    tags=("tpch", "subquery", "agg"),
    doc="TPC-H q11 shape (important stock: shipped value per part for "
    "one nation's suppliers stands in for partsupp stock value): "
    "nation-filtered supplier set broadcasts into the fact scan, one "
    "partkey-shuffled decimal agg, then the global-total scalar "
    "subquery broadcasts back over it — the HAVING-vs-global "
    "threshold compares doubles derived from exact decimal sums on "
    "both engines, so the cut is portable",
)
def tpch_q11_important_stock(spark, sf_dir):
    s = t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = t(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_3").select(
        "n_nationkey"
    )
    elig = s.join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"]).select(
        "s_suppkey"
    )
    # pv feeds both the global-total scalar subquery and the threshold
    # filter; persist the per-part frame so the fact scan + agg run once.
    pv = keep(
        t(spark, sf_dir, "lineitem")
        .join(F.broadcast(elig), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy(F.col("l_partkey").alias("ps_partkey"))
        .agg(F.sum(F.col("l_extendedprice").cast("decimal(27,4)")).alias("value_dec"))
    )
    total = pv.agg((F.sum("value_dec").cast("double") * F.lit(0.001)).alias("thresh"))
    return (
        pv.crossJoin(F.broadcast(total))
        .filter(F.col("value_dec").cast("double") > F.col("thresh"))
        .select(
            "ps_partkey", F.col("value_dec").cast("double").alias("part_value")
        )
        .orderBy(F.col("part_value").desc(), "ps_partkey")
    )


@query(
    "salted_skew_join",
    oracle=f"""
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           {o_drevenue('l_extendedprice', 'l_discount')} AS revenue
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY o_orderpriority
    """,
    tags=("join", "skew"),
    doc="skew-resistant targeted salted join (operators/util.py:"
    "targeted_salted_join): a seeded sample estimates per-key row "
    "counts, keys hotter than the threshold are salted into 16 "
    "sub-keys (small side replicated only for those keys), everything "
    "else takes the plain join — so the operator costs ~a plain join "
    "when the data isn't skewed and bounds the straggler task when it "
    "is. Semantics are exactly a plain inner join (oracle is the "
    "unsalted SQL); the per-priority decimal rollup is "
    "order-insensitive so the result is engine-exact",
)
def salted_skew_join(spark, sf_dir):
    from chapterhouseqe_spark.operators.util import targeted_salted_join

    li = t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    joined = targeted_salted_join(
        li.withColumnRenamed("l_orderkey", "k"),
        o.withColumnRenamed("o_orderkey", "k"),
        on=["k"],
        salt_buckets=16,
    )
    return joined.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_items"),
        drevenue(F.col("l_extendedprice"), F.col("l_discount")).alias("revenue"),
    )


@query(
    "heavy_hitters_freq",
    oracle="""
    WITH counts AS (
      SELECT o_custkey, COUNT(*) AS n FROM orders GROUP BY o_custkey
    ), tot AS (SELECT COUNT(*) AS total FROM orders)
    SELECT o_custkey AS hot_key, CAST(n AS BIGINT) AS n_orders
    FROM counts, tot
    WHERE n > 0.0005 * total
    ORDER BY n_orders DESC, hot_key
    """,
    tags=("agg", "sketch", "skew"),
    doc="exact heavy hitters (support > 0.05% of rows): one keyed "
    "count with map-side partial aggregation + a 1-row total that "
    "broadcasts back — the exact two-pass formulation of "
    "frequent-items. This is also the detection pass behind "
    "targeted_salted_join's skew handling; Spark's freqItems "
    "(approximate, fixed-size state) is the sketch alternative when "
    "even the keyed count is too expensive, pinned in "
    "tests/test_scale_utils.py",
)
def heavy_hitters_freq(spark, sf_dir):
    o = t(spark, sf_dir, "orders").select("o_custkey")
    counts = o.groupBy(F.col("o_custkey").alias("hot_key")).agg(
        F.count(F.lit(1)).alias("n_orders")
    )
    tot = o.agg(F.count(F.lit(1)).alias("total"))
    return (
        counts.crossJoin(F.broadcast(tot))
        .filter(F.col("n_orders") > F.lit(0.0005) * F.col("total"))
        .select("hot_key", "n_orders")
        .orderBy(F.col("n_orders").desc(), "hot_key")
    )


@query(
    "map_ops",
    oracle="""
    SELECT n_nationkey,
           CAST(n_regionkey AS BIGINT) AS region_val,
           CAST(2 AS INTEGER) AS map_sz,
           'key,region' AS keys_sorted
    FROM nation
    """,
    tags=("scalar", "map"),
    doc="map-typed column functions (§2.8): map_from_arrays build, "
    "element_at lookup, size, sorted map_keys — projected to scalars "
    "because map cells (like raw arrays) break the driver's "
    "canonicalizer; the oracle pins the VALUES the map ops must "
    "produce. All pure Column exprs in the scan stage",
)
def map_ops(spark, sf_dir):
    m = F.map_from_arrays(
        F.array(F.lit("key"), F.lit("region")),
        F.array(F.col("n_nationkey").cast("long"), F.col("n_regionkey").cast("long")),
    )
    return t(spark, sf_dir, "nation").select(
        "n_nationkey",
        F.element_at(m, F.lit("region")).alias("region_val"),
        F.size(m).alias("map_sz"),
        F.array_join(F.array_sort(F.map_keys(m)), ",").alias("keys_sorted"),
    )


@query(
    "array_higher_order",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           array_to_string(list_transform(generate_series(1, l_linenumber),
                                          x -> x * x), ',') AS squares,
           CAST(list_reduce(generate_series(1, l_linenumber),
                            (a, b) -> a + b) AS BIGINT) AS seq_sum,
           CAST(len(list_filter(generate_series(1, l_linenumber),
                                x -> x % 2 = 0)) AS INTEGER) AS n_even,
           list_contains(generate_series(1, l_linenumber), 3) AS has_three
    FROM lineitem WHERE l_orderkey % 50 = 0
    """,
    tags=("functions", "array"),
    doc="higher-order array lambdas (§2.8): transform / aggregate (left "
    "fold) / filter / exists over a sequence() array — the same "
    "Catalyst lambda machinery the similarity and dedup operators use "
    "for dot products and shingling, pinned here against DuckDB's "
    "list_transform/list_reduce/list_filter/list_contains. Integer "
    "domain throughout, so the fold is exact on both engines; arrays "
    "string-encoded for the scalar-only graded projection",
)
def array_higher_order(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") % 50 == 0)
    arr = F.sequence(F.lit(1), F.col("l_linenumber"))
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.array_join(
            F.transform(arr, lambda x: (x * x).cast("string")), ","
        ).alias("squares"),
        F.aggregate(arr, F.lit(0).cast("long"), lambda a, b: a + b).alias(
            "seq_sum"
        ),
        F.size(F.filter(arr, lambda x: x % 2 == 0)).alias("n_even"),
        F.exists(arr, lambda x: x == 3).alias("has_three"),
    )


@query(
    "struct_ops",
    oracle="""
    SELECT n_nationkey,
           struct_pack(k := n_nationkey, r := n_regionkey).r AS field_r,
           CAST(to_json(struct_pack(k := n_nationkey, nm := n_name))
                AS VARCHAR) AS js
    FROM nation
    """,
    tags=("scalar", "struct"),
    doc="struct-typed column functions (§2.8): struct() build, getField "
    "access, to_json round-trip encoding — projected to scalars for the "
    "graded frame (struct cells, like arrays/maps, break the driver's "
    "canonicalizer). Spark to_json and DuckDB to_json agree on compact "
    "key:value formatting for integer/string fields",
)
def struct_ops(spark, sf_dir):
    n = t(spark, sf_dir, "nation")
    s = F.struct(
        F.col("n_nationkey").alias("k"), F.col("n_regionkey").alias("r")
    )
    js = F.struct(F.col("n_nationkey").alias("k"), F.col("n_name").alias("nm"))
    return n.select(
        "n_nationkey",
        s.getField("r").alias("field_r"),
        F.to_json(js).alias("js"),
    )


@query(
    "window_rank_family",
    oracle="""
    SELECT o_orderkey, o_orderstatus,
           ntile(4) OVER w AS quartile,
           percent_rank() OVER w AS pct_rank,
           cume_dist() OVER w AS cume,
           first_value(o_orderkey) OVER w AS first_key,
           nth_value(o_orderkey, 2) OVER w AS second_key
    FROM orders
    WHERE o_orderkey < 2000
    WINDOW w AS (PARTITION BY o_orderstatus
                 ORDER BY o_totalprice DESC, o_orderkey)
    """,
    tags=("window",),
    doc="ranking-family completeness: ntile / percent_rank / cume_dist / "
    "first_value / nth_value over one deterministic per-status window "
    "(unique (totalprice, orderkey) order; percent_rank and cume_dist "
    "are integer-ratio doubles, bit-identical across engines)",
)
def window_rank_family(spark, sf_dir):
    o = t(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 2000)
    w = Window.partitionBy("o_orderstatus").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return o.select(
        "o_orderkey",
        "o_orderstatus",
        F.ntile(4).over(w).alias("quartile"),
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"),
        F.first("o_orderkey").over(w).alias("first_key"),
        F.nth_value("o_orderkey", 2).over(w).alias("second_key"),
    )


@query(
    "udaf_grouped_median",
    oracle="""
    SELECT o_orderstatus, median(o_totalprice) AS median_price
    FROM orders GROUP BY o_orderstatus
    """,
    tags=("udf", "udaf"),
    doc="custom UDAF via grouped-aggregate pandas UDF (SURVEY §2.10's "
    "UDAF surface): exact per-group median — a rank statistic, so "
    "order-independent and bit-identical to DuckDB's interpolated "
    "median (functions/udfs.py:make_grouped_median)",
)
def udaf_grouped_median(spark, sf_dir):
    from chapterhouseqe_spark.functions.udfs import make_grouped_median

    med = make_grouped_median()
    o = t(spark, sf_dir, "orders")
    # a GROUPED_AGG pandas UDF cannot mix with non-pandas aggregates in
    # one agg (INVALID_PANDAS_UDF_PLACEMENT) — the UDAF stands alone.
    return o.groupBy("o_orderstatus").agg(
        med(F.col("o_totalprice")).alias("median_price"),
    )


@query(
    "unpivot_measures",
    oracle=f"""
    WITH a AS (
      SELECT l_returnflag,
             {o_dsum('l_quantity')} AS sum_qty,
             {o_dsum('l_extendedprice')} AS sum_price,
             {o_dsum('l_discount')} AS sum_disc
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag, 'sum_qty' AS measure, sum_qty AS value FROM a
    UNION ALL
    SELECT l_returnflag, 'sum_price', sum_price FROM a
    UNION ALL
    SELECT l_returnflag, 'sum_disc', sum_disc FROM a
    """,
    tags=("agg", "unpivot"),
    doc="UNPIVOT (wide->long, the inverse of pivot_returnflag): three "
    "per-flag measures melt into (measure, value) rows via the native "
    "unpivot/melt operator — an Expand node over the one aggregated "
    "frame, no re-scan per measure (the oracle's UNION ALL arms would "
    "be three scans; Spark's Expand is one)",
)
def unpivot_measures(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem")
    agg = li.groupBy("l_returnflag").agg(
        dsum(F.col("l_quantity")).alias("sum_qty"),
        dsum(F.col("l_extendedprice")).alias("sum_price"),
        dsum(F.col("l_discount")).alias("sum_disc"),
    )
    return agg.unpivot(
        ["l_returnflag"],
        ["sum_qty", "sum_price", "sum_disc"],
        "measure",
        "value",
    )


@query(
    "set_except_intersect_all",
    oracle="""
    WITH a AS (SELECT l_suppkey AS k FROM lineitem WHERE l_quantity < 10),
    b AS (SELECT l_suppkey AS k FROM lineitem WHERE l_discount > 0.05),
    ea AS (SELECT k FROM a EXCEPT ALL SELECT k FROM b),
    ia AS (SELECT k FROM a INTERSECT ALL SELECT k FROM b)
    SELECT 'except_all' AS op, k, COUNT(*) AS cnt FROM ea GROUP BY k
    UNION ALL
    SELECT 'intersect_all' AS op, k, COUNT(*) AS cnt FROM ia GROUP BY k
    """,
    tags=("setop",),
    doc="multiset set ops (EXCEPT ALL / INTERSECT ALL — bag semantics "
    "the DISTINCT variants can't express: result multiplicity is "
    "cnt_a-cnt_b / min(cnt_a,cnt_b)), summarized per key so the "
    "multiplicities themselves are the graded values",
)
def set_except_intersect_all(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem")
    a = li.filter(F.col("l_quantity") < 10).select(F.col("l_suppkey").alias("k"))
    b = li.filter(F.col("l_discount") > 0.05).select(F.col("l_suppkey").alias("k"))
    ea = (
        a.exceptAll(b)
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(F.lit("except_all").alias("op"), "k", "cnt")
    )
    ia = (
        a.intersectAll(b)
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(F.lit("intersect_all").alias("op"), "k", "cnt")
    )
    return ea.unionAll(ia)


@query(
    "lateral_topn_per_key",
    oracle="""
    SELECT c.c_custkey, o.o_orderkey,
           CAST(o.o_totalprice AS DOUBLE) AS o_totalprice
    FROM customer c, LATERAL (
      SELECT o_orderkey, o_totalprice FROM orders
      WHERE o_custkey = c.c_custkey
      ORDER BY o_totalprice DESC, o_orderkey LIMIT 2
    ) o
    WHERE c.c_mktsegment = 'BUILDING'
    """,
    tags=("join", "lateral"),
    doc="LATERAL correlated subquery (per-customer top-2 orders by "
    "price) — the SQL-standard surface for per-row derived tables; "
    "Catalyst decorrelates it into a ranked window over one join, so "
    "the executed plan matches the window formulation instead of a "
    "per-row re-execution",
)
def lateral_topn_per_key(spark, sf_dir):
    return spark.sql(
        """
        SELECT c.c_custkey, o.o_orderkey,
               CAST(o.o_totalprice AS DOUBLE) AS o_totalprice
        FROM {customer} c, LATERAL (
          SELECT o_orderkey, o_totalprice FROM {orders}
          WHERE o_custkey = c.c_custkey
          ORDER BY o_totalprice DESC, o_orderkey LIMIT 2
        ) o
        WHERE c.c_mktsegment = 'BUILDING'
        """,
        customer=t(spark, sf_dir, "customer"),
        orders=t(spark, sf_dir, "orders"),
    )


@query(
    "recursive_cte_hierarchy",
    oracle="""
    WITH RECURSIVE walk AS (
      SELECT c_custkey, c_custkey AS cur, 0 AS depth FROM customer
      UNION ALL
      SELECT c_custkey, cur // 10 AS cur, depth + 1 AS depth
      FROM walk WHERE cur >= 10
    )
    SELECT CAST(depth AS BIGINT) AS depth,
           COUNT(*) AS n_keys,
           CAST(SUM(cur) AS BIGINT) AS root_sum,
           CAST(MIN(c_custkey) AS BIGINT) AS min_key,
           CAST(MAX(c_custkey) AS BIGINT) AS max_key
    FROM walk WHERE cur < 10
    GROUP BY depth
    """,
    tags=("sql", "recursive"),
    doc="WITH RECURSIVE hierarchy walk (new SQL surface in Spark 4.x; "
    "the reference's sqlparser dialect has no recursion at all): each "
    "customer key walks parent = key DIV 10 until the single-digit "
    "root — a bounded parent-pointer traversal, the org-chart/BOM "
    "query shape. Iterations are UnionLoop steps over a frame that "
    "shrinks each round (only cur >= 10 rows recurse); depth is "
    "log10-bounded, so the loop terminates in ~|digits| rounds "
    "regardless of table size. Exact integer aggregates per depth",
)
def recursive_cte_hierarchy(spark, sf_dir):
    return spark.sql(
        """
        WITH RECURSIVE walk AS (
          SELECT c_custkey, c_custkey AS cur, 0 AS depth FROM {customer}
          UNION ALL
          SELECT c_custkey, cur DIV 10 AS cur, depth + 1 AS depth
          FROM walk WHERE cur >= 10
        )
        SELECT CAST(depth AS BIGINT) AS depth,
               COUNT(*) AS n_keys,
               CAST(SUM(cur) AS BIGINT) AS root_sum,
               CAST(MIN(c_custkey) AS BIGINT) AS min_key,
               CAST(MAX(c_custkey) AS BIGINT) AS max_key
        FROM walk WHERE cur < 10
        GROUP BY depth
        """,
        customer=t(spark, sf_dir, "customer"),
    )


@query(
    "ref_manifest_pruned_query",
    oracle=f"""
    SELECT CAST(COUNT(*) AS BIGINT) AS cnt,
           {o_dsum('l_extendedprice')} AS total_price
    FROM lineitem
    WHERE l_orderkey >= 500 AND l_orderkey <= 900
    """,
    tags=("reference", "scan", "layout"),
    doc="the engine's reference SQL path over a manifest-backed "
    "clustered directory: numeric WHERE bounds prune files at PLAN "
    "time (sql/manifest_prune.py via engine._load_source) and the "
    "result must equal the plain full-table aggregate — the driver "
    "gate becomes the end-to-end proof that pruning never changes an "
    "answer. The clustered copy + manifest build is one-time, cached "
    "by the source fingerprint like the other layout queries",
)
def ref_manifest_pruned_query(spark, sf_dir):
    import os

    from chapterhouseqe_spark.connections import ConnectionRegistry
    from chapterhouseqe_spark.engine import QueryEngine
    from chapterhouseqe_spark.operators.layout import (
        cluster_write,
        write_manifest,
    )

    key = _source_fingerprint(sf_dir, "lineitem")
    base = f"/tmp/chqe_manifest/{key}"
    out = f"{base}/lineitem_by_orderkey"
    if not os.path.exists(os.path.join(out, "_MANIFEST.json")):
        cluster_write(
            t(spark, sf_dir, "lineitem"), out, ["l_orderkey"], num_files=8
        )
        write_manifest(out, ["l_orderkey"], spark=spark)
    eng = QueryEngine(spark, registry=ConnectionRegistry(default_base=base))
    df = eng.dataframe_for(
        "select l_orderkey, l_extendedprice from "
        "read_files('lineitem_by_orderkey/*.parquet') "
        "where l_orderkey >= 500 and l_orderkey <= 900",
        mode="reference",
    )
    return df.agg(
        F.count(F.lit(1)).alias("cnt"),
        dsum(F.col("l_extendedprice")).alias("total_price"),
    )


@query(
    "stats_iqr_outliers",
    oracle="""
    WITH q AS (
      SELECT c_mktsegment,
             quantile_cont(o_totalprice, 0.25) AS q1,
             quantile_cont(o_totalprice, 0.75) AS q3
      FROM orders JOIN customer ON o_custkey = c_custkey
      GROUP BY c_mktsegment
    )
    SELECT o.c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           q.q1, q.q3,
           CAST(SUM(CASE WHEN o.o_totalprice < q.q1 - 1.5 * (q.q3 - q.q1)
                          OR o.o_totalprice > q.q3 + 1.5 * (q.q3 - q.q1)
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
    FROM (SELECT c_mktsegment, o_totalprice
          FROM orders JOIN customer ON o_custkey = c_custkey) o
    JOIN q USING (c_mktsegment)
    GROUP BY o.c_mktsegment, q.q1, q.q3
    """,
    tags=("agg", "stats", "quality"),
    doc="per-segment IQR outlier census (the Tukey-fence data-QA "
    "rule): exact interpolated quartiles (Spark percentile = DuckDB "
    "quantile_cont, proven by percentile_stats), fences as fixed-order "
    "double arithmetic, outliers counted against bit-identical "
    "bounds. The fence table is |segments| rows broadcast back onto "
    "the orders stream — one quartile pass + one counting pass",
)
def stats_iqr_outliers(spark, sf_dir):
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    joined = o.join(F.broadcast(c), o.o_custkey == c.c_custkey).select(
        "c_mktsegment", "o_totalprice"
    )
    q = joined.groupBy("c_mktsegment").agg(
        F.percentile("o_totalprice", 0.25).alias("q1"),
        F.percentile("o_totalprice", 0.75).alias("q3"),
    )
    iqr = F.col("q3") - F.col("q1")
    lo = F.col("q1") - F.lit(1.5) * iqr
    hi = F.col("q3") + F.lit(1.5) * iqr
    return (
        joined.join(F.broadcast(q), "c_mktsegment")
        .groupBy("c_mktsegment", "q1", "q3")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(
                ((F.col("o_totalprice") < lo) | (F.col("o_totalprice") > hi)).cast(
                    "bigint"
                )
            ).alias("n_outliers"),
        )
        .select("c_mktsegment", "n_orders", "q1", "q3", "n_outliers")
    )


@query(
    "timeseries_mom_growth",
    oracle=f"""
    WITH monthly AS (
      SELECT strftime(o_orderdate, '%Y-%m') AS month,
             CAST(COUNT(*) AS BIGINT) AS n_orders,
             {o_dsum('o_totalprice')} AS revenue
      FROM orders GROUP BY 1
    )
    SELECT month, n_orders, revenue,
           lag(revenue) OVER (ORDER BY month) AS prev_revenue,
           CASE WHEN lag(revenue) OVER (ORDER BY month) IS NOT NULL
                THEN (revenue - lag(revenue) OVER (ORDER BY month))
                     / lag(revenue) OVER (ORDER BY month)
           END AS mom_growth
    FROM monthly
    """,
    tags=("agg", "window", "stats"),
    doc="month-over-month revenue growth — the reporting time-series "
    "shape (monthly rollup + lag + relative delta). Revenue sums are "
    "decimal-exact; growth is one subtraction + one division of those "
    "exact-derived doubles in fixed order. The lag window runs over "
    "the |months|-row rollup, so the single-partition sort is ~100 "
    "rows however large the fact table — bounded by construction, not "
    "an accident",
)
def timeseries_mom_growth(spark, sf_dir):
    from pyspark.sql import Window

    o = t(spark, sf_dir, "orders")
    monthly = o.groupBy(
        F.date_format("o_orderdate", "yyyy-MM").alias("month")
    ).agg(
        F.count(F.lit(1)).alias("n_orders"),
        dsum(F.col("o_totalprice")).alias("revenue"),
    )
    w = Window.orderBy("month")
    prev = F.lag("revenue").over(w)
    return monthly.select(
        "month",
        "n_orders",
        "revenue",
        prev.alias("prev_revenue"),
        F.when(
            prev.isNotNull(), (F.col("revenue") - prev) / prev
        ).alias("mom_growth"),
    )


@query(
    "orders_fulfillment_latency",
    oracle="""
    SELECT o.o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           quantile_cont(date_diff('day', o.o_orderdate,
                                   CAST(l.l_shipdate AS DATE)), 0.5)
             AS p50_ship_days,
           quantile_cont(date_diff('day', o.o_orderdate,
                                   CAST(l.l_shipdate AS DATE)), 0.95)
             AS p95_ship_days,
           CAST(SUM(CASE WHEN date_diff('day', o.o_orderdate,
                                        CAST(l.l_shipdate AS DATE)) > 90
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_over_90d
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderpriority
    """,
    tags=("agg", "stats", "join"),
    doc="fulfillment-latency SLA profile per order priority: p50/p95 "
    "of the order-to-ship day gap plus the over-90-day count — the "
    "operations-metrics shape (gap as an exact integer day diff, "
    "percentiles via the proven Spark percentile = DuckDB "
    "quantile_cont interpolation). At fact-x-fact scale the join "
    "shuffles on l_orderkey like any TPC-H join",
)
def orders_fulfillment_latency(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem")
    o = t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_orderdate"
    )
    gap = F.datediff(F.col("l_shipdate").cast("date"), F.col("o_orderdate"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.percentile(gap, 0.5).alias("p50_ship_days"),
            F.percentile(gap, 0.95).alias("p95_ship_days"),
            F.sum((gap > 90).cast("bigint")).alias("n_over_90d"),
        )
    )


@query(
    "join_fuzzy_part_names",
    oracle=r"""
    WITH names AS (
      SELECT DISTINCT p_name AS name FROM part WHERE len(p_name) >= 3
    ),
    grams AS (
      SELECT name, unnest(list_distinct(
        list_transform(generate_series(1, len(name) - 2),
                       i -> substr(name, i, 3)))) AS g
      FROM names
    ),
    cand AS (
      SELECT a.name AS name_a, b.name AS name_b,
             CAST(COUNT(*) AS BIGINT) AS n_shared
      FROM grams a JOIN grams b ON a.g = b.g AND a.name < b.name
      GROUP BY 1, 2
      HAVING COUNT(*) >= 2
    )
    SELECT name_a, name_b, n_shared,
           CAST(levenshtein(name_a, name_b) AS BIGINT) AS lev
    FROM cand
    WHERE levenshtein(name_a, name_b) <= 3
    """,
    tags=("join", "fuzzy"),
    doc="fuzzy self-join of part names: distinct-first dedup, 3-gram "
    "shared-count prefilter (a gram-keyed hash join, never a cross "
    "product), exact levenshtein verify on the surviving candidates "
    "only — the Gravano-style approximate-join decomposition; both "
    "engines implement plain Levenshtein so the verify predicate is "
    "bit-portable (operators/fuzzy.py:qgram_levenshtein_join)",
)
def join_fuzzy_part_names(spark, sf_dir):
    from chapterhouseqe_spark.operators.fuzzy import qgram_levenshtein_join

    return qgram_levenshtein_join(
        t(spark, sf_dir, "part"),
        "p_name",
        q=3,
        min_shared=2,
        max_dist=3,
        max_gram_freq=None,  # graded vs an exact oracle (r8 verdict 5)
    )


@query(
    "stats_winsorize",
    oracle="""
    WITH cuts AS (
      SELECT c_mktsegment,
             quantile_cont(c_acctbal, 0.05) AS p05,
             quantile_cont(c_acctbal, 0.95) AS p95
      FROM customer GROUP BY c_mktsegment
    )
    SELECT c.c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CASE WHEN c.c_acctbal < k.p05 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_clipped_lo,
           CAST(SUM(CASE WHEN c.c_acctbal > k.p95 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_clipped_hi,
           CAST(SUM(CAST(
             CASE WHEN c.c_acctbal < k.p05 THEN k.p05
                  WHEN c.c_acctbal > k.p95 THEN k.p95
                  ELSE c.c_acctbal END AS DECIMAL(27,6)))
             AS DOUBLE) AS winsorized_sum
    FROM customer c JOIN cuts k USING (c_mktsegment)
    GROUP BY c.c_mktsegment
    """,
    tags=("agg", "stats"),
    doc="per-segment winsorization (clip at p05/p95): the standard "
    "outlier-robust normalization before aggregate stats or model "
    "features. Plan: one grouped percentile pass over <=5 groups, "
    "its 5-row output BROADCAST back onto the fact scan, clip as a "
    "scan-stage CASE — no second shuffle of the fact table; the "
    "decimal cast keeps the clipped sum order-insensitive (Spark "
    "percentile = DuckDB quantile_cont interpolation, proven by "
    "percentile_stats)",
)
def stats_winsorize(spark, sf_dir):
    cust = t(spark, sf_dir, "customer")
    cuts = cust.groupBy("c_mktsegment").agg(
        F.percentile("c_acctbal", 0.05).alias("p05"),
        F.percentile("c_acctbal", 0.95).alias("p95"),
    )
    bal = F.col("c_acctbal")
    clipped = (
        F.when(bal < F.col("p05"), F.col("p05"))
        .when(bal > F.col("p95"), F.col("p95"))
        .otherwise(bal)
    )
    return (
        cust.join(F.broadcast(cuts), "c_mktsegment")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum((bal < F.col("p05")).cast("bigint")).alias("n_clipped_lo"),
            F.sum((bal > F.col("p95")).cast("bigint")).alias("n_clipped_hi"),
            F.sum(clipped.cast("decimal(27,6)"))
            .cast("double")
            .alias("winsorized_sum"),
        )
    )


@query(
    "events_attribution_last_touch",
    oracle="""
    WITH marked AS (
      SELECT user_id, ts, event_type, value,
             LAST_VALUE(CASE WHEN event_type IN ('view', 'click')
                             THEN event_type END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS touch_type,
             LAST_VALUE(CASE WHEN event_type IN ('view', 'click')
                             THEN ts END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS touch_ts
      FROM events
    )
    SELECT COALESCE(CASE WHEN ts - touch_ts <= INTERVAL 7 DAY
                         THEN touch_type END, 'organic') AS channel,
           CAST(COUNT(*) AS BIGINT) AS n_purchases,
           CAST(SUM(CAST(value AS DECIMAL(27,4))) AS DOUBLE)
             AS attributed_value
    FROM marked
    WHERE event_type = 'purchase'
    GROUP BY 1
    """,
    tags=("window", "events"),
    doc="last-touch marketing attribution: each purchase credits the "
    "user's most recent PRECEDING view/click within 7 days, else "
    "'organic'. One user-keyed window (running last_value IGNORE "
    "NULLS over a conditional — no self-join against the touch "
    "events) then a tiny keyed agg; ties on ts break on event_id so "
    "both engines walk one deterministic order. The window carries "
    "each user's events once — the same single-shuffle shape as "
    "sessionization, linear at any event volume",
)
def events_attribution_last_touch(spark, sf_dir):
    ev = t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    is_touch = F.col("event_type").isin("view", "click")
    marked = ev.select(
        "user_id",
        "ts",
        "event_type",
        "value",
        F.last(F.when(is_touch, F.col("event_type")), ignorenulls=True)
        .over(w)
        .alias("touch_type"),
        F.last(F.when(is_touch, F.col("ts")), ignorenulls=True)
        .over(w)
        .alias("touch_ts"),
    )
    # Full-precision comparison (r8 ADVICE): event timestamps carry
    # microseconds, and the oracle compares the exact interval
    # (ts - touch_ts <= INTERVAL 7 DAY). timestamp_diff('SECOND')
    # truncates sub-second parts, flipping purchases whose last touch
    # is between exactly 7d and 7d+1s earlier; the direct interval
    # comparison matches the oracle's semantics bit-for-bit (and works
    # on TIMESTAMP_NTZ, which unix_micros rejects).
    within = F.col("touch_ts") >= F.col("ts") - F.expr("INTERVAL 7 DAYS")
    return (
        marked.filter(F.col("event_type") == "purchase")
        .select(
            F.coalesce(
                F.when(within, F.col("touch_type")), F.lit("organic")
            ).alias("channel"),
            "value",
        )
        .groupBy("channel")
        .agg(
            F.count(F.lit(1)).alias("n_purchases"),
            F.sum(F.col("value").cast("decimal(27,4)"))
            .cast("double")
            .alias("attributed_value"),
        )
    )


@query(
    "stats_weighted_median",
    oracle="""
    WITH ordered AS (
      SELECT l_returnflag, l_extendedprice,
             CAST(l_quantity AS BIGINT) AS w,
             SUM(CAST(l_quantity AS BIGINT))
               OVER (PARTITION BY l_returnflag
                     ORDER BY l_extendedprice, l_orderkey, l_linenumber
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cum_w,
             SUM(CAST(l_quantity AS BIGINT))
               OVER (PARTITION BY l_returnflag) AS tot_w
      FROM lineitem
    )
    SELECT l_returnflag,
           CAST(tot_w AS BIGINT) AS total_weight,
           l_extendedprice AS weighted_median_price
    FROM ordered
    WHERE 2 * cum_w >= tot_w AND 2 * (cum_w - w) < tot_w
    """,
    tags=("agg", "stats"),
    doc="quantity-WEIGHTED median price per return flag: the straddle "
    "row where the running weight first covers half the group total "
    "(integer-exact — weights cast to BIGINT, the straddle predicate "
    "2*cum >= tot avoids any division; order ties broken on the "
    "full key so both engines walk one sequence). One partitioned "
    "window + filter, no self-join; the grouped-median UDAF covers "
    "the unweighted case, this covers importance-weighted stats "
    "(e.g. token-weighted quality medians over a corpus)",
)
def stats_weighted_median(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem")
    wo = Window.partitionBy("l_returnflag").orderBy(
        "l_extendedprice", "l_orderkey", "l_linenumber"
    )
    wtot = Window.partitionBy("l_returnflag")
    w = F.col("l_quantity").cast("bigint")
    ordered = li.select(
        "l_returnflag",
        "l_extendedprice",
        w.alias("w"),
        F.sum(w)
        .over(wo.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("cum_w"),
        F.sum(w).over(wtot).alias("tot_w"),
    )
    return ordered.filter(
        (2 * F.col("cum_w") >= F.col("tot_w"))
        & (2 * (F.col("cum_w") - F.col("w")) < F.col("tot_w"))
    ).select(
        "l_returnflag",
        F.col("tot_w").cast("bigint").alias("total_weight"),
        F.col("l_extendedprice").alias("weighted_median_price"),
    )


@query(
    "orders_abc_pareto",
    oracle="""
    WITH rev AS (
      SELECT o_custkey,
             SUM(CAST(o_totalprice AS DECIMAL(27,2))) AS r
      FROM orders GROUP BY o_custkey
    ),
    ranked AS (
      SELECT o_custkey, r,
             SUM(r) OVER (ORDER BY r DESC, o_custkey
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cum_r,
             SUM(r) OVER () AS tot_r
      FROM rev
    )
    SELECT CASE WHEN cum_r * 100 <= tot_r * 80 THEN 'A'
                WHEN cum_r * 100 <= tot_r * 95 THEN 'B'
                ELSE 'C' END AS abc_class,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           CAST(SUM(r) AS DOUBLE) AS class_revenue
    FROM ranked
    GROUP BY 1
    """,
    tags=("agg", "stats", "window"),
    doc="ABC / Pareto classification: customers ranked by revenue, "
    "class A = the head covering 80% of cumulative revenue, B to "
    "95%, C the tail. Exact in both engines — revenue accumulates "
    "as DECIMAL and the thresholds compare as cum*100 <= tot*80 "
    "(integer-scaled decimal, no double division); ranking ties "
    "break on custkey. The global running sum is one ordered window "
    "over the ALREADY-AGGREGATED per-customer frame (|customers| "
    "rows, not |orders|) — the single-partition window carries the "
    "small frame, the fact table only ever sees the keyed agg",
)
def orders_abc_pareto(spark, sf_dir):
    o = t(spark, sf_dir, "orders")
    rev = o.groupBy("o_custkey").agg(
        F.sum(F.col("o_totalprice").cast("decimal(27,2)")).alias("r")
    )
    wcum = (
        Window.orderBy(F.col("r").desc(), "o_custkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wtot = Window.partitionBy()
    ranked = rev.select(
        "o_custkey",
        "r",
        F.sum("r").over(wcum).alias("cum_r"),
        F.sum("r").over(wtot).alias("tot_r"),
    )
    abc = (
        F.when(F.col("cum_r") * 100 <= F.col("tot_r") * 80, F.lit("A"))
        .when(F.col("cum_r") * 100 <= F.col("tot_r") * 95, F.lit("B"))
        .otherwise(F.lit("C"))
    )
    return (
        ranked.select(abc.alias("abc_class"), "r")
        .groupBy("abc_class")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum("r").cast("double").alias("class_revenue"),
        )
    )


@query(
    "scan_schema_evolution",
    # the evolved directory holds two parquet files with DIFFERENT
    # schemas (v1 lacks o_orderpriority); mergeSchema unions them with
    # NULLs for the missing column. Content equals the orders table
    # split at o_orderkey 1000 with the column blanked on the v1 half,
    # so the oracle replays that CASE over the original table.
    oracle="""
    SELECT o_orderstatus,
           CASE WHEN o_orderkey < 1000 THEN NULL
                ELSE o_orderpriority END AS o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(27,2))) AS DOUBLE)
             AS total
    FROM orders
    GROUP BY 1, 2
    """,
    tags=("source", "scan"),
    doc="schema evolution on read: a table directory whose files were "
    "written under two schema versions (a column added mid-history) "
    "reads as ONE frame via mergeSchema — old files surface NULL for "
    "the new column, the exact Iceberg/Delta add-column contract. "
    "The footer-union costs one metadata pass; data pages are never "
    "rewritten (the point of additive evolution at 100 TB: schema "
    "changes are O(files) metadata, not O(bytes) rewrites)",
)
def scan_schema_evolution(spark, sf_dir):
    import os

    o = t(spark, sf_dir, "orders")
    key = _source_fingerprint(sf_dir, "orders")
    out = f"/tmp/chqe_formats/{key}/orders_evolved"
    marker = os.path.join(out, "_SUCCESS_EVOLVED")
    if not os.path.exists(marker):
        # v1 era: the table had no o_orderpriority column
        o.filter(F.col("o_orderkey") < 1000).drop(
            "o_orderpriority"
        ).coalesce(1).write.mode("overwrite").parquet(out)
        # v2 era: column added — append new-schema files to the SAME dir
        o.filter(F.col("o_orderkey") >= 1000).coalesce(1).write.mode(
            "append"
        ).parquet(out)
        open(marker, "w").close()
    evolved = spark.read.option("mergeSchema", "true").parquet(out)
    return evolved.groupBy("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("o_totalprice").cast("decimal(27,2)"))
        .cast("double")
        .alias("total"),
    )


@query(
    "asof_join_nearest",
    oracle="""
    WITH c AS (
      SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
    ),
    p AS (
      SELECT user_id, ts, MAX(value) AS purchase_value
      FROM events WHERE event_type = 'purchase'
      GROUP BY user_id, ts
    ),
    b AS (
      SELECT c.event_id, c.user_id, c.ts,
             p.ts AS bts, p.purchase_value AS bval
      FROM c ASOF LEFT JOIN p
        ON c.user_id = p.user_id AND c.ts >= p.ts
    ),
    f AS (
      SELECT c.event_id, p.ts AS fts, p.purchase_value AS fval
      FROM c ASOF LEFT JOIN p
        ON c.user_id = p.user_id AND c.ts <= p.ts
    ),
    chosen AS (
      SELECT b.event_id, b.user_id, b.ts,
             CASE WHEN b.bts IS NOT NULL
                       AND (f.fts IS NULL OR (b.ts - b.bts) <= (f.fts - b.ts))
                  THEN b.bts ELSE f.fts END AS mts,
             CASE WHEN b.bts IS NOT NULL
                       AND (f.fts IS NULL OR (b.ts - b.bts) <= (f.fts - b.ts))
                  THEN b.bval ELSE f.fval END AS mval
      FROM b JOIN f ON f.event_id = b.event_id
    )
    SELECT event_id, user_id,
           strftime(ts, '%Y-%m-%d %H:%M:%S') AS click_ts,
           strftime(CASE WHEN mts IS NOT NULL
                              AND (CASE WHEN mts >= ts THEN mts - ts
                                        ELSE ts - mts END)
                                  <= INTERVAL 2 HOUR
                         THEN mts END, '%Y-%m-%d %H:%M:%S') AS purchase_ts,
           CASE WHEN mts IS NOT NULL
                     AND (CASE WHEN mts >= ts THEN mts - ts
                               ELSE ts - mts END) <= INTERVAL 2 HOUR
                THEN mval END AS purchase_value
    FROM chosen
    """,
    tags=("join", "temporal"),
    doc="NEAREST-direction as-of join (pandas merge_asof convention, "
    "ties to backward): each click matches whichever same-user "
    "purchase is closer in time, within a 2-hour tolerance. Still "
    "ONE shuffle — backward and forward candidates come out of the "
    "same union-sort pass as two windows (running last / mirrored "
    "first) over one partitioning, so Catalyst reuses the single "
    "exchange (operators/temporal.py:asof_join direction='nearest'); "
    "oracle composes DuckDB's native backward + forward ASOF joins",
)
def asof_join_nearest(spark, sf_dir):
    from chapterhouseqe_spark.operators.temporal import asof_join

    ev = t(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("purchase_value"))
    )
    j = asof_join(
        clicks,
        purchases,
        ["user_id"],
        "ts",
        direction="nearest",
        tolerance=F.expr("INTERVAL 2 HOURS"),
    )
    return j.select(
        "event_id",
        "user_id",
        ts_str(F.col("ts")).alias("click_ts"),
        ts_str(F.col("ts_r")).alias("purchase_ts"),
        F.col("purchase_value_r").alias("purchase_value"),
    )


@query(
    "orders_rfm_segments",
    oracle="""
    WITH per_cust AS (
      SELECT o_custkey,
             date_diff('day', MAX(o_orderdate),
                       (SELECT MAX(o_orderdate) FROM orders))
               AS recency_days,
             COUNT(*) AS frequency,
             SUM(CAST(o_totalprice AS DECIMAL(27,2))) AS monetary
      FROM orders GROUP BY o_custkey
    ),
    scored AS (
      SELECT o_custkey, monetary,
             NTILE(5) OVER (ORDER BY recency_days, o_custkey) AS r_score,
             NTILE(5) OVER (ORDER BY frequency DESC, o_custkey) AS f_score,
             NTILE(5) OVER (ORDER BY monetary DESC, o_custkey) AS m_score
      FROM per_cust
    )
    SELECT r_score, f_score, m_score,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           CAST(SUM(monetary) AS DOUBLE) AS segment_revenue
    FROM scored
    GROUP BY 1, 2, 3
    """,
    tags=("agg", "window", "stats"),
    doc="RFM segmentation: recency/frequency/monetary per customer, "
    "each scored into quintiles (NTILE over a fully-tiebroken order, "
    "so both engines bucket identically), rolled up to segment "
    "counts + revenue — the classic CRM cube. The three NTILEs run "
    "over the per-customer AGGREGATE (|customers| rows), not the "
    "fact table; like the Pareto query, the single-partition windows "
    "carry only the collapsed frame",
)
def orders_rfm_segments(spark, sf_dir):
    o = t(spark, sf_dir, "orders")
    max_date = o.agg(F.max("o_orderdate").alias("mx"))
    per_cust = (
        o.groupBy("o_custkey")
        .agg(
            F.max("o_orderdate").alias("last_order"),
            F.count(F.lit(1)).alias("frequency"),
            F.sum(F.col("o_totalprice").cast("decimal(27,2)")).alias(
                "monetary"
            ),
        )
        .crossJoin(F.broadcast(max_date))
        .select(
            "o_custkey",
            F.datediff(F.col("mx"), F.col("last_order")).alias(
                "recency_days"
            ),
            "frequency",
            "monetary",
        )
    )
    scored = per_cust.select(
        "o_custkey",
        "monetary",
        F.ntile(5)
        .over(Window.orderBy("recency_days", "o_custkey"))
        .alias("r_score"),
        F.ntile(5)
        .over(Window.orderBy(F.col("frequency").desc(), "o_custkey"))
        .alias("f_score"),
        F.ntile(5)
        .over(Window.orderBy(F.col("monetary").desc(), "o_custkey"))
        .alias("m_score"),
    )
    return scored.groupBy("r_score", "f_score", "m_score").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.sum("monetary").cast("double").alias("segment_revenue"),
    )


@query(
    "events_pit_features",
    oracle="""
    WITH u AS (
      SELECT user_id, event_type, value, ts,
             -- floor, not CAST: event ts carries microseconds and
             -- DuckDB's CAST(double AS BIGINT) ROUNDS while Spark's
             -- unix_timestamp FLOORS — a .5s-boundary event would
             -- land in a different epoch second and shift its RANGE
             -- frame by one (caught by the sf0.1 cross-scale check)
             CAST(floor(epoch(ts)) AS BIGINT) AS es
      FROM events
    ),
    feat AS (
      SELECT user_id, event_type, ts,
             SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) OVER w
               AS n_views_24h,
             SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) OVER w
               AS n_clicks_24h,
             SUM(CASE WHEN event_type IN ('view', 'click')
                      THEN CAST(value AS DECIMAL(27,4)) END) OVER w
               AS engaged_value_24h
      FROM u
      WINDOW w AS (PARTITION BY user_id ORDER BY es
                   RANGE BETWEEN 86400 PRECEDING AND CURRENT ROW)
    )
    SELECT user_id,
           strftime(ts, '%Y-%m-%d %H:%M:%S') AS purchase_ts,
           CAST(n_views_24h AS BIGINT) AS n_views_24h,
           CAST(n_clicks_24h AS BIGINT) AS n_clicks_24h,
           CAST(COALESCE(engaged_value_24h, 0) AS DOUBLE)
             AS engaged_value_24h
    FROM feat WHERE event_type = 'purchase'
    """,
    tags=("window", "temporal", "events"),
    doc="point-in-time-correct feature extraction (the feature-store "
    "contract for training data): at every purchase, the user's "
    "trailing-24h engagement counts and decimal-exact engaged value, "
    "computed as conditional sums over ONE epoch-seconds RANGE frame "
    "— no as-of self-join, no leakage (features see only rows at or "
    "before the label's timestamp; the purchase itself contributes "
    "nothing because features count view/click only). One user-keyed "
    "window exchange at any event volume",
)
def events_pit_features(spark, sf_dir):
    ev = t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_timestamp("ts"))
        .rangeBetween(-86400, 0)
    )
    is_view = F.col("event_type") == "view"
    is_click = F.col("event_type") == "click"
    engaged = F.col("event_type").isin("view", "click")
    feat = ev.select(
        "user_id",
        "event_type",
        "ts",
        F.sum(is_view.cast("int")).over(w).alias("n_views_24h"),
        F.sum(is_click.cast("int")).over(w).alias("n_clicks_24h"),
        F.sum(
            F.when(engaged, F.col("value").cast("decimal(27,4)"))
        )
        .over(w)
        .alias("engaged_value_24h"),
    )
    return feat.filter(F.col("event_type") == "purchase").select(
        "user_id",
        ts_str(F.col("ts")).alias("purchase_ts"),
        F.col("n_views_24h").cast("bigint").alias("n_views_24h"),
        F.col("n_clicks_24h").cast("bigint").alias("n_clicks_24h"),
        F.coalesce(F.col("engaged_value_24h"), F.lit(0))
        .cast("double")
        .alias("engaged_value_24h"),
    )


@query(
    "orders_basket_pairs",
    oracle="""
    WITH items AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ),
    part_freq AS (
      SELECT l_partkey, COUNT(*) AS n_ord FROM items GROUP BY l_partkey
    ),
    tot AS (SELECT COUNT(DISTINCT l_orderkey) AS n_orders FROM items),
    pairs AS (
      SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
             COUNT(*) AS n_both
      FROM items a JOIN items b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2
      HAVING COUNT(*) >= 2
    )
    SELECT p.part_a, p.part_b,
           CAST(p.n_both AS BIGINT) AS n_both,
           CAST(p.n_both * t.n_orders AS DOUBLE)
             / CAST(fa.n_ord * fb.n_ord AS DOUBLE) AS lift
    FROM pairs p
    JOIN part_freq fa ON p.part_a = fa.l_partkey
    JOIN part_freq fb ON p.part_b = fb.l_partkey
    CROSS JOIN tot t
    """,
    tags=("join", "agg", "stats"),
    doc="market-basket pair mining with lift: parts co-ordered in the "
    "same order, support >= 2, lift = P(a,b)/(P(a)P(b)). The pair "
    "generator is an orderkey-keyed SELF-JOIN (co-partitioned — both "
    "sides shuffle on the same key once), so the blowup is bounded by "
    "per-order basket size squared, never |lineitem|^2; the part "
    "frequency table is |parts| rows and broadcasts. lift is one "
    "division of two exact BIGINT products, bit-portable. 100 TB: "
    "baskets are small (tens of items), so the quadratic term is a "
    "constant factor on the one co-partitioned shuffle",
)
def orders_basket_pairs(spark, sf_dir):
    items = (
        t(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    part_freq = items.groupBy("l_partkey").agg(
        F.count(F.lit(1)).alias("n_ord")
    )
    tot = items.agg(
        F.count_distinct("l_orderkey").alias("n_orders")
    )
    a = items.alias("a")
    b = items.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("part_a"),
            F.col("b.l_partkey").alias("part_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_both"))
        .filter(F.col("n_both") >= 2)
    )
    fa = part_freq.select(
        F.col("l_partkey").alias("part_a"), F.col("n_ord").alias("na")
    )
    fb = part_freq.select(
        F.col("l_partkey").alias("part_b"), F.col("n_ord").alias("nb")
    )
    return (
        pairs.join(F.broadcast(fa), "part_a")
        .join(F.broadcast(fb), "part_b")
        .crossJoin(F.broadcast(tot))
        .select(
            "part_a",
            "part_b",
            "n_both",
            (
                (F.col("n_both") * F.col("n_orders")).cast("double")
                / (F.col("na") * F.col("nb")).cast("double")
            ).alias("lift"),
        )
    )


@query(
    "orders_new_vs_returning",
    oracle="""
    WITH seq AS (
      SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m') AS month,
             CAST(o_totalprice AS DECIMAL(27,2)) AS price,
             ROW_NUMBER() OVER (PARTITION BY o_custkey
                                ORDER BY o_orderdate, o_orderkey) AS rn
      FROM orders
    )
    SELECT month,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_new_customers,
           CAST(SUM(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_repeat_orders,
           CAST(SUM(CASE WHEN rn > 1 THEN price ELSE 0 END) AS DOUBLE)
             AS repeat_revenue
    FROM seq GROUP BY month
    """,
    tags=("window", "agg"),
    doc="monthly new-vs-returning decomposition: each order is tagged "
    "first-ever-for-this-customer via one customer-keyed row_number "
    "(orderkey tiebreak), then rolled up by month — the "
    "acquisition-vs-retention revenue split every growth dashboard "
    "opens with. One keyed window + one keyed agg; the fact table "
    "shuffles once on customer, and the month rollup rides map-side "
    "partials. Revenue sums stay in DECIMAL until the final DOUBLE "
    "cast (order-insensitive, engine-exact)",
)
def orders_new_vs_returning(spark, sf_dir):
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    seq = t(spark, sf_dir, "orders").select(
        F.date_format(F.date_trunc("month", F.col("o_orderdate")), "yyyy-MM").alias(
            "month"
        ),
        F.col("o_totalprice").cast("decimal(27,2)").alias("price"),
        F.row_number().over(w).alias("rn"),
    )
    return seq.groupBy("month").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum((F.col("rn") == 1).cast("bigint")).alias("n_new_customers"),
        F.sum((F.col("rn") > 1).cast("bigint")).alias("n_repeat_orders"),
        F.sum(
            F.when(F.col("rn") > 1, F.col("price")).otherwise(
                F.lit(0).cast("decimal(27,2)")
            )
        )
        .cast("double")
        .alias("repeat_revenue"),
    )


@query(
    "orders_cohort_ltv",
    oracle="""
    WITH firsts AS (
      SELECT o_custkey, MIN(o_orderdate) AS first_dt
      FROM orders GROUP BY o_custkey
    ),
    cohort_sizes AS (
      SELECT strftime(date_trunc('year', first_dt), '%Y') AS cohort,
             COUNT(*) AS n_customers
      FROM firsts GROUP BY 1
    ),
    placed AS (
      SELECT strftime(date_trunc('year', f.first_dt), '%Y') AS cohort,
             date_diff('year', date_trunc('year', f.first_dt),
                       date_trunc('year', o.o_orderdate)) AS year_index,
             CAST(o.o_totalprice AS DECIMAL(27,2)) AS price
      FROM orders o JOIN firsts f ON o.o_custkey = f.o_custkey
    )
    SELECT p.cohort, CAST(p.year_index AS BIGINT) AS year_index,
           CAST(ANY_VALUE(cs.n_customers) AS BIGINT) AS n_customers,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(p.price) AS DOUBLE) AS revenue,
           CAST(SUM(p.price) AS DOUBLE) / ANY_VALUE(cs.n_customers)
             AS revenue_per_cohort_customer
    FROM placed p JOIN cohort_sizes cs ON cs.cohort = p.cohort
    GROUP BY 1, 2
    """,
    tags=("agg", "window", "timeseries"),
    doc="customer-lifetime-value triangle: customers cohorted by "
    "first-order year, revenue attributed to (cohort, years-since-"
    "acquisition) — the acquisition-payback table next to the "
    "new-vs-returning split and the events cohort-retention grid "
    "(which counts users; this one follows money). The fact table "
    "joins the |customers|-row first-order frame (customer-keyed, "
    "co-partitioned with the groupBy that built it) and collapses to "
    "|cohorts| x |years| rows; revenue stays DECIMAL until the final "
    "DOUBLE cast and the per-customer rate is one division",
)
def orders_cohort_ltv(spark, sf_dir):
    o = t(spark, sf_dir, "orders")
    firsts = o.groupBy("o_custkey").agg(F.min("o_orderdate").alias("first_dt"))
    cohort = F.date_format(F.date_trunc("year", F.col("first_dt")), "yyyy")
    placed = o.join(firsts, "o_custkey").select(
        cohort.alias("cohort"),
        (
            F.year(F.col("o_orderdate")) - F.year(F.col("first_dt"))
        ).cast("long").alias("year_index"),
        F.col("o_totalprice").cast("decimal(27,2)").alias("price"),
    )
    sizes = firsts.groupBy(cohort.alias("cohort")).agg(
        F.count(F.lit(1)).alias("n_customers")
    )
    return (
        placed.groupBy("cohort", "year_index")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("price").alias("rev_dec"),
        )
        .join(F.broadcast(sizes), "cohort")
        .select(
            "cohort",
            "year_index",
            F.col("n_customers").cast("long").alias("n_customers"),
            "n_orders",
            F.col("rev_dec").cast("double").alias("revenue"),
            (
                F.col("rev_dec").cast("double") / F.col("n_customers")
            ).alias("revenue_per_cohort_customer"),
        )
    )
