"""Query lifecycle tests: run → status → fetch, mirroring the reference's
client-visible API (async_query_client.rs:40-154,
query_handler_state.rs:28-44, query_data_handler.rs:183-571).
"""

from __future__ import annotations

import re

import pytest

from chapterhouseqe_spark.connections import ConnectionRegistry
from chapterhouseqe_spark.engine import QueryEngine, QueryStatus, with_row_ids


@pytest.fixture
def engine(spark, sf_dir, tmp_path):
    registry = ConnectionRegistry(default_base=sf_dir)
    return QueryEngine(spark, results_root=str(tmp_path / "results"), registry=registry)


def test_lifecycle_complete(engine, sf_dir):
    qid = engine.run_query_sync(
        f"select * from read_files('{sf_dir}/region.parquet') where r_regionkey >= 0",
        mode="reference",
    )
    assert engine.status(qid) is QueryStatus.COMPLETE
    assert engine.num_rows(qid) == 5
    rows = engine.fetch(qid, offset=0, limit=10)
    assert len(rows) == 5
    assert {"r_regionkey", "r_name"} <= set(rows[0])


def test_fetch_forward_and_reverse_paging(engine, sf_dir):
    qid = engine.run_query_sync(
        f"select n_nationkey from read_files('{sf_dir}/nation.parquet')",
        mode="reference",
    )
    assert engine.num_rows(qid) == 25
    first = engine.fetch(qid, offset=0, limit=10)
    second = engine.fetch(qid, offset=10, limit=10)
    assert len(first) == 10 and len(second) == 10
    assert first != second
    # reverse: the 10 rows ENDING at offset 9 inclusive == forward page 1
    rev = engine.fetch(qid, offset=9, limit=10, forward=False)
    assert rev == first
    # reverse near the start clamps at 0 (query_data_handler.rs:425-463)
    rev_short = engine.fetch(qid, offset=4, limit=10, forward=False)
    assert rev_short == first[:5]


def test_empty_result_completes(engine, sf_dir):
    # ADVICE r1 high: empty results must COMPLETE, not ERROR
    # (empty batches flow through, filter_record.rs:17-39)
    qid = engine.run_query_sync(
        f"select * from read_files('{sf_dir}/region.parquet') where r_regionkey < 0",
        mode="reference",
    )
    assert engine.status(qid) is QueryStatus.COMPLETE, engine.error(qid)
    assert engine.num_rows(qid) == 0
    assert engine.fetch(qid, 0, 10) == []


def test_error_status(engine):
    qid = engine.run_query_sync("select * from read_files('/nope/*.parquet')")
    assert engine.status(qid) is QueryStatus.ERROR
    assert engine.error(qid)


def test_unknown_query_id(engine):
    with pytest.raises(KeyError):
        engine.status("no-such-id")


def test_spark_mode_full_sql(engine, sf_dir):
    qid = engine.run_query_sync(
        f"""
        select n.n_name, count(*) as cnt
        from read_files('{sf_dir}/nation.parquet') n
        join read_files('{sf_dir}/region.parquet') r
          on n.n_regionkey = r.r_regionkey
        group by n.n_name order by n.n_name limit 3
        """
    )
    assert engine.status(qid) is QueryStatus.COMPLETE, engine.error(qid)
    assert engine.num_rows(qid) == 3


def test_reference_mode_flagship(engine, sf_dir):
    # shape of sample_queries/simple.sql q4 (SURVEY §7.2)
    qid = engine.run_query_sync(
        f"""
        select n_nationkey, n_nationkey + 10.0 as key_plus_10,
               (n_regionkey + 10) / 100 as rk, 1.0 / (n_nationkey + 1) as inv
        from read_files('{sf_dir}/nation.parquet') where n_nationkey > 2 + 0.0
        """,
        mode="reference",
    )
    assert engine.status(qid) is QueryStatus.COMPLETE, engine.error(qid)
    assert engine.num_rows(qid) == 22
    row = engine.fetch(qid, 0, 1)[0]
    assert row["rk"] == 0  # integer division semantics


def test_run_script_multi_statement(engine, sf_dir):
    qids = engine.run_script(
        f"select * from read_files('{sf_dir}/region.parquet');"
        f"select * from read_files('{sf_dir}/nation.parquet') where n_name != 'a;b';"
    )
    assert len(qids) == 2
    assert engine.status(qids[0]) is QueryStatus.COMPLETE
    assert engine.status(qids[1]) is QueryStatus.COMPLETE
    assert engine.num_rows(qids[1]) == 25


def test_with_row_ids_dense_and_ordered(spark, tmp_path):
    df = spark.range(0, 1000).repartition(7)
    with_row_ids(df).write.parquet(str(tmp_path / "shuffled"))
    written = spark.read.parquet(str(tmp_path / "shuffled"))
    assert sorted(r["__row_id"] for r in written.collect()) == list(range(1000))
    # without an exchange the ids follow the partitions' own order
    ordered = with_row_ids(spark.range(0, 1000, 1, 7)).collect()
    assert [(r["id"], r["__row_id"]) for r in ordered] == [(i, i) for i in range(1000)]


def test_with_row_ids_empty(spark, tmp_path):
    df = spark.range(0, 10).filter("id < 0")
    with_row_ids(df).write.parquet(str(tmp_path / "empty"))
    written = spark.read.parquet(str(tmp_path / "empty"))
    assert written.columns == ["id", "__row_id"]
    assert written.count() == 0


def test_fetch_allow_overflow(engine, sf_dir):
    # query_data_handler.rs:425-463: a reverse page that hits row 0
    # short of `limit` overflows FORWARD to fill the page
    qid = engine.run_query_sync(
        f"select n_nationkey from read_files('{sf_dir}/nation.parquet')",
        mode="reference",
    )
    short = engine.fetch(qid, offset=4, limit=10, forward=False)
    assert len(short) == 5  # clamped without the flag
    full = engine.fetch(qid, offset=4, limit=10, forward=False, allow_overflow=True)
    assert len(full) == 10
    assert full[:5] == short  # same leading rows, window extended forward
    # near the end the overflow cannot exceed the result size
    tail = engine.fetch(qid, offset=23, limit=30, forward=False, allow_overflow=True)
    assert len(tail) == 25


def test_multi_from_bag_union(engine, sf_dir):
    # the reference wires multiple FROM relations into the same stage —
    # a bag union of their batches (logical_planner.rs:277-283)
    qid = engine.run_query_sync(
        f"select r_regionkey from read_files('{sf_dir}/region.parquet'), "
        f"read_files('{sf_dir}/region.parquet') where r_regionkey >= 0",
        mode="reference",
    )
    assert engine.status(qid) is QueryStatus.COMPLETE, engine.error(qid)
    assert engine.num_rows(qid) == 10  # 5 + 5, not 25 (no cross join)


def test_query_client_facade(engine, sf_dir):
    # AsyncQueryClient-shaped API (async_query_client.rs:40-154)
    from chapterhouseqe_spark.client import QueryClient

    client = QueryClient(engine)
    handle = client.run_query(
        f"select r_regionkey from read_files('{sf_dir}/region.parquet')",
        mode="reference",
    )
    assert client.wait_for_query(handle) is QueryStatus.COMPLETE
    assert client.get_query_status(handle) is QueryStatus.COMPLETE
    page = client.get_query_data(handle, 0, 3)
    assert len(page) == 3
    assert len(list(client.iter_query_data(handle, page_size=2))) == 5


def test_concurrent_queries(engine, sf_dir):
    # multi-query sessions: the reference's query handler tracks many
    # in-flight queries (query_handler_state.rs:104-117)
    qids = [
        engine.run_query(
            f"select n_nationkey from read_files('{sf_dir}/nation.parquet') "
            f"where n_nationkey % {k} = 0",
            mode="reference",
        )
        for k in (2, 3, 5, 7)
    ]
    for qid in qids:
        assert engine.wait(qid, timeout=120) is QueryStatus.COMPLETE, engine.error(qid)
    counts = [engine.num_rows(q) for q in qids]
    assert counts == [13, 9, 5, 4]  # multiples of k in 0..24


def test_fetch_before_complete_raises(engine, sf_dir):
    qid = engine.run_query_sync("select * from read_files('/nope/*.parquet')")
    with pytest.raises(RuntimeError):
        engine.fetch(qid, 0, 10)


def test_reference_mode_order_by_limit(engine, sf_dir):
    # the reference's own TODOs, implemented in its dialect
    qid = engine.run_query_sync(
        f"select n_nationkey, n_name from read_files('{sf_dir}/nation.parquet') "
        "where n_nationkey > 2 order by n_nationkey desc limit 4",
        mode="reference",
    )
    assert engine.status(qid) is QueryStatus.COMPLETE, engine.error(qid)
    rows = engine.fetch(qid, 0, 10)
    assert [r["n_nationkey"] for r in rows] == [24, 23, 22, 21]
    # multi-key ordering with expression
    qid2 = engine.run_query_sync(
        f"select n_regionkey, n_nationkey from read_files('{sf_dir}/nation.parquet') "
        "order by n_regionkey asc, n_nationkey desc limit 3",
        mode="reference",
    )
    rows2 = engine.fetch(qid2, 0, 10)
    assert [(r["n_regionkey"], r["n_nationkey"]) for r in rows2] == [
        (0, 20), (0, 15), (0, 10)
    ]


def test_materialize_partitioned(engine, sf_dir, tmp_path):
    out = str(tmp_path / "mat")
    n = engine.materialize(
        f"select o_orderstatus, o_orderkey, o_totalprice "
        f"from read_files('{sf_dir}/orders.parquet')",
        out,
        partition_by=["o_orderstatus"],
    )
    spark = engine.spark
    assert n == spark.read.parquet(f"{sf_dir}/orders.parquet").count()
    # hive-style partition dirs exist and partition pruning applies
    import os

    dirs = [d for d in os.listdir(out) if d.startswith("o_orderstatus=")]
    assert len(dirs) >= 2
    pruned = spark.read.parquet(out).filter("o_orderstatus = 'F'")
    plan = pruned._sc._jvm.PythonSQLUtils.explainString(
        pruned._jdf.queryExecution(), "formatted"
    )
    assert "PartitionFilters" in plan


# --------------------------------------------------------------------
# footer page reader ≡ the Spark read it replaced
# --------------------------------------------------------------------
TYPED_SQL = (
    "select n_nationkey as k, "
    "timestamp'2021-06-01 12:34:56.789' + make_dt_interval(0, n_nationkey) as ts, "
    "timestamp'2500-01-01 00:00:00' as ts_far, "
    "timestamp_ntz'2021-03-14 02:30:00.5' as ntz, "
    "date_add(date'2020-02-29', n_nationkey) as d, "
    "cast(n_nationkey / 3 as decimal(12, 4)) as dec, "
    "cast(n_name as binary) as bin, "
    "array(n_nationkey, null) as arr, "
    "map(n_name, n_regionkey) as m, "
    "named_struct('a', n_nationkey, 'b', n_name, 'c', array(1.5d)) as st, "
    "case when n_nationkey % 3 = 0 then null else n_name end as maybe, "
    "cast(null as timestamp) as ts_null "
    "from read_files('{sf}/nation.parquet')"
)


def _spark_page(engine, qid, lo, hi):
    from pyspark.sql import functions as F

    df = engine.spark.read.parquet(f"{engine.results_root}/{qid}")
    page = (
        df.filter((F.col("__row_id") >= lo) & (F.col("__row_id") < hi))
        .orderBy("__row_id")
        .drop("__row_id")
    )
    return [r.asDict() for r in page.collect()]


def _assert_pages_match(engine, qid):
    n = engine.num_rows(qid)
    for off in range(0, n + 8, 7):  # forward, incl. a page past the end
        assert engine.fetch(qid, off, 7) == _spark_page(engine, qid, off, off + 7)
    for off in (0, 3, 10, n - 1):  # reverse pages ending at `off`
        lo = max(0, off - 5)
        assert engine.fetch(qid, off, 6, forward=False) == _spark_page(
            engine, qid, lo, off + 1
        )
    over = engine.fetch(qid, 2, 10, forward=False, allow_overflow=True)
    assert over == _spark_page(engine, qid, 0, min(10, n))
    assert engine.fetch(qid, n + 100, 10) == []


def test_footer_pages_match_spark_read(engine, sf_dir):
    engine.max_records_per_file = 4  # 20 rows → at least 5 files
    qid = engine.run_query_sync(
        f"select * from read_files('{sf_dir}/nation.parquet') "
        "where n_nationkey % 2 = 0 or n_nationkey > 10"
    )
    assert engine.status(qid) is QueryStatus.COMPLETE, engine.error(qid)
    _assert_pages_match(engine, qid)
    assert len(engine._state(qid).pages.files) > 1
    empty = engine.run_query_sync(
        f"select * from read_files('{sf_dir}/nation.parquet') where n_nationkey < 0"
    )
    assert engine.status(empty) is QueryStatus.COMPLETE, engine.error(empty)
    assert engine.fetch(empty, 0, 10) == _spark_page(engine, empty, 0, 10) == []
    assert engine.fetch(empty, 0, 10, forward=False, allow_overflow=True) == []


def test_file_uri_results_root_pages_from_footers(spark, sf_dir, tmp_path):
    eng = QueryEngine(
        spark,
        results_root=f"file://{tmp_path}/results",
        registry=ConnectionRegistry(default_base=sf_dir),
    )
    qid = eng.run_query_sync(f"select * from read_files('{sf_dir}/region.parquet')")
    assert eng.status(qid) is QueryStatus.COMPLETE, eng.error(qid)
    assert eng.fetch(qid, 1, 3) == _spark_page(eng, qid, 1, 4)
    assert eng._state(qid).pages is not False  # served by the footer reader


def test_results_spark_may_not_have_written_locally_page_through_spark(
    engine, spark, sf_dir, monkeypatch
):
    """A root without a scheme resolves against ``fs.defaultFS``; when
    that is not ``file:``, or the master is not local, the footer reader
    steps aside and pages come from a Spark read."""
    from chapterhouseqe_spark.engine import _local_dir

    # session settings reach the Hadoop conf Spark writes with
    spark.conf.set("fs.defaultFS", "hdfs://localhost:9")
    try:
        assert _local_dir(spark, "/tmp/chqe_query_results/q") is None
        assert _local_dir(spark, "file:/tmp/chqe_query_results/q") == (
            "/tmp/chqe_query_results/q"
        )
    finally:
        spark.conf.unset("fs.defaultFS")
    assert _local_dir(spark, "/tmp/chqe_query_results/q") == (
        "/tmp/chqe_query_results/q"
    )
    assert _local_dir(spark, "hdfs://localhost:9/r") is None

    class ClusterContext:
        master = "spark://localhost:7077"

    class ClusterSession:
        sparkContext = ClusterContext()

    assert _local_dir(ClusterSession(), "/tmp/chqe_query_results/q") is None

    from chapterhouseqe_spark import engine as engine_mod

    monkeypatch.setattr(engine_mod, "_local_dir", lambda spark, path: None)
    qid = engine.run_query_sync(f"select * from read_files('{sf_dir}/region.parquet')")
    assert engine.status(qid) is QueryStatus.COMPLETE, engine.error(qid)
    assert engine.fetch(qid, 3, 3, forward=False) == _spark_page(engine, qid, 1, 4)
    assert engine._state(qid).pages is False


@pytest.mark.parametrize("tz", [None, "America/Los_Angeles"])
def test_footer_pages_match_spark_read_typed(engine, sf_dir, tz):
    """Every value type comes back as ``collect()`` gives it, also when
    the Python process is not in UTC (Spark-written timestamps are UTC
    instants that both paths turn into naive local datetimes)."""
    import os
    import time

    old = os.environ.get("TZ")
    if tz is not None:
        os.environ["TZ"] = tz
        time.tzset()
    try:
        engine.max_records_per_file = 4
        qid = engine.run_query_sync(TYPED_SQL.format(sf=sf_dir))
        assert engine.status(qid) is QueryStatus.COMPLETE, engine.error(qid)
        _assert_pages_match(engine, qid)
        row = engine.fetch(qid, 1, 1)[0]
        assert isinstance(row["bin"], bytearray) and row["maybe"] is not None
        assert row["ts_null"] is None and row["st"]["c"] == [1.5]
    finally:
        if old is None:
            os.environ.pop("TZ", None)
        else:
            os.environ["TZ"] = old
        time.tzset()


def test_failed_query_releases_persisted_frame(engine, spark):
    """The row-id frame is persisted; a query that fails while its rows
    are numbered, after the persist or in its write must still release
    it."""
    jsc = spark.sparkContext._jsc

    def persisted():
        return set(jsc.getPersistentRDDs().keySet())

    before = persisted()
    for sql in (
        "select raise_error('boom') as x from range(10)",  # numbering fails
        "select 1 as a, 2 as a",  # fails after the persist
        "select make_interval(0, 0, 0, 1) as i from range(3)",  # write fails
    ):
        qid = engine.run_query_sync(sql)
        assert engine.status(qid) is QueryStatus.ERROR
        assert engine.error(qid)
    assert persisted() <= before


@pytest.mark.parametrize(
    "sql, row",
    [
        ("select 1 as `a.b`, 2 as a", (1, 2)),
        ("select 1 as `a.b`, 2 as a, 3 as `c``d`", (1, 2, 3)),
    ],
)
def test_dotted_column_names_complete(engine, sql, row):
    """Row ids re-select the result's columns by quoted name, so a dot
    or a backtick in a name is not parsed as SQL."""
    qid = engine.run_query_sync(sql)
    assert engine.status(qid) is QueryStatus.COMPLETE, engine.error(qid)
    assert [tuple(r.values()) for r in engine.fetch(qid)] == [row]


@pytest.mark.parametrize(
    "sql, column",
    [
        ("select interval '1' year as ym", "'ym'"),
        (
            "select 1 as k, array(named_struct('d', interval '2' month)) as s",
            "'s.element.d'",
        ),
    ],
)
def test_year_month_interval_results_are_rejected(engine, sql, column):
    """No page can return a year-month interval (no Arrow conversion,
    no ``fromInternal``); the query fails and names the column instead
    of completing with a result every fetch of which raises."""
    qid = engine.run_query_sync(sql)
    assert engine.status(qid) is QueryStatus.ERROR
    assert column in engine.error(qid)
    assert "year-month interval" in engine.error(qid)


def test_row_groups_without_statistics_are_read_for_every_page(tmp_path):
    """A row group whose footer has no row-id statistics is read for
    every page; pages stay exact."""
    import pyarrow as pa
    import pyarrow.dataset as ds
    import pyarrow.parquet as pq
    from pyspark.sql.types import StringType, StructField, StructType

    from chapterhouseqe_spark.engine import _read_page

    def part(ids):
        return pa.table({"v": [f"r{i}" for i in ids], "__row_id": ids})

    # two files, three-row groups, one with statistics and one without
    pq.write_table(part(list(range(0, 7))), tmp_path / "part-0.parquet", row_group_size=3)
    pq.write_table(
        part(list(range(7, 12))),
        tmp_path / "part-1.parquet",
        row_group_size=3,
        write_statistics=False,
    )
    (tmp_path / "_SUCCESS").write_text("")
    dataset = ds.dataset(str(tmp_path), format="parquet")
    schema = StructType([StructField("v", StringType())])
    for lo, hi in ((0, 12), (2, 9), (8, 10), (11, 40), (12, 20)):
        rows = _read_page(dataset, schema, lo, hi)
        assert rows == [{"v": f"r{i}"} for i in range(lo, min(hi, 12))]


def test_large_row_groups_page_through_spark(engine, sf_dir, monkeypatch):
    """Pyarrow decodes whole row groups; a result whose row groups are
    larger than the cap is paged by a Spark read."""
    from chapterhouseqe_spark import engine as engine_mod

    monkeypatch.setattr(engine_mod, "FOOTER_PAGE_MAX_GROUP_BYTES", 100)
    qid = engine.run_query_sync(f"select * from read_files('{sf_dir}/nation.parquet')")
    assert engine.status(qid) is QueryStatus.COMPLETE, engine.error(qid)
    assert engine.fetch(qid, 5, 4) == _spark_page(engine, qid, 5, 9)
    assert engine._state(qid).pages is False


def test_variant_results_page_through_spark(engine):
    """pyarrow cannot read a variant column's footer; such results are
    paged by a Spark read of the same row-id range."""
    engine.max_records_per_file = 2
    qid = engine.run_query_sync(
        "select id, parse_json(concat('{\"a\": ', id, '}')) as v from range(5)"
    )
    assert engine.status(qid) is QueryStatus.COMPLETE, engine.error(qid)
    rows = engine.fetch(qid, 3, 3, forward=False)
    assert [(r["id"], r["v"].toJson()) for r in rows] == [
        (i, f'{{"a":{i}}}') for i in (1, 2, 3)
    ]


def _persisted_rdds(spark) -> set:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


# (sql, ordered, max_records_per_file): numbered results paged through
# iter_results must equal collect(), in order where the SQL orders
ROW_ID_CASES = {
    "order_by": ("select id, id % 97 as m from range(0, 20000, 1, 7) "
                 "order by m, id desc", True, None),
    "order_by_limit": ("select id, id % 97 as m from range(0, 20000, 1, 7) "
                       "order by m, id desc limit 777", True, None),
    "repartition_hint": ("select /*+ REPARTITION(5) */ id, id * 2 as d "
                         "from range(0, 3000)", False, None),
    # several partitions and no exchange: the distributed-sequence node
    # would cache this input itself if its own cache were on
    "no_exchange": ("select id from range(0, 3000, 1, 6)", True, None),
    "empty": ("select id from range(0, 3000, 1, 6) where id < 0", True, None),
    "max_records_per_file": ("select id, id % 11 as m from range(0, 2000, 1, 4) "
                             "order by m, id", True, 300),
}


@pytest.mark.parametrize("case", list(ROW_ID_CASES))
def test_row_ids_page_like_collect(engine, spark, case):
    """Row ids are dense and follow the result's order, so the pages
    read back equal ``collect()``; the query releases everything it
    persisted."""
    sql, ordered, max_records = ROW_ID_CASES[case]
    engine.max_records_per_file = max_records
    before = _persisted_rdds(spark)
    qid = engine.run_query_sync(sql)
    assert engine.status(qid) is QueryStatus.COMPLETE, engine.error(qid)
    assert _persisted_rdds(spark) == before
    expected = [r.asDict() for r in spark.sql(sql).collect()]
    got = list(engine.iter_results(qid, page_size=333))
    assert engine.num_rows(qid) == len(expected)
    if ordered:
        assert got == expected
    else:
        key = lambda r: tuple(r.values())
        assert sorted(got, key=key) == sorted(expected, key=key)
    if max_records:
        assert len(engine._state(qid).pages.files) >= len(expected) // max_records


_INDEX_CACHE = "pandas_on_Spark.compute.default_index_cache"


def test_result_write_numbers_rows_in_its_own_job(engine, spark):
    """The result write's executed plan numbers rows with one
    distributed-sequence node and joins nothing back: no per-partition
    counts, no broadcast of offsets. The node's own input cache is off
    (its value is JSON, as pandas-on-Spark stores its options)."""
    assert spark.conf.get(_INDEX_CACHE).strip('"') == "NONE"
    qid = engine.run_query_sync(
        "select id, id % 7 as m from range(0, 5000, 1, 4) order by m"
    )
    assert engine.status(qid) is QueryStatus.COMPLETE, engine.error(qid)
    executions = spark._jsparkSession.sharedState().statusStore().executionsList()
    plans = [
        executions.apply(i).physicalPlanDescription()
        for i in range(executions.size())
    ]
    (plan,) = [p for p in plans if qid in p]
    # the tree of the final adaptive plan, before its initial plan and
    # the per-node details
    tree = plan.split("\n\n\n")[0]
    final = re.split(r"^\+- == Initial Plan ==", tree, flags=re.M)[0]
    assert final.count("AttachDistributedSequence") == 1, final
    assert "BroadcastExchange" not in final, final
