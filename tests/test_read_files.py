"""``read_files`` rewrite + loader tests (read_files_task.rs:64-199 analog,
plus the ADVICE r1 findings: view-name collisions and string-literal
rewriting).
"""

from __future__ import annotations

import re

from chapterhouseqe_spark.connections import ConnectionRegistry
from chapterhouseqe_spark.sql.read_files import load_glob, rewrite_read_files


def test_load_glob_parquet(spark, sf_dir):
    df = load_glob(spark, f"{sf_dir}/region.parquet")
    assert df.count() == 5


def test_connection_relative_path(spark, sf_dir):
    registry = ConnectionRegistry(default_base="/nowhere")
    registry.register("testdata", sf_dir)
    df = load_glob(spark, "region.parquet", "testdata", registry)
    assert df.count() == 5


def test_rewrite_produces_runnable_sql(spark, sf_dir):
    sql = rewrite_read_files(
        spark, f"select count(*) as n from read_files('{sf_dir}/nation.parquet')"
    )
    assert "read_files(" not in sql
    assert spark.sql(sql).collect()[0]["n"] == 25


def test_rewrite_distinct_sources_get_distinct_views(spark, sf_dir):
    # ADVICE r1: distinct sources must land in distinct views; a source
    # repeated in one statement resolves to one shared view (one scan).
    region = f"read_files('{sf_dir}/region.parquet')"
    a = rewrite_read_files(spark, f"select * from {region}")
    c = rewrite_read_files(spark, f"select * from read_files('{sf_dir}/nation.parquet')")
    assert a != c
    both = rewrite_read_files(
        spark, f"select * from {region} x join {region} y using (r_regionkey)"
    )
    views = re.findall(r"\bread_files_\w+", both)
    assert len(views) == 2 and views[0] == views[1]
    assert spark.sql(both).count() == 5


def test_rewrite_skips_string_literals(spark, sf_dir):
    # an occurrence inside a string literal is data, not a call site
    sql = (
        f"select 'read_files(''/nope/*.parquet'')' as s "
        f"from read_files('{sf_dir}/region.parquet')"
    )
    rewritten = rewrite_read_files(spark, sql)
    assert "read_files(''/nope" in rewritten  # literal untouched
    rows = spark.sql(rewritten).collect()
    assert len(rows) == 5
    assert rows[0]["s"] == "read_files('/nope/*.parquet')"


def test_csv_and_json_sources(spark, sf_dir, tmp_path):
    # CSV/JSON are declared-but-missing in the reference (README
    # "Supported SQL" unchecked); we support them by suffix.
    src = spark.read.parquet(f"{sf_dir}/region.parquet")
    csv_dir = str(tmp_path / "region_csv")
    json_dir = str(tmp_path / "region_json")
    src.coalesce(1).write.mode("overwrite").option("header", "true").csv(csv_dir)
    src.coalesce(1).write.mode("overwrite").json(json_dir)
    csv_df = load_glob(spark, csv_dir + "/*.csv")
    json_df = load_glob(spark, json_dir + "/*.json")
    assert csv_df.count() == 5
    assert json_df.count() == 5
    assert set(csv_df.columns) == {"r_regionkey", "r_name"}


def test_rewrite_path_with_parens_and_comma(spark, sf_dir, tmp_path):
    # ')' and ',' are legal path characters; the quote-aware scanner must
    # not terminate the call early or mis-split the argument list.
    weird = tmp_path / "odd (v1), final"
    spark.read.parquet(f"{sf_dir}/region.parquet").coalesce(1).write.mode(
        "overwrite"
    ).parquet(str(weird / "region.parquet"))
    sql = rewrite_read_files(
        spark, f"select count(*) as n from read_files('{weird}/region.parquet')"
    )
    assert "read_files(" not in sql
    assert spark.sql(sql).collect()[0]["n"] == 5


def test_rewrite_nonliteral_arg_raises(spark):
    import pytest

    with pytest.raises(ValueError, match="not a string literal"):
        rewrite_read_files(spark, "select * from read_files(some_column)")


def test_rewrite_unbalanced_parens_raises(spark):
    import pytest

    with pytest.raises(ValueError, match="unbalanced"):
        rewrite_read_files(spark, "select * from read_files('x.parquet'")


def test_rewrite_literal_with_call_then_real_call(spark, sf_dir):
    # a quoted literal CONTAINING a call plus a genuine call later in the
    # same statement: parity skips the first, scanner rewrites the second
    sql = (
        f"select 'use read_files(''a,b).parquet'') please' as hint, r_name "
        f"from read_files('{sf_dir}/region.parquet')"
    )
    rewritten = rewrite_read_files(spark, sql)
    assert "read_files(''a,b)" in rewritten
    assert rewritten.count("read_files(") == 1  # only the literal remains
    assert len(spark.sql(rewritten).collect()) == 5


def test_connection_hadoop_conf_applied_on_scan(spark, sf_dir):
    # S3-style connection profiles can't reach real object storage in
    # this sandbox, but the wiring CAN be pinned: a connection carrying
    # per-bucket s3a credentials must land them in the live Hadoop
    # configuration before its first scan resolves.
    from chapterhouseqe_spark.connections import ConnectionRegistry
    from chapterhouseqe_spark.sql.read_files import load_glob

    reg = ConnectionRegistry(default_base=sf_dir)
    reg.register(
        "lake",
        sf_dir,  # local base so the scan itself works
        hadoop_conf={
            "fs.s3a.bucket.chqe-test.access.key": "AKTEST",
            "fs.s3a.bucket.chqe-test.endpoint": "http://minio.local:9000",
        },
    )
    df = load_glob(spark, "region.parquet", connection="lake", registry=reg)
    assert df.count() > 0
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    assert hconf.get("fs.s3a.bucket.chqe-test.access.key") == "AKTEST"
    assert hconf.get("fs.s3a.bucket.chqe-test.endpoint") == "http://minio.local:9000"


def test_reference_query_prunes_files_via_manifest(spark, sf_dir, tmp_path):
    """A read_files query over a manifest-backed clustered directory
    reads ONLY the files whose [min,max] intersect the WHERE bounds —
    observed via df.inputFiles() — and returns exactly the unpruned
    result."""
    from chapterhouseqe_spark.connections import ConnectionRegistry
    from chapterhouseqe_spark.engine import QueryEngine
    from chapterhouseqe_spark.operators.layout import (
        cluster_write,
        write_manifest,
    )

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    path = str(tmp_path / "li_by_orderkey")
    cluster_write(li, path, ["l_orderkey"], num_files=8)
    write_manifest(path, ["l_orderkey"], spark=spark)

    eng = QueryEngine(
        spark,
        results_root=str(tmp_path / "res"),
        registry=ConnectionRegistry(default_base=str(tmp_path)),
    )
    sql = (
        "select l_orderkey, l_quantity from "
        "read_files('li_by_orderkey/*.parquet') "
        "where l_orderkey >= 100 and l_orderkey <= 120"
    )
    df = eng.dataframe_for(sql, mode="reference")
    assert 1 <= len(df.inputFiles()) <= 2, "manifest did not prune"

    expected = sorted(
        (r.l_orderkey, r.l_quantity)
        for r in li.filter(
            "l_orderkey >= 100 and l_orderkey <= 120"
        ).select("l_orderkey", "l_quantity").collect()
    )
    got = sorted((r.l_orderkey, r.l_quantity) for r in df.collect())
    assert got == expected and got

    # a directory WITHOUT a manifest takes the plain path untouched
    plain = str(tmp_path / "plain")
    li.limit(100).write.parquet(plain)
    df2 = eng.dataframe_for(
        "select l_orderkey from read_files('plain/*.parquet') "
        "where l_orderkey >= 0",
        mode="reference",
    )
    assert df2.count() == 100


def test_manifest_prune_bounds_extraction():
    """Conjunct walking: AND-splits, mirrored literals, equality as a
    closed point, non-numeric and OR conjuncts ignored."""
    from chapterhouseqe_spark.sql.manifest_prune import numeric_bounds
    from chapterhouseqe_spark.sql.parser import parse_select

    stmt = parse_select(
        "select a from read_files('x.parquet') "
        "where a >= 5 and 20 > a and b = 7 and name = 'y' and (d = 1 or d = 2)"
    )
    b = numeric_bounds(stmt.where)
    assert b["a"] == (5.0, 20.0)
    assert b["b"] == (7.0, 7.0)
    # string equality and OR-disjuncts never contribute bounds
    assert "name" not in b and "d" not in b


def test_manifest_prune_bigint_bounds_stay_exact():
    """r7 advisor finding: int literals must stay Python ints — a
    BIGINT above 2^53 coerced through float() rounds to a neighboring
    value and can wrongly prune a file whose exact int min/max
    brackets the true literal (pruning must never change results)."""
    from chapterhouseqe_spark.sql.manifest_prune import numeric_bounds
    from chapterhouseqe_spark.sql.parser import parse_select

    big = 9007199254740993  # 2^53 + 1: float(big) == 2^53
    stmt = parse_select(
        f"select a from read_files('x.parquet') where a = {big}"
    )
    lo, hi = numeric_bounds(stmt.where)["a"]
    assert lo == big and isinstance(lo, int)
    assert hi == big and isinstance(hi, int)
    # the file-keep predicate with exact int stats bracketing the
    # literal: [2^53, 2^53+2] must NOT be pruned (float bounds would
    # prune it via mx < lo after lo rounded up... or keep wrongly) —
    # with int bounds the comparison is exact
    mn, mx = big - 1, big + 1
    assert not (mn > hi or mx < lo)
    # and a file strictly above the literal IS prunable
    assert (big + 1) > hi or False
