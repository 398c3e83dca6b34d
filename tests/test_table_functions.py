"""Table-function registry tests — a second registered function working
end-to-end proves the extension point (VERDICT r1 'done' criterion #8)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from chapterhouseqe_spark.connections import ConnectionRegistry
from chapterhouseqe_spark.engine import QueryEngine, QueryStatus
from chapterhouseqe_spark.sql.parser import TableFunctionSource, parse_select
from chapterhouseqe_spark.sql.table_functions import (
    TableFunctionError,
    default_table_functions,
)


@pytest.fixture
def engine(spark, sf_dir, tmp_path):
    return QueryEngine(
        spark,
        results_root=str(tmp_path / "results"),
        registry=ConnectionRegistry(default_base=sf_dir),
    )


def test_parser_generic_table_function():
    stmt = parse_select("select * from read_table('mytbl') t")
    src = stmt.source
    assert isinstance(src, TableFunctionSource)
    assert src.name == "read_table"
    assert src.args == ["mytbl"]
    assert src.alias == "t"


def test_read_table_reference_mode(engine, spark, sf_dir):
    spark.read.parquet(f"{sf_dir}/region.parquet").createOrReplaceTempView("tf_region")
    qid = engine.run_query_sync(
        "select r_name from read_table('tf_region') where r_regionkey > 1",
        mode="reference",
    )
    assert engine.status(qid) is QueryStatus.COMPLETE, engine.error(qid)
    assert engine.num_rows(qid) == 3


def test_read_table_spark_mode(engine, spark, sf_dir):
    spark.read.parquet(f"{sf_dir}/nation.parquet").createOrReplaceTempView("tf_nation")
    qid = engine.run_query_sync(
        "select count(*) as n from read_table('tf_nation') "
        "join read_files('region.parquet') on n_regionkey = r_regionkey"
    )
    assert engine.status(qid) is QueryStatus.COMPLETE, engine.error(qid)
    assert engine.fetch(qid, 0, 1)[0]["n"] == 25


def test_custom_function_registration(spark, sf_dir, tmp_path):
    fns = default_table_functions()

    def build_numbers(spark_, args, kwargs, connections):
        return spark_.range(int(args[0])).select(F.col("id").alias("n"))

    fns.register("numbers", build_numbers, "0..n-1")
    engine = QueryEngine(
        spark,
        results_root=str(tmp_path / "results"),
        registry=ConnectionRegistry(default_base=sf_dir),
        table_functions=fns,
    )
    qid = engine.run_query_sync(
        "select n, n * 2 as dbl from numbers('5') where n > 1", mode="reference"
    )
    assert engine.status(qid) is QueryStatus.COMPLETE, engine.error(qid)
    assert [r["dbl"] for r in engine.fetch(qid, 0, 10)] == [4, 6, 8]


def test_unknown_function_errors(engine):
    qid = engine.run_query_sync("select * from frobnicate('x')", mode="reference")
    assert engine.status(qid) is QueryStatus.ERROR
    assert "unknown table function" in engine.error(qid)


def test_registry_validation():
    fns = default_table_functions()
    with pytest.raises(TableFunctionError):
        fns.get("nope")
    assert "read_files" in fns and "read_table" in fns


def test_custom_python_datasource(spark):
    # PySpark DataSource API: partition-parallel deterministic source
    from chapterhouseqe_spark.sources.synthetic import register_synthetic_source

    register_synthetic_source(spark)
    df = (
        spark.read.format("chqe_synthetic")
        .option("rows", 50)
        .option("partitions", 5)
        .load()
    )
    rows = df.collect()
    assert len(rows) == 50
    assert df.rdd.getNumPartitions() == 5
    by_id = {r["id"]: r for r in rows}
    assert by_id[10]["value"] == (10 * 37 % 1000) / 10.0
    assert by_id[13]["label"] == "l3"


def test_custom_python_datasource_streaming(spark):
    # SimpleDataSourceStreamReader: the same deterministic rows arrive
    # incrementally (batch_rows per trigger); the aggregate over all
    # micro-batches must equal the batch source's answer.
    from chapterhouseqe_spark.sources.synthetic import register_synthetic_source
    from chapterhouseqe_spark.streaming.windows import run_stream

    register_synthetic_source(spark)
    stream = (
        spark.readStream.format("chqe_synthetic")
        .option("batch_rows", 7)
        .option("max_rows", 50)
        .load()
    )
    got = run_stream(stream, "synth_stream").collect()
    assert len(got) == 50
    batch = spark.read.format("chqe_synthetic").option("rows", 50).load()
    assert sorted(map(tuple, got)) == sorted(map(tuple, batch.collect()))


def test_python_udtf_lateral(spark):
    # §2.10: Python UDTF as a SQL lateral table function
    from chapterhouseqe_spark.functions.udfs import register_default_udtfs

    assert "chqe_ngrams" in register_default_udtfs(spark)
    spark.createDataFrame(
        [(1, "a b c"), (2, "x y")], "doc_id int, text string"
    ).createOrReplaceTempView("udtf_docs")
    rows = spark.sql(
        """
        SELECT d.doc_id, g.ngram, g.pos
        FROM udtf_docs d, LATERAL chqe_ngrams(d.text, 2) g
        ORDER BY d.doc_id, g.pos
        """
    ).collect()
    assert [tuple(r) for r in rows] == [
        (1, "a b", 0),
        (1, "b c", 1),
        (2, "x y", 0),
    ]


def test_file_sink_two_phase_commit(spark, tmp_path):
    """chqe_filesink: committed output = exactly the input rows, the
    manifest counts match, and no staging files survive a successful
    commit."""
    import json
    import os

    from chapterhouseqe_spark.sources.filesink import register_file_sink

    register_file_sink(spark)
    path = str(tmp_path / "sink")
    df = spark.range(0, 1000).selectExpr(
        "id", "cast(id * 2 as double) as v", "concat('r', id % 7) as tag"
    ).repartition(4)
    df.write.format("chqe_filesink").mode("append").save(path)

    with open(os.path.join(path, "_SINK_MANIFEST.json")) as fh:
        man = json.load(fh)
    assert man["rows"] == 1000
    assert len(man["files"]) == 4
    assert not [f for f in os.listdir(path) if f.startswith("_staging-")]

    rows = []
    for entry in man["files"]:
        with open(os.path.join(path, entry["file"])) as fh:
            lines = [json.loads(l) for l in fh]
        assert len(lines) == entry["rows"]
        rows.extend(lines)
    assert sorted(r["id"] for r in rows) == list(range(1000))
    assert all(r["v"] == r["id"] * 2.0 for r in rows)


def test_spark_mode_read_files_prune_kwargs(spark, sf_dir, tmp_path):
    """Full-SQL mode opts into manifest skipping via
    prune_col/prune_lo/prune_hi — fewer input files, identical rows."""
    from chapterhouseqe_spark.connections import ConnectionRegistry
    from chapterhouseqe_spark.engine import QueryEngine
    from chapterhouseqe_spark.operators.layout import (
        cluster_write,
        write_manifest,
    )

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    path = str(tmp_path / "li")
    cluster_write(li, path, ["l_orderkey"], num_files=8)
    write_manifest(path, ["l_orderkey"], spark=spark)

    eng = QueryEngine(
        spark,
        results_root=str(tmp_path / "res"),
        registry=ConnectionRegistry(default_base=str(tmp_path)),
    )
    pruned = eng.dataframe_for(
        "select sum(l_quantity) as q from read_files('li/*.parquet', "
        "prune_col=>'l_orderkey', prune_lo=>'100', prune_hi=>'120') "
        "where l_orderkey between 100 and 120"
    )
    plain = eng.dataframe_for(
        "select sum(l_quantity) as q from read_files('li/*.parquet') "
        "where l_orderkey between 100 and 120"
    )
    assert pruned.collect() == plain.collect()

    import pytest

    from chapterhouseqe_spark.sql.table_functions import (
        TableFunctionError,
        default_table_functions,
    )

    fns = default_table_functions()
    with pytest.raises(TableFunctionError, match="prune_lo"):
        fns.get("read_files").build(
            spark, ["li/*.parquet"], {"prune_col": "l_orderkey"},
            ConnectionRegistry(default_base=str(tmp_path)),
        )


def test_file_sink_append_then_overwrite_modes(spark, tmp_path):
    """commit() honors the save mode (r7 advisor finding): append
    continues part numbering after the prior manifest instead of
    os.replace-ing over live part files; overwrite removes every prior
    part so a glob-reader can't see stale higher-numbered parts from a
    larger earlier commit."""
    import json
    import os

    from chapterhouseqe_spark.sources.filesink import register_file_sink

    register_file_sink(spark)
    path = str(tmp_path / "sink_modes")

    spark.range(0, 100).repartition(4).write.format(
        "chqe_filesink"
    ).mode("append").save(path)
    spark.range(100, 150).repartition(2).write.format(
        "chqe_filesink"
    ).mode("append").save(path)

    with open(os.path.join(path, "_SINK_MANIFEST.json")) as fh:
        man = json.load(fh)
    assert man["rows"] == 150
    assert len(man["files"]) == 6  # 4 + 2, no clobbered parts
    rows = []
    for entry in man["files"]:
        with open(os.path.join(path, entry["file"])) as fh:
            rows.extend(json.loads(l) for l in fh)
    assert sorted(r["id"] for r in rows) == list(range(150))

    # overwrite with a SMALLER commit: stale parts 2..5 must be gone
    spark.range(0, 20).repartition(2).write.format(
        "chqe_filesink"
    ).mode("overwrite").save(path)
    with open(os.path.join(path, "_SINK_MANIFEST.json")) as fh:
        man = json.load(fh)
    assert man["rows"] == 20
    assert len(man["files"]) == 2
    on_disk = sorted(
        f for f in os.listdir(path) if f.startswith("part-")
    )
    assert on_disk == sorted(e["file"] for e in man["files"])
