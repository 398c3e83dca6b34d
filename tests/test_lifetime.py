"""Persisted intermediates are owned by the query that made them:
``session.keep`` records each frame in the innermost ``released``
scope, and the scope unpersists it when the query ends, normally or by
an error, without touching frames other queries kept. The temp views a
query names its sources by go the same way."""

from __future__ import annotations

import sys
import threading
import time

import pytest
from pyspark import StorageLevel

from chapterhouseqe_spark.connections import ConnectionRegistry
from chapterhouseqe_spark.engine import QueryEngine, QueryStatus
from chapterhouseqe_spark.queries.registry import get_queries
from chapterhouseqe_spark.session import checkpoint, keep, released
from chapterhouseqe_spark.sql.table_functions import default_table_functions


def _persisted(spark) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


def _is_cached(df) -> bool:
    # asks the session's cache manager, not the frame's own flag
    return df.storageLevel != StorageLevel(False, False, False, False)


@pytest.mark.parametrize(
    "name",
    [
        "dedup_minhash_lsh",
        "pagerank_supplier_graph",
        "text_bigram_quality",
        "tpch_q20_excess_supplier",
        "source_similarity_minhash",
    ],
)
def test_registry_builder_releases_what_it_persisted(spark, sf_dir, name):
    before = _persisted(spark)
    with released():
        df = get_queries()[name](spark, sf_dir)
        df.write.format("noop").mode("overwrite").save()
        assert _persisted(spark) - before, f"{name} persisted nothing"
    assert _persisted(spark) <= before


def test_frame_kept_before_an_error_is_released(spark):
    before = _persisted(spark)
    with pytest.raises(RuntimeError, match="boom"):
        with released():
            df = keep(spark.range(17))
            df.count()
            checkpoint(spark.range(31))
            assert _is_cached(df) and len(_persisted(spark) - before) == 2
            raise RuntimeError("boom")
    assert not _is_cached(df)
    assert _persisted(spark) <= before


def test_inner_scope_releases_only_its_own_frames(spark):
    with released():
        outer = keep(spark.range(19))
        with released():
            inner = keep(spark.range(23))
        assert _is_cached(outer) and not _is_cached(inner)
    assert not _is_cached(outer)


def test_scopes_on_many_threads_release_only_their_own(spark):
    """More threads than cores, each with its own scope: every frame is
    still cached when its own scope closes, whatever other scopes
    closed first, and none is left cached."""
    n = 8
    barrier = threading.Barrier(n, timeout=120)
    frames: list = [None] * n
    problems: list = []

    def work(i):
        try:
            with released():
                frames[i] = keep(spark.range(100 + i))
                frames[i].count()
                barrier.wait()
                time.sleep(0.01 * (i % 3))
                if not _is_cached(frames[i]):
                    problems.append(f"frame {i} released by another scope")
        except Exception as exc:  # reported by the assert below
            problems.append(repr(exc))

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        threads = [threading.Thread(target=work, args=(i,)) for i in range(n)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(120)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert not problems, problems
    assert not any(_is_cached(df) for df in frames)


def _engine(spark, sf_dir, tmp_path, build):
    functions = default_table_functions()
    functions.register("kept", build)
    return QueryEngine(
        spark,
        results_root=str(tmp_path / "results"),
        registry=ConnectionRegistry(default_base=sf_dir),
        table_functions=functions,
    )


def test_builder_error_after_keep_releases_the_frame(spark, sf_dir, tmp_path):
    frames = []

    def build(spark, args, kwargs, connections):
        frames.append(keep(spark.range(29)))
        frames[-1].count()
        raise ValueError("builder failed after keep")

    engine = _engine(spark, sf_dir, tmp_path, build)
    before = _persisted(spark)
    qid = engine.run_query_sync("select * from kept('x')")
    assert engine.status(qid) is QueryStatus.ERROR
    assert "builder failed after keep" in engine.error(qid)
    assert frames and not _is_cached(frames[0])
    assert _persisted(spark) <= before


def test_concurrent_queries_release_only_their_own_frames(spark, sf_dir, tmp_path):
    """Query ``a`` keeps a frame and blocks in its builder while query
    ``b`` runs to the end; ``b``'s scope must leave ``a``'s frame
    cached, and ``a``'s scope releases it when ``a`` ends."""
    frames: dict[str, object] = {}
    a_kept, a_go = threading.Event(), threading.Event()

    def build(spark, args, kwargs, connections):
        name = args[0]
        df = keep(spark.range(1000 if name == "a" else 1001))
        df.count()
        frames[name] = df
        if name == "a":
            a_kept.set()
            assert a_go.wait(120), "query a was never let go"
        return df

    engine = _engine(spark, sf_dir, tmp_path, build)
    before = _persisted(spark)
    qa = engine.run_query("select id from kept('a')")
    try:
        assert a_kept.wait(120), engine.error(qa)
        qb = engine.run_query_sync("select id from kept('b')")
        assert engine.status(qb) is QueryStatus.COMPLETE, engine.error(qb)
        assert engine.num_rows(qb) == 1001
        assert not _is_cached(frames["b"])
        assert _is_cached(frames["a"]), "query b released query a's frame"
    finally:
        a_go.set()
    assert engine.wait(qa, 120) is QueryStatus.COMPLETE, engine.error(qa)
    assert engine.num_rows(qa) == 1000
    assert not _is_cached(frames["a"])
    assert _persisted(spark) <= before


def _temp_views(session) -> set[str]:
    return {t.name for t in session.catalog.listTables() if t.isTemporary}


# registry builders that name their input tables in SQL text
@pytest.mark.parametrize(
    "name",
    [
        "named_table_scan",
        "in_subquery",
        "scalar_subquery",
        "udf_pandas_charge",
        "grouping_sets_mix",
        "lateral_topn_per_key",
        "recursive_cte_hierarchy",
        "corpus_composition_report",
    ],
)
def test_registry_builder_leaves_no_temp_view(spark, sf_dir, name):
    # a new session shares the context but starts with no temp views,
    # so whatever view it holds afterwards is the builder's
    fresh = spark.newSession()
    before = _temp_views(spark)
    with released():
        get_queries()[name](fresh, sf_dir).write.format("noop").mode("overwrite").save()
    assert not _temp_views(fresh)
    assert _temp_views(spark) <= before


def test_read_files_query_leaves_no_temp_view(spark, sf_dir, tmp_path):
    fresh = spark.newSession()
    engine = QueryEngine(
        fresh,
        results_root=str(tmp_path / "results"),
        registry=ConnectionRegistry(default_base=sf_dir),
    )
    with released():
        qid = engine.run_query_sync(
            "select count(*) as n from read_files('nation.parquet') a "
            "join read_files('region.parquet') r on a.n_regionkey = r.r_regionkey"
        )
    assert engine.status(qid) is QueryStatus.COMPLETE, engine.error(qid)
    assert engine.fetch(qid, 0, 1)[0]["n"] == 25
    assert not _temp_views(fresh)
