"""Every stream goes through ``streaming.windows.run_stream``: it returns
once the input is drained, stops the query, removes its checkpoint, and
its memory-sink view is dropped when the ``released`` scope closes. A
stream that does not drain in ``STREAM_TIMEOUT_S`` is stopped and
reported as an infra stall."""

from __future__ import annotations

import tempfile
from types import SimpleNamespace

import pytest

from chapterhouseqe_spark.queries.registry import get_queries
from chapterhouseqe_spark.session import released
from chapterhouseqe_spark.sources.synthetic import register_synthetic_source
from chapterhouseqe_spark.streaming import windows
from chapterhouseqe_spark.streaming.sessions import stateful_user_stats
from chapterhouseqe_spark.streaming.windows import (
    read_events_stream,
    run_stream,
    stream_window_counts,
)

STREAM_BUILDERS = [
    "stream_source_replay_agg",
    "stream_ewma_replay",
    "stream_dedup_watermark",
    "stream_interval_join",
    "stream_quality_filter_agg",
    "stream_decontaminate_ingest",
]


@pytest.fixture
def ckpt_root(tmp_path, monkeypatch):
    """The directory the runner's checkpoints are made in."""
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    return tmp_path


def _views(spark) -> set[str]:
    return {t.name for t in spark.catalog.listTables()}


def _assert_stopped_and_clean(spark, ckpt_root):
    assert spark.streams.active == []
    assert not list(ckpt_root.glob("chqe_stream_ckpt_*"))


def _status(data: bool, active: bool, rows: int | None):
    progress = None if rows is None else {"numInputRows": rows}
    return SimpleNamespace(
        status={"isDataAvailable": data, "isTriggerActive": active},
        lastProgress=progress,
    )


@pytest.mark.parametrize(
    "data, active, rows, drained",
    [
        (False, False, None, False),  # sources still opening
        (True, False, 30, False),  # a batch with data just ended
        (False, True, 30, False),  # a trigger is planning the next batch
        (False, False, 30, True),  # a finished trigger found no input
        (False, True, 0, True),  # no-data batches on every trigger
        (True, True, 0, False),  # data arrived after a no-data batch
    ],
)
def test_drained_criterion(data, active, rows, drained):
    assert windows._drained(_status(data, active, rows)) is drained


def _stateless(spark, sf_dir):
    out = run_stream(
        stream_window_counts(read_events_stream(spark, sf_dir)),
        "t_runner_stateless",
        output_mode="complete",
    )
    return out.count()


def _stateful_timeout(spark, sf_dir):
    # ProcessingTimeTimeout: a no-data batch on every trigger, so the
    # query is never idle and never terminates by itself
    out = run_stream(
        stateful_user_stats(read_events_stream(spark, sf_dir)),
        "t_runner_stateful",
        output_mode="update",
    )
    return out.count()


def _foreach_batch(spark, sf_dir):
    seen = []
    run_stream(
        read_events_stream(spark, sf_dir, max_files_per_trigger=1),
        "t_runner_foreach",
        sink=lambda batch, _id: seen.append(batch.count()),
    )
    return sum(seen)


@pytest.mark.parametrize(
    "run", [_stateless, _stateful_timeout, _foreach_batch], ids=lambda f: f.__name__
)
def test_runner_stops_stream_and_drops_what_it_made(spark, sf_dir, ckpt_root, run):
    views = _views(spark)
    with released():
        assert run(spark, sf_dir) > 0
        _assert_stopped_and_clean(spark, ckpt_root)
    assert _views(spark) <= views


@pytest.mark.parametrize("name", STREAM_BUILDERS)
def test_stream_builder_stops_stream_and_drops_what_it_made(
    spark, sf_dir, ckpt_root, name
):
    views = _views(spark)
    with released():
        assert get_queries()[name](spark, sf_dir).collect()
        _assert_stopped_and_clean(spark, ckpt_root)
    assert _views(spark) <= views


@pytest.mark.parametrize(
    "sink", [None, lambda batch, _id: batch.count()], ids=["memory", "foreach_batch"]
)
def test_stalled_stream_is_stopped_and_reported(spark, ckpt_root, monkeypatch, sink):
    # one row per trigger out of a billion: the source never drains
    monkeypatch.setattr(windows, "STREAM_TIMEOUT_S", 2)
    register_synthetic_source(spark)
    stream = (
        spark.readStream.format("chqe_synthetic")
        .option("batch_rows", 1)
        .option("max_rows", 10**9)
        .load()
    )
    views = _views(spark)
    with released():
        with pytest.raises(RuntimeError, match="t_runner_stall: .* infra stall"):
            run_stream(stream, "t_runner_stall", sink=sink)
        _assert_stopped_and_clean(spark, ckpt_root)
    assert _views(spark) <= views
