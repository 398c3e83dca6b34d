"""Real client↔server round-trips through the HTTP query-service façade
(service.py — the analog of async_query_client.rs + query_data_iterator.rs)."""

from __future__ import annotations

import json
import urllib.error
import urllib.request

import pytest

from chapterhouseqe_spark import (
    ConnectionRegistry,
    QueryDataIterator,
    QueryEngine,
    QueryService,
    QueryServiceClient,
)
from chapterhouseqe_spark.service import QueryNotFound, QueryServiceError


@pytest.fixture(scope="module")
def service(spark, sf_dir, tmp_path_factory):
    reg = ConnectionRegistry(default_base=sf_dir)
    engine = QueryEngine(
        spark,
        results_root=str(tmp_path_factory.mktemp("svc_results")),
        registry=reg,
    )
    with QueryService(engine) as svc:
        yield svc


@pytest.fixture(scope="module")
def client(service):
    return QueryServiceClient(service.address)


def test_run_wait_fetch_roundtrip(client):
    qid = client.run_query(
        "select * from read_files('nation.parquet') where n_nationkey >= 5"
    )
    st = client.wait_for_query_to_finish(qid, max_wait=60)
    assert st["status"] == "complete"
    assert st["num_rows"] == 20
    rows, offsets = client.get_query_data(qid, offset=0, limit=7)
    assert len(rows) == 7 and offsets == list(range(7))
    assert rows[0]["n_nationkey"] == 5


def test_forward_iterator_covers_everything_once(client):
    qid = client.run_query("select * from read_files('nation.parquet')")
    client.wait_for_query_to_finish(qid, max_wait=60)
    it = QueryDataIterator(client, qid, limit=7)
    keys = [r["n_nationkey"] for rows, _ in it for r in rows]
    assert sorted(keys) == list(range(25))
    assert len(keys) == 25
    assert it.next() is None  # stays done


def test_reverse_iterator_reaches_origin(client):
    qid = client.run_query("select * from read_files('region.parquet')")
    client.wait_for_query_to_finish(qid, max_wait=60)
    it = QueryDataIterator(client, qid, start_offset=4, limit=2, forward=False)
    pages = [offsets for _, offsets in it]
    # ascending within page, pages walk backward, origin page terminates
    assert pages == [[3, 4], [1, 2], [0]]


def test_error_surfaces(client):
    with pytest.raises(QueryNotFound):
        client.get_query_status("no-such-query")
    qid = client.run_query("select * from read_files('missing.parquet')")
    st_terminal = client.wait_for_query_to_finish(qid, max_wait=60)
    assert st_terminal["status"] == "error"
    assert st_terminal["error"]
    with pytest.raises(QueryServiceError):
        client.get_query_data(qid)


def test_second_client_sees_same_queries(service, client):
    qid = client.run_query("select * from read_files('region.parquet')")
    client.wait_for_query_to_finish(qid, max_wait=60)
    other = QueryServiceClient(service.address)
    assert other.get_query_status(qid)["status"] == "complete"
    rows, _ = other.get_query_data(qid, limit=100)
    assert len(rows) == 5


def test_missing_query_id_is_not_query_not_found(client):
    """A malformed request (no query_id) must be QueryServiceError, not
    QueryNotFound — retry loops keyed on QueryNotFound must not spin."""
    with pytest.raises(QueryServiceError) as ei:
        client._call("/status")
    assert not isinstance(ei.value, QueryNotFound)
    assert "missing query_id" in str(ei.value)


def test_bad_paging_is_a_400(service, client):
    """A non-integer or negative offset/limit is a malformed request
    (400), not a server error (500)."""
    qid = client.run_query("select * from read_files('region.parquet')")
    client.wait_for_query_to_finish(qid, max_wait=60)
    for bad in ("offset=x", "offset=-1", "limit=1.5", "limit=-3"):
        with pytest.raises(urllib.error.HTTPError) as ei:
            urllib.request.urlopen(
                f"{service.address}/data?query_id={qid}&{bad}", timeout=10
            )
        assert ei.value.code == 400, bad
        assert "non-negative integers" in json.loads(ei.value.read())["error"]
    rows, _ = client.get_query_data(qid, offset=0, limit=2)
    assert len(rows) == 2


def test_transport_failure_is_service_error():
    """Connection-refused surfaces through the module's own hierarchy."""
    dead = QueryServiceClient("http://127.0.0.1:1", timeout=0.5)
    with pytest.raises(QueryServiceError, match="transport error"):
        dead.get_query_status("whatever")
