"""Thin query-service façade over :class:`QueryEngine`.

The reference exposes its engine over a TCP message protocol with a
client (``async_query_client.rs:40-154``: run_query / get_query_status /
wait_for_query_to_finish / get_query_data) and a paging iterator on top
(``query_data_iterator.rs:58-142``). This module is the Spark-first
analog: a stdlib HTTP server wrapping one in-process
:class:`~chapterhouseqe_spark.engine.QueryEngine`, a blocking client
with the same four verbs, and :class:`QueryDataIterator` with the
reference's exact termination rules.

Design notes:

- The server is intentionally THIN — every verb maps 1:1 onto an
  engine method; no query state lives in the HTTP layer, so a client
  can reconnect (or a second client attach) and see the same queries,
  matching the reference where the TCP connection is per-request.
- Rows travel as JSON (the façade is a control/demo surface; bulk data
  egress at scale is ``QueryEngine.materialize`` writing parquet to
  shared storage, not a row stream through the driver — same posture
  as the reference, whose ``GetQueryData`` pages single row groups).
- The reference addresses pages by (file_idx, row_group_idx, row_idx)
  because results live in row groups. This engine keeps that cursor
  inside ``QueryEngine.fetch``: the ``__row_id`` statistics in the
  result's Parquet footers map a flat row offset to the
  ``(file, row_group)`` pairs holding it, and a row-id filter inside
  those groups plays the part of ``row_idx``. The client therefore
  carries one offset instead of a triple — ``get_next_offset`` keeps
  the same forward/reverse advance-and-stop logic.
"""

from __future__ import annotations

import http.client
import json
import threading
import time
import urllib.error
import urllib.parse
import urllib.request
from dataclasses import dataclass
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

from chapterhouseqe_spark.engine import QueryEngine, QueryStatus


class QueryServiceError(Exception):
    """Client-visible service failure (reference: AsyncQueryClientError)."""


class QueryNotFound(QueryServiceError):
    """Unknown query id (reference: GetQueryStatusResp::QueryNotFound)."""


def _json_default(v):
    # results may carry Decimal/date/datetime/bytearray cells
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    return str(v)


class _Handler(BaseHTTPRequestHandler):
    engine: QueryEngine  # set by server factory

    def log_message(self, *a):  # quiet test output
        pass

    def _reply(self, code: int, payload: dict) -> None:
        body = json.dumps(payload, default=_json_default).encode()
        self.send_response(code)
        self.send_header("Content-Type", "application/json")
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        self.wfile.write(body)

    def do_POST(self) -> None:
        if self.path != "/run_query":
            return self._reply(404, {"error": "unknown endpoint"})
        n = int(self.headers.get("Content-Length", "0"))
        try:
            req = json.loads(self.rfile.read(n) or b"{}")
            qid = self.engine.run_query(
                req["sql"], mode=req.get("mode", "reference")
            )
        except Exception as exc:  # surface as a structured error
            return self._reply(400, {"error": str(exc)})
        self._reply(200, {"query_id": qid})

    def do_GET(self) -> None:
        parsed = urllib.parse.urlparse(self.path)
        q = {k: v[0] for k, v in urllib.parse.parse_qs(parsed.query).items()}
        if parsed.path in ("/status", "/data") and "query_id" not in q:
            # a malformed request is a 400, not QueryNotFound — the
            # engine's unknown-id KeyError (404 below) must stay
            # distinguishable so client retry loops don't spin on it
            return self._reply(400, {"error": "missing query_id parameter"})
        paging = (q.get("offset", "0"), q.get("limit", "1000"))
        if parsed.path == "/data" and not all(v.isdecimal() for v in paging):
            # malformed paging is the caller's error, not a server fault
            return self._reply(
                400, {"error": "offset and limit must be non-negative integers"}
            )
        try:
            if parsed.path == "/status":
                st = self.engine.status(q["query_id"])
                payload = {"status": st.value}
                if st is QueryStatus.ERROR:
                    payload["error"] = self.engine.error(q["query_id"])
                if st is QueryStatus.COMPLETE:
                    payload["num_rows"] = self.engine.num_rows(q["query_id"])
                return self._reply(200, payload)
            if parsed.path == "/data":
                st = self.engine.status(q["query_id"])
                if st is not QueryStatus.COMPLETE:
                    return self._reply(
                        409, {"error": f"query not complete: {st.value}"}
                    )
                offset, limit = map(int, paging)
                rows = self.engine.fetch(
                    q["query_id"],
                    offset=offset,
                    limit=limit,
                    forward=q.get("forward", "true") == "true",
                    allow_overflow=q.get("allow_overflow", "false") == "true",
                )
                # flat row offsets of the returned page (ascending, the
                # engine's reverse pages are already ascending) — the
                # analog of the reference's record_offsets triples
                if q.get("forward", "true") == "true":
                    first = offset
                else:
                    first = max(0, offset + 1 - limit)
                offsets = list(range(first, first + len(rows)))
                return self._reply(200, {"rows": rows, "offsets": offsets})
            return self._reply(404, {"error": "unknown endpoint"})
        except KeyError as exc:
            return self._reply(404, {"error": f"query not found: {exc}"})
        except Exception as exc:
            return self._reply(500, {"error": str(exc)})


@dataclass
class QueryService:
    """In-process HTTP façade bound to a loopback port.

    ``with QueryService(engine) as svc: QueryServiceClient(svc.address)``
    """

    engine: QueryEngine
    host: str = "127.0.0.1"
    port: int = 0  # ephemeral

    def __post_init__(self) -> None:
        handler = type("BoundHandler", (_Handler,), {"engine": self.engine})
        self._server = ThreadingHTTPServer((self.host, self.port), handler)
        self.port = self._server.server_address[1]
        self._thread = threading.Thread(
            target=self._server.serve_forever, daemon=True
        )

    @property
    def address(self) -> str:
        return f"http://{self.host}:{self.port}"

    def __enter__(self) -> "QueryService":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._server.shutdown()
        self._server.server_close()


class QueryServiceClient:
    """Blocking client with the reference client's four verbs
    (async_query_client.rs:40-154)."""

    def __init__(self, address: str, timeout: float = 30.0) -> None:
        self.address = address.rstrip("/")
        self.timeout = timeout

    def _call(self, path: str, payload: dict | None = None) -> dict:
        url = self.address + path
        try:
            if payload is None:
                resp = urllib.request.urlopen(url, timeout=self.timeout)
            else:
                req = urllib.request.Request(
                    url,
                    data=json.dumps(payload).encode(),
                    headers={"Content-Type": "application/json"},
                )
                resp = urllib.request.urlopen(req, timeout=self.timeout)
            return json.loads(resp.read())
        except urllib.error.HTTPError as exc:
            body = {}
            try:
                body = json.loads(exc.read())
            except Exception:
                pass
            if exc.code == 404:
                raise QueryNotFound(body.get("error", str(exc))) from None
            raise QueryServiceError(body.get("error", str(exc))) from None
        except (urllib.error.URLError, TimeoutError, ConnectionError) as exc:
            # transport failures (refused connection, DNS, timeout) must
            # surface through the module's own hierarchy — callers catch
            # QueryServiceError, mirroring AsyncQueryClientError
            raise QueryServiceError(f"transport error: {exc}") from None
        except (ValueError, http.client.HTTPException) as exc:
            # truncated/garbage response body (JSONDecodeError is a
            # ValueError; IncompleteRead is an HTTPException) — same
            # contract: never leak raw parse errors to callers
            raise QueryServiceError(f"malformed response: {exc}") from None

    def run_query(self, sql: str, mode: str = "reference") -> str:
        return self._call("/run_query", {"sql": sql, "mode": mode})["query_id"]

    def get_query_status(self, query_id: str) -> dict:
        return self._call(f"/status?query_id={urllib.parse.quote(query_id)}")

    def wait_for_query_to_finish(
        self, query_id: str, max_wait: float = 60.0, poll_interval: float = 0.1
    ) -> dict:
        """Client-side polling until a terminal status, like
        wait_for_query_to_finish (async_query_client.rs:86-114)."""
        deadline = time.monotonic() + max_wait
        while True:
            st = self.get_query_status(query_id)
            if st["status"] in (QueryStatus.COMPLETE.value, QueryStatus.ERROR.value):
                return st
            if time.monotonic() >= deadline:
                raise QueryServiceError(
                    f"query {query_id} not terminal after {max_wait}s"
                )
            time.sleep(poll_interval)

    def get_query_data(
        self,
        query_id: str,
        offset: int = 0,
        limit: int = 1000,
        forward: bool = True,
        allow_overflow: bool = False,
    ) -> tuple[list[dict], list[int]]:
        out = self._call(
            f"/data?query_id={urllib.parse.quote(query_id)}"
            f"&offset={offset}&limit={limit}"
            f"&forward={'true' if forward else 'false'}"
            f"&allow_overflow={'true' if allow_overflow else 'false'}"
        )
        return out["rows"], out["offsets"]


class QueryDataIterator:
    """Paging iterator with the reference's exact advance/termination
    rules (query_data_iterator.rs:58-142): ``next()`` returns one page
    (rows, offsets) or None; done when a page comes back short of
    ``limit``, when offsets run out, or — in reverse — when the page
    touched offset 0."""

    def __init__(
        self,
        client: QueryServiceClient,
        query_id: str,
        start_offset: int = 0,
        limit: int = 100,
        forward: bool = True,
    ) -> None:
        self.client = client
        self.query_id = query_id
        self.offset = start_offset
        self.limit = limit
        self.forward = forward
        self.done = False

    def next(self) -> tuple[list[dict], list[int]] | None:
        if self.done:
            return None
        rows, offsets = self.client.get_query_data(
            self.query_id, self.offset, self.limit, self.forward
        )
        if not rows:
            self.done = True
            return None
        nxt = self._next_offset(offsets)
        if nxt is None:
            self.done = True
        else:
            self.offset = nxt
        if len(rows) < self.limit:
            self.done = True
        return rows, offsets

    def _next_offset(self, offsets: list[int]) -> int | None:
        """get_next_offset (query_data_iterator.rs:117-142) collapsed to
        flat offsets: forward advances past the last row; reverse steps
        before the first, stopping at the origin."""
        if self.forward:
            return offsets[-1] + 1 if offsets else None
        first = offsets[0] if offsets else None
        if first is None or first == 0:
            return None
        return first - 1

    def __iter__(self):
        while True:
            page = self.next()
            if page is None:
                return
            yield page
