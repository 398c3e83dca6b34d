"""Query lifecycle engine: run_query → query_id, status polling, paged fetch.

Mirrors the reference's client-visible API surface —
``run_query(sql) -> query_id`` / ``get_query_status(query_id)`` /
``get_query_data(query_id, cursor, limit, forward)``
(reference: src/client/async_query_client.rs:40-154,
src/handlers/query_handler/query_handler.rs:418-458,
src/handlers/query_handler/query_data_handler.rs:183-571) — while the
entire distributed runtime underneath (stages, exchanges, heartbeats,
scheduling) is Spark's: Catalyst plans, DAGScheduler schedules, tasks
retry via lineage (SURVEY.md §2.11 — none of it is rebuilt).

Status lifecycle is the reference's: Queued → Running → Complete | Error
(query_handler_state.rs:28-44). Results are materialized as Parquet under
``<results_root>/<query_id>/`` (reference writes
``/query_results/<uuid>/rec_<n>.parquet``, materialize_files_task.rs:117-141)
with a global ``__row_id`` column so fetch supports forward AND reverse
cursor paging (the reference numbers nothing: it pages by position in
its files). The ids are numbered inside the result's write job by
Spark's distributed sequence (:func:`with_row_ids`), with no shuffle and
no join, and the write job counts the rows it writes. Pages are served
on the driver from the Parquet files, with no Spark job: a page's row-id
range prunes the result's row groups by the footers' ``__row_id``
statistics — the reference's
``(file, row_group)`` cursor (query_data_handler.rs:239-253) — and a
row filter inside those groups stands in for its ``row_idx``. Results
Spark may not have written to the driver's disk, results with a variant
column and results with row groups above ``FOOTER_PAGE_MAX_GROUP_BYTES``
are paged by a Spark read of the same row-id range.
"""

from __future__ import annotations

import enum
import threading
import uuid
from dataclasses import dataclass, field

from pyspark import StorageLevel
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.internal import InternalFunction
from pyspark.sql.types import ArrayType, MapType, StructType, VariantType
from pyspark.sql.types import YearMonthIntervalType

from chapterhouseqe_spark.connections import ConnectionRegistry
from chapterhouseqe_spark.session import keep, released
from chapterhouseqe_spark.sql.compiler import compile_expression, project
from chapterhouseqe_spark.sql.parser import (
    ReadFilesSource,
    SelectStatement,
    TableFunctionSource,
    TableSource,
    parse_select,
)
from chapterhouseqe_spark.sql.read_files import load_glob, rewrite_table_functions
from chapterhouseqe_spark.sql.table_functions import (
    TableFunctionRegistry,
    default_table_functions,
)

ROW_ID = "__row_id"
# a page is read on the driver only when every row group of the result
# is at most this large (uncompressed): pyarrow decodes whole row
# groups, and reading a 51 MB group raised the driver's peak memory by
# about 0.35 GB, a full-size 149 MB one by about 1.1 GB
FOOTER_PAGE_MAX_GROUP_BYTES = 32 << 20


class QueryStatus(enum.Enum):
    """reference: query_handler_state.rs:28-35."""

    QUEUED = "queued"
    RUNNING = "running"
    COMPLETE = "complete"
    ERROR = "error"


def with_row_ids(df: DataFrame, col_name: str = ROW_ID) -> DataFrame:
    """``df`` with a last column of dense row ids 0..n-1 in partition
    order, numbered inside the job that consumes the frame.

    The ids come from Spark's distributed sequence (the
    ``AttachDistributedSequence`` node of pandas-on-Spark's default
    index): a ``zipWithIndex`` over the frame's partitions. It needs no
    shuffle, no driver round trip and no join; a one-partition frame is
    numbered in the consuming job itself, a wider one after one narrow
    job that counts each partition's rows. That count job and the
    consuming job read the rows from one ``DISK_ONLY`` persist, kept in
    the caller's :func:`~chapterhouseqe_spark.session.released` scope,
    so the frame is computed once and a large result never pins
    executor memory. The node's own cache is off
    (``pandas_on_Spark.compute.default_index_cache`` in
    ``session.DEFAULT_CONFS``): Spark would release it only through
    adaptive-execution clean-up, and the persist already holds the rows.
    """
    keep(df, StorageLevel.DISK_ONLY)
    # names are quoted so a dot in one is not read as a field access
    quoted = ["`" + c.replace("`", "``") + "`" for c in df.columns]
    row_id = InternalFunction.distributed_sequence_id().alias(col_name)
    return df.select(*quoted, row_id)


@dataclass
class _QueryState:
    query_id: str
    sql: str
    status: QueryStatus = QueryStatus.QUEUED
    error: str | None = None
    result_path: str | None = None
    num_rows: int = 0
    schema: object | None = None
    # pyarrow dataset over the result files, opened on the first fetch;
    # False when pages are read by Spark instead (see _footer_dataset).
    # Two racing first fetches each open an equal one; either is kept.
    pages: object | None = None
    thread: threading.Thread | None = None
    done: threading.Event = field(default_factory=threading.Event)


class QueryEngine:
    """run_query / status / fetch over a shared SparkSession.

    ``mode`` selects the SQL dialect per query:
      - ``"spark"`` (default): full Spark SQL after ``read_files`` rewrite
        — covers every operator the reference declared but never built
        (joins, GROUP BY, ORDER BY, set ops, functions; README
        "Supported SQL" unchecked items).
      - ``"reference"``: the reference's exact executable surface
        (SELECT items FROM source [WHERE expr]) through the
        reference-semantics expression compiler — integer division,
        float literals, ``unnamed_<i>`` naming (SURVEY.md §7.4).
    """

    def __init__(
        self,
        spark: SparkSession,
        results_root: str = "/tmp/chqe_query_results",
        registry: ConnectionRegistry | None = None,
        table_functions: TableFunctionRegistry | None = None,
    ) -> None:
        self.spark = spark
        self.results_root = results_root.rstrip("/")
        self.registry = registry or ConnectionRegistry()
        self.table_functions = table_functions or default_table_functions()
        # result compaction: the reference writes one file per 10k-row
        # batch and lists compaction as an open TODO ("Materializing
        # files should be able to compact", README "Next work") —
        # maxRecordsPerFile bounds file size without a coalesce that
        # would reduce write parallelism.
        self.max_records_per_file: int | None = None
        self._queries: dict[str, _QueryState] = {}
        self._lock = threading.Lock()

    # ------------------------------------------------------------ plan
    def dataframe_for(self, sql: str, mode: str = "spark") -> DataFrame:
        """Build the (lazy) DataFrame for a SQL string — the logical plan."""
        if mode == "reference":
            return self._build_reference(parse_select(sql))
        rewritten = rewrite_table_functions(
            self.spark, sql, self.registry, self.table_functions
        )
        return self.spark.sql(rewritten)

    def _load_source(self, source, where=None) -> DataFrame:
        if isinstance(source, ReadFilesSource):
            # manifest-based file skipping (sql/manifest_prune.py): a
            # _MANIFEST.json beside the data lets numeric WHERE bounds
            # prune files at PLAN time — the scan never lists a skipped
            # file. Results are identical either way (the WHERE still
            # runs; pruning only removes provably-empty files).
            resolved = self.registry.get(source.connection).resolve(
                source.path_glob
            )
            if where is not None:
                from chapterhouseqe_spark.sql.manifest_prune import (
                    pruned_file_list,
                )

                kept = pruned_file_list(resolved, where)
                if kept is not None:
                    return self.spark.read.option(
                        "mergeSchema", str(source.merge_schema).lower()
                    ).parquet(*kept)
            return load_glob(
                self.spark,
                source.path_glob,
                source.connection,
                self.registry,
                merge_schema=source.merge_schema,
            )
        if isinstance(source, TableFunctionSource):
            # resolved through the registry — the reference's
            # TaskBuilder/TableFuncSyntaxValidator extension point
            # (operator_task_registry.rs:36-162)
            fn = self.table_functions.get(source.name)
            return fn.build(self.spark, source.args, source.kwargs, self.registry)
        if isinstance(source, TableSource):
            return self.spark.table(source.name)
        raise ValueError(f"unknown source {source!r}")  # pragma: no cover

    def _build_reference(self, stmt: SelectStatement) -> DataFrame:
        df = self._load_source(stmt.source, where=stmt.where)
        for extra in stmt.more_sources:
            # multiple FROM relations all feed the same downstream stage
            # in the reference — a bag union of their batches, NOT a
            # cross join (logical_planner.rs:277-283, SURVEY §2.7)
            df = df.unionByName(self._load_source(extra))
        alias = stmt.source.alias
        if alias is None and isinstance(stmt.source, TableSource):
            # standard SQL: an unaliased table is addressable by its own
            # name (`select region.* from region`, `region.r_name`); an
            # explicit alias replaces it. read_files(...) without an
            # alias has no natural qualifier, matching the reference's
            # table_aliases sidecar which registers only named entries.
            alias = stmt.source.name
        if alias:
            df = df.alias(alias)
        if stmt.where is not None:
            cond, _ = compile_expression(stmt.where, df, alias)
            # empty-result batches still flow through (filter_record.rs:17-39)
            df = df.filter(cond)
        if stmt.order_by:
            # reference TODO "Implement the `order by` operator" — a
            # Spark global sort (range-partitioned); with LIMIT below,
            # Catalyst collapses it to TakeOrderedAndProject (top-k).
            order_cols = []
            for item in stmt.order_by:
                col, _ = compile_expression(item.expr, df, alias)
                order_cols.append(col.asc() if item.ascending else col.desc())
            df = df.orderBy(*order_cols)
        if stmt.limit is not None:
            df = df.limit(stmt.limit)
        return project(df, stmt.items, alias)

    # ------------------------------------------------------------- run
    def run_query(self, sql: str, mode: str = "spark") -> str:
        """Submit asynchronously; returns a query_id immediately
        (reference: RunQueryResp::Created{query_id}, query_handler.rs:445-450)."""
        query_id = str(uuid.uuid4())
        state = _QueryState(query_id=query_id, sql=sql)
        with self._lock:
            self._queries[query_id] = state

        def _run() -> None:
            state.status = QueryStatus.RUNNING
            try:
                with released():
                    df = self.dataframe_for(sql, mode)
                    _check_pageable(df.schema)
                    path = f"{self.results_root}/{query_id}"
                    obs = Observation()
                    ided = with_row_ids(df).observe(
                        obs, F.count(F.lit(1)).alias("rows")
                    )
                    writer = ided.write.mode("overwrite")
                    if self.max_records_per_file:
                        writer = writer.option(
                            "maxRecordsPerFile", self.max_records_per_file
                        )
                    writer.parquet(path)
                # counted by the write job itself, no re-read of the result
                state.num_rows = int(obs.get["rows"])
                state.schema = df.schema
                state.result_path = path
                state.status = QueryStatus.COMPLETE
            except Exception as exc:  # noqa: BLE001 — reported via status API
                state.error = f"{type(exc).__name__}: {exc}"
                state.status = QueryStatus.ERROR
            finally:
                state.done.set()

        state.thread = threading.Thread(target=_run, daemon=True)
        state.thread.start()
        return query_id

    def run_query_sync(self, sql: str, mode: str = "spark") -> str:
        qid = self.run_query(sql, mode)
        self.wait(qid)
        return qid

    def run_script(self, sql: str, mode: str = "spark") -> list[str]:
        """Run a multi-statement script sequentially, one query_id per
        statement (reference: the TUI client splits ``;``-separated files
        and submits each, client_tui.rs:885)."""
        from chapterhouseqe_spark.sql.parser import split_statements

        return [self.run_query_sync(stmt, mode) for stmt in split_statements(sql)]

    def materialize(
        self,
        sql: str,
        path: str,
        mode: str = "spark",
        partition_by: list[str] | None = None,
        max_records_per_file: int | None = None,
        save_mode: str = "overwrite",
    ) -> int:
        """ETL-style sink: run a query and write the result as a
        (optionally hive-partitioned) parquet dataset; returns the row
        count.

        This is the scale-out counterpart of the result-paging sink
        (reference MaterializeFiles, materialize_files_task.rs: one flat
        directory of 10k-row files): ``partition_by`` gives downstream
        readers partition pruning on the listed columns, and
        ``maxRecordsPerFile`` bounds file size WITHOUT a coalesce (write
        parallelism = upstream partitions). No row-id column is added —
        results fetched by cursor go through :meth:`run_query` instead.

        The returned count is the rows WRITTEN BY THIS CALL, observed on
        the write job itself (``Observation``) — not a re-read of the
        output directory, which would double-scan the dataset and, under
        ``save_mode='append'``, report pre-existing rows as written.
        """
        obs = Observation()
        with released():
            df = self.dataframe_for(sql, mode).observe(
                obs, F.count(F.lit(1)).alias("rows_written")
            )
            writer = df.write.mode(save_mode)
            if max_records_per_file or self.max_records_per_file:
                writer = writer.option(
                    "maxRecordsPerFile", max_records_per_file or self.max_records_per_file
                )
            if partition_by:
                writer = writer.partitionBy(*partition_by)
            writer.parquet(path)
        return int(obs.get["rows_written"])

    # ---------------------------------------------------------- status
    def status(self, query_id: str) -> QueryStatus:
        return self._state(query_id).status

    def error(self, query_id: str) -> str | None:
        return self._state(query_id).error

    def num_rows(self, query_id: str) -> int:
        return self._state(query_id).num_rows

    def wait(self, query_id: str, timeout: float | None = None) -> QueryStatus:
        """Block until terminal (client polling loop,
        async_query_client.rs:62-114, made synchronous)."""
        state = self._state(query_id)
        state.done.wait(timeout)
        return state.status

    # ----------------------------------------------------------- fetch
    def fetch(
        self,
        query_id: str,
        offset: int = 0,
        limit: int = 1000,
        forward: bool = True,
        allow_overflow: bool = False,
    ) -> list[dict]:
        """Cursor paging over the materialized result.

        ``forward=True`` returns rows [offset, offset+limit);
        ``forward=False`` returns the ``limit`` rows ENDING at ``offset``
        inclusive, in ascending order — the reference's reverse paging
        (query_data_handler.rs:239-534) reworked as a row-id range.

        ``allow_overflow`` mirrors query_data_handler.rs:425-463: when a
        reverse page hits the start of the result before filling
        ``limit`` rows, the window overflows FORWARD past the cursor so
        the client still gets a full page when rows exist.

        The page is read on the driver with ``pyarrow.dataset``, not by
        a Spark job: the row-id range prunes row groups by their footer
        statistics, only the rest are read, and the rows are filtered to
        the range, sorted by row id and converted by Spark's own
        Arrow-to-Row converter, so the values equal what ``collect()``
        would return. Results that :func:`_footer_dataset` declines are
        paged by a Spark read of the same range instead.
        """
        state = self._state(query_id)
        if state.status is not QueryStatus.COMPLETE:
            raise RuntimeError(f"query {query_id} not complete: {state.status.value}")
        if forward:
            lo, hi = offset, offset + limit
        else:
            lo, hi = max(0, offset + 1 - limit), offset + 1
            if allow_overflow and hi - lo < limit:
                hi = min(lo + limit, state.num_rows)
        if state.pages is None:
            pages = _footer_dataset(self.spark, state)
            state.pages = False if pages is None else pages
        if state.pages is not False:
            return _read_page(state.pages, state.schema, lo, hi)
        page = (
            self.spark.read.parquet(state.result_path)
            .filter((F.col(ROW_ID) >= lo) & (F.col(ROW_ID) < hi))
            .orderBy(ROW_ID)
            .drop(ROW_ID)
        )
        return [row.asDict() for row in page.collect()]

    def iter_results(self, query_id: str, page_size: int = 1000):
        """Forward-only iterator over a completed result — the client's
        QueryDataIterator (reference: client/query_data_iterator.rs:58-142)
        reworked over row-id pages."""
        offset = 0
        while True:
            page = self.fetch(query_id, offset, page_size)
            if not page:
                return
            yield from page
            offset += len(page)

    def _state(self, query_id: str) -> _QueryState:
        with self._lock:
            if query_id not in self._queries:
                raise KeyError(f"unknown query_id {query_id!r}")
            return self._queries[query_id]


def _field_of_type(dt, kind, path: str = "") -> str | None:
    """The path of the first field of ``dt``, nested ones included, whose
    type is a ``kind`` (``col``, ``col.field``, ``col.element``,
    ``col.key``, ``col.value``), or None."""
    if isinstance(dt, kind):
        return path
    if isinstance(dt, StructType):
        parts = [(f.name, f.dataType) for f in dt.fields]
    elif isinstance(dt, ArrayType):
        parts = [("element", dt.elementType)]
    elif isinstance(dt, MapType):
        parts = [("key", dt.keyType), ("value", dt.valueType)]
    else:
        return None
    for name, child in parts:
        found = _field_of_type(child, kind, f"{path}.{name}" if path else name)
        if found is not None:
            return found
    return None


def _check_pageable(schema: StructType) -> None:
    """Reject a result no page could return: neither the footer reader's
    Arrow conversion nor ``collect()`` converts a year-month interval."""
    bad = _field_of_type(schema, YearMonthIntervalType)
    if bad is not None:
        raise TypeError(
            f"result column {bad!r} is a year-month interval, which result "
            "pages cannot return; cast it to a string or a number"
        )


def _local_dir(spark: SparkSession, path: str) -> str | None:
    """The driver-local directory Spark wrote ``path`` to, or None when
    the files may be elsewhere: a path Hadoop resolves to a file system
    other than ``file:`` (a path without a scheme takes
    ``fs.defaultFS``), or any master but ``local`` (executors write
    ``file:`` paths to their own disks)."""
    if not spark.sparkContext.master.startswith("local"):
        return None
    hadoop_fs = spark._jvm.org.apache.hadoop.fs
    conf = spark._jsparkSession.sessionState().newHadoopConf()
    hpath = hadoop_fs.Path(path)
    fs_uri = hpath.toUri()
    if fs_uri.getScheme() is None:
        fs_uri = hadoop_fs.FileSystem.getDefaultUri(conf)
    if fs_uri.getScheme() != "file":
        return None
    return hpath.getFileSystem(conf).makeQualified(hpath).toUri().getPath()


def _footer_dataset(spark: SparkSession, state: _QueryState):
    """The result as a ``pyarrow.dataset`` its pages are read from, or
    None to page it with Spark: when it is not on the driver's disk
    (:func:`_local_dir`), when it has a variant column (pyarrow cannot
    parse that footer) or when a row group exceeds
    ``FOOTER_PAGE_MAX_GROUP_BYTES``. The footers are read here once and
    kept by the dataset; no file stays open."""
    import pyarrow.dataset as ds

    local = _local_dir(spark, state.result_path)
    if local is None or _field_of_type(state.schema, VariantType) is not None:
        return None
    # INT96 timestamps in microseconds: nanoseconds overflow past 2262
    fmt = ds.ParquetFileFormat(
        read_options=ds.ParquetReadOptions(coerce_int96_timestamp_unit="us")
    )
    dataset = ds.dataset(local, format=fmt)  # skips _SUCCESS and .crc files
    for frag in dataset.get_fragments():
        if any(g.total_byte_size > FOOTER_PAGE_MAX_GROUP_BYTES for g in frag.row_groups):
            return None
    return dataset


def _read_page(dataset, schema, lo: int, hi: int) -> list[dict]:
    """Rows with ``lo <= __row_id < hi``; row groups whose footer
    statistics miss the range are skipped, groups without statistics
    are read."""
    import pyarrow.dataset as ds
    from pyspark.sql.conversion import ArrowTableToRowsConversion
    from pyspark.sql.pandas.types import to_arrow_schema

    ids = ds.field(ROW_ID)
    table = dataset.to_table(filter=(ids >= lo) & (ids < hi))
    table = table.sort_by(ROW_ID).select(schema.names)
    table = table.cast(to_arrow_schema(schema))
    rows = ArrowTableToRowsConversion.convert(table, schema, binary_as_bytes=False)
    return [row.asDict() for row in rows]
