"""``read_files`` table-function resolution for full Spark SQL.

The reference exposes exactly one table function,
``read_files('<glob>' [, connection=>'<name>'])``
(reference: read_files_task.rs:45-105 for the syntax validator + arg
parsing). The engine's "spark" mode accepts ANY Spark SQL and supports
the same table function by rewriting each call site into a registered
temp view backed by ``spark.read.parquet``/``csv``/``json`` — after which
Catalyst owns predicate pushdown, column pruning, and partition planning
(the reference lists all three as TODOs; SURVEY.md §4.1).

Format is inferred from the glob suffix: ``.parquet`` (reference parity),
plus ``.csv`` / ``.json`` which the reference declares but never built
(README "Supported SQL" unchecked boxes).
"""

from __future__ import annotations

import re
import uuid

from pyspark.sql import DataFrame, SparkSession

from chapterhouseqe_spark.connections import ConnectionRegistry
from chapterhouseqe_spark.session import _own


def load_glob(
    spark: SparkSession,
    path_glob: str,
    connection: str = "default",
    registry: ConnectionRegistry | None = None,
    merge_schema: bool = False,
) -> DataFrame:
    """Resolve a connection-relative glob and load it as a DataFrame.

    ``merge_schema=True`` unions parquet footer schemas across the
    glob's files — the reference's open TODO "Allow for differences in
    schema" (README "Next work"), free in Spark.
    """
    registry = registry or ConnectionRegistry()
    conn = registry.get(connection)
    # per-connection Hadoop confs (e.g. per-bucket s3a credentials,
    # reference: connection_registry.rs:104-152) must be live on the
    # session BEFORE the first filesystem touch of this scan — Hadoop
    # caches FileSystem instances per (scheme, authority, conf), so a
    # scan that raced ahead of the conf would pin an unauthenticated
    # client for the bucket.
    if conn.hadoop_conf:
        hconf = spark.sparkContext._jsc.hadoopConfiguration()
        for k, v in conn.hadoop_conf.items():
            hconf.set(k, v)
        # Hadoop caches FileSystem clients per (scheme, authority, UGI)
        # — NOT per conf — so without this a second connection carrying
        # different s3a credentials for the SAME bucket would silently
        # reuse the first connection's cached client. Disabling the
        # cache whenever non-bucket-scoped s3a keys are present makes
        # each scan honor its own connection's credentials; per-bucket
        # keys (fs.s3a.bucket.<b>.*) stay cache-safe and skip this.
        if any(
            k.startswith("fs.s3a.") and not k.startswith("fs.s3a.bucket.")
            for k in conn.hadoop_conf
        ):
            hconf.set("fs.s3a.impl.disable.cache", "true")
    resolved = conn.resolve(path_glob)
    lower = resolved.lower()
    if lower.endswith(".csv"):
        return spark.read.option("header", "true").option("inferSchema", "true").csv(resolved)
    if lower.endswith((".json", ".jsonl", ".ndjson")):
        return spark.read.json(resolved)
    if lower.endswith(".orc"):
        return spark.read.orc(resolved)
    return spark.read.option("mergeSchema", str(merge_schema).lower()).parquet(resolved)


def _scan_call_args(sql: str, open_paren: int) -> tuple[str, int] | None:
    """Scan a call's argument text from the ``(`` at ``open_paren`` to its
    MATCHING ``)``, honoring single-quoted strings (with doubled-quote
    escapes) and nested parens — so a ``)`` or ``(`` inside a quoted
    path never terminates the scan early. Returns (argstr, index after
    the closing paren), or None if the parens never balance.
    """
    depth = 0
    in_str = False
    i = open_paren
    n = len(sql)
    while i < n:
        c = sql[i]
        if in_str:
            if c == "'":
                if i + 1 < n and sql[i + 1] == "'":
                    i += 2  # escaped quote
                    continue
                in_str = False
        elif c == "'":
            in_str = True
        elif c == "(":
            depth += 1
        elif c == ")":
            depth -= 1
            if depth == 0:
                return sql[open_paren + 1 : i], i + 1
        i += 1
    return None


def _split_top_level_args(argstr: str) -> list[str]:
    """Split an argument string on commas at paren-depth 0 and outside
    quoted strings — a ``,`` inside a quoted path is path text."""
    parts: list[str] = []
    buf: list[str] = []
    in_str = False
    depth = 0
    i = 0
    n = len(argstr)
    while i < n:
        c = argstr[i]
        if in_str:
            buf.append(c)
            if c == "'":
                if i + 1 < n and argstr[i + 1] == "'":
                    buf.append("'")
                    i += 2
                    continue
                in_str = False
        elif c == "'":
            in_str = True
            buf.append(c)
        elif c == "(":
            depth += 1
            buf.append(c)
        elif c == ")":
            depth -= 1
            buf.append(c)
        elif c == "," and depth == 0:
            parts.append("".join(buf))
            buf = []
        else:
            buf.append(c)
        i += 1
    if buf or parts:
        parts.append("".join(buf))
    return parts


def rewrite_table_functions(
    spark: SparkSession,
    sql: str,
    registry: ConnectionRegistry | None = None,
    functions=None,
) -> str:
    """Replace each registered table-function call with a temp-view name.

    Each distinct ``(function, args, kwargs)`` of the statement gets one
    view named ``<function>_<uuid4 hex>``, so a source used twice is one
    scan (Catalyst reuses the exchange) and no two statements share a
    view. The view's drop is recorded in the innermost
    :func:`~chapterhouseqe_spark.session.released` scope (a
    ``QueryEngine`` query's own), so the session keeps no view after the
    query; outside a scope the view stays.

    Covers every function in the TableFunctionRegistry (``read_files``,
    ``read_table``, and any user-registered builder), so full Spark SQL
    can mix them with joins/aggregates/CTEs. See
    :func:`rewrite_read_files` for the rewrite rules.

    Argument lists are tokenized quote- and paren-aware (a path may
    legally contain ``)`` or ``,``); a call site whose arguments are not
    string literals raises a clear error instead of leaking an unknown
    function name into Spark's parser (the reference grammar only admits
    literal args — read_files_task.rs:45-105).
    """
    from chapterhouseqe_spark.sql.table_functions import default_table_functions

    registry = registry or ConnectionRegistry()
    functions = functions or default_table_functions()
    pattern = re.compile(
        r"\b(?P<fn>" + "|".join(map(re.escape, functions.names())) + r")\s*\(",
        re.IGNORECASE,
    )
    arg_re = re.compile(
        r"\s*(?:(?P<name>[A-Za-z_][A-Za-z0-9_]*)\s*=>\s*)?'(?P<val>(?:[^']|'')*)'\s*"
    )

    views: dict[tuple, str] = {}
    out: list[str] = []
    last = 0
    for m in pattern.finditer(sql):
        if m.start() < last:
            continue  # inside an already-consumed call span
        if sql.count("'", 0, m.start()) % 2 == 1:
            continue  # inside a string literal — not a call site
        fn = m.group("fn").lower()
        scanned = _scan_call_args(sql, m.end() - 1)
        if scanned is None:
            raise ValueError(
                f"unbalanced parentheses in {fn}(...) call at offset {m.start()}"
            )
        argstr, call_end = scanned
        args: list[str] = []
        kwargs: dict[str, str] = {}
        for part in _split_top_level_args(argstr) if argstr.strip() else []:
            am = arg_re.fullmatch(part)
            if am is None:
                raise ValueError(
                    f"{fn}(...) argument {part!r} is not a string literal — "
                    "table-function arguments must be quoted literals "
                    "(optionally name=>'value')"
                )
            val = am.group("val").replace("''", "'")
            if am.group("name"):
                kwargs[am.group("name").lower()] = val
            else:
                args.append(val)
        key = (fn, tuple(args), tuple(sorted(kwargs.items())))
        if key not in views:
            view = views[key] = f"{fn}_{uuid.uuid4().hex}"
            functions.get(fn).build(spark, args, kwargs, registry).createTempView(view)
            _own(lambda view=view: spark.catalog.dropTempView(view))
        out.append(sql[last : m.start()])
        out.append(views[key])
        last = call_end
    out.append(sql[last:])
    return "".join(out)


def rewrite_read_files(
    spark: SparkSession,
    sql: str,
    registry: ConnectionRegistry | None = None,
) -> str:
    """Replace each ``read_files(...)`` call with a temp-view name.

    Returns SQL that Spark's parser accepts; any trailing alias in the
    original text keeps working because ``FROM <view> <alias>`` is valid.
    Views are named and released as :func:`rewrite_table_functions`
    describes.

    Occurrences inside single-quoted SQL string literals are left alone:
    a match is a genuine call site iff an even number of quote characters
    precedes it (SQL escapes a quote by doubling it, which preserves that
    parity invariant).

    Thin wrapper over :func:`rewrite_table_functions` restricted to the
    default registry (which includes ``read_files``).
    """
    return rewrite_table_functions(spark, sql, registry)
