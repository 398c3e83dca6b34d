"""Local replica of the driver's correctness gate.

Runs every registered query's Spark builder AND its DuckDB oracle on the
same parquet tables, then compares row count, column names, and values
(order-insensitive, columns sorted by name — the driver's methodology).
Use this before every commit that touches queries; a mismatch here is a
red CORRECTNESS row there.

Usage:
    PYTHONPATH=/root/repo python tools/check_correctness.py [--sf DIR] [name ...]
"""

from __future__ import annotations

import argparse
import decimal
import math
import os
import sys
import time

import duckdb

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def _norm_cell(v):
    # Type-tagged normalization: the driver's value-hash stringifies cells,
    # so int-vs-float (or Decimal) disagreements that Python `==` forgives
    # (1 == 1.0 == Decimal('1')) must count as mismatches here too.
    if v is None:
        return None
    if isinstance(v, bool):
        return ("b", v)
    if isinstance(v, float):
        if math.isnan(v):
            return ("f", "NaN")
        return ("f", repr(v))
    if isinstance(v, int):
        return ("i", v)
    if isinstance(v, decimal.Decimal):
        return ("dec", str(v))
    if hasattr(v, "isoformat"):  # datetime/date
        return ("t", v.isoformat())
    if isinstance(v, (list, tuple)):
        return tuple(_norm_cell(x) for x in v)
    return v


def _sort_key(row):
    return tuple((x is None, str(x)) for x in row)


def frame_signature(cols: list[str], rows: list[tuple]) -> tuple:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    sorted_cols = [cols[i] for i in order]
    body = sorted(
        (tuple(_norm_cell(r[i]) for i in order) for r in rows), key=_sort_key
    )
    return sorted_cols, body


def compare(name, spark_df, oracle_sql, con, max_diff=5):
    t0 = time.time()
    srows = [tuple(r) for r in spark_df.collect()]
    scols = list(spark_df.columns)
    rel = con.sql(oracle_sql)
    orows = [tuple(r) for r in rel.fetchall()]
    ocols = list(rel.columns)
    elapsed = time.time() - t0

    sc, sb = frame_signature(scols, srows)
    oc, ob = frame_signature(ocols, orows)
    problems = []
    # The driver canonicalizes via pandas, where DuckDB HUGEINT/DECIMAL
    # degrade to float64/object and hash differently than Spark's bigint.
    for c, ty in zip(ocols, rel.types):
        if any(tok in str(ty) for tok in ("HUGEINT", "DECIMAL")):
            problems.append(
                f"oracle column {c} is {ty}: CAST it to BIGINT/DOUBLE "
                "(driver canonicalizer degrades 128-bit/decimal types)"
            )
    if len(srows) != len(orows):
        problems.append(f"row count: spark={len(srows)} oracle={len(orows)}")
    if sc != oc:
        problems.append(f"columns: spark={sc} oracle={oc}")
    if not problems and sb != ob:
        n_bad = 0
        for i, (a, b) in enumerate(zip(sb, ob)):
            if a != b:
                n_bad += 1
                if n_bad <= max_diff:
                    problems.append(f"row {i}: spark={a!r} oracle={b!r}")
        if n_bad > max_diff:
            problems.append(f"... {n_bad} differing rows total")
        if n_bad == 0:
            problems.append("row multiset differs (ordering artifacts?)")
    return problems, len(srows), elapsed


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default=os.environ.get("CHQE_SF_DIR", "/root/testdata/sf0.01"))
    ap.add_argument(
        "--window",
        action="store_true",
        help="run exactly the driver's graded 50-query window "
        "(GRADE_ORDER) in order — the pre-flight for a round close",
    )
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from chapterhouseqe_spark.queries.registry import get_oracles, get_queries
    from chapterhouseqe_spark.session import get_spark, released

    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
    spark = get_spark("check-correctness", shuffle_partitions=8)
    con = duckdb.connect()
    for t in TABLES:
        path = f"{args.sf}/{t}.parquet"
        if os.path.exists(path):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")

    queries = get_queries()
    oracles = get_oracles()
    if args.window:
        from chapterhouseqe_spark.queries.registry import GRADE_ORDER

        names = list(GRADE_ORDER) + args.names
    else:
        names = args.names or sorted(queries)
    n_pass = n_fail = n_skip = 0
    for name in names:
        if name not in queries:
            print(f"?? {name}: not registered")
            n_fail += 1
            continue
        # each query's scope releases the frames its operators persisted
        with released():
            if name not in oracles:
                try:
                    cnt = queries[name](spark, args.sf).count()
                    print(f"-- {name}: no oracle (rows-only): {cnt} rows")
                    n_skip += 1
                except Exception as exc:  # noqa: BLE001
                    print(f"!! {name}: BUILD ERROR {type(exc).__name__}: {exc}")
                    n_fail += 1
                continue
            try:
                df = queries[name](spark, args.sf)
                problems, nrows, secs = compare(name, df, oracles[name], con)
            except Exception as exc:  # noqa: BLE001
                print(f"!! {name}: ERROR {type(exc).__name__}: {str(exc).splitlines()[0][:200]}")
                n_fail += 1
                continue
            if problems:
                print(f"!! {name}: MISMATCH ({nrows} rows, {secs:.1f}s)")
                for p in problems:
                    print(f"     {p}")
                n_fail += 1
            else:
                print(f"ok {name}: {nrows} rows ({secs:.1f}s)")
                n_pass += 1
    print(f"\n{n_pass} pass, {n_fail} fail, {n_skip} rows-only")
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
