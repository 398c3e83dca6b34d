"""Per-query profiler for the optimization rounds.

Usage::

    python tools/profile_query.py <query> [<query> ...] [--reps N]
        [--sf-dir DIR] [--plan-out DIR] [--tag SUFFIX]

For each named query: builds the DataFrame, times ``reps`` noop-sink
materializations (guide §1.4) in ONE warm session, and (optionally)
writes ``.explain("formatted")`` to ``<plan-out>/<query>_<tag>.txt``
so before/after plan shapes are committed evidence, not claims.

This is a measurement tool — it never touches the bench artifact and
is excluded from the bench's timed path entirely.
"""

from __future__ import annotations

import argparse
import io
import os
import sys
import time
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="+")
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--plan-out", default=None)
    ap.add_argument("--tag", default="before")
    args = ap.parse_args()

    from chapterhouseqe_spark.queries.registry import get_queries
    from chapterhouseqe_spark.session import get_spark, released

    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "6g")
    spark = get_spark("chqe-profile")
    queries = get_queries()

    # warm the page cache / JIT the scan path once, like bench.py
    for tbl in ("region", "lineitem", "orders", "customer", "documents",
                "embeddings", "events"):
        p = f"{args.sf_dir}/{tbl}.parquet"
        if os.path.exists(p):
            spark.read.parquet(p).write.format("noop").mode("overwrite").save()

    def _warm_py(batches):
        import numpy  # noqa: F401
        yield from batches

    n_cores = spark.sparkContext.defaultParallelism
    spark.range(0, n_cores, 1, n_cores).mapInPandas(
        _warm_py, "id long"
    ).write.format("noop").mode("overwrite").save()

    for name in args.queries:
        build = queries[name]
        times = []
        for r in range(args.reps):
            spark.sparkContext.setJobDescription(f"{name} rep{r}")
            with released():
                t0 = time.time()
                df = build(spark, args.sf_dir)
                df.write.format("noop").mode("overwrite").save()
                times.append(round(time.time() - t0, 3))
        spark.sparkContext.setJobDescription(None)
        print(f"{name}: reps={times} min={min(times)}", flush=True)
        if args.plan_out:
            os.makedirs(args.plan_out, exist_ok=True)
            buf = io.StringIO()
            with released(), redirect_stdout(buf):
                build(spark, args.sf_dir).explain("formatted")
            with open(
                os.path.join(args.plan_out, f"{name}_{args.tag}.txt"), "w"
            ) as fh:
                fh.write(buf.getvalue())


if __name__ == "__main__":
    main()
