"""Per-query profiler: rep times, plans and where the last rep's time went.

Usage::

    python tools/profile_query.py <query> [<query> ...] [--reps N]
        [--sf-dir DIR] [--plan-out DIR] [--tag SUFFIX]

Runs on one perfbench session with the Spark event log on, warmed as
``bench.py`` warms each pass. For each named query it times ``reps``
noop-sink runs and, with ``--plan-out``, writes ``.explain("formatted")``
to ``<plan-out>/<query>_<tag>.txt``, so before/after plan shapes are
committed evidence. Once the session has stopped, it reads the event
log and prints every job of each query's last rep with its wall time
and its stages (wall time, task count, first line of the call site),
so a slow query's seconds can be charged to operators.

A measurement tool: it never writes a bench artifact.
"""

from __future__ import annotations

import argparse
import glob
import io
import json
import os
import shutil
import sys
import tempfile
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import time_query, warm_session  # noqa: E402


def print_jobs(event_dir: str, descs: list[str]) -> None:
    """Per-job and per-stage wall times of the jobs whose description
    is in ``descs``, read from a finished event log."""
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}
    for path in glob.glob(os.path.join(event_dir, "*")):
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    desc = (ev.get("Properties") or {}).get("spark.job.description")
                    if desc in descs:
                        t = ev["Submission Time"]
                        jobs[ev["Job ID"]] = {
                            "desc": desc, "start": t, "end": t, "stages": ev["Stage IDs"]
                        }
                elif kind == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]]["end"] = ev["Completion Time"]
                elif kind == "SparkListenerStageCompleted":
                    stages[ev["Stage Info"]["Stage ID"]] = ev["Stage Info"]
    for desc in descs:
        mine = sorted((jid, j) for jid, j in jobs.items() if j["desc"] == desc)
        wall = sum(j["end"] - j["start"] for _, j in mine) / 1000
        print(f"\n== {desc}: {len(mine)} jobs, {wall:.2f}s job wall ==")
        for jid, j in mine:
            print(f"  job {jid:4d}  {(j['end'] - j['start']) / 1000:6.2f}s")
            for sid in sorted(j["stages"]):
                s = stages.get(sid)
                if s:
                    s_wall = (s.get("Completion Time", 0) - s.get("Submission Time", 0)) / 1000
                    print(
                        f"    stage {sid:4d} {s_wall:6.2f}s "
                        f"{s['Number of Tasks']:4d} tasks  {s['Stage Name'].splitlines()[0][:90]}"
                    )


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="+")
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--plan-out", default=None)
    ap.add_argument("--tag", default="before")
    args = ap.parse_args()

    from chapterhouseqe_spark.queries.registry import get_queries
    from chapterhouseqe_spark.session import released

    queries = get_queries()
    work = tempfile.mkdtemp(prefix="chqe_profile_")
    last_reps = []
    try:
        session = warm_session(work, args.sf_dir, event_log=True)
        spark = session.spark
        try:
            for name in args.queries:
                build = queries[name]
                times = []
                for r in range(args.reps):
                    spark.sparkContext.setJobDescription(f"{name} rep{r}")
                    times.append(time_query(spark, build, args.sf_dir))
                spark.sparkContext.setJobDescription(None)
                last_reps.append(f"{name} rep{args.reps - 1}")
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
        finally:
            session.close()
        print_jobs(session.event_dir, last_reps)
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
