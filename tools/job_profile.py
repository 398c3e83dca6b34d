"""Job/stage-level time attribution for one query (optimization rounds).

Usage::

    python tools/job_profile.py <query> [--sf-dir DIR] [--reps N]

Runs the query once cold + once warm in a session with event logging
enabled, then parses the event log and prints, for the LAST rep, every
job with its wall time, stage breakdown (task time, stage wall) and the
first line of the stage callsite — so the seconds of a slow query can be
charged to specific operators instead of guessed at.

Measurement-only tool; never on the bench path.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="+")
    ap.add_argument("--reps", type=int, default=2)
    ap.add_argument(
        "--sf-dir",
        default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"),
    )
    args = ap.parse_args()

    evdir = tempfile.mkdtemp(prefix="chqe_ev_")
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "6g")

    from chapterhouseqe_spark.queries.registry import get_queries
    from chapterhouseqe_spark.session import get_spark, released

    spark = get_spark(
        "chqe-jobprofile",
        extra_conf={
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{evdir}",
            # Spark 4 compresses event logs (zstd) by default; the
            # parser below reads plain JSONL.
            "spark.eventLog.compress": "false",
        },
    )
    queries = get_queries()
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

    marks = {}
    for name in args.queries:
        build = queries[name]
        times = []
        for r in range(args.reps):
            spark.sparkContext.setJobDescription(f"Q:{name}:rep{r}")
            with released():
                t0 = time.time()
                df = build(spark, args.sf_dir)
                df.write.format("noop").mode("overwrite").save()
                times.append(round(time.time() - t0, 3))
        marks[name] = times
        print(f"{name}: reps={times}", flush=True)
    app_id = spark.sparkContext.applicationId
    spark.stop()

    # ---- parse the event log ----
    logs = glob.glob(os.path.join(evdir, app_id + "*")) + glob.glob(
        os.path.join(evdir, "*" + app_id + "*", "events_*")
    )
    if not logs:
        print(f"no event log found under {evdir}", file=sys.stderr)
        return
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}
    with open(logs[0]) as fh:
        for line in fh:
            try:
                ev = json.loads(line)
            except json.JSONDecodeError:
                continue
            e = ev.get("Event")
            if e == "SparkListenerJobStart":
                jid = ev["Job ID"]
                jobs[jid] = {
                    "start": ev["Submission Time"],
                    "desc": ev.get("Properties", {}).get(
                        "spark.job.description", ""
                    ),
                    "stages": [s["Stage ID"] for s in ev["Stage Infos"]],
                }
            elif e == "SparkListenerJobEnd":
                jid = ev["Job ID"]
                if jid in jobs:
                    jobs[jid]["end"] = ev["Completion Time"]
            elif e == "SparkListenerStageCompleted":
                si = ev["Stage Info"]
                stages[si["Stage ID"]] = {
                    "name": si["Stage Name"].split("\n")[0],
                    "tasks": si["Number of Tasks"],
                    "wall": (si.get("Completion Time", 0) - si.get("Submission Time", 0))
                    / 1000.0,
                }

    # group jobs by description (query + rep)
    by_desc: dict[str, list] = {}
    for jid, j in sorted(jobs.items()):
        by_desc.setdefault(j["desc"], []).append((jid, j))
    for desc, js in by_desc.items():
        if not desc.startswith("Q:"):
            continue
        total = sum((j.get("end", j["start"]) - j["start"]) / 1000.0 for _, j in js)
        print(f"\n== {desc} : {len(js)} jobs, {total:.2f}s job wall ==")
        for jid, j in js:
            dur = (j.get("end", j["start"]) - j["start"]) / 1000.0
            print(f"  job {jid:4d}  {dur:6.2f}s")
            for sid in sorted(j["stages"]):
                s = stages.get(sid)
                if s:
                    print(
                        f"    stage {sid:4d} {s['wall']:6.2f}s "
                        f"{s['tasks']:4d} tasks  {s['name'][:90]}"
                    )


if __name__ == "__main__":
    main()
