"""Repository benchmark: one workload per run, in a fresh process.

    python3 perfbench/run.py --workload sql_service --seed 1 --seconds 15 --trace 0

The seed generates the input tables (``tools/gen_sf_data.py``) and the
operation mix; the engine only sees the generated inputs. A run pins
itself to half the CPUs it may use, sets up a ``local[n]`` session on
them, runs one cold pass over the workload's mix, then warm passes
until ``--seconds`` have been measured, and checks every result against
DuckDB after the timed phase. ``--trace 1`` alternates untraced and
traced warm passes and reports per-layer metrics instead of end-to-end
ones. The last stdout line is the JSON result; the line before it is a
report with what the result line has no room for (box health, sample
counts, first-page latency, ...). See README.md.
"""

from __future__ import annotations

import argparse
import contextlib
import io
import json
import os
import random
import shutil
import sys
import time
import traceback
from collections import defaultdict

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
RUNS = os.path.join(HERE, ".runs")  # run log and the last traced run's spans

FAMILIES = ("dedup", "similarity", "graph", "text", "multimodal")


def declared_units() -> tuple[dict, dict]:
    """Metric name -> unit, end-to-end and per-layer, from BENCHMARK.json."""
    with open(os.path.join(REPO, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    return tuple({m["name"]: m["unit"] for m in bench[k]} for k in ("end_to_end", "per_layer"))


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("sql_service", "pipeline_batch", "tpch_etl"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, help="override the workload's scale factor")
    ap.add_argument(
        "--corrupt", action="store_true",
        help="self-test: corrupt one result before the checks",
    )
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    missing = [p for p in ("chapterhouseqe_spark", "tools/gen_sf_data.py", "tools/check_correctness.py")
               if not os.path.exists(os.path.join(REPO, p))]
    if missing:
        print(f"perfbench: not a repository checkout, missing {missing}", file=sys.stderr)
        return 2
    sys.path.insert(0, REPO)
    from perfbench.harness import Health, pin_to_half_the_cores

    health = Health()  # judges the load against every CPU of the box
    pin_to_half_the_cores()
    work = os.path.join(HERE, ".work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    os.makedirs(RUNS, exist_ok=True)
    try:
        result, report = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    report["health"] = health.finish()
    if not report["health"]["healthy"]:
        print(f"perfbench: run flagged unhealthy: {report['health']['reasons']}", file=sys.stderr)
    record = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
              "trace": args.trace, "time": time.time(), **result, "report": report}
    with open(os.path.join(RUNS, "runs.jsonl"), "a") as fh:
        fh.write(json.dumps(record) + "\n")
    print("perfbench report: " + json.dumps(report))
    print(json.dumps(result), flush=True)
    return 0


def run(args, work: str) -> tuple[dict, dict]:
    from perfbench import oracle
    from perfbench.harness import (
        Session, Tracer, event_log_metrics, geomean, median, percentile,
    )
    from perfbench.workloads import POLL_INTERVAL_S, WORKLOADS
    from tools.gen_sf_data import generate

    end_to_end, per_layer = declared_units()
    wl = WORKLOADS[args.workload]()
    sf_dir = os.path.join(work, "data")
    phases = {}
    t = time.perf_counter()
    with contextlib.redirect_stdout(io.StringIO()):
        generate(sf_dir, args.sf or wl.sf, seed=args.seed)
    phases["generate_s"] = time.perf_counter() - t

    t_setup = time.perf_counter()
    session = Session(work, event_log=bool(args.trace))
    tracer = Tracer(session)
    rng = random.Random(args.seed)
    records: list[dict] = []
    ops = []
    passes: list[dict] = []
    try:
        session.warm_scans(sf_dir, wl.tables)
        if wl.python_workers:
            session.warm_python_workers()
        wl.start(session, sf_dir, work, tracer)
        setup_s = time.perf_counter() - t_setup
        if args.trace:
            wl.trace()

        def run_pass(no: int, traced: bool) -> None:
            todo = wl.make_pass(rng)
            tracer.enabled = traced
            t0 = time.perf_counter()
            ids = []
            for op in todo:
                i = len(ops)
                ops.append(op)
                ids.append(i)
                tracer.op = i
                rec = {"op": i, "label": op.label, "traced": traced}
                t_op = time.perf_counter()
                try:
                    rec.update(op.run())
                except Exception as exc:  # a failed op is counted, the run goes on
                    traceback.print_exc()
                    rec["error"] = f"{type(exc).__name__}: {exc}"
                rec["wall_s"] = time.perf_counter() - t_op
                if traced:
                    rec["persisted_rdds"] = session.persisted_rdds()
                records.append(rec)
            tracer.enabled = False
            passes.append({"no": no, "traced": traced, "ops": ids,
                           "wall_s": time.perf_counter() - t0})

        run_pass(0, False)  # cold
        t_warm = time.perf_counter()
        while True:
            no = len(passes)
            run_pass(no, bool(args.trace) and no % 2 == 0)
            if time.perf_counter() - t_warm >= args.seconds and (
                not args.trace or any(p["traced"] for p in passes[1:])
            ):
                break
        phases["warm_s"] = time.perf_counter() - t_warm
        peak_rss_mb = session.peak_rss_mb()

        t = time.perf_counter()
        con = oracle.connect(work)
        try:
            ok_ops = [(r["op"], ops[r["op"]]) for r in records if "error" not in r]
            wrong = wl.check(con, ok_ops, args.corrupt)
        finally:
            con.close()
        phases["check_s"] = time.perf_counter() - t
    finally:
        t = time.perf_counter()
        wl.close()
        tracer.unwrap_all()
        session.close()
        phases["teardown_s"] = time.perf_counter() - t

    for r in records:
        if r["op"] in wrong:
            r["error"] = "result does not match the DuckDB oracle"
    failed = sum(1 for r in records if "error" in r)
    good = {r["op"]: r for r in records if "error" not in r}

    untraced = [p for p in passes[1:] if not p["traced"]]
    warm_ops = [good[i] for p in untraced for i in p["ops"] if i in good]
    lat = [r["latency_s"] for r in warm_ops]
    first_page = [r["first_page_s"] for r in warm_ops if "first_page_s" in r]
    report = {
        "workload": args.workload,
        "seed": args.seed,
        "sf": args.sf or wl.sf,
        "cores": len(os.sched_getaffinity(0)),
        "warm_passes": len(untraced),
        "warm_ops": len(warm_ops),
        "failed_frac": failed / max(1, len(records)),
        "peak_rss_mb": peak_rss_mb,
        "errors": sorted({r["error"] for r in records if "error" in r})[:5],
        "phases": phases,
        "op_s": op_times(records, passes),
    }
    if first_page:
        report["first_page_p50_s"] = median(first_page)
        report["poll_interval_s"] = POLL_INTERVAL_S
    if len(lat) >= 100:
        report["latency_p90_s"] = percentile(lat, 0.9)
    # qps repeats pass_s (a pass runs a fixed number of ops), so it is
    # reported but not gated
    qps = len(warm_ops) / sum(p["wall_s"] for p in untraced)

    if args.trace:
        traced = [p for p in passes[1:] if p["traced"]]
        t_ops = [i for p in traced for i in p["ops"] if i in good]
        values = layer_metrics(tracer, t_ops)
        values.update(event_log_metrics(session.event_dir, tracer.tag_op, t_ops))
        values["storage.persisted_rdds"] = float(
            max(r.get("persisted_rdds", 0) for r in records)
        )
        values["service.first_page_p50_s"] = report.get("first_page_p50_s", 0.0)
        values["peak_rss_mb"] = peak_rss_mb
        values["qps"] = qps
        values["trace.overhead_frac"] = (
            median([p["wall_s"] for p in traced]) / median([p["wall_s"] for p in untraced]) - 1
            if untraced else 0.0
        )
        units = per_layer
        tracer.dump(os.path.join(RUNS, f"spans-{args.workload}.jsonl"))
    else:
        # Per query (label): the median of its warm operations, so that
        # one disturbed operation or pass does not set a figure.
        by_label = defaultdict(list)
        for r in warm_ops:
            by_label[r["label"]].append(r)
        lat_by = [median([r["latency_s"] for r in rs]) for rs in by_label.values()]
        values = {
            "setup_s": setup_s,
            "cold_s": passes[0]["wall_s"],
            # the queries of a pass differ in cost (up to 10x in
            # pipeline_batch, 1.7x in sql_service), so a median over all
            # ops would follow whichever ranks in the middle; the typical
            # query moves with a change to any one of them
            "latency_p50_s": geomean(lat_by),
            "pass_s": sum(median([r["wall_s"] for r in rs]) for rs in by_label.values()),
        }
        report["qps"] = qps
        units = end_to_end
    result = {
        "correct": failed == 0,
        "attempted": len(records),
        "failed": failed,
        "metrics": {k: {"value": float(values[k]), "unit": u} for k, u in units.items()},
    }
    return result, report


def op_times(records: list[dict], passes: list[dict]) -> dict:
    """Per operation label: cold time and the untraced warm times."""
    out: dict = {}
    cold = set(passes[0]["ops"])
    for r in records:
        if "error" in r or r["traced"]:
            continue
        slot = out.setdefault(r["label"], {"cold": [], "warm": []})
        slot["cold" if r["op"] in cold else "warm"].append(r["latency_s"])
    return out


def layer_metrics(tracer, t_ops: list[int]) -> dict:
    per = tracer.per_op
    v = {
        "sql.parser.parse_s": per(t_ops, "sql.parser"),
        "sql.read_files.rewrite_s": per(t_ops, "sql.read_files"),
        "sql.compiler.compile_s": per(t_ops, "sql.compiler"),
        "engine.build_s": per(t_ops, "engine.build"),
        "engine.build_jobs": per(t_ops, "engine.build", "jobs"),
        "spark.plan_s": per(t_ops, "spark.plan"),
        "engine.rowid_s": per(t_ops, "engine.rowid"),
        "engine.rowid_jobs": per(t_ops, "engine.rowid", "jobs"),
        "engine.write_s": per(t_ops, "spark.exec", where=lambda s: s["attrs"].get("result_write")),
        "engine.materialize_s": per(t_ops, "engine.materialize"),
        "engine.fetch_s": per(t_ops, "engine.fetch"),
        "engine.fetch_rows": per(t_ops, "engine.fetch", "rows"),
        "service.overhead_s": per(t_ops, "service.client") - sum(
            per(t_ops, n) for n in ("engine.submit", "engine.status", "engine.fetch")
        ),
        "service.polls_per_op": per(t_ops, "service.poll", "count"),
        "operators.build_s": per(t_ops, "operators.build"),
        "operators.build_jobs": per(t_ops, "operators.build", "jobs"),
        "spark.exec_s": per(t_ops, "spark.exec"),
    }
    for fam in FAMILIES:
        same = lambda s, fam=fam: s["attrs"].get("family") == fam  # noqa: E731
        v[f"operators.{fam}.build_s"] = per(t_ops, "operators.build", where=same)
        v[f"operators.{fam}.build_jobs"] = per(t_ops, "operators.build", "jobs", where=same)
    return v


if __name__ == "__main__":
    sys.exit(main())
