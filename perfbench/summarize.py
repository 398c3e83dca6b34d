"""Summarize recorded runs: per workload and metric, the median, the
quartiles and their spread as a share of the median; runs flagged
unhealthy or with failed operations are listed, never dropped.

Every run of ``run.py`` appends its record to ``.runs/runs.jsonl``
beside this file.

    python3 perfbench/summarize.py [--since EPOCH] [--trace 0|1] [--json]
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
from collections import defaultdict

HERE = os.path.dirname(os.path.abspath(__file__))


def load(path: str, since: float, trace: int) -> list[dict]:
    with open(path) as fh:
        runs = [json.loads(line) for line in fh if line.strip()]
    return [r for r in runs if r["time"] >= since and r["trace"] == trace]


def summarize(runs: list[dict]) -> dict:
    out: dict = {}
    by_wl = defaultdict(list)
    for r in runs:  # self-test runs use another scale factor
        by_wl[f"{r['workload']}@sf{r['report']['sf']}"].append(r)
    for wl, rs in sorted(by_wl.items()):
        metrics = {}
        for name in rs[0]["metrics"]:
            vals = [r["metrics"][name]["value"] for r in rs]
            med = statistics.median(vals)
            q1, _, q3 = statistics.quantiles(vals, n=4) if len(vals) > 1 else (med, med, med)
            metrics[name] = {
                "unit": rs[0]["metrics"][name]["unit"],
                "median": med,
                "q1": q1,
                "q3": q3,
                "spread": (q3 - q1) / med if med else 0.0,
            }
        out[wl] = {
            "runs": len(rs),
            "seeds": [r["seed"] for r in rs],
            "unhealthy": [
                {"seed": r["seed"], "reasons": r["report"]["health"]["reasons"]}
                for r in rs if not r["report"]["health"]["healthy"]
            ],
            "failed": [r["seed"] for r in rs if r["failed"]],
            "metrics": metrics,
        }
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--runs", default=os.path.join(HERE, ".runs", "runs.jsonl"))
    ap.add_argument("--since", type=float, default=0.0, help="epoch seconds")
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--json", action="store_true")
    args = ap.parse_args(argv)
    summary = summarize(load(args.runs, args.since, args.trace))
    if args.json:
        print(json.dumps(summary, indent=1))
        return 0
    for wl, s in summary.items():
        print(f"{wl}: {s['runs']} runs, seeds {s['seeds']}")
        for name, m in s["metrics"].items():
            print(f"  {name:28s} median {m['median']:.4g} {m['unit']}"
                  f"  q1 {m['q1']:.4g}  q3 {m['q3']:.4g}  spread {m['spread']:.3f}")
        for u in s["unhealthy"]:
            print(f"  UNHEALTHY seed {u['seed']}: {u['reasons']}")
        if s["failed"]:
            print(f"  FAILED ops in seeds {s['failed']}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
