"""Summarize run records: median, quartiles and spread per workload and metric.

    python3 perfbench/summarize.py [.perfbench/runs] > summary.json

Reads every untraced record (``*-trace0.json``) in the directory and, per
workload and end-to-end metric, reports the median, the first and third
quartiles (``statistics.quantiles(values, n=4)``) and the spread, (q3 - q1)
/ median, with the seeds, CPU steal and failures of the runs. Traced
records (``*-trace1.json``) contribute their per-layer metrics.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import sys


def _stats(values: list[float]) -> dict:
    med = statistics.median(values)
    q1, _, q3 = statistics.quantiles(values, n=4) if len(values) > 1 else (med, med, med)
    return {"median": med, "q1": q1, "q3": q3, "spread": (q3 - q1) / med if med else 0.0,
            "n": len(values)}


def summarize(runs_dir: str) -> dict:
    out: dict = {}
    for path in sorted(glob.glob(os.path.join(runs_dir, "*-trace0.json"))):
        with open(path) as fh:
            r = json.load(fh)
        w = out.setdefault(r["workload"], {"runs": [], "end_to_end": {}})
        w["runs"].append({"seed": r["seed"], "metrics": r["end_to_end"],
                          "failed": r["result"]["failed"], "steal_timed": r["host"]["steal_timed"]})
    for w in out.values():
        names = w["runs"][0]["metrics"]
        w["end_to_end"] = {m: _stats([x["metrics"][m] for x in w["runs"]]) for m in names}
    for path in sorted(glob.glob(os.path.join(runs_dir, "*-trace1.json"))):
        with open(path) as fh:
            r = json.load(fh)
        w = out.setdefault(r["workload"], {"runs": [], "end_to_end": {}})
        w.setdefault("traced", []).append({
            "seed": r["seed"], "layers": r["layers"],
            "unattributed": r["trace"]["unattributed"], "overhead": r["trace"]["overhead"],
        })
    return out


if __name__ == "__main__":
    json.dump(summarize(sys.argv[1] if len(sys.argv) > 1 else ".perfbench/runs"), sys.stdout, indent=1)
    print()
