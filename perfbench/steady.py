"""Steadiness report: run each workload in two sets of seeded runs.

    python3 perfbench/steady.py --runs 5 [--workloads pipeline_base parse_rich]

Runs ``run.py --trace 0`` once per seed and workload, one run at a time,
in two sets (seeds 1..N, then N+1..2N).  Within a set the workloads
alternate run by run.  It reports for every end-to-end metric the
median and quartiles of each set and of all runs, the interquartile
spread as a share of the median, and the set-to-set difference of the
medians as a share of the first.  The host (nproc, RAM, Spark and JDK
versions) and its load average at start are recorded with the report,
which is printed as JSON and written under ``.perfbench_work/``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def one_run(workload: str, seed: int, seconds: int) -> dict:
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        raise RuntimeError(f"{workload} seed {seed}: exit {proc.returncode}\n"
                           + proc.stdout[-2000:] + proc.stderr[-2000:])
    host = next((ln for ln in lines if ln.startswith("perfbench ")), "")
    return {"result": json.loads(lines[-1]), "header": host}


def stats(values: list[float]) -> dict:
    q1, _, q3 = statistics.quantiles(values, n=4)
    return {"median": statistics.median(values), "q1": q1, "q3": q3,
            "spread": (q3 - q1) / statistics.median(values),
            "n": len(values)}


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        cfg = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--runs", type=int, default=5, help="runs per set")
    ap.add_argument("--workloads", nargs="*",
                    default=[w["name"] for w in cfg["workloads"]])
    args = ap.parse_args()

    with open("/proc/meminfo") as f:
        mem_gb = round(int(f.readline().split()[1]) / 2**20, 1)
    report = {"host": {"nproc": len(os.sched_getaffinity(0)),
                       "mem_gb": mem_gb, "loadavg_start": os.getloadavg()},
              "run_seconds": cfg["run_seconds"], "workloads": {}}
    bounds = {m["name"]: m["bound"] for m in cfg["end_to_end"]}
    # Workloads alternate run by run, so host drift over the window
    # reaches every workload alike.
    sets = {wl: ([], []) for wl in args.workloads}
    for s in range(2):
        for seed in range(1 + s * args.runs, 1 + (s + 1) * args.runs):
            for wl in args.workloads:
                t = time.time()
                r = one_run(wl, seed, cfg["run_seconds"])
                r["wall_s"] = time.time() - t
                sets[wl][s].append(r)
                print(f"{wl} seed {seed}: {r['wall_s']:.0f} s "
                      + json.dumps({k: round(v["value"], 4) for k, v in
                                    r["result"]["metrics"].items()}),
                      file=sys.stderr)
    for wl, (first, second) in sets.items():
        out = {"run_header": first[0]["header"]}
        for name, bound in bounds.items():
            a, b = ([r["result"]["metrics"][name]["value"] for r in runs]
                    for runs in (first, second))
            sa, sb, both = stats(a), stats(b), stats(a + b)
            out[name] = {"bound": bound, "set1": sa, "set2": sb, "all": both,
                         "set_diff": (sb["median"] - sa["median"])
                         / sa["median"]}
        out["run_wall_s"] = stats([r["wall_s"] for r in first + second])
        report["workloads"][wl] = out
    path = os.path.join(ROOT, ".perfbench_work",
                        f"steady-{time.strftime('%Y%m%d-%H%M%S')}.json")
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump(report, f, indent=1)
    print(json.dumps(report, indent=1))
    return 0


if __name__ == "__main__":
    sys.exit(main())
