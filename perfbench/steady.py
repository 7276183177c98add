"""Run-to-run spread of the benchmark.

    python3 perfbench/steady.py --workloads build_planted build_linked --seeds 1-10

Runs ``run.py`` once per (workload, seed), one run at a time, and prints for
every end-to-end metric the median and the distance between the first and
third quartiles (``statistics.quantiles(values, n=4)``) as a share of the
median, next to the metric's bound in BENCHMARK.json. Raw results are
appended as JSON lines to ``--out``, and each run's stderr report is kept
next to it, in ``<out>.d/<workload>-<seed>.txt``.
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


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", nargs="+", default=[w["name"] for w in bench["workloads"]])
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--out", default=os.path.join(ROOT, ".perfbench_work", "steady.jsonl"))
    args = ap.parse_args()
    reports = args.out + ".d"
    os.makedirs(reports, exist_ok=True)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    ok = True
    for wl in args.workloads:
        values: dict[str, list[float]] = {}
        for seed in seeds(args.seeds):
            cmd = [*bench["command"], "--workload", wl, "--seed", str(seed),
                   "--seconds", str(bench["run_seconds"]), "--trace", "0"]
            t0 = time.perf_counter()
            proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
            wall = time.perf_counter() - t0
            with open(os.path.join(reports, f"{wl}-{seed}.txt"), "w") as f:
                f.write(proc.stderr)
            last = proc.stdout.strip().splitlines()[-1] if proc.stdout.strip() else ""
            if proc.returncode != 0 or not last.startswith("{"):
                print(f"{wl} seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}")
                ok = False
                continue
            res = json.loads(last)
            with open(args.out, "a") as f:
                f.write(json.dumps({"workload": wl, "seed": seed, **res}) + "\n")
            if not res["correct"] or res["failed"]:
                ok = False
            for k, v in res["metrics"].items():
                values.setdefault(k, []).append(v["value"])
            print(f"{wl} seed {seed}: correct={res['correct']} "
                  f"failed={res['failed']}/{res['attempted']} wall {wall:.0f}s", flush=True)
        for k, vs in values.items():
            if len(vs) < 2:
                continue
            q1, med, q3 = statistics.quantiles(vs, n=4)
            spread = (q3 - q1) / med
            bound = bounds.get(k)
            flag = "" if bound is None or spread <= bound / 3 else "  <-- above bound/3"
            print(f"  {wl:<14} {k:<30} median {med:12.4f}  spread {spread:7.4f}"
                  f"  bound {bound}{flag}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
