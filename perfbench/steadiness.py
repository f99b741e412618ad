"""Run-to-run steadiness of the benchmark's end-to-end metrics.

    python3 perfbench/steadiness.py --runs 10 --first-seed 101 --out set1.json

runs ``run.py`` once per seed on every workload in BENCHMARK.json (one
fresh process each), then reports per workload and metric the median and
the quartile spread ``(q3 - q1) / median`` of the runs, as
``statistics.quantiles(values, n=4)`` gives the quartiles, next to the
metric's bound. ``--compare`` reads an earlier output and reports how far
each median moved.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)


def run_once(workload: str, seed: int, seconds: int) -> dict:
    t = time.perf_counter()
    proc = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    wall = time.perf_counter() - t
    if proc.returncode != 0:
        raise RuntimeError(f"{workload} seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}")
    lines = proc.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    result["wall_s"] = wall
    result["seed"] = seed
    # the CPU steal the run saw: slow runs on a shared VM are runs with steal
    steal = [ln.split()[-1] for ln in lines if ln.startswith("# cpu steal")]
    result["steal_pct"] = float(steal[0].rstrip("%")) if steal else None
    return result


def summarize(runs: list[dict], spec: dict) -> dict:
    out = {}
    for m in spec["end_to_end"]:
        values = [r["metrics"][m["name"]]["value"] for r in runs]
        q1, med, q3 = statistics.quantiles(values, n=4)
        out[m["name"]] = {"median": statistics.median(values), "spread": (q3 - q1) / med,
                          "bound": m["bound"], "values": values}
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--workloads", nargs="*")
    ap.add_argument("--out", required=True)
    ap.add_argument("--compare")
    a = ap.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    workloads = a.workloads or [w["name"] for w in spec["workloads"]]
    report = {}
    for w in workloads:
        runs = []
        for i in range(a.runs):
            r = run_once(w, a.first_seed + i, spec["run_seconds"])
            runs.append(r)
            print(f"{w} seed {r['seed']}: correct={r['correct']} "
                  f"failed={r['failed']}/{r['attempted']} wall={r['wall_s']:.1f}s "
                  f"steal={r['steal_pct']}% "
                  + " ".join(f"{k}={v['value']:.4g}" for k, v in r["metrics"].items()),
                  flush=True)
        report[w] = {"summary": summarize(runs, spec), "runs": runs}
    earlier = None
    if a.compare:
        with open(a.compare) as fh:
            earlier = json.load(fh)
    for w, rep in report.items():
        for name, s in rep["summary"].items():
            line = (f"{w:12s} {name:12s} median={s['median']:.5g} spread={s['spread']:.3f} "
                    f"bound={s['bound']} ({s['spread'] / s['bound']:.2f} of bound)")
            if earlier and w in earlier:
                before = earlier[w]["summary"][name]["median"]
                line += f" vs earlier median {before:.5g} ({(s['median'] - before) / before:+.3f})"
            print(line)
    with open(a.out, "w") as fh:
        json.dump(report, fh, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
