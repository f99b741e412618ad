"""The benchmark's own self-check, at the tiny shape:

    python3 perfbench/selfcheck.py

* the same seed gives byte-identical inputs, a different seed different ones;
* the oracle agrees with the library on every op of every workload
  (a run of ``run.py`` with ``failed == 0``);
* the metric names and units a run prints are those in BENCHMARK.json,
  untraced and traced.

Exits 0 when every check passes.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import gen  # noqa: E402
from run import WORK, WORKLOADS  # noqa: E402


def check_inputs(problems: list[str]) -> None:
    os.makedirs(WORK, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix="selfcheck-", dir=WORK)
    try:
        for w in WORKLOADS:
            digests = {}
            for tag, seed in (("a", 1), ("b", 1), ("c", 2)):
                out = os.path.join(tmp, f"{w}-{tag}")
                digests[tag] = gen.generate(w, seed, "tiny", out)["files"]
            if digests["a"] != digests["b"]:
                problems.append(f"{w}: seed 1 twice gave different inputs")
            if digests["a"] == digests["c"]:
                problems.append(f"{w}: seeds 1 and 2 gave identical inputs")
            print(f"inputs {w}: {len(digests['a'])} files, deterministic per seed", flush=True)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def check_runs(problems: list[str]) -> None:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    for trace, key in ((0, "end_to_end"), (1, "per_layer")):
        want = {m["name"]: m["unit"] for m in spec[key]}
        for w in WORKLOADS:
            proc = subprocess.run(
                [sys.executable, os.path.join(BENCH, "run.py"), "--workload", w, "--seed", "3",
                 "--seconds", "1", "--trace", str(trace), "--shape", "tiny"],
                cwd=ROOT, capture_output=True, text=True, timeout=600)
            if proc.returncode != 0:
                problems.append(f"{w} trace={trace}: exit {proc.returncode}: {proc.stderr[-800:]}")
                continue
            lines = proc.stdout.strip().splitlines()
            result = json.loads(lines[-1])
            got = {k: v["unit"] for k, v in result["metrics"].items()}
            if got != want:
                problems.append(f"{w} trace={trace}: metrics differ from BENCHMARK.json "
                                f"{key}: {sorted(set(got) ^ set(want))}")
            if result["failed"] or not result["correct"]:
                fails = [ln for ln in lines if ln.startswith("# FAIL")]
                problems.append(f"{w} trace={trace}: oracle disagrees: {fails[:3]}")
            print(f"run {w} trace={trace}: correct={result['correct']} "
                  f"{result['failed']}/{result['attempted']} failed", flush=True)


def main() -> int:
    problems: list[str] = []
    check_inputs(problems)
    check_runs(problems)
    for p in problems:
        print("PROBLEM", p)
    print("selfcheck", "failed" if problems else "passed")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
