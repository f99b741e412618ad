"""Seeded benchmark of nested_pandas_spark, run from the root of a checkout:

    python3 perfbench/run.py --workload pack_flat --seed 1 --seconds 15 --trace 0

One process is one run: it generates (or reuses) the seeded inputs, starts a
fresh Spark session (``get_spark(cpus=nproc)``), warms up, then runs the
workload's ops in a closed loop with one client (this process) for
``--seconds`` and checks every answer against the oracle. The last line of
standard output is one JSON object: ``correct``, ``attempted``, ``failed``
and ``metrics``. ``--trace 0`` reports the end-to-end metrics, ``--trace 1``
the per-layer metrics of a separate traced run (see ``tracing.py``). Lines
before it, prefixed ``#``, give per-op details for a reader.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import resource
import shlex
import shutil
import statistics
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(ROOT, ".perfbench_work")
WORKLOADS = ("pack_flat", "nested_scan", "corpus")

# Warm-up passes after the cold session start; they count in setup_s. The
# first pass of a fresh JVM takes 4-5 times a warm pass, the second ~1.3
# times, and later passes are flat. A fixed count, not a stop-when-flat
# rule, so that setup_s times the same work in every run.
WARMUP_PASSES = 2
CACHE_KEEP = 4        # cached input sets kept per workload
# Timed passes a run makes at least, whatever --seconds says: every op
# gets at least this many latency samples, so op_tail_s (the second
# highest of an op's samples) stays a high order statistic of each op.
MIN_PASSES = {"pack_flat": 4, "nested_scan": 5, "corpus": 4}
TRACED_PASSES = 3     # traced passes a traced run makes at least

END_TO_END = {"setup_s": "s", "rows_per_s": "rows/s", "op_p50_s": "s", "op_tail_s": "s",
              "mem_mb": "MB"}
OP_NAMES = {
    "pack_flat": ("ztf_chain", "pack_write", "pack_explode", "lsh_pairs", "ivfpq_topk",
                  "exact_topk"),
    "nested_scan": ("filter_elements", "reduce_hof", "reduce_udf", "sort_cells",
                    "lc_features", "unpack"),
    "corpus": ("lsh_pairs", "ivfpq_topk", "exact_topk"),
}
PER_LAYER = {
    "session.start_s": "s",
    "nestedframe.build_s": "s", "expr.compile_s": "s", "expr.kernel_s": "s",
    "io.read_s": "s", "io.scan_tasks": "count", "io.rows_read": "count", "io.bytes_read": "bytes",
    "io.write_s": "s", "io.bytes_written": "bytes",
    "packer.pack_s": "s", "packer.shuffle_bytes": "bytes", "packer.collect_list_execs": "count",
    "aggregates.kernel_s": "s", "sorting.kernel_s": "s", "map_rows.kernel_s": "s",
    "timeseries.kernel_s": "s", "restructure.unpack_s": "s",
    "dedup.lsh_s": "s", "dedup.candidate_pairs": "count", "dedup.planted_recall": "ratio",
    "dedup.candidates_per_planted": "ratio",
    "similarity.ivfpq_s": "s", "similarity.exact_s": "s", "similarity.recall_at_10": "ratio",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.shuffle_bytes": "bytes", "spark.spill_bytes": "bytes", "spark.task_p50_s": "s",
    "spark.task_max_s": "s", "spark.sched_wait_s": "s", "spark.persisted_rdds_delta": "count",
    "driver.peak_rss_mb": "MB", "workers.peak_rss_mb": "MB",
    "trace.op_p50_s": "s", "trace.plain_op_p50_s": "s", "trace.overhead_s": "s",
    **{f"op.{n}.p50_s": "s" for names in OP_NAMES.values() for n in names},
}
MAX_OVER_OPS = {"spark.task_p50_s", "spark.task_max_s"}


def say(*parts) -> None:
    print("#", *parts, flush=True)


def parse_args(argv: list[str] | None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--shape", default="full", choices=("full", "tiny"))
    return ap.parse_args(argv)


# -- inputs --------------------------------------------------------------------

def prepare_inputs(workload: str, seed: int, shape: str) -> str:
    """Directory of the generated inputs and oracle, generated once per
    (workload, seed, shape, generator source) in a child process, so
    neither the work nor its memory counts against the run."""
    src = hashlib.sha256()
    for name in ("gen.py", "oracle.py"):
        with open(os.path.join(BENCH, name), "rb") as fh:
            src.update(fh.read())
    base = os.path.join(WORK, "inputs")
    out = os.path.join(base, f"{workload}-{shape}-s{seed}-{src.hexdigest()[:10]}")
    if not os.path.exists(os.path.join(out, "inputs.json")):
        tmp = f"{out}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        subprocess.run([sys.executable, os.path.join(BENCH, "gen.py"), "--workload", workload,
                        "--seed", str(seed), "--shape", shape, "--out", tmp],
                       check=True, timeout=170)
        shutil.rmtree(out, ignore_errors=True)
        os.replace(tmp, out)
    os.utime(out)
    cached = sorted((d for d in os.listdir(base) if d.startswith(f"{workload}-")
                     and ".tmp" not in d), key=lambda d: os.path.getmtime(os.path.join(base, d)))
    for old in cached[:-CACHE_KEEP]:
        shutil.rmtree(os.path.join(base, old), ignore_errors=True)
    return out


# -- environment -----------------------------------------------------------------

def configure(run_dir: str, trace: bool) -> str | None:
    """Keep every file Spark, the JVM and Python workers write inside the
    checkout; returns the event-log directory of a traced run."""
    local, tmp = os.path.join(run_dir, "local"), os.path.join(run_dir, "tmp")
    for d in (local, tmp):
        os.makedirs(d, exist_ok=True)
    path = [ROOT, BENCH] + ([os.environ["PYTHONPATH"]] if os.environ.get("PYTHONPATH") else [])
    os.environ["PYTHONPATH"] = os.pathsep.join(path)  # Python workers import ops.py
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    # every JVM (the spark-submit launcher too) would keep a perf-data file in /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    confs = {"spark.ui.showConsoleProgress": "false",
             "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse")}
    log_dir = None
    if trace:
        log_dir = os.path.join(run_dir, "eventlog")
        os.makedirs(log_dir)
        confs.update({"spark.eventLog.enabled": "true", "spark.eventLog.dir": log_dir,
                      "spark.eventLog.compress": "false",
                      "spark.eventLog.rolling.enabled": "false"})
    args = [a for k, v in confs.items() for a in ("--conf", f"{k}={v}")]
    args += ["--driver-java-options", f"-Djava.io.tmpdir={tmp}"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(map(shlex.quote, args)) + " pyspark-shell"
    return log_dir


def status_kb(pid: int | str, key: str = "VmHWM") -> int:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith(key + ":"):
                return int(line.split()[1])
    return 0


def alive(pid: int) -> bool:
    """The process exists and is not a zombie."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


def descendants(pid: int) -> list[int]:
    """Live descendant processes of ``pid`` (the JVM's Python workers)."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as fh:
                    ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def peak_rss_mb(jvm_pid: int) -> tuple[float, float]:
    """High-water RSS of the driver JVM and of the Python driver."""
    return status_kb(jvm_pid) / 1024.0, resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0


def jvm_live_mb(spark) -> tuple[float, float]:
    """Driver JVM heap and non-heap in use right after a full GC. Its RSS
    is no measure of what the program holds: under the default 16 GiB
    heap it follows how far G1 grew the heap, which wanders by 2x between
    runs of the same inputs."""
    jvm = spark._jvm
    jvm.java.lang.System.gc()
    mx = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    return (mx.getHeapMemoryUsage().getUsed() / 2**20,
            mx.getNonHeapMemoryUsage().getUsed() / 2**20)


def workers_rss_mb(jvm_pid: int) -> float:
    total = 0
    for pid in descendants(jvm_pid):
        try:
            total += status_kb(pid)
        except OSError:
            continue
    return total / 1024.0


def cpu_jiffies() -> tuple[int, int]:
    """(steal, total) CPU time of the machine from /proc/stat. Steal is
    time the hypervisor gave this VM's CPUs to someone else."""
    with open("/proc/stat") as fh:
        fields = [int(x) for x in fh.readline().split()[1:]]
    return (fields[7] if len(fields) > 7 else 0), sum(fields[:8])


# -- timing --------------------------------------------------------------------

def pass_order(ops: list, index: int) -> list:
    """Pass ``index`` starts at a rotating op, and every other round of
    rotations runs backwards, so no op always follows the same neighbour."""
    n = len(ops)
    order = ops[index % n:] + ops[:index % n]
    return order[::-1] if (index // n) % 2 else order


class Session:
    """The Spark session and the workload's ops built on it."""

    def __init__(self, workload: str, data: str, run_dir: str, cpus: int):
        self.workload, self.data, self.run_dir, self.cpus = workload, data, run_dir, cpus
        with open(os.path.join(data, "oracle.json")) as fh:
            self.oracle = json.load(fh)
        with open(os.path.join(data, "inputs.json")) as fh:
            self.sizes = json.load(fh)["sizes"]
        self.spark = None
        self.ops: list = []
        self.passes = 0

    def start(self) -> float:
        """Start the session; returns the seconds ``get_spark`` took."""
        from nested_pandas_spark import get_spark
        import ops

        t = time.perf_counter()
        self.spark = get_spark(cpus=self.cpus)
        took = time.perf_counter() - t
        self.ops = ops.WORKLOADS[self.workload](
            self.spark, self.data, self.run_dir, self.oracle, self.sizes)
        return took

    def next_pass(self) -> list:
        order = pass_order(self.ops, self.passes)
        self.passes += 1
        return order

    def warm_pass(self) -> None:
        from ops import run_op

        for op in self.next_pass():
            t = time.perf_counter()
            run_op(op)
            say(f"  warm-up {op.name}: {time.perf_counter() - t:.3f} s")

    def setup(self, passes: int) -> tuple[float, float]:
        """The cold set-up: session start, then ``passes`` warm-up passes.
        Returns the set-up seconds and the session-start seconds."""
        t = time.perf_counter()
        start_s = self.start()
        for i in range(passes):
            p = time.perf_counter()
            self.warm_pass()
            say(f"warm-up pass {i + 1}: {time.perf_counter() - p:.3f} s")
        return time.perf_counter() - t, start_s

    def jvm_pid(self) -> int:
        return int(self.spark._jvm.java.lang.ProcessHandle.current().pid())


def digest(answer: dict) -> str:
    def canon(x):
        if isinstance(x, float):
            return float(f"{x:.9g}")
        if isinstance(x, dict):
            return {k: canon(v) for k, v in x.items()}
        if isinstance(x, list):
            return [canon(v) for v in x]
        return x
    return hashlib.sha256(json.dumps(canon(answer), sort_keys=True).encode()).hexdigest()[:16]


class Tally:
    """Latencies, failures and first-answer digests of one run."""

    def __init__(self) -> None:
        self.lat: dict[str, list[float]] = {}
        self.attempted = 0
        self.failed = 0
        self.digests: dict[str, str] = {}
        self.answers: dict[str, dict] = {}

    def record(self, op, seconds: float | None, answer: dict | None, errs: list[str]) -> None:
        self.attempted += 1
        if errs:
            self.failed += 1
            say(f"FAIL {op.name}: {'; '.join(errs)[:500]}")
            return
        self.lat.setdefault(op.name, []).append(seconds)
        self.answers.setdefault(op.name, answer)
        self.digests.setdefault(op.name, digest(answer))

    def all(self) -> list[float]:
        return [x for v in self.lat.values() for x in v]


def checked(op, run) -> tuple[float | None, dict | None, list[str]]:
    """Run one execution through ``run(op)`` -> (seconds, result), then
    check it. A raised error counts as a failed op."""
    try:
        seconds, result = run(op)
        answer = op.answer(result)
        return seconds, answer, op.check(answer)
    except Exception as e:  # noqa: BLE001 - any failure of an op is reported and counted
        return None, None, [f"{type(e).__name__}: {e}"]


def timed(op) -> tuple[float, object]:
    from ops import run_op

    t = time.perf_counter()
    result = run_op(op)
    return time.perf_counter() - t, result


def op_p50(lat: dict[str, list[float]]) -> float:
    """The median op: the median over ops of each op's median latency.
    Pooled samples would put the median at the edge between two ops'
    groups of latencies, where one stray sample moves it."""
    return statistics.median(statistics.median(v) for v in lat.values())


def op_tail(lat: dict[str, list[float]]) -> float:
    """The slowest op's tail: per op the second-highest of its own
    latencies (one straggler beyond it), then the maximum over ops."""
    return max(sorted(v)[-2] if len(v) > 1 else v[0] for v in lat.values())


def measure(sess: Session, seconds: float, tally: Tally, passes: int, run=timed) -> None:
    """Whole passes until ``seconds`` have passed and at least ``passes``
    passes are done."""
    t = time.perf_counter()
    done = 0
    while time.perf_counter() - t < seconds or done < passes:
        for op in sess.next_pass():
            tally.record(op, *checked(op, run))
        done += 1
        if done >= passes and not tally.all():
            break  # every op fails: stop rather than loop


def report(correct: bool, tally: Tally, metrics: dict, units: dict) -> None:
    for name, d in sorted(tally.digests.items()):
        say(f"digest {name} {d}")
    print(json.dumps({
        "correct": correct, "attempted": tally.attempted, "failed": tally.failed,
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
    }), flush=True)


# -- runs ------------------------------------------------------------------------

def timed_run(sess: Session, seconds: float) -> None:
    setup_s, start_s = sess.setup(WARMUP_PASSES)
    say(f"setup: {setup_s:.3f} s (session start {start_s:.3f} s)")
    tally = Tally()
    steal0, total0 = cpu_jiffies()
    measure(sess, seconds, tally, MIN_PASSES[sess.workload])
    steal1, total1 = cpu_jiffies()
    say(f"cpu steal during the timed loop: {100.0 * (steal1 - steal0) / max(1, total1 - total0):.1f}%")
    jvm_mb, py_mb = peak_rss_mb(sess.jvm_pid())
    say(f"peak rss: driver JVM {jvm_mb:.1f} MB + Python driver {py_mb:.1f} MB")
    heap_mb, nonheap_mb = jvm_live_mb(sess.spark)
    say(f"live after full GC: JVM heap {heap_mb:.1f} MB + non-heap {nonheap_mb:.1f} MB")
    lat = tally.all()
    p50 = {name: statistics.median(v) for name, v in tally.lat.items()}
    for name, v in tally.lat.items():
        say(f"op {name}: n={len(v)} p50={p50[name]:.4f} s max={max(v):.4f} s")
    # a pass at every op's median latency: robust to a stray slow sample
    pass_rows = sum(op.rows for op in sess.ops if op.name in p50)
    metrics = {"setup_s": setup_s, "mem_mb": heap_mb + nonheap_mb + py_mb,
               "rows_per_s": pass_rows / sum(p50.values()) if p50 else 0.0,
               "op_p50_s": op_p50(tally.lat) if lat else 0.0,
               "op_tail_s": op_tail(tally.lat) if lat else 0.0}
    say(f"fail_ratio {tally.failed}/{tally.attempted}")
    report(tally.failed == 0 and bool(lat), tally, metrics, END_TO_END)


def answer_metrics(name: str, answer: dict, sizes: dict) -> dict:
    if name == "lsh_pairs":
        return {"dedup.candidate_pairs": answer["candidate_pairs"],
                "dedup.planted_recall": answer["planted_recall"],
                "dedup.candidates_per_planted": answer["candidate_pairs"] / sizes["planted_pairs"]}
    if name == "ivfpq_topk":
        return {"similarity.recall_at_10": answer["recall_at_10"]}
    return {}


def traced_run(sess: Session, seconds: float, log_dir: str, trace_path: str) -> None:
    import tracing as tr

    total, start_s = sess.setup(WARMUP_PASSES)
    say(f"setup: {total:.3f} s (session start {start_s:.3f} s)")
    tracer = tr.Tracer()
    per_op: dict[str, list[dict]] = {}
    plain, traced = Tally(), Tally()

    def run(op):
        op_id = f"{op.name}#{len(per_op.get(op.name, []))}"
        result, m = tr.traced_execution(sess.spark, op, op_id, tracer)
        m["op_id"] = op_id
        per_op.setdefault(op.name, []).append(m)
        return m["latency_s"], result

    # untraced and traced passes alternate, so the overhead is not
    # confounded with warm-up
    t = time.perf_counter()
    passes = 0
    while time.perf_counter() - t < seconds or passes < TRACED_PASSES:
        measure(sess, 0, plain, 1)
        measure(sess, 0, traced, 1, run)
        passes += 1
    pid = sess.jvm_pid()
    workers = workers_rss_mb(pid)
    driver = sum(peak_rss_mb(pid))
    sess.spark.stop()
    groups = tr.read_event_log(log_dir)

    layer = {k: 0.0 for k in PER_LAYER}
    details = {}
    ops_by_name = {o.name: o for o in sess.ops}
    for name, runs in per_op.items():
        stages = ops_by_name[name].stages
        for m in runs:
            g = groups.get(f"{m['op_id']}/run", {})
            m.update({k: v for k, v in g.items() if k in PER_LAYER and k not in m})
            m["stages"] = g.get("stages", [])
            shuffle = [groups.get(f"{m['op_id']}/p{k}", {}).get("spark.shuffle_bytes", 0.0)
                       for k in range(len(m["prefix_s"]))]
            m["packer.shuffle_bytes"] = sum(
                shuffle[k] - (shuffle[k - 1] if k else 0.0)
                for k, st in enumerate(stages) if st.layer == "packer.pack_s")
            if name in traced.answers:
                m.update(answer_metrics(name, traced.answers[name], sess.sizes))
        med = {k: statistics.median(m.get(k, 0.0) for m in runs)
               for k in PER_LAYER if any(k in m for m in runs)}
        details[name] = {"median": med, "runs": runs}
        for k, v in med.items():
            layer[k] = max(layer[k], v) if k in MAX_OVER_OPS else layer[k] + v
        def mid(key, k=None):
            return statistics.median(m[key] if k is None else m[key][k] for m in runs)

        for k, st in enumerate(stages):
            say(f"layer {name} {k} {st.call} {st.layer} prefix={mid('prefix_s', k):.4f} "
                f"self={mid('self_s', k):.4f}")
        say(f"layer {name} action self={mid('action_self_s'):.4f} latency={mid('latency_s'):.4f} "
            f"shuffle_bytes={med.get('spark.shuffle_bytes', 0):.0f} "
            f"collect_list_execs={med.get('packer.collect_list_execs', 0):.0f} (medians of {len(runs)})")
        for s in runs[-1]["stages"]:
            say(f"stage {name} {s['stage']} tasks={s['tasks']} p50={s['task_p50_s']:.4f} "
                f"max={s['task_max_s']:.4f}")
    layer["session.start_s"] = start_s
    layer["driver.peak_rss_mb"] = driver
    layer["workers.peak_rss_mb"] = workers
    for name, v in plain.lat.items():
        layer[f"op.{name}.p50_s"] = statistics.median(v)
    plain_p50 = op_p50(plain.lat) if plain.lat else 0.0
    traced_p50 = op_p50(traced.lat) if traced.lat else 0.0
    layer.update({"trace.op_p50_s": traced_p50, "trace.plain_op_p50_s": plain_p50,
                  "trace.overhead_s": traced_p50 - plain_p50})
    say(f"tracing overhead: traced op_p50 {traced_p50:.4f} s - untraced {plain_p50:.4f} s "
        f"= {traced_p50 - plain_p50:+.4f} s")
    tracer.dump(trace_path + ".spans.json")
    with open(trace_path + ".ops.json", "w") as fh:
        json.dump(details, fh, indent=1, default=str)
    say(f"trace written to {os.path.relpath(trace_path, ROOT)}.{{spans,ops}}.json")
    tally = Tally()
    for t_ in (plain, traced):
        tally.attempted += t_.attempted
        tally.failed += t_.failed
        tally.digests.update(t_.digests)
    report(tally.failed == 0 and bool(traced.all()), tally, layer, PER_LAYER)


def shutdown_jvm(sess: Session) -> None:
    """Stop the session, then the JVM it launched, and wait until the JVM
    and its Python workers have exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    workers = descendants(sess.jvm_pid()) if sess.spark is not None else []
    if sess.spark is not None:
        sess.spark.stop()
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        proc.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None
    deadline = time.monotonic() + 30
    while any(map(alive, workers)) and time.monotonic() < deadline:
        time.sleep(0.1)


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "nested_pandas_spark", "__init__.py")):
        print(f"perfbench: no nested_pandas_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, BENCH]
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    trace_dir = os.path.join(WORK, "traces")
    os.makedirs(trace_dir, exist_ok=True)
    t0 = time.perf_counter()
    data = prepare_inputs(args.workload, args.seed, args.shape)
    say(f"inputs ready in {time.perf_counter() - t0:.1f} s")
    try:
        log_dir = configure(run_dir, bool(args.trace))
        cpus = len(os.sched_getaffinity(0))
        sess = Session(args.workload, data, run_dir, cpus)
        try:
            if args.trace:
                traced_run(sess, args.seconds, log_dir,
                           os.path.join(trace_dir, f"{args.workload}-s{args.seed}"))
            else:
                timed_run(sess, args.seconds)
        finally:
            shutdown_jvm(sess)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
