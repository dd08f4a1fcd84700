"""Sketch benchmark: one workload, one seed, one closed-loop run.

Usage (from the root of a checkout of the repository):

    python3 perfbench/run.py --workload transcripts_zipf --seed 1 \\
        --seconds 12 --trace 0

One client (this process) issues one library call at a time against a
local[nproc] Spark session. The last line of standard output is one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics`` (the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``). Lines before it describe the host, the inputs and every
median with its sample count. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

import inputs
import layers
import ledger
import workloads

ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".perfbench")
DRIVER_MEM = "2g"
SETUPS = 3
TRACED_SHARE = 0.5


def fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def host_environment(run_dir: str) -> dict:
    """Fix the session from outside: a heap that fits the host, local
    dirs and temp files inside the checkout, local[nproc]."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    nproc = len(os.sched_getaffinity(0))
    env = {
        "SKETCHLIB_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "spark-local"),
        "SPARK_GRAFT_CPUS": str(nproc),
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": (f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
                              f"-XX:ErrorFile={run_dir}/hs_err_pid%p.log"),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
    }
    os.environ.update(env)
    return {"nproc": nproc, **env}


def fingerprint(nproc: int) -> dict:
    import numpy
    import pyspark
    with open("/proc/meminfo") as fh:
        mem = next(line.split()[1] for line in fh
                   if line.startswith("MemTotal"))
    java = [line for line in subprocess.run(
        ["java", "-version"], capture_output=True, text=True).stderr.splitlines()
        if "version" in line]
    return {"nproc": nproc, "mem_total_kb": int(mem), "heap": DRIVER_MEM,
            "java": java[0] if java else "?", "pyspark": pyspark.__version__,
            "numpy": numpy.__version__, "python": platform.python_version()}


def process_tree() -> set[int]:
    """This process and all its descendants."""
    parent = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as fh:
                parent[int(pid)] = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
    tree, frontier = {os.getpid()}, [os.getpid()]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parent.items() if pp == p]
        tree.update(kids)
        frontier.extend(kids)
    return tree


class RssSampler(threading.Thread):
    """Peak summed RSS of this process and all its descendants (the
    JVM and the Python workers it forks), sampled every 200 ms."""

    def __init__(self):
        super().__init__(daemon=True)
        self.peak = 0
        self.stop_event = threading.Event()
        self.page = os.sysconf("SC_PAGE_SIZE")

    def sample(self) -> int:
        total = 0
        for pid in process_tree():
            try:
                with open(f"/proc/{pid}/statm") as fh:
                    total += int(fh.read().split()[1]) * self.page
            except (OSError, IndexError, ValueError):
                continue
        return total

    def run(self):
        while not self.stop_event.wait(0.2):
            self.peak = max(self.peak, self.sample())

    def stop(self) -> float:
        self.stop_event.set()
        self.join(timeout=5)
        return self.peak / 1e6


def start_session(cpus: int):
    from sketchlib.session import get_spark
    spark = get_spark("perfbench", cpus=cpus)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm(spark) -> None:
    """Stop the session and the JVM behind it, and wait for both."""
    from pyspark import SparkContext
    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    gw.shutdown()
    proc = getattr(gw, "proc", None)
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    # the Python workers exit with the JVM; wait for them, then make sure
    deadline = time.monotonic() + 30
    while process_tree() - {os.getpid()} and time.monotonic() < deadline:
        time.sleep(0.2)
    for pid in process_tree() - {os.getpid()}:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass


def loop(wl, ops, seconds: float, traced_extra: bool = False) -> range:
    """Closed loop: run whole cycles until ``seconds`` have passed, at
    least one. Returns the numbers of the cycles it ran."""
    first = ops.n_cycles + 1
    deadline = time.perf_counter() + seconds
    while True:
        ops.n_cycles += 1
        if traced_extra:
            ops.cycle = 0  # extra ops belong to no cycle
            wl.traced_extra(ops)
        ops.cycle = ops.n_cycles
        wl.cycle(ops)
        if time.perf_counter() >= deadline:
            return range(first, ops.n_cycles + 1)


def median(xs):
    return statistics.median(xs) if xs else None


def cycle_times(records, cycles) -> list[float]:
    """Seconds of each cycle whose ops all completed."""
    out = []
    for c in cycles:
        recs = [r for r in records if r["cycle"] == c]
        if recs and all(r["s"] is not None for r in recs):
            out.append(sum(r["s"] for r in recs))
    return out


def op_times(records, name) -> list[float]:
    """Seconds of each completed ``name`` op; one whose check failed
    still counts here, and in ``failed``."""
    return [r["s"] for r in records if r["op"] == name and r["s"] is not None]


def end_to_end(wl, setup, peak_mb, cycles, records) -> dict:
    updates = wl.properties()["updates"]
    values = {
        "cm_updates_per_s": (updates / median(op_times(records, "cm_build")),
                             "updates/s"),
        "occm_updates_per_s": (workloads.ROUNDS * updates
                               / median(op_times(records, "occm_build")),
                               "updates/s"),
        "cycle_p50_s": (median(cycles), "s"),
        "peak_rss_mb": (peak_mb, "MB"),
        "setup_s": (median(setup["setup_s"]), "s"),
    }
    return {k: {"value": v, "unit": u} for k, (v, u) in values.items()}


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", default="full", choices=sorted(inputs.SIZES),
                    help="input size: full (measured) or tiny (smoke test)")
    args = ap.parse_args()
    if not os.path.isfile(os.path.join(ROOT, "sketchlib", "__init__.py")):
        fail(f"no sketchlib package under {ROOT}; run from the repository root")
    sys.path.insert(0, ROOT)

    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    env = host_environment(run_dir)
    print("host " + json.dumps(fingerprint(env["nproc"])), flush=True)

    t0 = time.perf_counter()
    wl = workloads.WORKLOADS[args.workload](
        os.path.join(WORK, "cache"), run_dir, args.seed, args.size)
    input_s = time.perf_counter() - t0

    rss = RssSampler()
    rss.start()
    setup = {"setup_s": [], "session_s": [], "warmup_s": []}
    spark = None
    try:
        # the cold set-up launches the JVM and the Python workers, builds
        # the workload's tables and runs one untimed cycle at full size;
        # the timed set-ups repeat get_spark, registration and a short
        # warm-up on them
        t0 = time.perf_counter()
        spark = start_session(env["nproc"])
        setup["jvm_s"] = time.perf_counter() - t0
        wl.register(spark)
        t1 = time.perf_counter()
        wl.prepare(spark)
        setup["prepare_s"] = time.perf_counter() - t1
        warm = workloads.Ops()
        wl.cycle(warm)
        if warm.errors:
            raise RuntimeError(f"warm-up cycle failed: {warm.errors}")
        setup["cold_s"] = time.perf_counter() - t0
        for _ in range(SETUPS):
            t0 = time.perf_counter()
            spark = start_session(env["nproc"])
            setup["session_s"].append(time.perf_counter() - t0)
            wl.register(spark)
            t1 = time.perf_counter()
            warm = workloads.Ops()
            wl.quick_warmup(warm)
            if warm.errors:
                raise RuntimeError(f"warm-up failed: {warm.errors}")
            setup["warmup_s"].append(time.perf_counter() - t1)
            setup["setup_s"].append(time.perf_counter() - t0)

        ops = workloads.Ops()
        if args.trace:
            untraced = loop(wl, ops, args.seconds * (1 - TRACED_SHARE))
            ops.tracer = ledger.Tracer(spark)
            traced = loop(wl, ops, args.seconds * TRACED_SHARE,
                          traced_extra=True)
        else:
            untraced = loop(wl, ops, args.seconds)
        peak_mb = rss.stop()
        tracer, ops.tracer = ops.tracer, None
        ops.cycle, checks = 0, len(ops.records)
        wl.finish(ops)

        timed = [r for r in ops.records[:checks] if r["cycle"] in untraced]
        timed += ops.records[checks:]
        cyc = cycle_times(ops.records, untraced)
        summary = {"workload": args.workload, "seed": args.seed,
                   "size": args.size, "input_gen_s": input_s,
                   "input": wl.properties(), **setup,
                   "cycle_s": {"p50": median(cyc), "n": len(cyc)},
                   "errors": ops.errors[:20],
                   "ops": [[r["cycle"], r["op"], r["s"], r["ok"]]
                           for r in ops.records]}
        for name in sorted({r["op"] for r in timed}):
            xs = op_times(timed, name)
            summary[f"{name}_s"] = {"p50": median(xs), "n": len(xs)}
        if args.trace:
            spans = tracer.collect()
            for span in spans:
                span["cycle"] = ops.records[span["op"]]["cycle"]
            every = layers.per_layer(
                wl, spans, cycle_times(ops.records, traced), cyc, setup)
            metrics = {k: v for k, v in every.items()
                       if k not in layers.LEDGER_ONLY}
            summary["layers"] = {k: every[k]["value"]
                                 for k in sorted(layers.LEDGER_ONLY)}
            path = os.path.join(
                WORK, f"ledger-{args.workload}-s{args.seed}.json")
            with open(path, "w") as fh:
                json.dump({"summary": summary, "spans": spans,
                           "metrics": every}, fh, indent=1)
            summary["ledger"] = os.path.relpath(path, ROOT)
        else:
            metrics = end_to_end(wl, setup, peak_mb, cyc, timed)
        print("summary " + json.dumps(summary), flush=True)
    finally:
        rss.stop()
        if spark is not None:
            stop_jvm(spark)
        shutil.rmtree(run_dir, ignore_errors=True)

    failed = sum(not r["ok"] for r in ops.records)
    print(json.dumps({"correct": failed == 0, "attempted": len(ops.records),
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
