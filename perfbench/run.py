"""Job-level benchmark for flow_feature_spark.

    python3 perfbench/run.py --workload pit_asof --seed 1 --seconds 8 --trace 0

Runs from the root of a checkout. One long-lived local Spark session calls
``flow_feature_spark.job.run([...])`` in-process, exactly the path that
``spark-submit -m flow_feature_spark.job`` takes, and every call writes real
output. Every call's output is checked, untimed, against a reference computed
once in set-up by a second route. The last line of stdout is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``; with ``--trace 0`` the
metrics are the end-to-end ones, with ``--trace 1`` the per-layer ones (see
README.md). Scratch files live under ``.perfbench/`` in the checkout.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

from procstat import (  # noqa: E402
    descendants,
    peak_rss_mb,
    reset_peak_rss,
    tree_cpu_seconds,
)

MIN_TIMED_CALLS = 3
TRACE_REPEATS = 2
DRIVER_MEMORY = "2g"  # the session's 24g default exceeds small machines' RAM
MAX_CORES = 4

# layer -> module; a module's counters are the sum over its layers
LAYERS = (
    "prepare.scan", "prepare.normalize", "sessionize.dedup",
    "kernel_fast.extract", "asof.join", "features.exact_sql",
    "incremental.update", "io.snapshot_read", "io.snapshot_write", "job.sink",
)
MODULES = ("prepare", "sessionize", "kernel_fast", "asof", "features",
           "incremental", "io", "job")


def parse_args(argv: list[str]) -> argparse.Namespace:
    from workloads import SIZES, WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True,
                   help="wall time of the timed loop")
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=sorted(SIZES), default="full",
                   help="input size (tiny is for the self-test)")
    return p.parse_args(argv)


def start_spark(work: Path):
    """One local session; every scratch path points inside ``work``."""
    cores = min(MAX_CORES, len(os.sched_getaffinity(0)))
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    os.environ["TMPDIR"] = str(tmp)
    # Python workers import the package from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEMORY
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = str(work / "spark-local")
    import tempfile

    tempfile.tempdir = str(tmp)
    from flow_feature_spark.session import get_spark

    return get_spark(
        app_name="perfbench",
        master=f"local[{cores}]",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": str(work / "warehouse"),
            # a fixed heap: no heap resizing while calls are timed
            "spark.driver.extraJavaOptions":
                f"-Xms{DRIVER_MEMORY} -XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        },
    )


def stop_spark(spark) -> None:
    """Stop the session, the JVM and the Python workers, and wait for all."""
    from pyspark import SparkContext

    tree = [p for p in descendants(os.getpid()) if p != os.getpid()]
    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.time() + 30
    while True:
        alive = [p for p in tree if os.path.exists(f"/proc/{p}")]
        if not alive:
            return
        if time.time() > deadline:
            for p in alive:
                with contextlib.suppress(OSError):
                    os.kill(p, signal.SIGKILL)
            deadline = time.time() + 30
        time.sleep(0.1)


class Background(threading.Thread):
    """Runs ``fn`` on a thread that shares the caller's Spark session."""

    def __init__(self, spark, fn):
        super().__init__(daemon=True)
        self.spark, self.fn = spark, fn
        self.error: BaseException | None = None
        self.seconds = 0.0
        self.start()

    def run(self) -> None:
        t0 = time.perf_counter()
        # the JVM's active session is per thread; without it job.run would
        # treat the shared session as its own and stop it
        self.spark._jvm.SparkSession.setActiveSession(self.spark._jsparkSession)
        try:
            self.fn()
        except BaseException as e:  # re-raised on the caller's thread
            self.error = e
        self.seconds = time.perf_counter() - t0

    def join(self, timeout=None) -> None:
        super().join(timeout)
        if self.error is not None:
            raise self.error


class Calls:
    """Runs checked job calls and counts attempts and failures."""

    def __init__(self, wl):
        self.wl = wl
        self.pid = os.getpid()
        self.attempted = 0
        self.failed = 0

    def run(self, check: bool = True) -> tuple[float, float]:
        """One call (prepared untimed, checked untimed unless ``check`` is
        off); returns its wall time and the CPU time of the whole process
        tree during it."""
        self.wl.before_call()
        ok = False
        cpu0 = tree_cpu_seconds(self.pid)
        t0 = time.perf_counter()
        try:
            # job.run reports on stdout; keep stdout for the result line
            with contextlib.redirect_stdout(sys.stderr):
                rc = self.wl.call()
            wall = time.perf_counter() - t0
            cpu = tree_cpu_seconds(self.pid) - cpu0
            ok = rc == 0 and (not check or self.wl.check())
        except Exception:
            traceback.print_exc()
            wall = time.perf_counter() - t0
            cpu = tree_cpu_seconds(self.pid) - cpu0
        self.record(ok, "call")
        return wall, cpu

    def record(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"perfbench: {what} {self.attempted} of {self.wl.name} FAILED "
                  "(error or output mismatch)", file=sys.stderr)


def timed(calls: Calls, seconds: float, setup_s: float) -> dict:
    pid = os.getpid()
    walls, cpus = [], []
    reset_peak_rss(pid)
    deadline = time.perf_counter() + seconds
    while len(walls) < MIN_TIMED_CALLS or time.perf_counter() < deadline:
        wall, cpu = calls.run()
        walls.append(wall)
        cpus.append(cpu)
    print(f"# timed calls: {len(walls)}, wall s: "
          + " ".join(f"{w:.3f}" for w in walls) + ", cpu s: "
          + " ".join(f"{c:.2f}" for c in cpus))
    rows = calls.wl.input_rows
    return {
        "input_rows_per_s": (statistics.median(rows / w for w in walls), "1/s"),
        "cpu_s_per_job": (statistics.median(cpus), "s"),
        "peak_rss_mb": (peak_rss_mb(pid), "MB"),
        "ok_frac": ((calls.attempted - calls.failed) / calls.attempted, "frac"),
        "setup_s": (setup_s, "s"),
    }


def traced(calls: Calls, trace_file: Path) -> dict:
    from tracing import Cost, Tracer, median_cost

    wl = calls.wl
    tr = Tracer(wl.spark, os.getpid())
    plain, with_trace, passes = [], [], []
    for i in range(TRACE_REPEATS):
        with tr.span("chain"):
            layers, final, frame = wl.chain(tr)
        # the replay must compute what the job computes, or its layer figures
        # describe a plan the job no longer runs
        calls.record(wl.matches(frame), "replay")
        # an untraced and a traced call back to back, in alternating order
        for traced_call in (i % 2 == 0, i % 2 == 1):
            if not traced_call:
                plain.append(calls.run()[0])
                continue
            wl.before_call()
            t0 = time.perf_counter()
            with tr.span("job.call") as job_cost, \
                    contextlib.redirect_stdout(sys.stderr):
                rc = wl.call()
            with_trace.append(time.perf_counter() - t0)
            calls.record(rc == 0 and wl.check(), "traced call")
        # the job runs the final DataFrame's plan, then writes it
        job_cost.exchanges, job_cost.rows_out = final.exchanges, final.rows_out
        layers["job.sink"] = job_cost - final
        passes.append(layers)
    plan_s = statistics.median(wl.plan_seconds() for _ in range(TRACE_REPEATS))

    cost = {
        name: median_cost([p[name] for p in passes]) if name in passes[0] else Cost()
        for name in LAYERS
    }
    m: dict[str, tuple[float, str]] = {
        f"{name}_s": (cost[name].seconds, "s") for name in LAYERS
    }
    m["kernel_fast.worker_cpu_s"] = (cost["kernel_fast.extract"].worker_cpu_s, "s")
    m["kernel_fast.task_max_over_median"] = (
        cost["kernel_fast.extract"].task_skew, "ratio")
    delta_bytes = getattr(wl, "delta_bytes", 0)
    m["io.bytes_written_per_delta_byte"] = (
        wl.bytes_written / delta_bytes if delta_bytes else 0.0, "ratio")
    m["job.plan_s"] = (plan_s, "s")
    m["job.trace_overhead_s"] = (
        statistics.median(with_trace) - statistics.median(plain), "s")
    for module in MODULES:
        total = Cost()
        for name in LAYERS:
            if name.split(".")[0] == module:
                total = total + cost[name]
        for key, value in total.counters().items():
            unit = ("s" if key.endswith("_s") else
                    "bytes" if key.endswith("_bytes") else "count")
            m[f"{module}.{key}"] = (value, unit)

    trace_file.parent.mkdir(parents=True, exist_ok=True)
    trace_file.write_text(json.dumps({
        "workload": wl.name,
        "sizes": wl.sizes,
        "untraced_call_s": plain,
        "traced_call_s": with_trace,
        "spans": tr.spans,
    }, indent=1))
    print(f"# trace written to {trace_file}")
    return m


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    if not (ROOT / "flow_feature_spark" / "__init__.py").is_file():
        print(f"perfbench: no flow_feature_spark package under {ROOT}",
              file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    from bench import _cpu_probe as cpu_probe  # the headline bench's probe
    from workloads import WORKLOADS

    out_dir = ROOT / ".perfbench"
    work = out_dir / "work"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    probe_before = cpu_probe()
    t0 = time.perf_counter()
    spark = start_spark(work)
    try:
        wl = WORKLOADS[args.workload](spark, work, args.seed, args.size)
        steps = {"session": time.perf_counter() - t0}
        calls = Calls(wl)
        with contextlib.redirect_stdout(sys.stderr):
            wl.generate()
            steps["inputs"] = time.perf_counter() - t0 - sum(steps.values())
            # the reference overlaps the load and the warm-up calls (whose
            # outputs are not checked): all are set-up, none is timed
            reference = Background(spark, wl.reference)
            wl.load()
            steps["load"] = time.perf_counter() - t0 - sum(steps.values())
            warm = [calls.run(check=False)[0] for _ in range(wl.warmup_calls)]
            reference.join()
        setup_s = time.perf_counter() - t0
        print("# set-up s: " + " ".join(f"{k} {v:.2f}" for k, v in steps.items())
              + f" reference {reference.seconds:.2f} (overlapped) warm-up calls "
              + " ".join(f"{w:.2f}" for w in warm))
        if args.trace:
            trace_file = out_dir / f"trace-{args.workload}-seed{args.seed}.json"
            metrics = traced(calls, trace_file)
        else:
            metrics = timed(calls, args.seconds, setup_s)
    finally:
        stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    probe_after = cpu_probe()
    steal = max(probe_before, probe_after) / max(min(probe_before, probe_after), 1)
    print(f"# sizes: {json.dumps(wl.sizes)}")
    print(f"# cpu probe units/s before {probe_before} after {probe_after}"
          + ("  WARNING: unstable CPU window" if steal > 1.5 else ""))
    correct = calls.failed == 0
    if not correct:
        print(f"perfbench: {calls.failed} of {calls.attempted} calls failed "
              "or produced output that differs from the reference",
              file=sys.stderr)
    print(json.dumps({
        "correct": correct,
        "attempted": calls.attempted,
        "failed": calls.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
