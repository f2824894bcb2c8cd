"""Scaling-efficiency evidence for the north rule: the same jobs on the same
input at parallelism levels N and 4N, each level in its OWN JVM, 2 warm-ups
discarded + median of 3 timed runs. Efficiency E = tput(4N) / (4 x tput(N)).

Also measures the SANDBOX HARDWARE CEILING (pure-CPU multiprocessing burn —
no Spark, no Python boundary) at the same levels, because this single-VM
sandbox does not deliver 4x compute from 4x vCPUs at the top end; the
efficiency numbers are reported against that ceiling.

Writes BENCH/BASELINE.md. Usage: python tools/bench_scaling.py [n_convs]
"""

from __future__ import annotations

import json
import multiprocessing as mp
import os
import subprocess
import sys
import tempfile
import time

from harness import REPO, tool_spark, utc_stamp

LEVELS = [2, 8, 32]
# at the 30M-turn input (VERDICT r2 item 2: jobs are 30-300 s, jitter-proof)
# one warm-up suffices; the 3.5M-turn default keeps 2
WARMUPS = int(os.environ.get("SCALING_WARMUPS", "2"))
MANUAL_MARK = "<!-- MANUAL SECTIONS BELOW: preserved across regeneration -->"
RUNS = int(os.environ.get("SCALING_RUNS", "3"))

WORKER = """
import json, sys, time
sys.path.insert(0, {repo!r})
from flow_feature_spark.session import get_spark
from flow_feature_spark.prepare import normalize_turns
from flow_feature_spark.kernel_fast import sessionize_and_extract_fast
from flow_feature_spark.features import session_features_exact_sql
from flow_feature_spark.asof import asof_join_fast
from flow_feature_spark.kernel import attach_feature_ts
from pyspark.sql import functions as F

cpus = int(sys.argv[1]); path = sys.argv[2]
warmups = int(sys.argv[3]); runs = int(sys.argv[4])
spark = get_spark(app_name=f"scaling_{{cpus}}", master=f"local[{{cpus}}]",
                  shuffle_partitions=2 * cpus)
stored = spark.read.parquet(path)
n_rows = stored.count()

def feature_job():
    return sessionize_and_extract_fast(
        normalize_turns(stored), gap_seconds=1800.0, rounding="r6",
        num_partitions=2 * cpus).count()

def feature_exact_sql_job():
    return session_features_exact_sql(normalize_turns(stored), 1800.0).count()

def asof_job():
    feats = attach_feature_ts(sessionize_and_extract_fast(
        normalize_turns(stored), gap_seconds=1800.0, rounding="r6",
        num_partitions=2 * cpus))
    probes = stored.select(F.col("conv_id").alias("entity_id"),
                           F.col("ts").alias("probe_ts"))
    return asof_join_fast(
        feats.select("conv_id", "feature_ts", "session_id", "n_turns", "dpl_total"),
        probes, strict=True, num_partitions=2 * cpus).count()

out = {{"cpus": cpus, "rows": n_rows}}
for name, job in (("feature_kernel", feature_job),
                  ("feature_exact_sql", feature_exact_sql_job),
                  ("asof_fast", asof_job)):
    for _ in range(warmups):
        job()
    times = []
    for _ in range(runs):
        t0 = time.time(); n_out = job(); times.append(time.time() - t0)
    times.sort()
    med = times[len(times)//2]
    out[name] = {{"median_sec": round(med, 3),
                 "all_sec": [round(t,3) for t in times],
                 "rows_per_sec": round(n_rows / med, 1), "out_rows": n_out}}
spark.stop()
print("RESULT " + json.dumps(out))
"""


def _burn(n: int) -> int:
    s = 0
    for i in range(n):
        s += i * i
    return s


def hardware_ceiling() -> dict:
    """Pure-CPU parallel throughput at each level (units of work / sec)."""
    out = {}
    work = 6_000_000
    for procs in LEVELS:
        with mp.Pool(procs) as p:
            p.map(_burn, [work] * procs)  # warm the pool
            t0 = time.time()
            p.map(_burn, [work] * procs * 3)
            dt = time.time() - t0
        out[procs] = round(procs * 3 / dt, 2)
    return out


def main() -> int:
    n_convs = int(sys.argv[1]) if len(sys.argv) > 1 else 60000

    from flow_feature_spark.synth import synth_transcripts

    path = os.path.join(tempfile.mkdtemp(prefix="ffs_scaling_", dir="/dev/shm"),
                        "transcripts")
    spark = tool_spark("scaling_gen", cpus=32, shuffle_partitions=64)
    synth_transcripts(spark, n_convs=n_convs, turns_mean=60, hot_factor=100)\
        .write.mode("overwrite").parquet(path)
    spark.stop()

    hw = hardware_ceiling()
    worker = WORKER.format(repo=REPO)
    results = {}
    for cpus in LEVELS:
        # PYTHONPATH must carry the repo for the EXECUTOR python workers too
        # (the driver-side sys.path.insert doesn't reach them; launching from
        # any cwd but the repo root would otherwise fail with
        # ModuleNotFoundError inside cloudpickle deserialization)
        env = dict(os.environ)
        env["PYTHONPATH"] = REPO + os.pathsep + env.get("PYTHONPATH", "")
        proc = subprocess.run(
            [sys.executable, "-c", worker, str(cpus), path, str(WARMUPS), str(RUNS)],
            capture_output=True, text=True, timeout=5400, env=env,
        )
        line = [l for l in proc.stdout.splitlines() if l.startswith("RESULT ")]
        if not line:
            print(proc.stdout[-3000:]); print(proc.stderr[-3000:])
            raise RuntimeError(f"worker local[{cpus}] failed")
        results[cpus] = json.loads(line[-1][len("RESULT "):])
        print(json.dumps(results[cpus]))

    rows = results[LEVELS[0]]["rows"]
    jobs = ("feature_kernel", "feature_exact_sql", "asof_fast")
    md = [
        "# BENCH — scaling efficiency (N vs 4N cores)",
        "",
        f"Generated {utc_stamp()} by"
        " `python tools/bench_scaling.py`. Same jobs, same tmpfs parquet input;",
        f"each level in its own JVM; shuffle partitions = 2 x cores; {WARMUPS}"
        f" warm-ups discarded, median of {RUNS} timed runs.",
        "",
        f"Input: deterministic synthetic transcript table, {rows:,} turns"
        f" ({n_convs:,} convs, hot key 100x median).",
        "",
        "## Sandbox hardware ceiling (no Spark, no Python boundary)",
        "",
        "Pure-CPU multiprocessing burn, work-units/sec at each level:",
        "",
        "| procs | " + " | ".join(str(c) for c in LEVELS) + " |",
        "|---|" + "|".join(["---"] * len(LEVELS)) + "|",
        "| units/s | " + " | ".join(str(hw[c]) for c in LEVELS) + " |",
        "",
        f"Ceiling efficiency 2->8: **{hw[8] / (4 * hw[2]):.2f}**;"
        f" 8->32: **{hw[32] / (4 * hw[8]):.2f}** — this single-VM sandbox does"
        " not deliver 4x compute from 4x vCPUs at the top end, so job"
        " efficiencies are reported against both the ideal (4x) and the"
        " measured ceiling.",
        "",
        "## Jobs",
        "",
        "| job | " + " | ".join(f"local[{c}] med s / rows/s" for c in LEVELS)
        + " | E(2->8) ideal / vs-ceiling | E(8->32) ideal / vs-ceiling |",
        "|---|" + "|".join(["---"] * (len(LEVELS) + 2)) + "|",
    ]
    for name in jobs:
        cells = []
        for c in LEVELS:
            r = results[c][name]
            cells.append(f"{r['median_sec']} / {r['rows_per_sec']:,.0f}")
        e28 = results[8][name]["rows_per_sec"] / (4 * results[2][name]["rows_per_sec"])
        e832 = results[32][name]["rows_per_sec"] / (4 * results[8][name]["rows_per_sec"])
        c28 = e28 / (hw[8] / (4 * hw[2]))
        c832 = e832 / (hw[32] / (4 * hw[8]))
        md.append(
            f"| {name} | " + " | ".join(cells)
            + f" | **{e28:.2f}** / {c28:.2f} | **{e832:.2f}** / {c832:.2f} |"
        )
    md += [
        "",
        "E(a->b) ideal = tput(b) / ((b/a) x tput(a)); vs-ceiling divides by the",
        "hardware ceiling's own efficiency over the same step.",
        "",
        "Raw per-run seconds:",
        "```json",
        json.dumps(results, indent=2),
        "```",
        "",
        "- feature_kernel = parquet scan -> normalize -> fused gap-sessionize +",
        "  72-feature Arrow batch kernel (one shuffle). The Arrow JVM<->Python",
        "  boundary is the non-scaling term on this VM (~1M rows/s through the",
        "  local socket path irrespective of cores); on a real multi-executor",
        "  cluster each executor owns its own boundary, so this term scales",
        "  out with executors rather than saturating a single host.",
        "- feature_exact_sql = the EXACT-domain generated SQL (bit-equal to the",
        "  kernel), also JVM-only — sessionization fused into the same query.",
        "- asof_fast = feature_kernel -> vectorized sort-merge as-of join of",
        "  every turn-timestamp probe (second co-shuffle).",
    ]
    os.makedirs(os.path.join(REPO, "BENCH"), exist_ok=True)
    out_path = os.path.join(REPO, "BENCH", "BASELINE.md")
    # regeneration replaces only the generated part; hand-written sections
    # below the MANUAL marker (carried clean-window tables, diagnosis) survive
    manual = ""
    if os.path.exists(out_path):
        prev = open(out_path).read()
        if MANUAL_MARK in prev:
            manual = prev[prev.index(MANUAL_MARK):]
    with open(out_path, "w") as fh:
        fh.write("\n".join(md) + "\n")
        if manual:
            fh.write("\n" + manual)
    print(f"wrote {out_path}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
