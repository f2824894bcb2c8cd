"""Overhead-amortized N vs 4N scaling for the JVM-only feature engine.

The full sweep (tools/bench_scaling.py) at 29.7M turns leaves the 32-core
exact-sql wall at ~2.5 s, where per-job fixed costs (JVM job launch, AQE
planning, stage scheduling) are a large fraction of the measurement and the
8->32 ratio under-reads the engine. This tool re-measures ONLY the JVM-only
engine (exact-sql, the production route for JVM-expressible plans) on a 4x
larger input (2M convs ~ 119M turns) so the 4N wall-clock is ~10 s and the
ratio measures the pipeline, not the launcher. Fresh JVM per level cell,
1 warm-up + 3 timed runs, medians. Appends a section to BENCH/BASELINE.md.

Usage: python tools/bench_scaling_large.py [n_convs]
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

from harness import REPO, append_bench, tool_spark, utc_stamp

WORKER = """
import json, sys, time
sys.path.insert(0, {repo!r})
from flow_feature_spark.session import get_spark
from flow_feature_spark.prepare import normalize_turns
from flow_feature_spark.features import session_features_exact_sql

cpus = int(sys.argv[1]); path = sys.argv[2]
spark = get_spark(app_name=f"scal_lg_exact_sql_{{cpus}}", master=f"local[{{cpus}}]",
                  shuffle_partitions=2 * cpus)
stored = spark.read.parquet(path)
n_rows = stored.count()

def job():
    return session_features_exact_sql(normalize_turns(stored), 1800.0).count()

job()  # warm-up
times = []
for _ in range(3):
    t0 = time.time(); n_out = job(); times.append(round(time.time() - t0, 3))
times.sort()
spark.stop()
print("RESULT " + json.dumps({{"cpus": cpus, "rows": n_rows,
    "all_sec": times, "median_sec": times[1],
    "rows_per_sec": round(n_rows / times[1], 1), "out_rows": n_out}}))
"""


def run_cell(cpus: int, path: str) -> dict:
    # repo on PYTHONPATH for the EXECUTOR python workers (driver-side
    # sys.path.insert does not reach them — same fix as bench_scaling.py)
    env = dict(os.environ)
    env["PYTHONPATH"] = REPO + os.pathsep + env.get("PYTHONPATH", "")
    p = subprocess.run(
        [sys.executable, "-c", WORKER.format(repo=REPO), str(cpus), path],
        capture_output=True, text=True, timeout=1800, env=env,
    )
    for line in p.stdout.splitlines():
        if line.startswith("RESULT "):
            return json.loads(line[len("RESULT "):])
    raise RuntimeError(f"no RESULT from cell local[{cpus}]:\n{p.stderr[-2000:]}")


def main() -> int:
    n_convs = int(sys.argv[1]) if len(sys.argv) > 1 else 2_000_000
    workdir = os.environ.get("SPARK_GRAFT_LOCAL_DIR") or "/dev/shm/spark-local"
    os.makedirs(workdir, exist_ok=True)
    path = f"{workdir}/scaling_large_input"

    from flow_feature_spark.synth import synth_transcripts

    spark = tool_spark("scal_lg_gen", cpus=32,
                      shuffle_partitions=64)
    t0 = time.time()
    synth_transcripts(spark, n_convs=n_convs, turns_mean=60, hot_factor=100) \
        .write.mode("overwrite").parquet(path)
    n_rows = spark.read.parquet(path).count()
    spark.stop()
    print(f"input: {n_rows:,} turns in {time.time()-t0:.0f}s")

    cells: dict[int, dict] = {}
    for cpus in (8, 32):
        cells[cpus] = run_cell(cpus, path)
        print("cell", cpus, cells[cpus]["all_sec"])

    lines = [
        "",
        f"## Overhead-amortized 8 vs 32 at {n_rows:,} turns — "
        f"{utc_stamp()} "
        "(tools/bench_scaling_large.py)",
        "",
        "The 29.7M-turn sweep above leaves the 32-core JVM-engine walls at",
        "~2.5-3 s, where per-job fixed costs dominate the 8->32 ratio. Same",
        "job at 4x the input (fresh JVM per cell, 1 warm-up + 3 runs,",
        "medians):",
        "",
        "| engine | local[8] s (3 runs) | local[32] s (3 runs) | "
        "E(8->32) ideal | vs-ceiling |",
        "|---|---|---|---|---|",
    ]
    a, b = cells[8], cells[32]
    e_ideal = (a["median_sec"] / b["median_sec"]) / 4.0
    ceiling = 0.75  # same-day mp.Pool ceiling, table above
    e_ceil = e_ideal / ceiling
    summary = {"exact_sql": {
        "8": a["all_sec"], "32": b["all_sec"],
        "tput32": b["rows_per_sec"],
        "E_ideal": round(e_ideal, 2), "E_vs_ceiling": round(e_ceil, 2),
    }}
    lines.append(
        f"| exact_sql | {a['all_sec']} | {b['all_sec']} | "
        f"**{e_ideal:.2f}** | **{e_ceil:.2f}** |"
    )
    lines += [
        "",
        f"exact-sql at 32 cores: {b['rows_per_sec']:,.0f} turns/s.",
        "vs-ceiling divides by the same-day measured mp.Pool 8->32 ceiling",
        "(0.75, table above).",
        "",
    ]
    print("RESULT " + json.dumps(summary))
    append_bench("BASELINE.md", "\n".join(lines))

    import shutil
    shutil.rmtree(path, ignore_errors=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
