"""Extreme-skew smoke: 30M turns with a hot_factor-20,000 mega-conversation.

Measures, each in its OWN JVM on the same tmpfs input:
  1. plain fused pipeline (scan -> normalize -> fused sessionize+kernel)
  2. sessionization isolate on the hot conv: the per-conv window
     (assign_sessions) vs the bucketized two-pass sessionizer
  3. max-task-rows instrumentation: partition row counts at the
     sessionizer's (conv, bucket) shuffle of the hot conv, proving no task
     sorts more than a few buckets' worth

Appends a results table to BENCH/SCALE_SMOKE.md. Machine must be idle.
Usage: python tools/smoke_skew.py [n_convs] [hot_factor]
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import tempfile

from harness import REPO, append_bench, tool_spark, utc_stamp

WORKER = """
import json, sys, time
sys.path.insert(0, {repo!r})
from flow_feature_spark.session import get_spark
from flow_feature_spark.prepare import normalize_turns
from flow_feature_spark.kernel_fast import sessionize_and_extract_fast
from flow_feature_spark.sessionize import assign_sessions, assign_sessions_bucketed
from pyspark.sql import functions as F

job, path = sys.argv[1], sys.argv[2]
spark = get_spark(app_name=f"skew_{{job}}", master="local[32]", shuffle_partitions=64)
stored = spark.read.parquet(path)

def run():
    turns = normalize_turns(stored)
    if job == "plain_fused":
        return sessionize_and_extract_fast(turns, 1800.0, rounding="r6",
                                           num_partitions=64).count()
    hot = turns.filter(F.col("conv_id") == "conv00000000")
    if job == "hot_sess_plain":
        # agg over session_id so the window cannot be pruned away by count()
        return assign_sessions(hot, gap_seconds=1800.0).agg(
            F.sum("session_id")).collect()[0][0]
    if job == "hot_sess_bucketed":
        return assign_sessions_bucketed(hot, gap_seconds=1800.0).agg(
            F.sum("session_id")).collect()[0][0]
    if job == "task_rows":
        # partition row counts at the sessionizer's (conv, bucket) shuffle of
        # the hot conv. AQE partition COALESCING is disabled for the
        # measurement: it merges small partitions by BYTES (the right
        # production behavior — task volume stays byte-bounded either way),
        # which at smoke scale would re-fuse the fan-out and hide the
        # key-level layout under test.
        spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
        bt = 8192
        layouts = {{
            "sessionizer(conv,bkt)": hot.withColumn(
                "b", F.floor(F.col("turn_idx").cast("long") / bt)
            ).repartition("conv_id", "b"),
        }}
        out = {{}}
        for name, df in layouts.items():
            per = (df.groupBy(F.spark_partition_id().alias("pid"))
                     .count().agg(F.max("count"), F.count("*")).collect()[0])
            out[name] = {{"max_task_rows": per[0], "n_tasks": per[1]}}
        print("TASKROWS " + json.dumps(out))
        return 0
    raise SystemExit(f"unknown job {{job}}")

run()  # warm-up
times = []
for _ in range(2):
    t0 = time.time(); n = run(); times.append(round(time.time() - t0, 2))
print("RESULT " + json.dumps({{"job": job, "best": min(times), "all": times, "out_rows": n}}))
spark.stop()
"""


def main() -> int:
    n_convs = int(sys.argv[1]) if len(sys.argv) > 1 else 500_000
    hot_factor = int(sys.argv[2]) if len(sys.argv) > 2 else 20_000

    from flow_feature_spark.synth import synth_transcripts

    # the input lives in tmpfs (RAM): remove it however the run ends
    with tempfile.TemporaryDirectory(prefix="ffs_skew_", dir="/dev/shm") as tmp:
        path = os.path.join(tmp, "transcripts")
        spark = tool_spark("skew_gen", cpus=32, shuffle_partitions=64)
        tr = synth_transcripts(spark, n_convs=n_convs, turns_mean=60,
                               hot_factor=hot_factor, partitions=64)
        tr.write.mode("overwrite").parquet(path)
        n_total = spark.read.parquet(path).count()
        n_hot = spark.read.parquet(path).filter("conv_id = 'conv00000000'").count()
        spark.stop()
        print(f"input: {n_total:,} turns, hot conv {n_hot:,}")

        worker = WORKER.format(repo=REPO)
        results = {}
        taskrows = None
        jobs = ("hot_sess_plain", "hot_sess_bucketed", "plain_fused", "task_rows")
        for job in jobs:
            proc = subprocess.run(
                [sys.executable, "-c", worker, job, path],
                capture_output=True, text=True, timeout=3600,
            )
            tr_lines = [l for l in proc.stdout.splitlines() if l.startswith("TASKROWS ")]
            if tr_lines:
                taskrows = json.loads(tr_lines[-1][len("TASKROWS "):])
                print(json.dumps(taskrows))
            lines = [l for l in proc.stdout.splitlines() if l.startswith("RESULT ")]
            if not lines:
                print(proc.stderr[-3000:])
                raise RuntimeError(f"job {job} failed")
            results[job] = json.loads(lines[-1][len("RESULT "):])
            print(json.dumps(results[job]))

    stamp = utc_stamp()
    md = [
        "",
        f"## Extreme-skew re-run ({stamp})",
        "",
        f"Input: {n_total:,} turns, {n_convs:,} convs, hot conv = {n_hot:,} turns"
        f" ({hot_factor:,}x median). local[32], shuffle partitions 64, tmpfs,"
        " own JVM per job, best of 2 after warm-up.",
        "",
        "| job | best s | runs | out rows |",
        "|---|---|---|---|",
    ]
    for job, r in results.items():
        md.append(f"| {job} | {r['best']} | {r['all']} | {r['out_rows']:,} |")
    sp, sb = results["hot_sess_plain"]["best"], results["hot_sess_bucketed"]["best"]
    md += [
        "",
        f"Sessionization isolate: bucketized two-pass {sb} s vs per-conv"
        f" window {sp} s -> **{sp / sb:.1f}x** (the r3 fix: the last"
        " single-task surface removed; session ids bit-identical, pinned in"
        " tests + the sessionize_bucketed driver oracle).",
        f"Whole-table: plain fused {results['plain_fused']['best']} s.",
    ]
    if taskrows:
        md += ["", "Max task rows of the hot conv at the sessionizer's"
               " bucket-scoped shuffle (bucket_turns=8192; a task may own a"
               " few hash-colliding buckets, never the whole conversation):",
               ""]
        md += ["| stage | max task rows | tasks |", "|---|---|---|"]
        for name, r in taskrows.items():
            md.append(f"| {name} | {r['max_task_rows']:,} | {r['n_tasks']} |")
    append_bench("SCALE_SMOKE.md", "\n".join(md))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
