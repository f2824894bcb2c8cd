"""Physical-plan audit: assert the plans the engine is supposed to produce.

Checks, on the real testdata, that:
* the transcript feature pipeline has exactly ONE exchange before the kernel
  and its parquet scan is column-pruned to the used columns;
* filters on scan queries reach the parquet reader (PushedFilters);
* the broadcast-dim join actually broadcasts;
* codegen spans cover the expression pipeline (WholeStageCodegen present).

Run: python tools/explain_plans.py [sf_dir]    (exit 1 on any violated check)
"""

from __future__ import annotations

import re
import sys

from harness import tool_spark


def plan_of(df, mode: str = "formatted") -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
        df._jdf.queryExecution(), mode
    )


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    import __spark_entry__ as e
    from flow_feature_spark.kernel_fast import sessionize_and_extract_fast
    from flow_feature_spark.prepare import normalize_turns
    from pyspark.sql import functions as F

    spark = tool_spark("explain", cpus=8, shuffle_partitions=16)
    failures: list[str] = []

    def check(name: str, ok: bool, detail: str = "") -> None:
        print(f"[{'OK' if ok else 'FAIL'}] {name}" + (f" — {detail}" if detail else ""))
        if not ok:
            failures.append(name)

    # 1. fused feature pipeline on a transcript-shaped table: ONE exchange
    # (the events mapping adds a row_number window shuffle by design, so the
    # audit uses the native transcript shape the engine is built for)
    import tempfile

    from flow_feature_spark.synth import synth_transcripts

    tpath = tempfile.mkdtemp(prefix="ffs_plan_") + "/tr"
    synth_transcripts(spark, n_convs=50, turns_mean=10).write.parquet(tpath)
    turns = normalize_turns(spark.read.parquet(tpath))
    feats = sessionize_and_extract_fast(turns, 1800.0, rounding="r6")
    p = plan_of(feats, "simple")
    n_exchange = len(re.findall(r"\+- Exchange|^Exchange", p, re.M))
    check("feature pipeline has exactly 1 exchange", n_exchange == 1,
          f"found {n_exchange}")
    m = re.search(r"ReadSchema: (.*?)$", plan_of(feats, "formatted"), re.M)
    read_schema = m.group(1) if m else ""
    check(
        "transcript scan pruned (no text-free columns dropped wrongly)",
        "text" in read_schema and "ts" in read_schema,
        read_schema[:160],
    )

    # events mapping: row_number window + kernel — 2 exchanges expected
    ev_feats = sessionize_and_extract_fast(
        e._events_turns(spark, sf_dir), 43200.0, rounding="r6"
    )
    pe = plan_of(ev_feats, "simple")
    n_ev = len(re.findall(r"\+- Exchange|^Exchange", pe, re.M))
    check("events-mapped pipeline has <= 2 exchanges", n_ev <= 2, f"found {n_ev}")

    # 1c. bucketized sessionizer: the big-side exchange must be on
    # (conv, bucket) and NO per-row window may be partitioned by conv alone
    # (that would be the single-task-per-conversation straggler this design
    # removes; only the tiny per-bucket SUMMARY window runs per conv)
    from flow_feature_spark.sessionize import assign_sessions, assign_sessions_bucketed

    bk = assign_sessions_bucketed(turns, 1800.0, bucket_turns=64)
    pb = plan_of(bk, "simple")
    check(
        "bucketized sessionizer: turns exchange on (conv, bucket)",
        re.search(r"Exchange hashpartitioning\(conv_id#\d+, __bkt", pb) is not None,
    )
    check(
        "bucketized sessionizer: no conv-only window over turn rows",
        re.search(r"windowspecdefinition\(conv_id#\d+, ts_us", pb) is None,
    )

    # 1d. interval join: bucket decomposition must plan a HASH equi join —
    # a nested-loop/cartesian here means the range predicate leaked into the
    # join condition instead of the post-filter
    from flow_feature_spark.rangejoin import interval_join_bucketed

    sess_iv = (
        assign_sessions(turns, 1800.0)
        .groupBy("conv_id", "session_id")
        .agg(F.min("ts_us").alias("start_us"), F.max("ts_us").alias("end_us"))
        .withColumnRenamed("conv_id", "entity_id")
    )
    pr = turns.select(F.col("conv_id").alias("entity_id"), "ts_us")
    pij = plan_of(interval_join_bucketed(sess_iv, pr, bucket_us=600_000_000), "simple")
    check(
        "interval join is a hash equi join (no nested loop)",
        ("NestedLoop" not in pij and "Cartesian" not in pij)
        and re.search(r"(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)", pij) is not None,
    )

    # 1e. rolling window shares the session keys' single exchange
    from flow_feature_spark.windows import rolling_turn_features

    roll = rolling_turn_features(assign_sessions(turns, 1800.0), k=8)
    prw = plan_of(roll, "simple")
    n_roll = len(re.findall(r"\+- Exchange|^Exchange", prw, re.M))
    check("sessionize + rolling window = 1 exchange", n_roll == 1, f"found {n_roll}")

    # 1f. time rollup: one Expand + partial/final aggregate, no per-level scan
    from flow_feature_spark.rollup import time_rollup

    ev_raw = spark.read.parquet(f"{sf_dir}/events.parquet")
    prr = plan_of(time_rollup(ev_raw), "simple")
    check("rollup plans a single Expand pass", prr.count("Expand") >= 1
          and prr.count("FileScan") == 1, f"scans={prr.count('FileScan')}")

    # 1g. pivot: one scan, one aggregate, no join (the SUM(CASE) conditional
    # formulation — the pre-aggregate+pivot+join shape scanned twice and
    # leaked a persist)
    from flow_feature_spark.rollup import pivot_counts

    ppv = plan_of(
        pivot_counts(ev_raw, "user_id", "event_type",
                     values=["view", "click", "purchase"]),
        "simple",
    )
    check(
        "pivot_counts = single-scan single-aggregate, no join",
        ppv.count("FileScan") == 1 and "Join" not in ppv
        and "InMemoryRelation" not in ppv and "InMemoryTableScan" not in ppv,
        f"scans={ppv.count('FileScan')}",
    )

    # 1h. profiler: exact path = one scan + Expand; HLL path drops the Expand
    from flow_feature_spark.profile import profile_table

    pex = plan_of(profile_table(ev_raw), "simple")
    phl = plan_of(profile_table(ev_raw, exact_distinct=False), "simple")
    check(
        "profiler exact = one scan + Expand; HLL drops the Expand",
        pex.count("FileScan") == 1 and "Expand" in pex
        and phl.count("FileScan") == 1 and "Expand" not in phl,
    )

    # 2. predicate pushdown on a filtered scan
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    q = li.filter(F.col("l_quantity") > 40).select("l_orderkey", "l_quantity")
    p2 = plan_of(q)
    check("filter pushed to parquet", "PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,40.0)]" in p2
          or "GreaterThan(l_quantity" in p2, )
    m2 = re.search(r"ReadSchema: (.*)", p2)
    check("projection pruned to 2 columns",
          m2 is not None and m2.group(1).count(":") == 2, m2.group(1) if m2 else "")

    # 3. broadcast join
    bq = e.queries()["broadcast_join"](spark, sf_dir)
    p3 = plan_of(bq)
    check("dim join is broadcast", "BroadcastHashJoin" in p3)

    # 4. codegen on the expression pipeline (AQE hides codegen subtrees until
    # the final plan, so toggle it off just for this inspection)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        sq = e.queries()["session_features_sql"](spark, sf_dir)
        p4 = plan_of(sq, "codegen")
        m4 = re.search(r"Found (\d+) WholeStageCodegen", p4)
        check("whole-stage codegen present", m4 is not None and int(m4.group(1)) >= 1,
              m4.group(0) if m4 else "no codegen subtrees")
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")

    # 5. time-series family plan shapes (r5s5): the resample grid must be
    # ONE scan (the gap-explode formulation — a span-join regression would
    # show a second FileScan) and at most 2 exchanges; scd2/merge_intervals
    # are single-exchange window chains; melt is an Expand with no exchange
    # beyond the pivot aggregate.
    rs = e.queries()["resample_ffill"](spark, sf_dir)
    p5 = plan_of(rs, "simple")
    check("resample grid is ONE scan", p5.count("FileScan") == 1,
          f"{p5.count('FileScan')} scans")
    n_ex = p5.count("Exchange hashpartitioning")
    check("resample has <= 2 exchanges (agg + entity window)", n_ex <= 2,
          f"found {n_ex}")
    for qname in ("scd2_build", "merge_intervals"):
        pq = plan_of(e.queries()[qname](spark, sf_dir), "simple")
        n_ex = pq.count("Exchange hashpartitioning")
        check(f"{qname} is a single-exchange window chain", n_ex == 1,
              f"found {n_ex}")
    ml = plan_of(e.queries()["melt_long"](spark, sf_dir), "simple")
    check("melt is Expand with only the pivot's exchange",
          "Expand" in ml and ml.count("Exchange hashpartitioning") == 1,
          f"expand={'Expand' in ml} ex={ml.count('Exchange hashpartitioning')}")
    # fuzzy join: variant generation must be JVM-side (no Python eval in
    # plan) and the verify is an equi join, never a cartesian
    fz = plan_of(e.queries()["fuzzy_pairs"](spark, sf_dir), "simple")
    check("fuzzy join is equi (no cartesian, no Python eval)",
          "CartesianProduct" not in fz and "BatchEvalPython" not in fz
          and "ArrowEvalPython" not in fz)
    # ... and NEVER broadcasts: both sides are variant-exploded, AQE's size
    # mis-estimate once planned a 137M-row broadcast that killed the driver
    # (BENCH/TIMESERIES.md). The merge hint must pin SORT-MERGE: a
    # shuffle_hash pin dies instead in the executor (the SHJ build map
    # cannot spill — "not enough memory to build hash map" at 137M rows).
    check("fuzzy join pins spillable sort-merge, never broadcast/SHJ",
          "BroadcastExchange" not in fz and "SortMergeJoin" in fz
          and "ShuffledHashJoin" not in fz,
          f"bcast={'BroadcastExchange' in fz} smj={'SortMergeJoin' in fz}")
    # turn repetition: ONE exchange (the lag window), no Python eval
    tr_ = plan_of(e.queries()["turn_repetition"](spark, sf_dir), "simple")
    n_ex = tr_.count("Exchange hashpartitioning")
    check("turn_repetition is a single-exchange lag window",
          n_ex == 1 and "EvalPython" not in tr_, f"found {n_ex}")
    # mad outliers: every exchange keys on the group column only — the
    # rank/agg/join rounds must all hash on user_id, never sort globally
    mo = plan_of(e.queries()["mad_outliers"](spark, sf_dir), "simple")
    import re as _re
    keys = _re.findall(r"Exchange hashpartitioning\(([a-zA-Z_#0-9]+)", mo)
    check("mad_outliers exchanges all key on the group column",
          bool(keys) and all(k.startswith("user_id") for k in keys),
          f"keys={set(keys)}")

    spark.stop()
    print("\nAll checks passed" if not failures else f"\nFAILED: {failures}")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
