"""spark-submit job surface (S5/S6): argparse -> engines -> sinks -> resume.

Runs job.run() in-process against the session fixture's JVM (get_spark reuses
the active session), small synthetic inputs.
"""

from __future__ import annotations

import glob
import json
import os
import re

import pytest
from pyspark.sql import functions as F

from flow_feature_spark import job
from flow_feature_spark.io import snapshot_history
from flow_feature_spark.synth import synth_transcripts


def _write_input(spark, path, n_convs=20):
    synth_transcripts(spark, n_convs=n_convs, turns_mean=10).write.mode(
        "overwrite"
    ).parquet(path)


def test_job_features_parquet(spark, tmp_path):
    inp, out = f"{tmp_path}/in", f"{tmp_path}/out"
    _write_input(spark, inp)
    assert job.run(["--input", inp, "--output", out]) == 0
    got = spark.read.parquet(out)
    assert got.count() > 15
    assert "fiat_mean" in got.columns and "feature_ts" in got.columns


OWNED_SESSION_PROBE = """\
import sys

from pyspark import SparkContext

from flow_feature_spark import corpus_job, job

args = ["--input", sys.argv[1], "--output", sys.argv[2], "--master", "local[1]"]
for run, more in ((job.run, []), (corpus_job.run, ["--op", "analyze"])):
    try:
        run(args + more)
    except Exception as e:
        print("RAISED", type(e).__name__)
    print("ACTIVE", SparkContext._active_spark_context is not None)
"""


def test_job_raising_run_stops_the_session_it_owns(tmp_path):
    """In a fresh process job.run (and corpus_job.run) owns the session it
    creates: a run that raises (here on a missing --input) must still stop
    it, or the next in-process run sees a context it does not own and never
    stops it."""
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(os.environ, SPARK_GRAFT_DRIVER_MEM="1g")
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in (repo, env.get("PYTHONPATH")) if p
    )
    r = subprocess.run(
        [sys.executable, "-c", OWNED_SESSION_PROBE,
         f"{tmp_path}/missing", f"{tmp_path}/out"],
        capture_output=True, text=True, timeout=600, env=env, cwd=str(tmp_path),
    )
    lines = [ln for ln in r.stdout.splitlines() if ln.startswith(("RAISED", "ACTIVE"))]
    assert lines == ["RAISED AnalysisException", "ACTIVE False"] * 2, (
        r.stdout + r.stderr[-2000:]
    )


def test_job_on_worker_thread_keeps_shared_session(spark, tmp_path):
    """A job run on a non-main thread sees no active JVM session (it is per
    thread) but must still leave the caller's session running."""
    import threading

    inp, out = f"{tmp_path}/in", f"{tmp_path}/out"
    _write_input(spark, inp, n_convs=5)
    rc = []
    t = threading.Thread(
        target=lambda: rc.append(job.run(["--input", inp, "--output", out]))
    )
    t.start()
    t.join(timeout=300)
    assert not t.is_alive() and rc == [0]
    assert spark.range(3).count() == 3


def test_job_per_source_mode(spark, tmp_path):
    """--per-source: one feature row per input FILE (reference pcap mode)."""
    inp, out = f"{tmp_path}/in", f"{tmp_path}/out"
    base = synth_transcripts(spark, n_convs=12, turns_mean=10)
    cidx = F.substring("conv_id", 5, 8).cast("int")
    for shard in range(3):
        base.filter(cidx % 3 == shard).coalesce(1).write.mode(
            "overwrite"
        ).parquet(f"{inp}/shard{shard}.parquet")
    assert job.run(
        ["--input", f"{inp}/shard*.parquet", "--output", out, "--per-source"]
    ) == 0
    got = spark.read.parquet(out)
    rows = got.select("source").collect()
    assert got.count() == 3  # one flow per shard file
    assert all(r["source"].startswith("part-") for r in rows)


def test_job_per_source_numbering_sort_carries_no_text(spark, tmp_path):
    """--per-source numbers each file's turns after normalize_turns has read
    the text: the numbering Window sorts the kernel columns, never the raw
    rows with their text."""
    inp, out = f"{tmp_path}/in", f"{tmp_path}/out"
    synth_transcripts(spark, n_convs=6, turns_mean=10).coalesce(1).write.parquet(
        f"{inp}/shard0.parquet"
    )
    store = spark._jsparkSession.sharedState().statusStore()
    first = store.executionsList().size()
    assert job.run(
        ["--input", f"{inp}/shard*.parquet", "--output", out, "--per-source"]
    ) == 0
    execs = store.executionsList()
    window_inputs = [
        cols
        for i in range(first, execs.size())
        for cols in re.findall(
            r"\(\d+\) Window\s*\nInput \[\d+\]: \[([^\]]*)\]",
            execs.apply(i).physicalPlanDescription(),
        )
    ]
    assert window_inputs
    for cols in window_inputs:
        names = {c.split("#")[0] for c in cols.split(", ")}
        assert "source" in names and "text" not in names, cols


def test_job_per_source_tiny_batches_match_exact_kernel(spark, tmp_path):
    """--per-source over 37-row Arrow batches: each file's one flow spans
    several batches and its gaps pass --gap-seconds, and every row equals
    the exact grouped kernel over one session per file (r6)."""
    from pyspark.sql import Window as W

    from flow_feature_spark.prepare import normalize_turns, with_source_file
    from flow_feature_spark.schema import FEATURE_NAMES

    from tests.exact_kernel import extract_session_features

    inp, out = f"{tmp_path}/in", f"{tmp_path}/out"
    base = synth_transcripts(spark, n_convs=30, turns_mean=10)
    cidx = F.substring("conv_id", 5, 8).cast("int")
    for shard in range(3):
        base.filter(cidx % 3 == shard).coalesce(1).write.mode(
            "overwrite"
        ).parquet(f"{inp}/shard{shard}.parquet")
    glob_in = f"{inp}/shard*.parquet"
    conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(conf)
    spark.conf.set(conf, "37")
    try:
        assert job.run(["--input", glob_in, "--output", out, "--per-source",
                        "--rounding", "r6", "--gap-seconds", "60"]) == 0
    finally:
        spark.conf.set(conf, old)
    cols = ["source", "session_id", "n_turns", *FEATURE_NAMES]
    got = spark.read.parquet(out).select(cols)

    w = W.partitionBy("source").orderBy("ts", "conv_id", "turn_idx")
    src = with_source_file(spark.read.parquet(glob_in))
    turns = normalize_turns(
        src.withColumn("turn_idx", F.row_number().over(w)), conv_col="source"
    ).withColumn("session_id", F.lit(1).cast("long"))
    want = extract_session_features(turns, rounding="r6").withColumnRenamed(
        "conv_id", "source").select(cols)
    assert want.count() == 3 and min(r[0] for r in want.select("n_turns").collect()) > 37
    assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0


def test_job_csv_header_sink(spark, tmp_path):
    inp, out = f"{tmp_path}/in", f"{tmp_path}/out"
    _write_input(spark, inp)
    assert job.run([
        "--input", inp, "--output", out, "--format", "csv", "--csv-header",
    ]) == 0
    files = glob.glob(f"{out}/*.csv")
    assert files
    with open(files[0]) as fh:
        header = fh.readline()
    assert "fiat_mean" in header and "duration" in header


def test_job_checkpoint_fingerprint_covers_flags(spark, tmp_path, capsys):
    """Rerunning with a changed semantics flag must RECOMPUTE, not resume."""
    inp, out, ckpt = f"{tmp_path}/in", f"{tmp_path}/out", f"{tmp_path}/ckpt"
    _write_input(spark, inp)

    def run(ck, *flags):
        """(resumed?, the checkpoint's current log entry) of one job run."""
        assert job.run(
            ["--input", inp, "--output", out, "--checkpoint", ck, *flags]
        ) == 0
        printed = capsys.readouterr().out
        rows = int(re.search(r"checkpoint \w+: (\d+) rows", printed).group(1))
        # the row count comes from the log entry, and it is the output's
        assert rows == spark.read.parquet(out).count() > 0
        return "checkpoint resumed" in printed, snapshot_history(spark, ck)[-1]

    r1, e1 = run(ckpt)
    # same flags -> resume (the current snapshot untouched)
    r2, e2 = run(ckpt)
    assert (r1, r2) == (False, True)
    assert e2["snapshot_id"] == e1["snapshot_id"]
    # changed rounding -> fingerprint differs -> recompute (new snapshot)
    r3, e3 = run(ckpt, "--rounding", "r6")
    assert not r3 and e3["snapshot_id"] != e1["snapshot_id"]
    assert e3["input_fingerprint"] != e1["input_fingerprint"]
    # exact-distinct profile, then the --hll sketch profile
    prof = f"{tmp_path}/ck_profile"
    assert run(prof, "--mode", "profile")[0] is False
    assert run(prof, "--mode", "profile", "--hll")[0] is False
    # drift histogram, then a different bin count
    drift = f"{tmp_path}/ck_drift"
    assert run(drift, "--mode", "drift", "--ref", inp)[0] is False
    assert run(
        drift, "--mode", "drift", "--ref", inp, "--drift-bins", "8"
    )[0] is False
    bins = {r["bin_idx"] for r in spark.read.parquet(out).collect()}
    assert max(b for b in bins if b is not None) <= 8


def test_job_stream_mode_matches_batch(spark, tmp_path):
    """--mode stream drives the W7 stateful path end-to-end from the CLI:
    file-source stream (staged micro-batches + watermark advancers so the
    EventTimeTimeout tails flush) emits the same vectors as --mode features
    over the same turns."""
    import time

    from pyspark.sql import functions as F
    from flow_feature_spark.schema import FEATURE_NAMES
    from flow_feature_spark.synth import synth_transcripts

    inp = f"{tmp_path}/stream_in"
    tr = synth_transcripts(spark, n_convs=8, turns_mean=8, hot_factor=2)
    # two transcript-shaped watermark advancers far in the future, > gap
    # apart; each is a <2-turn session, dropped by the kernel in both engines
    max_ts = tr.agg(F.max("ts")).collect()[0][0]
    stages = [tr]
    for j in range(2):
        adv = spark.createDataFrame(
            [("zz_advancer", j, "user", "", None)],
            "conv_id string, turn_idx int, role string, text string, tool string",
        ).withColumn(
            "ts",
            F.lit(max_ts) + F.expr(f"INTERVAL {10 * (j + 1)} HOURS"),
        ).select("conv_id", "turn_idx", "role", "text", "tool", "ts")
        stages.append(adv)
    for i, df in enumerate(stages):
        sub = f"{inp}/batch{i}"
        df.coalesce(1).write.mode("overwrite").parquet(sub)
        stamp = time.time() + i * 10
        for root, _, files in os.walk(sub):
            for f in files:
                os.utime(os.path.join(root, f), (stamp, stamp))

    out_s, ckpt = f"{tmp_path}/out_stream", f"{tmp_path}/stream_ckpt"
    assert job.run([
        "--input", f"{inp}/batch*", "--output", out_s,
        "--mode", "stream", "--checkpoint", ckpt,
        "--rounding", "r6", "--max-files-per-trigger", "1",
    ]) == 0

    out_b = f"{tmp_path}/out_batch"
    assert job.run([
        "--input", f"{inp}/batch*", "--output", out_b, "--rounding", "r6",
    ]) == 0

    key = lambda r: (r["conv_id"], r["session_id"])  # noqa: E731
    got = {key(r): [r[n] for n in FEATURE_NAMES]
           for r in spark.read.parquet(out_s).collect()}
    want = {key(r): [r[n] for n in FEATURE_NAMES]
            for r in spark.read.parquet(out_b).collect()}
    assert set(got) == set(want)
    for k, v in got.items():
        assert v == want[k], k


def test_job_exact_sql_threads_rounding_and_reset(spark, tmp_path):
    """--engine exact-sql must honor --rounding and --reset-tool (no silent
    fallback / silent r6): half_even output differs from r6 on at least one
    value for the same input, and reset-tool changes the session split."""
    inp = f"{tmp_path}/in"
    _write_input(spark, inp)
    outs = {}
    for tag, extra in {
        "r6": ["--rounding", "r6"],
        "he": ["--rounding", "half_even"],
        "reset": ["--rounding", "r6", "--reset-tool", "retry"],
    }.items():
        out = f"{tmp_path}/out_{tag}"
        assert job.run(
            ["--input", inp, "--output", out, "--engine", "exact-sql", *extra]
        ) == 0
        outs[tag] = spark.read.parquet(out)
    # fast r6 reference: exact-sql r6 must be bit-identical, with and
    # without the reset tool (the fast engine honours --reset-tool too)
    cols = sorted(set(outs["r6"].columns) - {"feature_ts"})
    for tag, extra in {"r6": [], "reset": ["--reset-tool", "retry"]}.items():
        out_f = f"{tmp_path}/out_fast_{tag}"
        assert job.run([
            "--input", inp, "--output", out_f, "--engine", "fast",
            "--rounding", "r6", *extra,
        ]) == 0
        fast = spark.read.parquet(out_f).select(cols)
        sql = outs[tag].select(cols)
        assert sql.exceptAll(fast).count() == 0, tag
        assert fast.exceptAll(sql).count() == 0, tag
    assert outs["reset"].count() != outs["r6"].count()
    # half_even and r6 agree allclose but the engines did run different
    # rounding (sanity: same row count, same keys)
    assert outs["he"].count() == outs["r6"].count()


def test_job_checkpoint_manifest_carries_partition_lineage(spark, tmp_path):
    """--checkpoint with the fast engine records the Arrow kernel's
    per-partition accumulator lineage in the snapshot's log entry (north rule:
    'resumable from checkpoint with per-partition lineage + metrics')."""
    inp, out, ckpt = f"{tmp_path}/in", f"{tmp_path}/out", f"{tmp_path}/ck_m"
    _write_input(spark, inp)
    assert job.run(["--input", inp, "--output", out, "--checkpoint", ckpt]) == 0
    snap = snapshot_history(spark, ckpt)[-1]["metrics"]
    assert snap is not None
    assert snap["rows_in"] > 0 and snap["rows_out"] > 0
    assert snap["rows_in_by_partition"]  # at least one partition recorded
    assert sum(snap["rows_in_by_partition"].values()) == snap["rows_in"]


def test_job_stream_counts_engine(spark, tmp_path):
    """--mode stream --stream-engine counts: native session_window aggregates
    through the CLI; closed sessions match the batch sessionizer counts."""
    from pyspark.sql import functions as F
    from flow_feature_spark.prepare import normalize_turns
    from flow_feature_spark.sessionize import assign_sessions
    from flow_feature_spark.synth import synth_transcripts

    inp = f"{tmp_path}/sc_in"
    tr = synth_transcripts(spark, n_convs=10, turns_mean=10, hot_factor=2)
    tr.coalesce(1).write.mode("overwrite").parquet(inp)  # one micro-batch

    out, ckpt = f"{tmp_path}/sc_out", f"{tmp_path}/sc_ckpt"
    assert job.run([
        "--input", inp, "--output", out, "--mode", "stream",
        "--stream-engine", "counts", "--checkpoint", ckpt,
    ]) == 0
    got = {
        (r["conv_id"], r["turn_cnt"], r["byte_cnt"])
        for r in spark.read.parquet(out).collect()
    }
    batch = assign_sessions(normalize_turns(spark.read.parquet(inp)), 1800.0)
    want_all = {
        (r["conv_id"], r["turn_cnt"], r["byte_cnt"])
        for r in batch.groupBy("conv_id", "session_id").agg(
            F.count(F.lit(1)).alias("turn_cnt"),
            F.sum("plen").alias("byte_cnt"),
        ).collect()
    }
    # append mode emits CLOSED sessions (per-conv tails stay open at the
    # watermark): every emitted row must be a real batch session
    assert got <= want_all
    assert got  # at least the gap-closed sessions flushed


def test_job_engines_agree_on_hot_out_of_order_conv(spark, tmp_path):
    """Every --engine gives identical r6 rows on the input shape that makes a
    skew path answer wrongly when it trusts turn order: one conversation
    longer than the default 8192-turn bucket whose turn_idx runs backwards
    in time. The bucketed sessionizer, which does trust it, refuses the
    input and names the conversation instead of writing wrong rows."""
    from pyspark.errors import PySparkException

    inp = f"{tmp_path}/in"
    tr = synth_transcripts(spark, n_convs=30, turns_mean=20, hot_factor=500)
    hot = F.col("conv_id") == "conv00000000"
    n_hot = tr.filter(hot).count()
    assert n_hot > 8192
    tr.withColumn(
        "turn_idx",
        F.when(hot, F.lit(n_hot - 1) - F.col("turn_idx")).otherwise(F.col("turn_idx")),
    ).write.parquet(inp)

    outs = {}
    for eng in ("fast", "exact-sql"):
        out = f"{tmp_path}/out_{eng}"
        assert job.run([
            "--input", inp, "--output", out, "--mode", "features",
            "--engine", eng, "--rounding", "r6",
        ]) == 0
        outs[eng] = spark.read.parquet(out)
    base = outs["fast"]
    cols = sorted(base.columns)
    assert base.filter(hot).count() > 0
    for eng, got in outs.items():
        a, b = base.select(cols), got.select(cols)
        assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0, eng

    with pytest.raises(PySparkException, match="conversation conv00000000 "):
        job.run([
            "--input", inp, "--output", f"{tmp_path}/out_bucketed",
            "--mode", "features", "--engine", "exact-sql",
            "--sessionizer", "bucketed", "--rounding", "r6",
        ])


def _write_probes(spark, inp, path):
    spark.read.parquet(inp).select(
        F.col("conv_id").alias("entity_id"), F.col("ts").alias("probe_ts")
    ).write.mode("overwrite").parquet(path)


def test_job_asof_mode_engines_agree(spark, tmp_path):
    """--mode asof: every engine's vectors go through the one union-window
    as-of join, and fast and exact-sql give identical r6 rows in one
    pinned output layout: the probe columns, then the feature payload in
    feature order."""
    from flow_feature_spark.schema import FEATURE_NAMES

    inp, probes_p = f"{tmp_path}/in", f"{tmp_path}/probes"
    _write_input(spark, inp)
    _write_probes(spark, inp, probes_p)

    outs = {}
    for eng in ("fast", "exact-sql"):
        out = f"{tmp_path}/asof_{eng}"
        assert job.run([
            "--input", inp, "--output", out, "--mode", "asof",
            "--probes", probes_p, "--engine", eng, "--rounding", "r6",
        ]) == 0
        outs[eng] = spark.read.parquet(out)
    want_dtypes = [
        ("entity_id", "string"), ("probe_ts", "timestamp"),
        ("session_id", "bigint"), ("n_turns", "bigint"),
    ] + [(c, "double") for c in FEATURE_NAMES]
    base = outs["exact-sql"]
    assert base.count() > 0
    assert base.filter(F.col("session_id").isNotNull()).count() > 0
    for eng, got in outs.items():
        assert got.dtypes == want_dtypes, eng
        assert base.exceptAll(got).count() == 0, eng
        assert got.exceptAll(base).count() == 0, eng


def _last_plan_nodes(spark) -> list[tuple[str, str]]:
    """(name, description) of every node of the last SQL execution's final
    plan, read from Spark's status store (kept with the UI off)."""
    store = spark._jsparkSession.sharedState().statusStore()
    execs = store.executionsList()
    graph = store.planGraph(execs.apply(execs.size() - 1).executionId())
    nodes = graph.allNodes()
    return [(nodes.apply(i).name(), nodes.apply(i).desc())
            for i in range(nodes.size())]


def test_job_plan_shapes(spark, tmp_path):
    """The executed plans keep their exchange budget: under the fast engine
    the dedup shares the kernel's conv_id exchange, and --mode asof adds one
    exchange and no second Python stage. The bucketed skew path keeps its
    (conv_id, bucket) shuffle, so a hot conversation is never one task."""
    inp, probes_p = f"{tmp_path}/in", f"{tmp_path}/probes"
    _write_input(spark, inp)
    _write_probes(spark, inp, probes_p)

    def plan(*argv):
        assert job.run(["--input", inp, "--output", f"{tmp_path}/out",
                        *argv]) == 0
        return _last_plan_nodes(spark)

    asof = [n for n, _ in plan("--mode", "asof", "--probes", probes_p)]
    assert asof.count("Exchange") == 2, asof
    assert asof.count("MapInPandas") == 1, asof
    feats = [n for n, _ in plan("--mode", "features")]
    assert feats.count("Exchange") == 1, feats

    bucketed = plan("--engine", "exact-sql", "--sessionizer", "bucketed")
    bkt = re.compile(r"hashpartitioning\(conv_id#\d+, __bkt#\d+L?, ")
    assert any(n == "Exchange" and bkt.search(d) for n, d in bucketed)


def test_job_rollup_mode(spark, tmp_path):
    """--mode rollup: day/hour/total activity rollup over the turn table."""
    inp, out = f"{tmp_path}/in", f"{tmp_path}/out"
    _write_input(spark, inp)
    assert job.run(["--input", inp, "--output", out, "--mode", "rollup"]) == 0
    got = spark.read.parquet(out)
    lv = {r["lvl"] for r in got.select("lvl").distinct().collect()}
    assert lv == {"hour", "day", "all"}
    total = got.filter(got.lvl == "all").collect()
    n_turns = spark.read.parquet(inp).count()
    assert len(total) == 1 and total[0]["n_events"] == n_turns


def test_job_compact_mode(spark, tmp_path):
    """--mode compact: in-place small-files rewrite, rows preserved."""
    inp = f"{tmp_path}/frag"
    base = synth_transcripts(spark, n_convs=10, turns_mean=10)
    base.repartition(30).write.parquet(inp)
    n = spark.read.parquet(inp).count()
    assert job.run(["--input", inp, "--output", "ignored", "--mode", "compact"]) == 0
    files = [f for f in glob.glob(f"{inp}/*.parquet")]
    assert 0 < len(files) < 30
    assert spark.read.parquet(inp).count() == n


def test_job_json_and_csv_input(spark, tmp_path):
    """--input-format json/csv: same features as the parquet path."""
    pq, js, cs = f"{tmp_path}/pq", f"{tmp_path}/js", f"{tmp_path}/cs"
    base = synth_transcripts(spark, n_convs=8, turns_mean=8)
    base.write.parquet(pq)
    # default JSON timestampFormat truncates to millis; keep the micros
    base.write.option("timestampFormat", "yyyy-MM-dd HH:mm:ss.SSSSSS").json(js)
    base.withColumn("ts", F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS")) \
        .write.option("header", True).csv(cs)

    outs = {}
    for fmt, inp in (("parquet", pq), ("json", js), ("csv", cs)):
        out = f"{tmp_path}/out_{fmt}"
        assert job.run(
            ["--input", inp, "--output", out, "--input-format", fmt,
             "--engine", "exact-sql", "--rounding", "r6"]
        ) == 0
        df = spark.read.parquet(out)
        outs[fmt] = sorted(
            (r["conv_id"], r["session_id"], r["n_turns"], r["fiat_mean"])
            for r in df.select("conv_id", "session_id", "n_turns", "fiat_mean").collect()
        )
    assert outs["json"] == outs["parquet"]
    assert outs["csv"] == outs["parquet"]


def test_job_profile_mode(spark, tmp_path):
    """--mode profile: per-column QA stats of any table."""
    inp, out = f"{tmp_path}/in", f"{tmp_path}/out"
    _write_input(spark, inp)
    assert job.run(["--input", inp, "--output", out, "--mode", "profile"]) == 0
    got = {r["col"]: r for r in spark.read.parquet(out).collect()}
    src = spark.read.parquet(inp)
    assert set(got) == set(src.columns)
    n = src.count()
    assert all(r["n"] == n for r in got.values())
    assert got["conv_id"]["n_distinct"] == src.select("conv_id").distinct().count()
    assert got["ts"]["min_num"] is not None and got["conv_id"]["min_str"] is not None


def test_profile_single_scan_and_matches_sql_twin(spark, tmp_path):
    """The engine profiler costs ONE FileScan regardless of column count
    (the union-branch formulation would scan once per column), and its
    output matches the cross-engine SQL twin on the events table."""
    from flow_feature_spark.profile import profile_table

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    plan = profile_table(ev)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("FileScan") + plan.count("Scan parquet") <= 2  # one scan node
    got = {r["col"]: r for r in profile_table(ev).collect()}

    from flow_feature_spark import oracle_queries as OQ

    ev.createOrReplaceTempView("events")
    want = {r["col"]: r for r in spark.sql(OQ.table_profile_sql("spark")).collect()}
    assert set(want) <= set(got)
    for col, w in want.items():
        g = got[col]
        assert (g["n"], g["n_null"], g["n_distinct"]) == (w["n"], w["n_null"], w["n_distinct"])
        for f in ("min_str", "max_str"):
            assert g[f] == w[f], (col, f)
        # the SQL twin r6-rounds numerics; compare at that precision
        for f in ("min_num", "max_num"):
            if w[f] is None:
                assert g[f] is None, (col, f)
            else:
                assert abs(g[f] - w[f]) < 1e-5, (col, f)


def test_profile_map_and_struct_columns(spark):
    """Arbitrary-schema contract: MapType columns (unhashable in Spark
    aggregates) must profile via their key-sorted entry arrays instead of
    throwing AnalysisException; insertion order must not split cardinality."""
    from flow_feature_spark.profile import profile_table

    df = spark.createDataFrame(
        [
            (1, {"a": 1, "b": 2}, (7, "x")),
            (2, {"b": 2, "a": 1}, (7, "x")),   # same map, other order
            (3, {"c": 3}, None),
            (4, None, (8, "y")),
        ],
        "id int, props map<string,int>, meta struct<k:int,v:string>",
    )
    got = {r["col"]: r for r in profile_table(df).collect()}
    assert got["props"]["n_distinct"] == 2  # {a:1,b:2} once, {c:3} once
    assert got["props"]["n_null"] == 1
    assert got["props"]["min_num"] is None and got["props"]["min_str"] is None
    assert got["meta"]["n_distinct"] == 2
    # the approximate path must survive the same schema
    hll = {r["col"]: r for r in profile_table(df, exact_distinct=False).collect()}
    assert hll["props"]["n_distinct"] >= 1


def test_profile_hll_path_drops_expand(spark):
    """The 10^12-row story: exact multi-column COUNT(DISTINCT) plans an
    Expand (input duplicated once per distinct column inside the aggregate);
    exact_distinct=False must swap in HLL sketches and drop the Expand from
    the physical plan entirely."""
    from flow_feature_spark.profile import profile_table

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    exact_plan = profile_table(ev)._jdf.queryExecution().executedPlan().toString()
    hll_plan = (
        profile_table(ev, exact_distinct=False)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Expand" in exact_plan
    assert "Expand" not in hll_plan
    assert "approx_count_distinct" in hll_plan


def test_drift_mode_between_two_tables(spark, tmp_path):
    """--mode drift: per-bin chi-square of a column expression between --ref
    and --input; identical tables -> all zero terms, shifted table -> mass
    moves bins and nonzero terms appear."""
    from flow_feature_spark import job

    ref, cur, out1, out2 = (f"{tmp_path}/{n}" for n in ("ref", "cur", "o1", "o2"))
    base = spark.range(1000).selectExpr(
        "id", "repeat('x', cast(id % 100 as int)) AS text"
    )
    base.write.parquet(ref)
    base.selectExpr("id", "repeat('x', cast(id % 100 as int) + 50) AS text").write.parquet(cur)

    # identical slices -> every chi2_term exactly 0
    assert job.run([
        "--input", ref, "--output", out1, "--mode", "drift", "--ref", ref,
        "--drift-bins", "10", "--drift-lo", "0", "--drift-hi", "100",
    ]) == 0
    rows = spark.read.parquet(out1).collect()
    assert len(rows) == 10
    assert all(r["chi2_term"] == 0.0 and r["n_ref"] == r["n_cur"] for r in rows)

    # +50-char shift -> overflow bin gains current-only mass
    assert job.run([
        "--input", cur, "--output", out2, "--mode", "drift", "--ref", ref,
        "--drift-bins", "10", "--drift-lo", "0", "--drift-hi", "100",
    ]) == 0
    got = {r["bin_idx"]: r for r in spark.read.parquet(out2).collect()}
    assert got[10]["n_ref"] == 0 and got[10]["n_cur"] == 500
    assert any(r["chi2_term"] and r["chi2_term"] > 0 for r in got.values())


def test_drift_mode_requires_ref(tmp_path):
    from flow_feature_spark import job

    try:
        job.run(["--input", f"{tmp_path}/a", "--output", f"{tmp_path}/b",
                 "--mode", "drift"])
        raised = False
    except SystemExit as e:
        raised = "requires --ref" in str(e)
    assert raised


def test_snapshot_sink_commits_versions(spark, tmp_path):
    """--snapshot routes the parquet sink through the snapshot log: each run
    commits a NEW immutable version of the output table; earlier versions
    stay readable (time travel), and the CSV sink rejects the flag."""
    from flow_feature_spark import job
    from flow_feature_spark.io import read_snapshot, snapshot_history
    from flow_feature_spark.synth import synth_transcripts

    inp, inp2 = f"{tmp_path}/in", f"{tmp_path}/in2"
    out = f"{tmp_path}/tbl"
    synth_transcripts(spark, n_convs=12, turns_mean=6).write.parquet(inp)
    synth_transcripts(spark, n_convs=20, turns_mean=6, seed=7).write.parquet(inp2)

    assert job.run(["--input", inp, "--output", out, "--snapshot"]) == 0
    assert job.run(["--input", inp2, "--output", out, "--snapshot"]) == 0

    hist = snapshot_history(spark, out)
    assert [e["snapshot_id"] for e in hist] == [1, 2]
    assert hist[1]["parent_id"] == 1 and hist[0]["job"] == "features"
    latest = read_snapshot(spark, out)
    v1 = read_snapshot(spark, out, snapshot_id=1)
    # run 2 used a bigger input: the current version has more sessions, and
    # version 1 is still exactly readable underneath it
    assert latest.count() > v1.count() > 0
    assert v1.count() == hist[0]["rows"]

    try:
        job.run(["--input", inp, "--output", out, "--snapshot",
                 "--format", "csv"])
        raised = False
    except SystemExit as e:
        raised = "parquet sink only" in str(e)
    assert raised


def test_job_quality_mode_gate(spark, tmp_path):
    """--mode quality: JSON expectations -> one-scan report; exit 2 with
    --fail-on-violation when a constraint fails, 0 when all pass."""
    inp, out = f"{tmp_path}/in", f"{tmp_path}/qrep"
    _write_input(spark, inp)
    exps = f"{tmp_path}/exps.json"
    with open(exps, "w") as fh:
        json.dump(
            [
                {"kind": "not_null", "col": "conv_id"},
                {"kind": "unique", "cols": ["conv_id", "turn_idx"]},
                {"kind": "row_count", "min_rows": 10},
                {"kind": "expr", "name": "ts_set", "predicate": "ts IS NOT NULL"},
            ],
            fh,
        )
    assert job.run([
        "--input", inp, "--output", out, "--mode", "quality",
        "--expectations", exps, "--fail-on-violation",
    ]) == 0
    rep = {r["check_name"]: r for r in spark.read.parquet(out).collect()}
    assert set(rep) == {"not_null", "unique", "row_count", "expr"}
    assert all(r["passed"] for r in rep.values())

    # a failing constraint flips the exit code (report still written)
    with open(exps, "w") as fh:
        json.dump([{"kind": "row_count", "min_rows": 10**9}], fh)
    assert job.run([
        "--input", inp, "--output", out, "--mode", "quality",
        "--expectations", exps, "--fail-on-violation",
    ]) == 2
    assert not spark.read.parquet(out).collect()[0]["passed"]


def test_job_incremental_mode(spark, tmp_path):
    """--mode incremental: two delta ingests == one full-recompute features
    run over the concatenated input, bit-for-bit."""
    full, d1, d2 = f"{tmp_path}/full", f"{tmp_path}/d1", f"{tmp_path}/d2"
    tr = synth_transcripts(spark, n_convs=15, turns_mean=12)
    cut = tr.selectExpr("percentile(unix_micros(cast(ts as timestamp)), 0.5) p").first()["p"]
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    tr.filter(us <= cut).write.parquet(d1)
    tr.filter(us > cut).write.parquet(d2)
    tr.write.parquet(full)

    tt, ft = f"{tmp_path}/turns_tbl", f"{tmp_path}/feats_tbl"
    for d in (d1, d2):
        assert job.run([
            "--input", d, "--output", "ignored", "--mode", "incremental",
            "--turns-table", tt, "--features-table", ft,
            "--engine", "exact-sql", "--rounding", "r6",
        ]) == 0

    ref_out = f"{tmp_path}/ref_out"
    assert job.run([
        "--input", full, "--output", ref_out,
        "--engine", "exact-sql", "--rounding", "r6",
    ]) == 0

    from flow_feature_spark.io import read_snapshot

    got = sorted(
        map(tuple, read_snapshot(spark, ft).select(
            "conv_id", "session_id", "n_turns", "fiat_mean", "dpl_total"
        ).collect())
    )
    want = sorted(
        map(tuple, spark.read.parquet(ref_out).select(
            "conv_id", "session_id", "n_turns", "fiat_mean", "dpl_total"
        ).collect())
    )
    assert got == want and len(got) > 10


def test_job_zorder_and_vacuum_modes(spark, tmp_path):
    import random

    from flow_feature_spark.io import read_snapshot, vacuum_table, write_snapshot
    from flow_feature_spark.layout import read_pruned, read_zonemap

    rng = random.Random(2)
    inp, out = f"{tmp_path}/zin", f"{tmp_path}/zout"
    spark.createDataFrame(
        [(i, rng.randrange(0, 100), rng.randrange(0, 100) * 1.0)
         for i in range(2000)],
        "id long, x long, v double",
    ).write.parquet(inp)
    assert job.run([
        "--input", inp, "--output", out, "--mode", "zorder",
        "--zorder-by", "x,v", "--zorder-files", "4",
    ]) == 0
    zm = read_zonemap(spark, out)
    assert len(zm["files"]) == 4 and zm["columns"] == ["x", "v"]
    pruned, _ = read_pruned(spark, out, {"x": (10, 20), "v": (10.0, 20.0)})
    oracle = spark.read.parquet(out).filter(
        F.col("x").between(10, 20) & F.col("v").between(10.0, 20.0)
    )
    assert sorted(map(tuple, pruned.collect())) == sorted(
        map(tuple, oracle.collect())
    )
    # zorder requires --zorder-by
    import pytest as _pytest

    with _pytest.raises(SystemExit, match="zorder-by"):
        job.run(["--input", inp, "--output", out + "2", "--mode", "zorder"])

    # vacuum: orphan dir removed, committed snapshots intact
    tbl = f"{tmp_path}/vtbl"
    write_snapshot(spark.range(7), tbl, job="t")
    spark.range(3).write.parquet(tbl + "/snap-000042")
    assert job.run(["--input", tbl, "--output", "ignored", "--mode", "vacuum"]) == 0
    assert vacuum_table(spark, tbl)["removed"] == []  # already clean
    assert read_snapshot(spark, tbl).count() == 7


def test_job_resample_mode(spark, tmp_path):
    """--mode resample: dense per-conv grid; counts sum to the turn count
    and the grid is gap-free per conversation."""
    inp, out = f"{tmp_path}/in_rs", f"{tmp_path}/out_rs"
    _write_input(spark, inp)
    assert job.run([
        "--input", inp, "--output", out, "--mode", "resample",
        "--bucket-seconds", "600", "--ffill-col", "role",
    ]) == 0
    got = spark.read.parquet(out)
    n_turns = spark.read.parquet(inp).count()
    assert got.agg(F.sum("n_events")).collect()[0][0] == n_turns
    assert "role_ffill" in got.columns
    # dense: per conv, bucket_idx is a contiguous range
    per = got.groupBy("conv_id").agg(
        F.min("bucket_idx").alias("lo"), F.max("bucket_idx").alias("hi"),
        F.count("*").alias("n"),
    ).collect()
    for r in per:
        assert r["n"] == r["hi"] - r["lo"] + 1


def test_job_scd2_mode(spark, tmp_path):
    """--mode scd2: validity intervals per conv for the tool attribute;
    exactly one open interval per conv, adjacent runs differ."""
    inp, out = f"{tmp_path}/in_s2", f"{tmp_path}/out_s2"
    _write_input(spark, inp)
    assert job.run([
        "--input", inp, "--output", out, "--mode", "scd2",
        "--scd2-attr", "tool",
    ]) == 0
    got = spark.read.parquet(out).collect()
    by_conv: dict = {}
    for r in got:
        by_conv.setdefault(r["conv_id"], []).append(r)
    assert by_conv
    for conv, rows in by_conv.items():
        rows.sort(key=lambda r: r["valid_from_us"])
        opens = [r for r in rows if r["valid_to_us"] is None]
        assert len(opens) == 1 and opens[0] is rows[-1], conv
        for a, b in zip(rows, rows[1:]):
            assert a["valid_to_us"] == b["valid_from_us"], conv
            assert a["tool"] != b["tool"] or (
                a["tool"] is None) != (b["tool"] is None), conv
