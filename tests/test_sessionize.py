from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from flow_feature_spark.prepare import normalize_turns
from flow_feature_spark.sessionize import assign_sessions, dedup_turns


def _mk(spark, rows):
    return spark.createDataFrame(
        [
            (c, i, r, t, None, dt.datetime(2024, 1, 1) + dt.timedelta(seconds=s))
            for (c, i, r, t, s) in rows
        ],
        "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
    )


def test_gap_split(spark):
    rows = [
        ("c1", 0, "user", "a", 0),
        ("c1", 1, "assistant", "b", 10),
        ("c1", 2, "user", "c", 4000),      # > 1800s gap -> new session
        ("c1", 3, "assistant", "d", 4005),
        ("c2", 0, "user", "x", 0),
    ]
    out = assign_sessions(normalize_turns(_mk(spark, rows)), gap_seconds=1800.0)
    got = {(r["conv_id"], r["turn_idx"]): r["session_id"] for r in out.collect()}
    assert got == {
        ("c1", 0): 1, ("c1", 1): 1, ("c1", 2): 2, ("c1", 3): 2, ("c2", 0): 1,
    }


def test_tie_ordering_uses_turn_idx(spark):
    # two turns at the identical ts: ordering must fall back to turn_idx
    rows = [("c1", 1, "user", "b", 5), ("c1", 0, "user", "a", 5), ("c1", 2, "user", "c", 6)]
    out = assign_sessions(normalize_turns(_mk(spark, rows)), gap_seconds=1800.0)
    assert out.filter(F.col("session_id") != 1).count() == 0


def test_dedup_turns(spark):
    rows = [
        ("c1", 0, "user", "a", 0),
        ("c1", 0, "user", "a", 0),     # exact duplicate (restart replay)
        ("c1", 1, "user", "b", 1),
        ("c1", 1, "user", "b-late", 9),  # later duplicate: earliest wins
    ]
    out = dedup_turns(_mk(spark, rows))
    got = {(r["conv_id"], r["turn_idx"]): r["text"] for r in out.collect()}
    assert got == {("c1", 0): "a", ("c1", 1): "b"}
    assert out.count() == 2


def test_reset_tool_opens_session(spark):
    rows = [
        ("c1", 0, "user", "a", None, 0),
        ("c1", 1, "assistant", "b", "finish", 10),  # finish -> new session
        ("c1", 2, "user", "c", None, 20),
    ]
    import datetime as dt

    df = spark.createDataFrame(
        [
            (c, i, r, t, tool, dt.datetime(2024, 1, 1) + dt.timedelta(seconds=s))
            for (c, i, r, t, tool, s) in rows
        ],
        "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
    )
    out = assign_sessions(normalize_turns(df), gap_seconds=1800.0, reset_tool="finish")
    got = {r["turn_idx"]: r["session_id"] for r in out.collect()}
    assert got == {0: 1, 1: 2, 2: 2}


def test_drop_housekeeping(spark):
    from flow_feature_spark.prepare import drop_housekeeping

    rows = [
        ("c1", 0, "user", "hello there friend", None, 0),
        ("c1", 1, "system", "sys housekeeping", None, 1),   # dropped: role
        ("c1", 2, "assistant", "ok", None, 2),               # dropped: bare short
        ("c1", 3, "assistant", "ok", "python", 3),           # kept: has tool flag
    ]
    import datetime as dt

    df = spark.createDataFrame(
        [
            (c, i, r, t, tool, dt.datetime(2024, 1, 1) + dt.timedelta(seconds=s))
            for (c, i, r, t, tool, s) in rows
        ],
        "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
    )
    out = drop_housekeeping(normalize_turns(df))
    assert sorted(r["turn_idx"] for r in out.collect()) == [0, 3]


def test_drop_housekeeping_keeps_null_role(spark):
    """Three-valued-logic trap: a NULL role is neither system nor bare and
    must be KEPT (role.isin(...) evaluates to NULL for NULL roles)."""
    from flow_feature_spark.prepare import drop_housekeeping

    df = spark.createDataFrame(
        [("c1", 1, None, 100, 5), ("c1", 2, "system", 100, 5), ("c1", 3, "user", 100, 5)],
        "conv_id string, turn_idx int, role string, plen long, flags int",
    )
    kept = {r["turn_idx"] for r in drop_housekeeping(df).collect()}
    assert kept == {1, 3}


def test_tag_protocol_classifies_and_drops(spark):
    """P2: explicit two-protocol classify-then-filter (flow_basic.py:113-124
    analog): unmapped and NULL values are dropped like non-TCP/UDP packets."""
    from flow_feature_spark.prepare import tag_protocol

    df = spark.createDataFrame(
        [(1, "user"), (2, "assistant"), (3, "system"), (4, "weird"), (5, None)],
        "id long, role string",
    )
    rows = {r["id"]: r["proto"] for r in tag_protocol(df).collect()}
    assert rows == {1: "TCP", 2: "TCP", 3: "UDP"}


def test_per_source_grouping_multi_file(spark, tmp_path):
    """F10: a directory of shards keeps its per-shard breakdown — one group
    per source file via input_file_name() basename."""
    from pyspark.sql import functions as F

    from flow_feature_spark.prepare import with_source_file

    base = spark.range(30).select(
        F.col("id"), (F.col("id") % 3).alias("k")
    )
    for day in range(3):
        base.filter(F.col("k") == day).coalesce(1).write.mode("overwrite").parquet(
            f"{tmp_path}/day{day}.parquet"
        )
    df = with_source_file(spark.read.parquet(f"{tmp_path}/day*.parquet"))
    per_src = (
        df.withColumn("source", F.regexp_extract("source", r"(part-[^/]*)", 1))
        .groupBy("source").agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    assert len(per_src) == 3
    assert all(r["n"] == 10 for r in per_src)


# ---------------------------------------------------------------------------
# Bucketized sessionization: identical ids to assign_sessions, no window ever
# partitioned by the raw conv key (VERDICT r2 top item).
# ---------------------------------------------------------------------------

def _synth_turns(spark, seed=7, sizes=(1, 3, 40, 137, 900)):
    import random

    random.seed(seed)
    rows = []
    for ci, n in enumerate(sizes):
        conv, ts = f"c{ci}", 1_700_000_000_000_000
        for i in range(n):
            ts += random.choice([1_000_000, 5_000_000, 2_000_000_000])
            flags = 4 if random.random() < 0.05 else 0  # bit 2 = 'retry'
            rows.append((conv, i, ts, bool(i % 3), 10, 2, flags, 4))
    return spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, ts_us long, is_fwd boolean, "
        "plen long, win long, flags int, ihl long",
    )


def _ids(df):
    return {(r["conv_id"], r["turn_idx"]): r["session_id"] for r in df.collect()}


def test_bucketed_matches_plain(spark):
    from flow_feature_spark.sessionize import assign_sessions_bucketed

    df = _synth_turns(spark)
    # a ts swap INSIDE one bucket (c4 turns 22/23 share a bucket at every
    # size below): the within-bucket windows sort by (ts, turn_idx), so the
    # swap is answered, not refused
    swap = F.col("conv_id") == "c4"
    ts_of = {r["turn_idx"]: r["ts_us"] for r in df.filter(swap).collect()}
    assert ts_of[22] < ts_of[23]
    swapped = df.withColumn(
        "ts_us",
        F.when(swap & (F.col("turn_idx") == 22), F.lit(ts_of[23]))
        .when(swap & (F.col("turn_idx") == 23), F.lit(ts_of[22]))
        .otherwise(F.col("ts_us")),
    )
    for name, d in (("in-order", df), ("swap-in-bucket", swapped)):
        for gap_s in (100.0, 1800.0):
            want = _ids(assign_sessions(d, gap_seconds=gap_s))
            for bt in (7, 64, 8192):  # tiny buckets force real boundary stitching
                got = _ids(
                    assign_sessions_bucketed(d, gap_seconds=gap_s, bucket_turns=bt)
                )
                assert got == want, f"{name} gap={gap_s} bucket_turns={bt}"


def test_bucketed_reset_tool(spark):
    from flow_feature_spark.sessionize import assign_sessions_bucketed

    df = _synth_turns(spark)
    want = _ids(assign_sessions(df, gap_seconds=1800.0, reset_tool="retry"))
    got = _ids(
        assign_sessions_bucketed(
            df, gap_seconds=1800.0, bucket_turns=9, reset_tool="retry"
        )
    )
    assert got == want


def test_bucketed_no_conv_partitioned_window(spark):
    """The physical plan must contain no window partitioned by conv_id alone
    over the TURNS table, and the big-side exchange must be on (conv, bucket)
    — the whole point of the bucketized design."""
    from flow_feature_spark.sessionize import assign_sessions_bucketed

    import re

    df = _synth_turns(spark)
    out = assign_sessions_bucketed(df, gap_seconds=1800.0, bucket_turns=64)
    plan = out._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    win_specs = re.findall(r"Window.*?windowspecdefinition\(([^)]*)\)", plan)
    for spec in win_specs:
        cols = spec.split(", ")
        if any(c.startswith("ts_us") for c in cols):
            # per-row windows (lag/cumsum over turns) must be bucket-scoped
            assert any("__bkt" in c for c in cols), plan


def test_bucketed_raises_on_bucket_order_violation(spark):
    """A conversation whose turn_idx order runs against ts across a bucket
    boundary would get wrong ids; the sessionizer refuses it, naming the
    conversation, when the frame is evaluated."""
    from pyspark.errors import PySparkException

    from flow_feature_spark.sessionize import assign_sessions_bucketed

    df = _synth_turns(spark)
    # break ts ordering mid-conv on the 900-turn conv (c4 in sizes order)
    bad = df.withColumn(
        "ts_us",
        F.when(
            (F.col("conv_id") == "c4") & (F.col("turn_idx") == 500), F.lit(1)
        ).otherwise(F.col("ts_us")),
    )
    out = assign_sessions_bucketed(bad, gap_seconds=1800.0, bucket_turns=16)
    with pytest.raises(PySparkException, match="conversation c4 "):
        out.collect()


def test_bucketed_adversarial_boundaries(spark):
    """Exact-threshold gaps (> not >=), ts ties spanning bucket boundaries,
    and a reset-tool turn as the FIRST row of a bucket — every decision the
    boundary-carry logic makes, at a bucket size chosen to split them."""
    from flow_feature_spark.sessionize import assign_sessions_bucketed

    gap_s = 10.0
    gap_us = 10_000_000
    t0 = 1_700_000_000_000_000
    rows, ts = [], t0
    # 40 turns: a mix placed so turn_idx 8/16/24/32 start new buckets (bt=8)
    for i in range(40):
        if i in (8, 24):
            ts += gap_us          # EXACTLY the threshold -> NOT a new session
        elif i in (16, 32):
            ts += gap_us + 1      # one µs past -> new session
        elif i in (7, 9, 15, 17):
            ts += 0               # ties right at / across bucket boundaries
        else:
            ts += 1_000_000
        flags = 4 if i == 32 else 0  # retry-tool turn AT a bucket-first row
        rows.append(("adv", i, ts, bool(i % 2), 5, 1, flags, 4))
    df = spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, ts_us long, is_fwd boolean, "
        "plen long, win long, flags int, ihl long",
    )
    for tool in (None, "retry"):
        want = _ids(assign_sessions(df, gap_seconds=gap_s, reset_tool=tool))
        got = _ids(
            assign_sessions_bucketed(
                df, gap_seconds=gap_s, bucket_turns=8, reset_tool=tool
            )
        )
        assert got == want, f"reset_tool={tool}"
    # sanity: the threshold-edge turns did split exactly twice (plain path)
    plain = _ids(assign_sessions(df, gap_seconds=gap_s))
    assert max(plain.values()) == 3
