"""prepare.normalize_turns: the kernel input columns, built as SQL text."""

from __future__ import annotations

import datetime as dt

from flow_feature_spark.prepare import normalize_turns
from flow_feature_spark.synth import synth_transcripts

from tests.round_trips import calling_thread_round_trips


def test_normalize_turns_columns(spark):
    """Whitespace tokens split on any run of whitespace (and never on the
    letter s), unknown and null tools carry no flag bits, and a null role
    or text counts as empty."""
    t = dt.datetime(2024, 1, 1, 0, 0, 0, 1, tzinfo=dt.timezone.utc)
    rows = [
        ("c", 0, "user", "sass  is\tsassy\nso", "search", t),
        ("c", 1, "assistant", "   ", "no_such_tool", t),
        ("c", 2, None, None, None, t),
    ]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx long, role string, text string, "
        "tool string, ts timestamp",
    )
    got = normalize_turns(df).orderBy("turn_idx").collect()
    assert [r["win"] for r in got] == [4, 0, 0]
    assert [r["plen"] for r in got] == [17, 3, 0]
    assert [r["ihl"] for r in got] == [4, 9, 0]
    assert [r["is_fwd"] for r in got] == [True, False, None]
    assert [r["flags"] for r in got] == [2, 0, 0]
    assert got[0]["ts_us"] == 1704067200000001
    assert got[0]["ts_sec"] == 1704067200000001 / 1e6


def test_normalize_turns_round_trip_budget(spark):
    """normalize_turns builds its 12 columns in a bounded number of py4j
    round trips: one Column call per column and sub-expression cost about
    480 here."""
    df = synth_transcripts(spark, n_convs=2, turns_mean=3)
    normalize_turns(df)  # warm: first-call imports and lookups
    out, calls = calling_thread_round_trips(lambda: normalize_turns(df))
    assert calls < 60, calls
    assert out.columns == [
        "conv_id", "turn_idx", "role", "text", "ts", "ts_us", "ts_sec",
        "is_fwd", "plen", "win", "flags", "ihl",
    ]
