"""JVM-only exact SQL path: session_features_exact_sql must be BIT-EQUAL to
the exact grouped oracle kernel (r6) on the same turns — the
no-Python-boundary engine."""

from __future__ import annotations

import numpy as np

from flow_feature_spark.features import session_features_exact_sql
from flow_feature_spark.prepare import normalize_turns
from flow_feature_spark.schema import FEATURE_NAMES
from flow_feature_spark.sessionize import assign_sessions
from flow_feature_spark.synth import synth_transcripts

from tests.exact_kernel import extract_session_features


def _collect(df):
    return {
        (r["conv_id"], r["session_id"]): np.array(
            [r["session_start_ts"], r["session_end_ts"], r["n_turns"]]
            + [r[n] for n in FEATURE_NAMES]
        )
        for r in df.collect()
    }


def test_exact_sql_bit_equal_to_kernel(spark):
    tr = synth_transcripts(spark, n_convs=40, turns_mean=15, hot_factor=10)
    turns = normalize_turns(tr).cache()
    sql_side = _collect(session_features_exact_sql(turns, gap_seconds=1800.0))
    kern = _collect(
        extract_session_features(
            assign_sessions(turns, gap_seconds=1800.0), rounding="r6"
        )
    )
    assert set(sql_side) == set(kern)
    for k in kern:
        np.testing.assert_array_equal(
            sql_side[k], kern[k],
            err_msg=str([
                (n, a, b)
                for n, a, b in zip(
                    ["start", "end", "n"] + FEATURE_NAMES, sql_side[k], kern[k]
                )
                if a != b
            ]),
        )


def test_exact_sql_reset_tool_matches_kernel(spark):
    """--reset-tool threads through the SQL engine for real (no silent
    fallback): sessionization with a force-new tool bit must match the
    grouped kernel over assign_sessions(reset_tool=...) bit-for-bit (r6)."""
    tr = synth_transcripts(spark, n_convs=40, turns_mean=15, hot_factor=10)
    turns = normalize_turns(tr).cache()
    sql_side = _collect(
        session_features_exact_sql(turns, gap_seconds=1800.0, reset_tool="retry")
    )
    kern = _collect(
        extract_session_features(
            assign_sessions(turns, gap_seconds=1800.0, reset_tool="retry"),
            rounding="r6",
        )
    )
    assert set(sql_side) == set(kern)
    for k in kern:
        np.testing.assert_array_equal(sql_side[k], kern[k])
    # the reset must actually change the sessionization (not a no-op thread)
    plain = _collect(session_features_exact_sql(turns, gap_seconds=1800.0))
    assert set(plain) != set(sql_side)


def test_exact_sql_half_even_allclose_to_kernel(spark):
    """rounding='half_even' threads through as bround: allclose (documented
    as allclose-grade, not bit-exact — shortest-decimal vs exact-binary)."""
    tr = synth_transcripts(spark, n_convs=30, turns_mean=12, hot_factor=5)
    turns = normalize_turns(tr).cache()
    sql_side = _collect(
        session_features_exact_sql(turns, gap_seconds=1800.0, rounding="half_even")
    )
    kern = _collect(
        extract_session_features(
            assign_sessions(turns, gap_seconds=1800.0), rounding="half_even"
        )
    )
    assert set(sql_side) == set(kern)
    for k in kern:
        np.testing.assert_allclose(sql_side[k], kern[k], rtol=0, atol=1.1e-6)


def test_exact_sql_concurrent_views_do_not_collide(spark):
    """Two pipelines BUILT before either executes must not rebind each
    other's turns view (uuid-suffixed view names)."""
    tr1 = synth_transcripts(spark, n_convs=10, turns_mean=8, hot_factor=2)
    tr2 = synth_transcripts(spark, n_convs=25, turns_mean=8, hot_factor=2)
    t1, t2 = normalize_turns(tr1), normalize_turns(tr2)
    df1 = session_features_exact_sql(t1, gap_seconds=1800.0)
    df2 = session_features_exact_sql(t2, gap_seconds=1800.0)  # build BEFORE df1 runs
    n1, n2 = df1.count(), df2.count()
    k1 = extract_session_features(assign_sessions(t1, 1800.0), rounding="r6").count()
    k2 = extract_session_features(assign_sessions(t2, 1800.0), rounding="r6").count()
    assert (n1, n2) == (k1, k2)
    assert n1 != n2  # the two inputs genuinely differ


def _wide_turns(spark, big_gap_us: int, n_big: int = 1, n_zero: int = 99):
    """One conv, one session: n_zero+1 turns at ts 0 with zero gaps, then
    n_big turns each big_gap_us apart — drives the centered deviation
    dev = gap*n - sum into chosen magnitude bands."""
    rows = []
    idx = 0
    for _ in range(n_zero + 1):
        rows.append(("wide", idx, 0, True, 10, 2, 0, 4)); idx += 1
    ts = 0
    for _ in range(n_big):
        ts += big_gap_us
        rows.append(("wide", idx, ts, True, 10, 2, 0, 4)); idx += 1
    return spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, ts_us long, is_fwd boolean, "
        "plen long, win long, flags int, ihl long",
    )


GAP_HUGE_S = 1e12  # keep everything in one session


def test_exact_sql_wide_dev_band_bit_equal(spark):
    """|dev| in (2^63, 1e19) — the band the round-2 decimal(19,0) down-cast
    silently NULLed out of the sum — must now compute exactly: bit-equal to
    the Python-int grouped kernel. Here dev = 99 * 9.5e16 = 9.405e18."""
    turns = _wide_turns(spark, big_gap_us=95_000_000_000_000_000)
    sql_side = _collect(session_features_exact_sql(turns, gap_seconds=GAP_HUGE_S))
    kern = _collect(
        extract_session_features(
            assign_sessions(turns, gap_seconds=GAP_HUGE_S), rounding="r6"
        )
    )
    assert set(sql_side) == set(kern)
    for k in kern:
        np.testing.assert_array_equal(sql_side[k], kern[k])
    # the std is genuinely nonzero (the band was being dropped before)
    assert kern[("wide", 1)][list(["start", "end", "n"] + FEATURE_NAMES).index("diat_std")] > 0


def _expect_raise(df):
    import pytest as _pytest
    from pyspark.errors.exceptions.captured import SparkRuntimeException

    with _pytest.raises((SparkRuntimeException, Exception)) as ei:
        df.collect()
    assert "outside the exact domain of every engine" in str(ei.value)


def test_exact_sql_product_wall_raises_not_silent(spark):
    """|dev| >= 1e19: decimal(38,0) cannot represent dev^2 — the engine must
    FAIL LOUDLY (raise_error), never silently drop the row from the sum the
    way non-ANSI overflow-NULL would. dev = 99 * 2e17 = 1.98e19."""
    turns = _wide_turns(spark, big_gap_us=200_000_000_000_000_000)
    _expect_raise(session_features_exact_sql(turns, gap_seconds=GAP_HUGE_S))


def test_exact_sql_sum_wall_raises_not_silent(spark):
    """Each dev^2 representable but their SUM overflows decimal(38,0):
    two devs of 98 * 1.02e17 = 9.996e18 -> sum(dev^2) ~ 2e38 >= 1e38.
    Must raise (devsq NULL with nonzero gap count), not emit a wrong std."""
    turns = _wide_turns(spark, big_gap_us=102_000_000_000_000_000, n_big=2)
    _expect_raise(session_features_exact_sql(turns, gap_seconds=GAP_HUGE_S))


def test_exact_sql_bucketed_sessionizer_bit_equal(spark):
    """sessionizer='bucketed' (pre-assigned session ids via the two-pass
    bucketized sessionizer, presessionized SQL) must be bit-identical to the
    default in-query window sessionization — including with a reset tool."""
    tr = synth_transcripts(spark, n_convs=40, turns_mean=15, hot_factor=10)
    turns = normalize_turns(tr).cache()
    for tool in (None, "retry"):
        base = _collect(
            session_features_exact_sql(turns, gap_seconds=1800.0, reset_tool=tool)
        )
        bk = _collect(
            session_features_exact_sql(
                turns, gap_seconds=1800.0, reset_tool=tool,
                sessionizer="bucketed", bucket_turns=16,
            )
        )
        assert set(base) == set(bk)
        for k in base:
            np.testing.assert_array_equal(bk[k], base[k])


def test_exact_sql_bucketed_has_no_conv_only_window(spark):
    """Presessionized plan: no window partitioned by conv_id alone anywhere —
    the gap windows cluster on (conv, session) at minimum."""
    import re

    tr = synth_transcripts(spark, n_convs=10, turns_mean=10, hot_factor=2)
    out = session_features_exact_sql(
        normalize_turns(tr), 1800.0, sessionizer="bucketed", bucket_turns=16
    )
    plan = out._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("simple")
    )
    # a conv-only sessionization window would show partition (conv_id, ts_us ASC...)
    assert re.search(r"windowspecdefinition\(conv_id#\d+, ts_us", plan) is None
