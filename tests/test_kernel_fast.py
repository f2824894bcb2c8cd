"""Fused batch-vectorized kernel vs the window sessionizer + the grouped exact
oracle kernel (tests/exact_kernel.py): bit-equality (including session
numbering) in r6 mode, allclose in reference (half_even) mode, on synthetic
data with hot keys, mono-role convs, ties, session splits and tool resets."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from flow_feature_spark.kernel_fast import (
    batch_feature_frame,
    sessionize_and_extract_fast,
)
from flow_feature_spark.prepare import normalize_turns
from flow_feature_spark.schema import FEATURE_NAMES, FEATURE_SCHEMA, TOOL_FLAG_BITS
from flow_feature_spark.sessionize import assign_sessions
from flow_feature_spark.synth import synth_transcripts

from tests.exact_kernel import extract_session_features


@pytest.fixture(scope="module")
def turns(spark):
    tr = synth_transcripts(spark, n_convs=50, turns_mean=25, hot_factor=40)
    return normalize_turns(tr).cache()


def _collect(df):
    return {
        (r["conv_id"], r["session_id"]): [r[n] for n in FEATURE_NAMES]
        + [r["session_start_ts"], r["session_end_ts"], r["n_turns"]]
        for r in df.collect()
    }


def _two_pass(turns, rounding, reset_tool=None):
    sess = assign_sessions(turns, 1800.0, reset_tool=reset_tool)
    return _collect(extract_session_features(sess, rounding=rounding))


def _assert_bit_equal(exact, fast):
    assert set(exact) == set(fast)
    for k in exact:
        assert exact[k] == fast[k], (
            k,
            [
                (FEATURE_NAMES[i], a, b)
                for i, (a, b) in enumerate(zip(exact[k], fast[k]))
                if a != b
            ],
        )


def test_fast_kernel_bit_equals_exact_r6(spark, turns):
    """The vectorized kernel alone (batch_feature_frame over all presessionized
    turns as one frame, no carry logic) must equal the grouped exact kernel
    bit-for-bit."""
    sess = assign_sessions(turns, 1800.0)
    order = ["conv_id", "session_id", "ts_us", "turn_idx"]
    pdf = (
        sess.select(*order, "is_fwd", "plen", "win", "flags", "ihl")
        .toPandas()
        .sort_values(order, kind="stable")
        .reset_index(drop=True)
    )
    fast = _collect(
        spark.createDataFrame(batch_feature_frame(pdf, "r6"), FEATURE_SCHEMA)
    )
    _assert_bit_equal(_two_pass(turns, "r6"), fast)


def test_fused_sessionize_extract_matches_two_pass(spark, turns):
    """sessionize_and_extract_fast (one shuffle) must reproduce the window
    sessionizer + exact kernel bit-for-bit, including session numbering."""
    exact = _two_pass(turns, "r6")
    fused = _collect(sessionize_and_extract_fast(turns, 1800.0, rounding="r6"))
    _assert_bit_equal(exact, fused)


def test_fast_kernel_allclose_half_even(spark, turns):
    exact = _two_pass(turns, "half_even")
    fused = _collect(sessionize_and_extract_fast(turns, 1800.0, rounding="half_even"))
    assert set(exact) == set(fused)
    for k in exact:
        np.testing.assert_allclose(exact[k], fused[k], rtol=1e-6, atol=1.2e-6)


def _fused_with_batch_rows(spark, turns, batch_rows, **kw):
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", batch_rows)
    try:
        return _collect(sessionize_and_extract_fast(turns, 1800.0, rounding="r6", **kw))
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)


def test_fused_with_tiny_batches(spark, turns):
    """37-row Arrow batches: sessions straddle batch boundaries; the carry
    logic must still emit each session exactly once."""
    assert _fused_with_batch_rows(spark, turns, "37") == _two_pass(turns, "r6")


def test_small_arrow_batches_preserve_groups(spark, turns):
    """64-row Arrow batches: same carry check at a second batch size, so
    boundaries fall on different sessions of the hot conversation."""
    assert _fused_with_batch_rows(spark, turns, "64") == _two_pass(turns, "r6")


def _reset_conv(spark):
    """One conversation in one partition, all gaps 1 s: with 37-row batches
    the reset turns 37 and 74 open both the second and the third batch, and
    turns 50 and 51 reset inside one batch."""
    bit = 1 << TOOL_FLAG_BITS["retry"]
    rows = [
        ("solo", i, 1_700_000_000_000_000 + i * 1_000_000, i % 2 == 0,
         10 + i, 1 + i % 5, bit if i in (37, 50, 51, 74) else i % 3, 4)
        for i in range(120)
    ]
    return spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, ts_us long, is_fwd boolean, "
        "plen long, win long, flags int, ihl long",
    )


def test_fused_reset_tool_matches_two_pass(spark, turns):
    """reset_tool on the fused kernel: a turn with the tool bit opens a new
    session, bit-equal at r6 to assign_sessions(reset_tool=...) plus the
    exact kernel, also where a reset turn opens an Arrow batch."""
    want = _two_pass(turns, "r6", reset_tool="retry")
    assert want != _two_pass(turns, "r6")  # the reset splits sessions
    assert _fused_with_batch_rows(spark, turns, "37", reset_tool="retry") == want

    solo = _reset_conv(spark)
    got = _fused_with_batch_rows(spark, solo, "37", reset_tool="retry",
                                 num_partitions=1)
    assert got == _two_pass(solo, "r6", reset_tool="retry")
    # session 3 is turn 50 alone: fewer than 2 turns, no row
    assert sorted(k[1] for k in got) == [1, 2, 4, 5]


def _overflow_frame(plen):
    n = len(plen)
    return pd.DataFrame({
        "conv_id": "big", "session_id": 1,
        "ts_us": np.arange(n, dtype=np.int64) * 1_000_000,
        "turn_idx": np.arange(n), "is_fwd": [True] * n,
        "plen": np.array(plen, dtype=np.int64),
        "win": np.ones(n, dtype=np.int64), "flags": np.zeros(n, dtype=np.int64),
        "ihl": np.full(n, 4, dtype=np.int64),
    })


def test_int64_sumsq_overflow_raises():
    """plen 4e9 and 1e9: sum(plen^2) = 1.7e19 passes int64 and used to wrap
    to a silent dpl_std of 0.0 (exact: 1.5e9); the kernel must raise instead,
    naming the conversation."""
    with pytest.raises(ValueError, match="conversation 'big'.*plen.*every engine"):
        batch_feature_frame(_overflow_frame([4_000_000_000, 1_000_000_000]))
    # just inside the bound the int64 path is exact
    ok = batch_feature_frame(_overflow_frame([2_000_000_000, 1_000_000_000]))
    assert ok.loc[0, "dpl_std"] == 500_000_000.0
