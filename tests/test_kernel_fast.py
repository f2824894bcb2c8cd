"""Fused batch-vectorized kernel vs the window sessionizer + grouped exact
kernel: bit-equality (including session numbering) in r6 mode, allclose in
reference (half_even) mode, on synthetic data with hot keys, mono-role convs,
ties and session splits."""

from __future__ import annotations

import numpy as np
import pytest

from flow_feature_spark.kernel import extract_session_features
from flow_feature_spark.kernel_fast import (
    batch_feature_frame,
    sessionize_and_extract_fast,
)
from flow_feature_spark.prepare import normalize_turns
from flow_feature_spark.schema import FEATURE_NAMES, FEATURE_SCHEMA
from flow_feature_spark.sessionize import assign_sessions
from flow_feature_spark.synth import synth_transcripts


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


def _two_pass(turns, rounding):
    return _collect(
        extract_session_features(assign_sessions(turns, 1800.0), rounding=rounding)
    )


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


def _fused_with_batch_rows(spark, turns, batch_rows):
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", batch_rows)
    try:
        return _collect(sessionize_and_extract_fast(turns, 1800.0, rounding="r6"))
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
