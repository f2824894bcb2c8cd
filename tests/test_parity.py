"""Reference-oracle parity (SURVEY.md §5.2): the production fused kernel
(reference half_even rounding) vs the pure-Python loop oracle on the
deterministic synthetic transcript table, allclose rtol 1e-6.
"""

from __future__ import annotations

import numpy as np
import pytest

from flow_feature_spark.kernel_fast import sessionize_and_extract_fast
from flow_feature_spark.prepare import normalize_turns
from flow_feature_spark.schema import FEATURE_NAMES
from flow_feature_spark.synth import synth_transcripts

from tests.reference_kernel import ref_feature_vector, ref_sessionize

GAP_S = 1800.0
N_CONVS = 60


@pytest.fixture(scope="module")
def synth_df(spark):
    # hot_factor small to keep the test quick; skew is covered separately.
    return synth_transcripts(spark, n_convs=N_CONVS, turns_mean=20, hot_factor=10).cache()


def _spark_features(synth_df):
    rows = sessionize_and_extract_fast(
        normalize_turns(synth_df), gap_seconds=GAP_S, rounding="half_even"
    ).collect()
    return {
        (r["conv_id"], r["session_id"]): [r[n] for n in FEATURE_NAMES] for r in rows
    }


def _oracle_features(synth_df):
    turns = [
        dict(
            conv_id=r["conv_id"],
            ts_us=r["ts_us"],
            turn_idx=r["turn_idx"],
            is_fwd=bool(r["is_fwd"]),
            plen=r["plen"],
            win=r["win"],
            flags=r["flags"],
            ihl=r["ihl"],
        )
        for r in normalize_turns(synth_df).collect()
    ]
    by_conv: dict[str, list] = {}
    for t in turns:
        by_conv.setdefault(t["conv_id"], []).append(t)
    expected = {}
    for conv, ts in by_conv.items():
        for sid, sess in enumerate(ref_sessionize(ts, GAP_S), start=1):
            vec = ref_feature_vector(sess)
            if vec is not None:
                expected[(conv, sid)] = vec
    return expected


# Tolerance note: every statistic is round(x, 6), so two implementations whose
# raw values agree to 1e-12 can still differ by exactly 1e-6 when the 7th
# decimal sits on the .5 boundary (np.round vs Python round, float64 centered
# deviations vs Python sequential sums).
# atol of 1.2e-6 = one rounding quantum; anything real shows up far larger.
ATOL = 1.2e-6


def test_kernel_matches_pure_python_oracle(spark, synth_df):
    got = _spark_features(synth_df)
    expected = _oracle_features(synth_df)
    assert set(got) == set(expected)
    assert len(got) > N_CONVS / 2  # sessions actually split
    for key in expected:
        np.testing.assert_allclose(
            got[key], expected[key], rtol=1e-6, atol=ATOL,
            err_msg=f"group {key}: {list(zip(FEATURE_NAMES, got[key], expected[key]))}",
        )


def test_text_equality_under_repartition(spark, synth_df):
    """Per-turn text equality under stable turn ordering (input_hint invariant):
    first(text) per (conv_id, turn_idx) is unchanged by repartitioning."""
    from pyspark.sql import functions as F

    base = synth_df.select("conv_id", "turn_idx", "text")
    shuffled = synth_df.repartition(16, "turn_idx").select("conv_id", "turn_idx", "text")
    a = {(r[0], r[1]): r[2] for r in base.collect()}
    b = {(r[0], r[1]): r[2] for r in shuffled.collect()}
    assert a == b
    # and the normalized projection preserves text verbatim
    c = {
        (r["conv_id"], r["turn_idx"]): r["text"]
        for r in normalize_turns(synth_df).select("conv_id", "turn_idx", "text").collect()
    }
    assert a == c
