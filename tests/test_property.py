"""Property-based kernel parity (hypothesis): random turn groups, the
production batch kernel (kernel_fast.batch_feature_frame, reference half_even
rounding) must match the loop-style reference oracle within one rounding
quantum, and both exact sentinels/guards must hold on arbitrary inputs
(SURVEY.md §5)."""

from __future__ import annotations

import numpy as np
import pandas as pd
from hypothesis import given, settings
from hypothesis import strategies as st

from flow_feature_spark.kernel_fast import batch_feature_frame
from flow_feature_spark.schema import FEATURE_NAMES

from tests.reference_kernel import ref_feature_vector

turn = st.tuples(
    st.integers(min_value=0, max_value=10_000_000_000),  # ts offset µs
    st.booleans(),                                       # is_fwd
    st.integers(min_value=0, max_value=100_000),         # plen
    st.integers(min_value=0, max_value=100_000),         # win
    st.integers(min_value=0, max_value=255),             # flags
    st.integers(min_value=0, max_value=60),              # ihl
)

groups = st.lists(turn, min_size=0, max_size=60)

BASE_US = 1_700_000_000_000_000


def _to_arrays(rows):
    rows = sorted(rows, key=lambda t: t[0])
    ts = np.array([BASE_US + r[0] for r in rows], dtype=np.int64)
    return dict(
        ts_us=ts,
        is_fwd=np.array([r[1] for r in rows], dtype=bool),
        plen=np.array([r[2] for r in rows], dtype=np.int64),
        win=np.array([r[3] for r in rows], dtype=np.int64),
        flags=np.array([r[4] for r in rows], dtype=np.int64),
        ihl=np.array([r[5] for r in rows], dtype=np.int64),
    )


def feature_vector(rows):
    """The batch kernel over one session of ``rows``: 72 floats, or None when
    it emits no row (<2 turns)."""
    a = _to_arrays(rows)
    n = len(rows)
    pdf = pd.DataFrame(
        {"conv_id": ["c"] * n, "session_id": np.ones(n, dtype=np.int64),
         "turn_idx": np.arange(n, dtype=np.int64), **a}
    )
    out = batch_feature_frame(pdf, "half_even")
    if out.empty:
        return None
    assert len(out) == 1
    return [float(out.loc[0, c]) for c in FEATURE_NAMES]


def _to_dicts(rows):
    rows = sorted(rows, key=lambda t: t[0])
    return [
        dict(ts_us=BASE_US + r[0], turn_idx=i, is_fwd=r[1], plen=r[2],
             win=r[3], flags=r[4], ihl=r[5])
        for i, r in enumerate(rows)
    ]


@settings(max_examples=200, deadline=None)
@given(groups)
def test_kernel_matches_reference_oracle(rows):
    got = feature_vector(rows)
    expected = ref_feature_vector(_to_dicts(rows))
    if expected is None:
        assert got is None
        return
    np.testing.assert_allclose(
        got, expected, rtol=1e-6, atol=1.2e-6,
        err_msg=str([
            (n, a, b) for n, a, b in zip(FEATURE_NAMES, got, expected)
            if not np.isclose(a, b, rtol=1e-6, atol=1.2e-6)
        ]),
    )


@settings(max_examples=100, deadline=None)
@given(groups)
def test_invariants(rows):
    vec = feature_vector(rows)
    if vec is None:
        assert len(rows) <= 1
        return
    d = dict(zip(FEATURE_NAMES, vec))
    # structural invariants that hold for ANY input
    assert d["dpnum"] == d["fpnum"] + d["bpnum"] == len(rows)
    assert d["duration"] >= 0.0001
    assert d["dpnum_s"] == d["fpnum_s"] + d["bpnum_s"]
    assert d["dpl_s"] == d["fpl_s"] + d["bpl_s"]
    assert d["dp_hdr_len"] == d["fp_hdr_len"] + d["bp_hdr_len"]
    # sentinel asymmetry: empty direction -> -1 flags but 0.0 win/len stats
    if d["fpnum"] == 0:
        assert d["fwd_pst_cnt"] == -1.0 and d["fwd_urg_cnt"] == -1.0
        assert d["fwin_total"] == 0.0 and d["fpl_std"] == 0.0
    else:
        assert d["fwd_pst_cnt"] >= 0.0
    if d["bpnum"] == 0:
        assert d["bwd_pst_cnt"] == -1.0 and d["bwd_urg_cnt"] == -1.0
    # stats ordering
    for p in ("fiat", "biat", "diat", "fwin", "bwin", "dwin", "fpl", "bpl", "dpl"):
        assert d[f"{p}_min"] <= d[f"{p}_max"] + 1e-9
    # combined flag counts bound by turn count
    for f in ("fin_cnt", "syn_cnt", "rst_cnt", "pst_cnt",
              "ack_cnt", "urg_cnt", "cwe_cnt", "ece_cnt"):
        assert -1.0 <= d[f] <= len(rows)
