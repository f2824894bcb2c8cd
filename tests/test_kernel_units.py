"""Kernel unit tests ported 1:1 from the reference's suite
(test_flow_feature.py, 31 cases — SURVEY.md §5 / FIXTURES.md §3).
No Spark needed: these pin the helpers of the exact oracle kernel
(tests/exact_kernel.py).
"""

from __future__ import annotations

import math

import numpy as np
import pytest

from tests.exact_kernel import (
    _flag_counts,
    _hdr_len,
    _iat_stats,
    _rounder,
    _sum_stats,
    calculation,
    feature_vector,
)

R = _rounder("half_even")


class TestCalculation:
    # test_flow_feature.py:86-88
    def test_empty(self):
        assert calculation([]) == [0.0, 0.0, 0.0, 0.0]

    # test_flow_feature.py:90-95
    def test_single(self):
        assert calculation([5.0]) == [5.0, 5.0, 5.0, 0.0]

    # test_flow_feature.py:97-104 — population std of 1..5 = sqrt(2)
    def test_population_std(self):
        mean, mn, mx, std = calculation([1, 2, 3, 4, 5])
        assert (mean, mn, mx) == (3.0, 1.0, 5.0)
        assert std == round(math.sqrt(2), 6) == 1.414214

    # test_flow_feature.py:106-111
    def test_negatives(self):
        mean, mn, mx, _ = calculation([-1, -2, -3, -4, -5])
        assert (mean, mn, mx) == (-3.0, -5.0, -1.0)

    def test_rounding_six_decimals(self):
        mean, *_ = calculation([1.0000004, 1.0000006])
        assert mean == 1.0000005 or abs(mean - 1.0) < 1e-6


class TestIAT:
    # test_flow_feature.py:146-162 — ts [1,2,4] -> gaps [1,2]
    def test_basic(self):
        mean, mn, mx, std = _iat_stats(np.array([1_000_000, 2_000_000, 4_000_000]), R)
        assert (mean, mn, mx) == (1.5, 1.0, 2.0)
        assert std == 0.5

    # test_flow_feature.py:164-182
    def test_single_and_empty(self):
        assert _iat_stats(np.array([1_000_000]), R) == [0.0, 0.0, 0.0, 0.0]
        assert _iat_stats(np.array([], dtype=np.int64), R) == [0.0, 0.0, 0.0, 0.0]


class TestSumStats:
    # test_flow_feature.py:188-205 — lengths [100,150,200]
    def test_lengths(self):
        total, mean, mn, mx, _ = _sum_stats(np.array([100, 150, 200]), R)
        assert (total, mean, mn, mx) == (450.0, 150.0, 100.0, 200.0)

    # test_flow_feature.py:320-335 — empty / non-TCP window stats -> zeros
    def test_empty_and_non_tcp(self):
        assert _sum_stats(np.array([]), R) == [0.0] * 5
        assert _sum_stats(np.array([1, 2]), R, is_tcp=False) == [0.0] * 5


class TestFlags:
    # test_flow_feature.py:338-353 — the -1 sentinel asymmetry
    def test_empty_sentinel(self):
        assert _flag_counts(np.array([], dtype=np.int64)) == [-1.0] * 8

    def test_non_tcp_sentinel(self):
        assert _flag_counts(np.array([3]), is_tcp=False) == [-1.0] * 8

    def test_bit_decomposition(self):
        # flags 0b00011011 twice: FIN,SYN,PSH,ACK bits set
        got = _flag_counts(np.array([0b00011011, 0b00011011]))
        assert got == [2.0, 2.0, 0.0, 2.0, 2.0, 0.0, 0.0, 0.0]


class TestHdrLen:
    # test_flow_feature.py:356-361
    def test_empty(self):
        assert _hdr_len(np.array([], dtype=np.int64)) == 0.0

    def test_formula(self):
        # 14 + 4*5 + 20 = 54 per row
        assert _hdr_len(np.array([5, 5])) == 108.0


class TestFeatureVector:
    def _mk(self, n, fwd_pattern=None):
        ts = np.arange(n, dtype=np.int64) * 1_000_000
        is_fwd = np.array(
            fwd_pattern if fwd_pattern is not None else [i % 2 == 0 for i in range(n)]
        )
        return dict(
            ts_us=ts,
            is_fwd=is_fwd,
            plen=np.arange(100, 100 + n),
            win=np.arange(10, 10 + n),
            flags=np.full(n, 0b1000, dtype=np.int64),
            ihl=np.full(n, 5, dtype=np.int64),
        )

    # test_flow_feature.py:244-256 — <2 packets -> None
    def test_too_small(self):
        assert feature_vector(**self._mk(1)) is None
        assert feature_vector(**self._mk(0)) is None

    def test_length_72(self):
        vec = feature_vector(**self._mk(5))
        assert len(vec) == 72

    def test_duration_epsilon(self):
        vec = feature_vector(**self._mk(3))
        assert vec[12] == round(2.0 + 0.0001, 6)  # duration

    def test_zero_duration_epsilon(self):
        m = self._mk(3)
        m["ts_us"] = np.zeros(3, dtype=np.int64)
        vec = feature_vector(**m)
        assert vec[12] == 0.0001

    def test_empty_direction_sentinels(self):
        # all-backward: fwd flag counts -1, fwd win/len stats 0.0
        m = self._mk(4, fwd_pattern=[False] * 4)
        vec = feature_vector(**m)
        names = __import__("flow_feature_spark.schema", fromlist=["FEATURE_NAMES"]).FEATURE_NAMES
        d = dict(zip(names, vec))
        assert d["fwd_pst_cnt"] == -1.0 and d["fwd_urg_cnt"] == -1.0
        assert d["fwin_total"] == 0.0 and d["fpl_mean"] == 0.0
        assert d["fpnum"] == 0.0
        # PSH bit (3) set on every turn -> backward count = 4, combined = 4
        assert d["bwd_pst_cnt"] == 4.0 and d["pst_cnt"] == 4.0

    def test_rate_guards(self):
        m = self._mk(4, fwd_pattern=[False] * 4)
        names = __import__("flow_feature_spark.schema", fromlist=["FEATURE_NAMES"]).FEATURE_NAMES
        d = dict(zip(names, feature_vector(**m)))
        # bfpnum_rate = bpnum / max(fpnum,1) = 4/1
        assert d["bfpnum_rate"] == 4.0
        # rounded-sum rule: dpnum_s = fpnum_s + bpnum_s exactly
        assert d["dpnum_s"] == d["fpnum_s"] + d["bpnum_s"]


class TestRounders:
    def test_r6_half_up(self):
        r = _rounder("r6")
        assert r(1.0000005) == pytest.approx(1.000001, abs=1e-12)

    def test_half_even_matches_python(self):
        r = _rounder("half_even")
        assert r(2.5e-06) == round(2.5e-06, 6)
