"""The exact grouped feature kernel: the bit-exact r6 test oracle.

One (conv_id, session_id) group -> 72 floats, through ``applyInPandas``: one
Python call per group. It is a line-by-line rebuild of the reference's
per-flow kernel ``Flow.get_flow_feature`` (flow.py:129-203) and its helpers
``calculation`` (flow.py:254-271), ``packet_iat`` (293-312), ``packet_len``
(315-329), ``packet_win`` (332-350), ``packet_flags`` (352-382) and
``packet_hdr_len`` (385-398), accumulating every sum as exact Python ints.
The production kernel (flow_feature_spark.kernel_fast) and the exact-SQL
engine must equal it bit for bit at r6.

Exact-parity rules preserved from the reference:
* population std (divide by n), NOT sample std      (flow.py:269)
* round(x, 6) on every statistic                    (flow.py:271 etc.)
* duration = last - first + 0.0001 epsilon          (flow.py:148)
* max(x, 1) guards on every ratio denominator       (flow.py:159,168,182-184)
* dpnum_s / dpl_s are sums of *already rounded* terms (flow.py:162,171)
* empty-direction sentinels: win/len/IAT stats -> 0.0 but flag counts -> -1
  (flow.py:341-344 vs 363-373 — the asymmetry, pinned by the reference's
  TestPacketWin/TestPacketFlags)
* groups with <= 1 turn produce no output row       (flow.py:136-137)

This module is pickled by value, so Spark's Python workers never import
``tests``.
"""

from __future__ import annotations

import math
import sys
from typing import Iterable

import numpy as np
import pandas as pd

from pyspark import cloudpickle
from pyspark.sql import DataFrame

from flow_feature_spark.schema import (
    DURATION_EPSILON,
    ETHERNET_HEADER_LEN,
    FEATURE_NAMES,
    FEATURE_SCHEMA,
    TCP_HEADER_BASE_LEN,
)

cloudpickle.register_pickle_by_value(sys.modules[__name__])

# Rounding modes:
#  * "half_even" — Python round(), bit-matching the reference extractor.
#  * "r6"        — floor(x*1e6 + 0.5)/1e6, matching the SQL oracle expression
#                  used in __spark_entry__ (identical formula in Spark SQL and
#                  DuckDB, so cross-engine hashes agree exactly).
def _rounder(mode: str):
    if mode == "half_even":
        return lambda x: round(float(x), 6)
    if mode == "r6":
        return lambda x: math.floor(float(x) * 1e6 + 0.5) / 1e6
    raise ValueError(f"unknown rounding mode: {mode}")


def calculation(values: Iterable[float], round6=None) -> list[float]:
    """[mean, min, max, population-std], each round(·,6); empty -> zeros.

    Reference: flow.py:254-271 and its unit tests
    (test_flow_feature.py:83-111: std of 1..5 == 1.414214).
    """
    r = round6 or _rounder("half_even")
    a = np.asarray(list(values), dtype=np.float64)
    if a.size == 0:
        return [0.0, 0.0, 0.0, 0.0]
    mean = float(a.sum() / a.size)
    std = float(np.sqrt(np.square(a - mean).sum() / a.size))
    return [r(mean), r(float(a.min())), r(float(a.max())), r(std)]


def _exact_stats4(
    vals: np.ndarray, r, scale: float = 1.0, centered: bool = False
) -> list[float]:
    """[mean, min, max, std_pop] from EXACT integer accumulation.

    Sums are accumulated as exact Python ints (no float summation order
    effects, no int64 overflow), then converted to double with the same
    operation sequence the SQL oracle uses, so results are bit-identical
    across engines.

    centered=False (small-magnitude values, e.g. text lengths):
        var = double(sumsq)/n - (double(sum)/n)^2, clamped at 0.
    centered=True (microsecond gaps — sumsq exceeds 2^53, the one-pass
    formula also cancels catastrophically):
        S = sum((x*n - sum)^2) exactly, std = sqrt(double(S)/n/n/n)/scale.
    """
    n = int(vals.size)
    if n == 0:
        return [0.0, 0.0, 0.0, 0.0]
    ivals = vals.tolist()  # exact Python ints
    s = sum(ivals)
    mean_raw = float(s) / n
    if centered:
        S = sum((x * n - s) ** 2 for x in ivals)
        std = math.sqrt(float(S) / n / n / n) / scale
    else:
        sq = sum(x * x for x in ivals)
        var = max(float(sq) / n - mean_raw * mean_raw, 0.0)
        std = math.sqrt(var) / scale
    return [
        r(mean_raw / scale),
        r(float(min(ivals)) / scale),
        r(float(max(ivals)) / scale),
        r(std),
    ]


def _iat_stats(ts_us: np.ndarray, r) -> list[float]:
    """IAT stats of a (sorted) int64-microsecond array; <2 elements -> zeros.

    Reference: packet_iat, flow.py:293-312 (a 1-element flow yields an empty
    diff list, which calculation maps to zeros — same result as empty).
    Gaps are differenced exactly in integer micros, then divided by 1e6 —
    matching the reference's exact-decimal ``pkt.time`` subtraction.
    """
    if ts_us.size < 2:
        return [0.0, 0.0, 0.0, 0.0]
    return _exact_stats4(np.diff(ts_us), r, scale=1e6, centered=True)


def _sum_stats(vals: np.ndarray, r, is_tcp: bool = True) -> list[float]:
    """[total, mean, min, max, std]; empty or non-TCP -> five zeros.

    Reference: packet_win flow.py:332-350 / packet_len flow.py:315-329.
    packet_len has no guard (never called on empty in reference because the
    whole flow has >=2 rows, but sub-directions can be empty -> calculation
    zeros and total 0, identical to this guard's output).
    """
    if vals.size == 0 or not is_tcp:
        return [0.0, 0.0, 0.0, 0.0, 0.0]
    total = r(float(int(vals.sum())))
    return [total] + _exact_stats4(vals, r)


def _flag_counts(flags: np.ndarray, is_tcp: bool = True) -> list[float]:
    """8 bit-position counts [FIN,SYN,RST,PSH,ACK,URG,CWE,ECE]; empty/non-TCP -> -1.

    Reference: packet_flags flow.py:352-382 (the -1 sentinel asymmetry).
    """
    if flags.size == 0 or not is_tcp:
        return [-1.0] * 8
    return [float(((flags >> i) & 1).sum()) for i in range(8)]


def _hdr_len(ihl: np.ndarray) -> float:
    """sum(14 + 4*ihl + 20) — packet_hdr_len flow.py:385-398."""
    if ihl.size == 0:
        return 0.0
    return float((ETHERNET_HEADER_LEN + 4 * ihl + TCP_HEADER_BASE_LEN).sum())


def feature_vector(
    ts_us: np.ndarray,
    is_fwd: np.ndarray,
    plen: np.ndarray,
    win: np.ndarray,
    flags: np.ndarray,
    ihl: np.ndarray,
    rounding: str = "half_even",
    is_tcp: bool = True,
) -> list[float] | None:
    """Compute the 72-vector for ONE already-sorted group; None if <2 turns.

    Mirrors Flow.get_flow_feature (flow.py:129-203) line by line. ``ts_us``
    is int64 epoch-microseconds (exact gap arithmetic). Inputs must be sorted
    by (ts, turn_idx) — the caller owns ordering so per-direction IATs are
    gaps between consecutive same-direction turns of the time-sorted session
    (flow.py:139-140 sort-then-divide).
    """
    n = ts_us.size
    if n <= 1:
        return None
    r = _rounder(rounding)
    fwd = is_fwd.astype(bool)
    bwd = ~fwd

    fiat = _iat_stats(ts_us[fwd], r)
    biat = _iat_stats(ts_us[bwd], r)
    diat = _iat_stats(ts_us, r)

    duration = r(float(int(ts_us[-1]) - int(ts_us[0])) / 1e6 + DURATION_EPSILON)

    fwin = _sum_stats(win[fwd], r, is_tcp)
    bwin = _sum_stats(win[bwd], r, is_tcp)
    dwin = _sum_stats(win, r, is_tcp)

    fpnum = int(fwd.sum())
    bpnum = n - fpnum
    dpnum = n
    bfpnum_rate = r(bpnum / max(fpnum, 1))
    fpnum_s = r(fpnum / duration)
    bpnum_s = r(bpnum / duration)
    dpnum_s = fpnum_s + bpnum_s  # sum of rounded terms (flow.py:162)

    fpl = _sum_stats(plen[fwd], r)
    bpl = _sum_stats(plen[bwd], r)
    dpl = _sum_stats(plen, r)
    bfpl_rate = r(bpl[0] / max(fpl[0], 1))
    fpl_s = r(fpl[0] / duration)
    bpl_s = r(bpl[0] / duration)
    dpl_s = fpl_s + bpl_s  # sum of rounded terms (flow.py:171)

    dflags = _flag_counts(flags, is_tcp)
    fflags = _flag_counts(flags[fwd], is_tcp)
    bflags = _flag_counts(flags[bwd], is_tcp)
    fwd_pst_cnt, fwd_urg_cnt = fflags[3], fflags[5]
    bwd_pst_cnt, bwd_urg_cnt = bflags[3], bflags[5]

    fp_hdr_len = _hdr_len(ihl[fwd])
    bp_hdr_len = _hdr_len(ihl[bwd])
    dp_hdr_len = fp_hdr_len + bp_hdr_len
    f_ht_len = r(fp_hdr_len / max(fpl[0], 1))
    b_ht_len = r(bp_hdr_len / max(bpl[0], 1))
    d_ht_len = r(dp_hdr_len / max(dpl[0], 1))

    return (
        fiat + biat + diat + [float(duration)]
        + fwin + bwin + dwin
        + [float(fpnum), float(bpnum), float(dpnum), bfpnum_rate, fpnum_s, bpnum_s, dpnum_s]
        + fpl + bpl + dpl + [bfpl_rate, fpl_s, bpl_s, dpl_s]
        + dflags + [fwd_pst_cnt, fwd_urg_cnt, bwd_pst_cnt, bwd_urg_cnt]
        + [fp_hdr_len, bp_hdr_len, dp_hdr_len, f_ht_len, b_ht_len, d_ht_len]
    )


def _group_kernel(keys: tuple, pdf: pd.DataFrame, rounding: str) -> pd.DataFrame:
    pdf = pdf.sort_values(["ts_us", "turn_idx"], kind="mergesort")
    ts = pdf["ts_us"].to_numpy(np.int64)
    vec = feature_vector(
        ts,
        pdf["is_fwd"].to_numpy(),
        pdf["plen"].to_numpy(np.int64),
        pdf["win"].to_numpy(np.int64),
        pdf["flags"].to_numpy(np.int64),
        pdf["ihl"].to_numpy(np.int64),
        rounding=rounding,
    )
    if vec is None:  # <2 turns: dropped (flow.py:136-137)
        return pd.DataFrame(columns=[f.name for f in FEATURE_SCHEMA.fields])
    row = {
        "conv_id": keys[0],
        "session_id": int(keys[1]),
        "session_start_ts": float(int(ts[0]) / 1e6),
        "session_end_ts": float(int(ts[-1]) / 1e6),
        "n_turns": int(ts.size),
    }
    row.update(dict(zip(FEATURE_NAMES, vec)))
    return pd.DataFrame([row])


def extract_session_features(
    df: DataFrame,
    rounding: str = "half_even",
    keys: tuple[str, str] = ("conv_id", "session_id"),
) -> DataFrame:
    """Grouped-map feature extraction over normalized, sessionized turns.

    ``df`` must carry KERNEL_INPUT_COLS. One shuffle on the group key, then
    one Python call per group.
    """
    proj = df.select(
        keys[0], keys[1], "turn_idx", "ts_us", "is_fwd", "plen", "win", "flags", "ihl"
    )
    return proj.groupBy(*keys).applyInPandas(
        lambda k, pdf: _group_kernel(k, pdf, rounding), schema=FEATURE_SCHEMA
    )
