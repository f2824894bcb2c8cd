"""The feature kernel: the 72 features for thousands of sessions per NumPy call.

This is the Spark rebuild of the reference's per-flow kernel
``Flow.get_flow_feature`` (flow.py:129-203) and its helpers ``calculation``
(254-271), ``packet_iat`` (293-312), ``packet_len`` (315-329), ``packet_win``
(332-350), ``packet_flags`` (352-382) and ``packet_hdr_len`` (385-398), and the
one Python feature kernel of every job path:

  repartition(conv_id)                           -- the one hash shuffle
  sortWithinPartitions(conv_id, ts_us, turn_idx)
  mapInPandas(sessionize + batch kernel)         -- Arrow batches stream
                                                    through, group stats via
                                                    np.*.reduceat

Python is called once per Arrow batch, not once per session. The reference's
parity rules hold: population std, round(x, 6) on every statistic,
duration = last - first + 0.0001, max(x, 1) ratio guards, dpnum_s / dpl_s as
sums of rounded terms, empty-direction sentinels (0.0 stats, -1 flag counts),
and no row for a session of fewer than 2 turns.

Within a partition, a session's rows are contiguous after the sort but may
span Arrow batch boundaries. Each batch is sessionized once; only the last
conv, ts_us and session id carry into the next batch, and the open trailing
session is held as a list of frames, concatenated once when it closes. A
session spanning k batches costs O(its rows), and memory stays bounded by
(batch + largest session).

Numeric contract: integer sums/sumsq via int64 reduceat (exact); the centered
IAT deviations use float64 products whose error (~1e-16 relative) is ~10
orders of magnitude below the r6 rounding grid — the r6 output is bit-equal
to the Python-int grouped oracle (tests/exact_kernel.py) and to the exact-SQL
engine, asserted in tests. The int64 sumsq path is exact while a session's
max(|v|)^2 * turns < 2^63 for plen and win (e.g. 1e6-char texts x 9M-turn
sessions); past that bound the kernel raises ValueError naming the
conversation. Such data is outside every engine's exact domain: the exact-SQL
engine (features.session_features_exact_sql) widens only the squared gap
deviations to decimal(38,0); its plen/win sums of squares are bigint too.
"""

from __future__ import annotations

import math
from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame

from flow_feature_spark.schema import (
    DURATION_EPSILON,
    FEATURE_NAMES,
    FEATURE_SCHEMA,
    TOOL_FLAG_BITS,
)

_INT64_SQ_LIMIT = 2.0**63


def _r6_vec(x: np.ndarray) -> np.ndarray:
    return np.floor(x * 1e6 + 0.5) / 1e6


def _round_vec(x: np.ndarray, mode: str) -> np.ndarray:
    return _r6_vec(x) if mode == "r6" else np.round(x, 6)


def _seg_stats(
    vals: np.ndarray,
    valid: np.ndarray,
    starts: np.ndarray,
    counts_valid: np.ndarray,
    r,
    scale: float,
) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """Per-segment [mean, min, max, std_pop] over valid entries; empty -> 0.

    ``vals`` int64 with garbage at ~valid positions; centered two-pass std
    (the op order of the exact oracle's centered statistics).
    """
    n = counts_valid.astype(np.float64)
    safe_n = np.maximum(counts_valid, 1)
    v = np.where(valid, vals, 0).astype(np.float64)
    s = np.add.reduceat(v, starts)
    mean_raw = s / safe_n
    # centered: dev = x*n - sum, broadcasting each segment's n and sum
    reps = np.diff(np.append(starts, len(vals)))
    el_n = np.repeat(counts_valid, reps).astype(np.float64)
    el_s = np.repeat(s, reps)
    dev = np.where(valid, vals.astype(np.float64) * el_n - el_s, 0.0)
    S = np.add.reduceat(dev * dev, starts)
    std = np.sqrt(S / safe_n / safe_n / safe_n) / scale
    big = np.iinfo(np.int64).max
    mn = np.minimum.reduceat(np.where(valid, vals, big), starts).astype(np.float64)
    mx = np.maximum.reduceat(np.where(valid, vals, -big), starts).astype(np.float64)
    empty = counts_valid == 0
    mean = r(np.where(empty, 0.0, mean_raw / scale))
    mn = r(np.where(empty, 0.0, mn / scale))
    mx = r(np.where(empty, 0.0, mx / scale))
    std = r(np.where(empty, 0.0, std))
    return mean, mn, mx, std


def _onepass_stats(
    vals: np.ndarray,
    mask: np.ndarray,
    starts: np.ndarray,
    r,
    keys: np.ndarray,
    name: str,
) -> tuple[np.ndarray, ...]:
    """[total, mean, min, max, std] per segment over mask (win/plen path).

    One-pass var = sq/n - mean^2 on exact int64 sums — the op order of the
    exact oracle's one-pass statistics. Raises ValueError, naming the
    segment's conversation (``keys``), where the sum of squares could pass
    int64 (max(|v|)^2 * count >= 2^63) instead of wrapping silently.
    """
    v = np.where(mask, vals, 0)
    cnt = np.add.reduceat(mask.astype(np.int64), starts)
    s = np.add.reduceat(v, starts)  # int64, exact
    sq = np.add.reduceat(v * v, starts)  # int64, exact below the guard
    safe = np.maximum(cnt, 1).astype(np.float64)
    mean_raw = s.astype(np.float64) / safe
    var = np.maximum(sq.astype(np.float64) / safe - mean_raw * mean_raw, 0.0)
    big = np.iinfo(np.int64).max
    mn = np.minimum.reduceat(np.where(mask, vals, big), starts).astype(np.float64)
    mx = np.maximum.reduceat(np.where(mask, vals, -big), starts).astype(np.float64)
    empty = cnt == 0
    reach = np.where(empty, 0.0, np.maximum(mx, -mn))
    over = reach * reach * cnt >= _INT64_SQ_LIMIT
    if over.any():
        raise ValueError(
            f"conversation {keys[int(np.argmax(over))]!r}: a session's sum of "
            f"squared {name} reaches 2^63 (max^2 x turns), past the int64 "
            "accumulation; this data is outside the exact domain of every engine"
        )
    z = lambda a: np.where(empty, 0.0, a)  # noqa: E731
    return (
        r(z(s.astype(np.float64))),
        r(z(mean_raw)),
        r(z(mn)),
        r(z(mx)),
        r(z(np.sqrt(var))),
        cnt,
    )


def batch_feature_frame(pdf: pd.DataFrame, rounding: str = "r6") -> pd.DataFrame:
    """Vectorized 72-feature computation for a frame of COMPLETE groups,
    sorted by (conv_id, session_id, ts_us, turn_idx)."""
    N = len(pdf)
    if N == 0:
        return pd.DataFrame(columns=[f.name for f in FEATURE_SCHEMA.fields])
    conv = pdf["conv_id"].to_numpy()
    # factorize: C-speed hashing instead of per-element PyObject string
    # comparisons (object-dtype == is Python-speed and dominates otherwise)
    conv_codes = pd.factorize(conv)[0]
    sess = pdf["session_id"].to_numpy(np.int64)
    ts = pdf["ts_us"].to_numpy(np.int64)
    fwd = pdf["is_fwd"].to_numpy(bool)
    plen = pdf["plen"].to_numpy(np.int64)
    win = pdf["win"].to_numpy(np.int64)
    flags = pdf["flags"].to_numpy(np.int64)
    ihl = pdf["ihl"].to_numpy(np.int64)

    new_group = np.ones(N, dtype=bool)
    new_group[1:] = (conv_codes[1:] != conv_codes[:-1]) | (sess[1:] != sess[:-1])
    starts = np.flatnonzero(new_group)
    ends = np.append(starts[1:], N)
    counts = ends - starts
    G = len(starts)
    r = lambda a: _round_vec(a, rounding)  # noqa: E731

    # ---- IAT (all-direction): gap to previous row, invalid at group starts
    gap_all = np.empty(N, dtype=np.int64)
    gap_all[0] = 0
    gap_all[1:] = ts[1:] - ts[:-1]
    valid_all = ~new_group
    diat = _seg_stats(gap_all, valid_all, starts, counts - 1, r, 1e6)

    # ---- per-direction IAT: stable re-order by (group, is_fwd, position)
    gidx = np.cumsum(new_group) - 1  # group ordinal per row
    perm = np.lexsort((np.arange(N), fwd.astype(np.int8), gidx))
    ts_p, gid_p, fwd_p = ts[perm], gidx[perm], fwd[perm]
    seg_new = np.ones(N, dtype=bool)
    seg_new[1:] = (gid_p[1:] != gid_p[:-1]) | (fwd_p[1:] != fwd_p[:-1])
    gap_d = np.empty(N, dtype=np.int64)
    gap_d[0] = 0
    gap_d[1:] = ts_p[1:] - ts_p[:-1]
    valid_d = ~seg_new
    seg_starts = np.flatnonzero(seg_new)
    seg_counts = np.append(seg_starts[1:], N) - seg_starts
    seg_gid = gid_p[seg_starts]
    seg_fwd = fwd_p[seg_starts]
    sm, smn, smx, sstd = _seg_stats(gap_d, valid_d, seg_starts, seg_counts - 1, r, 1e6)

    def scatter(dirmask: np.ndarray) -> list[np.ndarray]:
        out = [np.zeros(G) for _ in range(4)]
        sel = dirmask
        for arr, src in zip(out, (sm, smn, smx, sstd)):
            arr[seg_gid[sel]] = src[sel]
        return out

    fiat = scatter(seg_fwd)
    biat = scatter(~seg_fwd)

    # ---- duration
    first_ts = ts[starts].astype(np.float64)
    last_ts = ts[ends - 1].astype(np.float64)
    duration = r((last_ts - first_ts) / 1e6 + DURATION_EPSILON)

    # ---- win / plen stat families
    ones = np.ones(N, dtype=bool)
    keys = conv[starts]
    fwin_t, fwin_m, fwin_mn, fwin_mx, fwin_s, fpnum = _onepass_stats(
        win, fwd, starts, r, keys, "win")
    bwin_t, bwin_m, bwin_mn, bwin_mx, bwin_s, bpnum = _onepass_stats(
        win, ~fwd, starts, r, keys, "win")
    dwin_t, dwin_m, dwin_mn, dwin_mx, dwin_s, _ = _onepass_stats(
        win, ones, starts, r, keys, "win")
    fpl_t, fpl_m, fpl_mn, fpl_mx, fpl_s_, _ = _onepass_stats(
        plen, fwd, starts, r, keys, "plen")
    bpl_t, bpl_m, bpl_mn, bpl_mx, bpl_s_, _ = _onepass_stats(
        plen, ~fwd, starts, r, keys, "plen")
    dpl_t, dpl_m, dpl_mn, dpl_mx, dpl_s_, _ = _onepass_stats(
        plen, ones, starts, r, keys, "plen")

    fp = fpnum.astype(np.float64)
    bp = bpnum.astype(np.float64)
    dp = counts.astype(np.float64)
    bfpnum_rate = r(bp / np.maximum(fp, 1.0))
    fpnum_s = r(fp / duration)
    bpnum_s = r(bp / duration)
    dpnum_s = fpnum_s + bpnum_s
    bfpl_rate = r(bpl_t / np.maximum(fpl_t, 1.0))
    fpl_rate = r(fpl_t / duration)
    bpl_rate = r(bpl_t / duration)
    dpl_rate = fpl_rate + bpl_rate

    # ---- flag bit counts
    dflag = [
        np.add.reduceat((flags >> i) & 1, starts).astype(np.float64) for i in range(8)
    ]
    def dir_bit(i: int, mask: np.ndarray, nonzero: np.ndarray) -> np.ndarray:
        c = np.add.reduceat(np.where(mask, (flags >> i) & 1, 0), starts).astype(np.float64)
        return np.where(nonzero == 0, -1.0, c)

    fwd_pst = dir_bit(3, fwd, fpnum)
    fwd_urg = dir_bit(5, fwd, fpnum)
    bwd_pst = dir_bit(3, ~fwd, bpnum)
    bwd_urg = dir_bit(5, ~fwd, bpnum)

    # ---- header lengths
    hdr = 14 + 4 * ihl + 20
    fhdr = np.add.reduceat(np.where(fwd, hdr, 0), starts).astype(np.float64)
    bhdr = np.add.reduceat(np.where(~fwd, hdr, 0), starts).astype(np.float64)
    dhdr = fhdr + bhdr
    f_ht = r(fhdr / np.maximum(fpl_t, 1.0))
    b_ht = r(bhdr / np.maximum(bpl_t, 1.0))
    d_ht = r(dhdr / np.maximum(dpl_t, 1.0))

    cols = {
        "conv_id": keys,
        "session_id": sess[starts],
        "session_start_ts": first_ts / 1e6,
        "session_end_ts": last_ts / 1e6,
        "n_turns": counts,
    }
    vals = (
        list(fiat) + list(biat) + list(diat) + [duration]
        + [fwin_t, fwin_m, fwin_mn, fwin_mx, fwin_s]
        + [bwin_t, bwin_m, bwin_mn, bwin_mx, bwin_s]
        + [dwin_t, dwin_m, dwin_mn, dwin_mx, dwin_s]
        + [fp, bp, dp, bfpnum_rate, fpnum_s, bpnum_s, dpnum_s]
        + [fpl_t, fpl_m, fpl_mn, fpl_mx, fpl_s_]
        + [bpl_t, bpl_m, bpl_mn, bpl_mx, bpl_s_]
        + [dpl_t, dpl_m, dpl_mn, dpl_mx, dpl_s_]
        + [bfpl_rate, fpl_rate, bpl_rate, dpl_rate]
        + dflag + [fwd_pst, fwd_urg, bwd_pst, bwd_urg]
        + [fhdr, bhdr, dhdr, f_ht, b_ht, d_ht]
    )
    for name, v in zip(FEATURE_NAMES, vals):
        cols[name] = v
    out = pd.DataFrame(cols)
    # drop groups with <2 turns (flow.py:136-137)
    return out[out["n_turns"] >= 2].reset_index(drop=True)


def sessionize_and_extract_fast(
    df: DataFrame,
    gap_seconds: float,
    rounding: str = "r6",
    conv_col: str = "conv_id",
    num_partitions: int | None = None,
    metrics=None,
    reset_tool: str | None = None,
) -> DataFrame:
    """Fused sessionize + feature extraction: ONE shuffle total.

    repartition(conv_id) + sortWithinPartitions(conv_id, ts_us, turn_idx),
    then a single streaming pass assigns gap-based session ids (identical
    numbering to sessionize.assign_sessions — 1-based per conv) and computes
    the 72-vector per session. A non-finite ``gap_seconds`` (math.inf) never
    splits: one session per conv. ``reset_tool``: a tool name whose turns
    open a new session (same contract as sessionize.assign_sessions).
    """
    gap_us = (
        int(round(gap_seconds * 1_000_000))
        if math.isfinite(gap_seconds)
        else np.iinfo(np.int64).max
    )
    reset_bit = None if reset_tool is None else TOOL_FLAG_BITS[reset_tool]
    proj = df.select(
        conv_col, "turn_idx", "ts_us", "is_fwd", "plen", "win", "flags", "ihl"
    )
    part = (
        proj.repartition(num_partitions, conv_col)
        if num_partitions
        else proj.repartition(conv_col)
    )
    sorted_df = part.sortWithinPartitions(conv_col, "ts_us", "turn_idx")

    def extract(parts: list[pd.DataFrame]) -> pd.DataFrame:
        pdf = parts[0] if len(parts) == 1 else pd.concat(parts, ignore_index=True)
        out = batch_feature_frame(pdf, rounding)
        if metrics is not None:
            metrics.record(len(pdf), len(out))
        return out

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        open_parts: list[pd.DataFrame] = []  # the trailing, open session
        prev_conv: object = None
        prev_ts = prev_sid = 0

        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            conv = pdf["conv_id"].to_numpy()
            conv_codes = pd.factorize(conv)[0]
            ts = pdf["ts_us"].to_numpy(np.int64)
            conv_start = np.ones(n, dtype=bool)
            conv_start[1:] = conv_codes[1:] != conv_codes[:-1]
            is_new = conv_start.copy()
            is_new[1:] |= (ts[1:] - ts[:-1]) > gap_us
            carried = prev_conv is not None and conv[0] == prev_conv
            if carried:
                is_new[0] = ts[0] - prev_ts > gap_us
            if reset_bit is not None:
                is_new |= ((pdf["flags"].to_numpy(np.int64) >> reset_bit) & 1) == 1
            c = np.cumsum(is_new)
            starts = np.flatnonzero(conv_start)
            reps = np.diff(np.append(starts, n))
            sid = c - np.repeat(c[starts], reps) + 1
            if carried:
                # rows of the carried conv continue its numbering
                sid[: reps[0]] = prev_sid + c[: reps[0]]
            pdf = pdf.assign(session_id=sid)
            prev_conv, prev_ts, prev_sid = conv[-1], int(ts[-1]), int(sid[-1])

            new_at = np.flatnonzero(is_new)
            if len(new_at) == 0:  # the whole batch continues the open session
                open_parts.append(pdf)
                continue
            tail = int(new_at[-1])
            closed = open_parts + ([pdf.iloc[:tail]] if tail else [])
            if closed:
                yield extract(closed)
            open_parts = [pdf.iloc[tail:]]
        if open_parts:
            yield extract(open_parts)

    return sorted_df.mapInPandas(run, schema=FEATURE_SCHEMA)
