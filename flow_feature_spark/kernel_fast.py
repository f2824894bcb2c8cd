"""Batch-vectorized feature kernel: the 10^12-turn scale path.

``extract_session_features`` (kernel.py) calls Python once per group — exact,
but per-group overhead (~ms) dominates when groups are small and numerous.
This module computes the same 72 features for THOUSANDS of groups per NumPy
call:

  repartition(conv_id)                           -- the one hash shuffle
  sortWithinPartitions(conv_id, ts_us, turn_idx)
  mapInPandas(sessionize + batch kernel)         -- Arrow batches stream
                                                    through, group stats via
                                                    np.*.reduceat

Within a partition, a session's rows are contiguous after the sort but may
span Arrow batch boundaries — the iterator wrapper holds back each batch's
trailing (possibly incomplete) session and prepends it to the next batch, so
every session is processed exactly once and memory stays bounded by
(batch + largest session).

Numeric contract: integer sums/sumsq via int64 reduceat (exact); the centered
IAT deviations use float64 products whose error (~1e-16 relative) is ~10
orders of magnitude below the r6 rounding grid — agreement with the exact
kernel is asserted in tests (and empirically bit-equal after r6 on the
driver data). Exactness bound for the int64 sumsq path: per-session
sum(plen^2) must stay below 2^63 — i.e. max_plen^2 * session_turns < 9.2e18
(e.g. 1e6-char texts x 9M-turn sessions). Beyond that, route through the
grouped exact kernel (Python-int accumulation). The exact-SQL engine
(features.session_features_exact_sql) widens only the squared gap
deviations to decimal(38,0); its plen/win sums of squares are bigint too.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame

from flow_feature_spark.schema import (
    DURATION_EPSILON,
    FEATURE_NAMES,
    FEATURE_SCHEMA,
)


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
    (matches kernel._exact_stats4(centered=True) op order).
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
) -> tuple[np.ndarray, ...]:
    """[total, mean, min, max, std] per segment over mask (win/plen path).

    One-pass var = sq/n - mean^2 on exact int64 sums — same op order as
    kernel._exact_stats4(centered=False).
    """
    v = np.where(mask, vals, 0)
    cnt = np.add.reduceat(mask.astype(np.int64), starts)
    s = np.add.reduceat(v, starts)  # int64, exact
    sq = np.add.reduceat(v * v, starts)  # int64, exact for our magnitudes
    safe = np.maximum(cnt, 1).astype(np.float64)
    mean_raw = s.astype(np.float64) / safe
    var = np.maximum(sq.astype(np.float64) / safe - mean_raw * mean_raw, 0.0)
    big = np.iinfo(np.int64).max
    mn = np.minimum.reduceat(np.where(mask, vals, big), starts).astype(np.float64)
    mx = np.maximum.reduceat(np.where(mask, vals, -big), starts).astype(np.float64)
    empty = cnt == 0
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
    fwin_t, fwin_m, fwin_mn, fwin_mx, fwin_s, fpnum = _onepass_stats(win, fwd, starts, r)
    bwin_t, bwin_m, bwin_mn, bwin_mx, bwin_s, bpnum = _onepass_stats(win, ~fwd, starts, r)
    dwin_t, dwin_m, dwin_mn, dwin_mx, dwin_s, _ = _onepass_stats(win, ones, starts, r)
    fpl_t, fpl_m, fpl_mn, fpl_mx, fpl_s_, _ = _onepass_stats(plen, fwd, starts, r)
    bpl_t, bpl_m, bpl_mn, bpl_mx, bpl_s_, _ = _onepass_stats(plen, ~fwd, starts, r)
    dpl_t, dpl_m, dpl_mn, dpl_mx, dpl_s_, _ = _onepass_stats(plen, ones, starts, r)

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
        "conv_id": conv[starts],
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
) -> DataFrame:
    """Fused sessionize + feature extraction: ONE shuffle total.

    repartition(conv_id) + sortWithinPartitions(conv_id, ts_us, turn_idx),
    then a single streaming pass assigns gap-based session ids (identical
    numbering to sessionize.assign_sessions — 1-based per conv) and computes
    the 72-vector per session. The separate window pass (its own exchange +
    sort) disappears. Carry-over state per partition: the trailing,
    possibly-incomplete session of the trailing conv — memory is bounded by
    (Arrow batch + largest single session).
    """
    gap_us = int(round(gap_seconds * 1_000_000))
    proj = df.select(
        conv_col, "turn_idx", "ts_us", "is_fwd", "plen", "win", "flags", "ihl"
    )
    part = (
        proj.repartition(num_partitions, conv_col)
        if num_partitions
        else proj.repartition(conv_col)
    )
    sorted_df = part.sortWithinPartitions(conv_col, "ts_us", "turn_idx")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        carry: pd.DataFrame | None = None
        prev_conv: object = None
        prev_sid = 0  # global session id of the carried (incomplete) session

        for pdf in batches:
            if carry is not None and len(carry):
                pdf = pd.concat([carry.drop(columns=["session_id"]), pdf],
                                ignore_index=True)
            if len(pdf) == 0:
                continue
            conv = pdf["conv_id"].to_numpy()
            conv_codes = pd.factorize(conv)[0]
            ts = pdf["ts_us"].to_numpy(np.int64)
            n = len(pdf)
            is_new = np.ones(n, dtype=np.int64)
            if n > 1:
                same_conv = conv_codes[1:] == conv_codes[:-1]
                small_gap = (ts[1:] - ts[:-1]) <= gap_us
                is_new[1:] = (~(same_conv & small_gap)).astype(np.int64)
            carried = prev_conv is not None and conv[0] == prev_conv
            if carried:
                is_new[0] = 0
            c = np.cumsum(is_new)
            conv_start = np.ones(n, dtype=bool)
            conv_start[1:] = conv_codes[1:] != conv_codes[:-1]
            starts = np.flatnonzero(conv_start)
            reps = np.diff(np.append(starts, n))
            base = np.repeat(c[starts], reps)
            sid = c - base + 1
            if carried:
                # rows of the carried conv continue its global numbering
                first_len = reps[0]
                sid[:first_len] += prev_sid - 1
            pdf = pdf.assign(session_id=sid)

            # hold back the trailing session of the trailing conv
            tail_mask = (conv_codes == conv_codes[-1]) & (sid == sid[-1])
            tail_start = int(n - tail_mask[::-1].cumprod().sum())
            carry = pdf.iloc[tail_start:]
            prev_conv = conv[-1]
            prev_sid = int(sid[-1])
            head = pdf.iloc[:tail_start]
            if len(head):
                out = batch_feature_frame(head, rounding)
                if metrics is not None:
                    metrics.record(len(head), len(out))
                yield out
        if carry is not None and len(carry):
            out = batch_feature_frame(carry, rounding)
            if metrics is not None:
                metrics.record(len(carry), len(out))
            yield out

    return sorted_df.mapInPandas(run, schema=FEATURE_SCHEMA)
