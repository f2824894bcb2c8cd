"""Dialect-parametrized SQL for the driver correctness gate.

Every query here is emitted in two dialects — ``spark`` and ``duckdb`` — from
the SAME template, differing only in micro-dialect tokens (epoch extraction,
bit shifts, IGNORE NULLS placement). The Spark side runs via ``spark.sql``
over temp views of the sf-dir parquet files; the DuckDB side is the driver's
oracle.

Cross-engine float discipline (the whole point of this module's structure):
floating-point SUMS are order-dependent, and the two engines aggregate in
different orders — so every aggregate accumulates in an EXACT domain first
(bigint microseconds for time, bigint for lengths/counts, DECIMAL(38,0) for
sums of squared microsecond gaps, DECIMAL(18,2) for money) and converts to
double exactly once, after aggregation. Deterministic double ops on identical
inputs give bit-identical results in both engines, so the driver's
order-insensitive value hash matches exactly — no tolerance needed.

Rounding = ``r6(x) = floor(x*1e6 + 0.5)/1e6`` written out in both dialects
(avoids Spark HALF_UP vs DuckDB vs Python HALF_EVEN library drift).

The events table stands in for the transcript shape (FIXTURES.md §4):
user_id→conv_id, ts→ts, event_type→role ('purchase' = forward), props→text,
floor(value)→win (per-turn budget), floor(value)%256→flags bitmask,
length(role)→ihl, row_number within user→turn_idx. Feature semantics mirror
the reference kernel (flow.py:129-203) exactly: population std, round-6,
duration epsilon, max(x,1) guards, rounded-sum rates, -1 flag sentinels,
HAVING count(*) >= 2.
"""

from __future__ import annotations

SESSION_GAP_S = 43200.0  # 12 h — sized to the events table's gap distribution
GAP_US = int(SESSION_GAP_S * 1_000_000)


def _epoch_us(dialect: str, col: str = "ts") -> str:
    if dialect == "spark":
        return f"unix_micros(cast({col} as timestamp))"
    return f"epoch_us({col})"


def _shr(dialect: str, x: str, i: int) -> str:
    """(x >> i) & 1 — bit extraction, dialect-safe."""
    if dialect == "spark":
        return f"(shiftright({x}, {i}) & 1)"
    return f"(({x} >> {i}) & 1)"


def _ffill(dialect: str, x: str, part: str, order: str = "ts_us, turn_idx") -> str:
    frame = (f"OVER (PARTITION BY {part} ORDER BY {order} "
             "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)")
    if dialect == "spark":
        return f"last_value({x}) IGNORE NULLS {frame}"
    return f"last_value({x} IGNORE NULLS) {frame}"


def _bfill(dialect: str, x: str, part: str, order: str = "ts_us, turn_idx") -> str:
    frame = (f"OVER (PARTITION BY {part} ORDER BY {order} "
             "ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)")
    if dialect == "spark":
        return f"first_value({x}) IGNORE NULLS {frame}"
    return f"first_value({x} IGNORE NULLS) {frame}"


def r6(x: str) -> str:
    return f"(floor(({x})*1e6 + 0.5)/1e6)"


def _rnd_fn(dialect: str, rounding: str):
    """Rounding expression factory for the feature-vector SQL.

    "r6" is the cross-engine-exact default (identical text in both dialects,
    used by every oracle). "half_even" maps to Spark ``bround`` — the
    engine-side HALF_EVEN mode job.py exposes; it is allclose-grade vs the
    Python-round kernel (shortest-decimal vs exact-binary representation can
    differ on 1e-6-grid ties), so it is engine-only, never an oracle."""
    if rounding == "r6":
        return r6
    if rounding == "half_even":
        assert dialect == "spark", "half_even rounding is engine-side only"
        return lambda x: f"bround({x}, 6)"
    raise ValueError(f"unknown rounding mode: {rounding}")


def turns_cte(dialect: str) -> str:
    """events -> transcript-shaped turns (the shared base CTE); time in µs."""
    return f"""
turns AS (
  SELECT cast(user_id AS string)                                   AS conv_id,
         cast(row_number() OVER (PARTITION BY user_id
                                 ORDER BY ts, event_id) AS int)    AS turn_idx,
         event_type                                                AS role,
         props                                                     AS text,
         ts,
         {_epoch_us(dialect)}                                      AS ts_us,
         (event_type = 'purchase')                                 AS is_fwd,
         cast(length(coalesce(props, '')) AS bigint)               AS plen,
         cast(floor(value) AS bigint)                              AS win,
         cast(cast(floor(value) AS bigint) % 256 AS int)           AS flags,
         cast(length(event_type) AS bigint)                        AS ihl
  FROM events
)"""


def sess_cte(gap_us: int = GAP_US, reset_cond: str | None = None) -> str:
    """Gap sessionization CTE. ``reset_cond``: extra SQL predicate over the
    turns columns that force-opens a new session (the engine's reset_tool —
    sessionize.assign_sessions's SYN-reset analog, flow_basic.py:70-72)."""
    reset = f" OR ({reset_cond})" if reset_cond else ""
    return f"""
gapped AS (
  SELECT *, ts_us - lag(ts_us) OVER (PARTITION BY conv_id
                                     ORDER BY ts_us, turn_idx) AS prev_gap_us
  FROM turns
),
sess AS (
  SELECT *, cast(sum(CASE WHEN prev_gap_us IS NULL OR prev_gap_us > {gap_us}{reset}
                     THEN 1 ELSE 0 END)
              OVER (PARTITION BY conv_id ORDER BY ts_us, turn_idx
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS bigint)
            AS session_id
  FROM gapped
)"""


# ---------------------------------------------------------------------------
# The 72-feature vector as layered SQL (generated, not hand-copied 72 times).
# ---------------------------------------------------------------------------

def _std_from_exact(sum_d: str, sumsq_d: str, n: str, scale: str = "1.0") -> str:
    """std_pop from exact integer/decimal sums, converted to double once.

    var = (sumsq - sum^2/n)/n in double over exact inputs; /scale converts the
    unit (1e6 for µs->s). greatest(...,0) guards tiny negative residue.
    """
    mean = f"(cast({sum_d} AS double)/{n})"
    var = f"greatest(cast({sumsq_d} AS double)/{n} - {mean}*{mean}, 0.0)"
    return f"(sqrt({var})/{scale})"


def _agg_block(dialect: str, rnd=r6) -> tuple[str, str]:
    """(raw exact-domain agg list, final rounded-stat list) for 72 features."""
    raw: list[str] = [
        "count(*) AS n",
        "min(ts_us) AS min_us",
        "max(ts_us) AS max_us",
        "count(*) FILTER (WHERE is_fwd) AS fpnum",
        "count(*) FILTER (WHERE NOT is_fwd) AS bpnum",
    ]
    # gap (µs, exact centered devsq — see `centered` CTE) and win/plen
    # (bigint one-pass sumsq, exact below 2^53) stat families x directions
    fam = {
        "iat": ("gap_dir_us", True),
        "win": ("win", False),
        "pl": ("plen", False),
    }
    for family, (x, is_us) in fam.items():
        for dirn, filt in (
            ("f", "FILTER (WHERE is_fwd)"),
            ("b", "FILTER (WHERE NOT is_fwd)"),
            ("d", ""),
        ):
            col = "gap_all_us" if (family == "iat" and dirn == "d") else x
            p = f"{dirn}{family}"
            if is_us:
                # the square runs in the SAME wide domain the deviation was
                # computed in (decimal(38,0) in Spark, int128 in DuckDB) — a
                # down-cast to decimal(19,0) here would silently NULL any
                # |dev| >= 1e19 row out of the sum in non-ANSI Spark while
                # DuckDB kept it exact. Exactness envelope, like kernel_fast's
                # int64 sumsq bound: |dev| < 1e19 (decimal(38,0) product
                # representability) and per-group sum(dev^2) < 1e38. Beyond
                # it, non-ANSI Spark would silently NULL terms out of the sum
                # — so both walls are guarded with raise_error (the sum wall
                # via the devsq-NULL-with-nonzero-count check in stats4),
                # matching DuckDB, which raises on int128 overflow on its
                # own. Data past these walls is outside every engine's exact
                # domain.
                dev = "dev_all" if dirn == "d" else "dev_dir"
                if dialect == "spark":
                    prod = (
                        f"(CASE WHEN {dev} IS NULL "  # NULL dev (first same-direction turn) must
        # stay a NULL product the sum skips, not fall into raise_error
                        f"OR abs({dev}) < 10000000000000000000 THEN "
                        f"cast({dev} AS decimal(38,0)) * cast({dev} AS decimal(38,0)) "
                        f"ELSE cast(raise_error('{p}: |centered dev| >= 1e19 "
                        f"exceeds the exact decimal(38,0) domain — this data is "
                        f"outside the exact domain of every engine') "
                        f"AS decimal(38,0)) END)"
                    )
                else:
                    prod = f"{dev} * {dev}"
                sq_term = f"sum({prod}) {filt} AS {p}_devsq"
            else:
                sq_term = f"sum({col}*{col}) {filt} AS {p}_sumsq"
            raw += [
                f"sum({col}) {filt} AS {p}_sum",
                sq_term,
                f"min({col}) {filt} AS {p}_rmin",
                f"max({col}) {filt} AS {p}_rmax",
                f"count({col}) {filt} AS {p}_cnt",
            ]
    flag_names = ["fin_cnt", "syn_cnt", "rst_cnt", "pst_cnt",
                  "ack_cnt", "urg_cnt", "cwe_cnt", "ece_cnt"]
    for i, name in enumerate(flag_names):
        raw.append(f"sum({_shr(dialect, 'flags', i)}) AS raw_{name}")
    for name, bit, filt in (
        ("fwd_pst", 3, "FILTER (WHERE is_fwd)"),
        ("fwd_urg", 5, "FILTER (WHERE is_fwd)"),
        ("bwd_pst", 3, "FILTER (WHERE NOT is_fwd)"),
        ("bwd_urg", 5, "FILTER (WHERE NOT is_fwd)"),
    ):
        raw.append(f"sum({_shr(dialect, 'flags', bit)}) {filt} AS raw_{name}_cnt")
    raw += [
        "sum(14 + 4*ihl + 20) FILTER (WHERE is_fwd) AS raw_fhdr",
        "sum(14 + 4*ihl + 20) FILTER (WHERE NOT is_fwd) AS raw_bhdr",
    ]

    # final layer: rounded statistics with the reference's guard rules
    fin: list[str] = []

    def stats4(p: str, scale: str, centered: bool) -> list[str]:
        mean = rnd(f"cast({p}_sum AS double)/{p}_cnt/{scale}")
        overflow = ""
        if centered:
            # exact centered sum of squares: S = sum((x*n - sum)^2),
            # std = sqrt(double(S)/n^3)/scale — the exact oracle's op order
            n = f"{p}_cnt"
            std = rnd(f"(sqrt(cast({p}_devsq AS double)/{n}/{n}/{n})/{scale})")
            if dialect == "spark":
                # decimal(38,0) SUM overflow is a silent NULL in non-ANSI
                # Spark; with the per-product guard in place, devsq NULL
                # alongside a nonzero gap count can ONLY mean sum overflow —
                # fail as loudly as DuckDB's int128 does
                overflow = (
                    f"WHEN {p}_devsq IS NULL AND {p}_cnt > 0 THEN "
                    f"cast(raise_error('{p}: exact devsq sum overflowed "
                    f"decimal(38,0) — this data is outside the exact "
                    f"domain of every engine') AS double) "
                )
        else:
            std = rnd(_std_from_exact(f"{p}_sum", f"{p}_sumsq", f"{p}_cnt", scale))
        return [
            f"coalesce({mean}, 0.0) AS {p}_mean",
            f"coalesce({rnd(f'cast({p}_rmin AS double)/{scale}')}, 0.0) AS {p}_min",
            f"coalesce({rnd(f'cast({p}_rmax AS double)/{scale}')}, 0.0) AS {p}_max",
            f"CASE WHEN {p}_cnt = 0 THEN 0.0 {overflow}ELSE {std} END AS {p}_std",
        ]

    for d in "fbd":
        fin += stats4(f"{d}iat", "1e6", centered=True)
    fin.append(f"{rnd('(max_us - min_us)/1e6 + 0.0001')} AS duration")
    for family in ("win", "pl"):
        for d in "fbd":
            p = f"{d}{family}"
            fin.append(f"coalesce({rnd(f'cast({p}_sum AS double)')}, 0.0) AS {p}_total")
            fin += stats4(p, "1.0", centered=False)
    fin += [
        "cast(fpnum AS double) AS fpnum",
        "cast(bpnum AS double) AS bpnum",
        "cast(n AS double) AS dpnum",
        f"{rnd('cast(bpnum AS double)/greatest(fpnum, 1)')} AS bfpnum_rate",
    ]
    for name in flag_names:
        fin.append(f"cast(raw_{name} AS double) AS {name}")
    for name, guard in (
        ("fwd_pst_cnt", "fpnum"), ("fwd_urg_cnt", "fpnum"),
        ("bwd_pst_cnt", "bpnum"), ("bwd_urg_cnt", "bpnum"),
    ):
        fin.append(
            f"CASE WHEN {guard} = 0 THEN -1.0 "
            f"ELSE cast(raw_{name[:7]}_cnt AS double) END AS {name}"
        )
    fin += [
        "coalesce(cast(raw_fhdr AS double), 0.0) AS fp_hdr_len",
        "coalesce(cast(raw_bhdr AS double), 0.0) AS bp_hdr_len",
    ]
    return ",\n    ".join(raw), ",\n    ".join(fin)


def feature_vector_sql(
    dialect: str,
    gap_us: int = GAP_US,
    turns_sql: str | None = None,
    include_bounds: bool = False,
    rounding: str = "r6",
    reset_cond: str | None = None,
    presessionized: bool = False,
) -> str:
    """Full 72-feature per-(conv_id, session_id) query.

    ``turns_sql`` overrides the events-backed turns CTE with any SQL source
    exposing the kernel input columns (conv_id, turn_idx, ts_us, is_fwd,
    plen, win, flags, ihl) — this is how the engine runs the exact-domain
    pipeline JVM-only over real transcript tables
    (features.session_features_exact_sql). ``include_bounds`` appends
    session_start_ts/session_end_ts (the kernel's metadata columns).
    ``rounding``/``reset_cond``: see _rnd_fn / sess_cte — engine-side knobs;
    every oracle keeps the r6 / no-reset defaults.

    ``presessionized``: the turns source already carries ``session_id`` —
    the gap-sessionization window CTE (one task per conversation: the lag +
    cumsum partition by conv_id) is skipped entirely, so the first exchange
    the query needs is the (conv_id, session_id) clustering of the gap
    windows: a mega-conversation's SESSIONS spread across tasks. Pair with
    sessionize.assign_sessions_bucketed for a fully skew-bounded JVM path.
    """
    rnd = _rnd_fn(dialect, rounding)
    raw, fin = _agg_block(dialect, rnd)
    src = turns_sql if turns_sql is not None else turns_cte(dialect)
    bounds = (
        "\n  cast(min_us AS double)/1e6 AS session_start_ts,"
        "\n  cast(max_us AS double)/1e6 AS session_end_ts,"
        if include_bounds
        else ""
    )
    # the centered deviation gap*n - sum can exceed int64 for very long
    # sessions (~1e12 µs gaps x ~1e7 gap count), so the multiply runs in a
    # wide exact domain: decimal(19,0)*bigint -> decimal(38,0) in Spark,
    # HUGEINT (int128) in DuckDB — identical integer values either way
    wide = "decimal(19,0)" if dialect == "spark" else "HUGEINT"
    if presessionized:
        assert reset_cond is None, "reset is part of sessionization; already applied"
        sess_part = f"WITH {src}, sess AS (SELECT * FROM turns),"
    else:
        sess_part = f"WITH {src}, {sess_cte(gap_us, reset_cond)},"
    return f"""
{sess_part}
gaps AS (
  SELECT *,
         ts_us - lag(ts_us) OVER (PARTITION BY conv_id, session_id
                                  ORDER BY ts_us, turn_idx)           AS gap_all_us,
         ts_us - lag(ts_us) OVER (PARTITION BY conv_id, session_id, is_fwd
                                  ORDER BY ts_us, turn_idx)           AS gap_dir_us
  FROM sess
),
centered AS (
  SELECT *,
         cast(gap_dir_us AS {wide}) * (count(gap_dir_us) OVER wd)
           - (sum(gap_dir_us) OVER wd) AS dev_dir,
         cast(gap_all_us AS {wide}) * (count(gap_all_us) OVER wa)
           - (sum(gap_all_us) OVER wa) AS dev_all
  FROM gaps
  WINDOW wd AS (PARTITION BY conv_id, session_id, is_fwd),
         wa AS (PARTITION BY conv_id, session_id)
),
agg AS (
  SELECT conv_id, session_id,
    {raw}
  FROM centered GROUP BY conv_id, session_id HAVING count(*) >= 2
),
fin AS (
  SELECT conv_id, session_id, n, min_us, max_us,
    {fin}
  FROM agg
)
SELECT conv_id, session_id, cast(n AS bigint) AS n_turns,{bounds}
  fiat_mean, fiat_min, fiat_max, fiat_std,
  biat_mean, biat_min, biat_max, biat_std,
  diat_mean, diat_min, diat_max, diat_std,
  duration,
  fwin_total, fwin_mean, fwin_min, fwin_max, fwin_std,
  bwin_total, bwin_mean, bwin_min, bwin_max, bwin_std,
  dwin_total, dwin_mean, dwin_min, dwin_max, dwin_std,
  fpnum, bpnum, dpnum, bfpnum_rate,
  {rnd('fpnum/duration')} AS fpnum_s,
  {rnd('bpnum/duration')} AS bpnum_s,
  {rnd('fpnum/duration')} + {rnd('bpnum/duration')} AS dpnum_s,
  fpl_total, fpl_mean, fpl_min, fpl_max, fpl_std,
  bpl_total, bpl_mean, bpl_min, bpl_max, bpl_std,
  dpl_total, dpl_mean, dpl_min, dpl_max, dpl_std,
  {rnd('bpl_total/greatest(fpl_total, 1.0)')} AS bfpl_rate,
  {rnd('fpl_total/duration')} AS fpl_s,
  {rnd('bpl_total/duration')} AS bpl_s,
  {rnd('fpl_total/duration')} + {rnd('bpl_total/duration')} AS dpl_s,
  fin_cnt, syn_cnt, rst_cnt, pst_cnt, ack_cnt, urg_cnt, cwe_cnt, ece_cnt,
  fwd_pst_cnt, fwd_urg_cnt, bwd_pst_cnt, bwd_urg_cnt,
  fp_hdr_len, bp_hdr_len, fp_hdr_len + bp_hdr_len AS dp_hdr_len,
  {rnd('fp_hdr_len/greatest(fpl_total, 1.0)')} AS f_ht_len,
  {rnd('bp_hdr_len/greatest(bpl_total, 1.0)')} AS b_ht_len,
  {rnd('(fp_hdr_len + bp_hdr_len)/greatest(dpl_total, 1.0)')} AS d_ht_len
FROM fin
"""


def sessionize_counts_sql(dialect: str, gap_us: int = GAP_US) -> str:
    """Slice 0 — basic-edition incremental aggregates per session
    (reference flow_basic.py:41-76: count/sum/min/max/avg)."""
    return f"""
WITH {turns_cte(dialect)}, {sess_cte(gap_us)}
SELECT conv_id, session_id,
       cast(count(*) AS bigint)            AS turn_cnt,
       cast(sum(plen) AS bigint)           AS byte_cnt,
       {r6('min(ts_us)/1e6')}              AS start_sec,
       {r6('max(ts_us)/1e6')}              AS end_sec,
       {r6('(max(ts_us) - min(ts_us))/1e6 + 0.0001')} AS duration,
       {r6('cast(sum(plen) AS double)/count(*)')}     AS avg_len,
       cast(count(*) FILTER (WHERE is_fwd) AS bigint) AS fwd_cnt
FROM sess GROUP BY conv_id, session_id
"""


def lag_lead_backfill_sql(dialect: str) -> str:
    """W2/W3: per-turn lag/lead/ffill/bfill features over the conv ordering."""
    return f"""
WITH {turns_cte(dialect)}
SELECT conv_id, turn_idx,
  lag(plen, 1)  OVER w AS plen_lag1,
  lead(plen, 1) OVER w AS plen_lead1,
  {r6('(ts_us - (lag(ts_us, 1) OVER w))/1e6')} AS gap_prev,
  {r6('((lead(ts_us, 1) OVER w) - ts_us)/1e6')} AS gap_next,
  {_ffill(dialect, 'CASE WHEN flags > 0 THEN flags END', 'conv_id')} AS flags_ffill,
  {_bfill(dialect, 'CASE WHEN flags > 0 THEN flags END', 'conv_id')} AS flags_bfill
FROM turns
WINDOW w AS (PARTITION BY conv_id ORDER BY ts_us, turn_idx)
"""


def cumulative_sql(dialect: str, gap_us: int = GAP_US) -> str:
    """W6: point-in-time running stats per turn (cumulative frame)."""
    cum = ("OVER (PARTITION BY conv_id, session_id ORDER BY ts_us, turn_idx "
           "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)")
    run_std = _std_from_exact(f"sum(plen) {cum}", f"sum(plen*plen) {cum}",
                              f"count(*) {cum}")
    return f"""
WITH {turns_cte(dialect)}, {sess_cte(gap_us)}
SELECT conv_id, session_id, turn_idx,
  cast(count(*) {cum} AS bigint)            AS run_n_turns,
  cast(sum(plen) {cum} AS bigint)           AS run_plen_sum,
  {r6(f'cast(sum(plen) {cum} AS double) / count(*) {cum}')} AS run_plen_mean,
  cast(min(plen) {cum} AS bigint)           AS run_plen_min,
  cast(max(plen) {cum} AS bigint)           AS run_plen_max,
  {r6(run_std)}                             AS run_plen_std,
  {r6(f'(ts_us - first_value(ts_us) {cum})/1e6')} AS run_elapsed_s
FROM sess
"""


def probes_cte() -> str:
    """Deterministic probe set derived from events: every 7th event of each
    user probes at its own ts — exact ties exercise strict-< semantics."""
    return """
probes AS (
  SELECT cast(user_id AS string) AS entity_id, ts AS probe_ts
  FROM (SELECT user_id, ts, row_number() OVER (PARTITION BY user_id
              ORDER BY ts, event_id) AS rn FROM events) e
  WHERE rn % 7 = 1
)"""


def feats_cte() -> str:
    """Compact per-session payload with availability at session end (µs)."""
    return f"""
feats AS (
  SELECT conv_id, session_id,
         max(ts_us)                           AS feat_us,
         cast(count(*) AS bigint)             AS n_turns,
         {r6('(max(ts_us) - min(ts_us))/1e6 + 0.0001')} AS duration,
         cast(sum(plen) AS bigint)            AS dpl_total_i
  FROM sess GROUP BY conv_id, session_id HAVING count(*) >= 2
)"""


def asof_sql(dialect: str, gap_us: int = GAP_US) -> str:
    """J1 oracle: DuckDB native ASOF JOIN (strict >) vs the engine's Spark
    union-and-window build — two genuinely independent implementations."""
    if dialect == "duckdb":
        return f"""
WITH {turns_cte(dialect)}, {sess_cte(gap_us)}, {feats_cte()}, {probes_cte()}
SELECT p.entity_id, p.probe_ts,
       f.session_id, f.n_turns, f.duration, f.dpl_total_i
FROM probes p ASOF LEFT JOIN feats f
  ON p.entity_id = f.conv_id AND {_epoch_us(dialect, 'p.probe_ts')} > f.feat_us
"""
    return f"""
WITH {turns_cte(dialect)}, {sess_cte(gap_us)}, {feats_cte()}, {probes_cte()},
tagged AS (
  SELECT conv_id AS entity_id, feat_us AS t_us, 1 AS side,
         named_struct('session_id', session_id, 'n_turns', n_turns,
                      'duration', duration, 'dpl_total_i', dpl_total_i) AS payload,
         cast(NULL AS timestamp_ntz) AS probe_ts
  FROM feats
  UNION ALL
  SELECT entity_id, {_epoch_us(dialect, 'probe_ts')} AS t_us, 0 AS side,
         NULL AS payload, probe_ts
  FROM probes
),
winp AS (
  SELECT *, last(payload, true) OVER (PARTITION BY entity_id ORDER BY t_us, side
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS attached
  FROM tagged
)
SELECT entity_id, probe_ts,
       attached.session_id AS session_id, attached.n_turns AS n_turns,
       attached.duration AS duration, attached.dpl_total_i AS dpl_total_i
FROM winp WHERE side = 0
"""


def asof_forward_sql(dialect: str, gap_us: int = GAP_US) -> str:
    """J1 reversed in time: attach the EARLIEST feature vector strictly AFTER
    each probe (the "next event" join — label-construction side of a training
    pipeline, where the probe asks what happens next). Same union-and-window
    build as the backward as-of, with the frame looking forward; identical
    template text in both dialects (only epoch extraction differs), so the
    result is hash-exact. Strictness at equal timestamps: features carry
    side=0 and probes side=1, so under ORDER BY (t_us, side) a feature at
    the SAME t sorts before the probe and lands outside the probe's
    1-FOLLOWING frame — only strictly-later features attach."""
    first_fwd = (
        "first_value(payload) IGNORE NULLS OVER "
        "(PARTITION BY entity_id ORDER BY t_us, side "
        "ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)"
        if dialect == "spark"
        else "first_value(payload IGNORE NULLS) OVER "
        "(PARTITION BY entity_id ORDER BY t_us, side "
        "ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)"
    )
    if dialect == "spark":
        payload = ("named_struct('session_id', session_id, 'n_turns', n_turns, "
                   "'duration', duration, 'dpl_total_i', dpl_total_i)")
        null_ts = "cast(NULL AS timestamp_ntz)"
        s_id = "attached.session_id"
        n_t = "attached.n_turns"
        dur = "attached.duration"
        dpl = "attached.dpl_total_i"
    else:
        payload = ("{'session_id': session_id, 'n_turns': n_turns, "
                   "'duration': duration, 'dpl_total_i': dpl_total_i}")
        null_ts = "cast(NULL AS timestamp)"
        s_id = "attached.session_id"
        n_t = "attached.n_turns"
        dur = "attached.duration"
        dpl = "attached.dpl_total_i"
    return f"""
WITH {turns_cte(dialect)}, {sess_cte(gap_us)}, {feats_cte()}, {probes_cte()},
tagged AS (
  -- features side=0, probes side=1: at equal t the feature sorts BEFORE the
  -- probe, outside its 1-FOLLOWING frame -> strict feature_ts > probe_ts
  SELECT conv_id AS entity_id, feat_us AS t_us, 0 AS side,
         {payload} AS payload, {null_ts} AS probe_ts
  FROM feats
  UNION ALL
  SELECT entity_id, {_epoch_us(dialect, 'probe_ts')} AS t_us, 1 AS side,
         NULL AS payload, probe_ts
  FROM probes
),
winp AS (
  SELECT *, {first_fwd} AS attached
  FROM tagged
)
SELECT entity_id, probe_ts,
       {s_id} AS session_id, {n_t} AS n_turns,
       {dur} AS duration, {dpl} AS dpl_total_i
FROM winp WHERE side = 1
"""


def asof_tolerance_sql(
    dialect: str, gap_us: int = GAP_US, tolerance_s: float = 21600.0
) -> str:
    """J1 + max-staleness: the as-of match nulls out when the matched feature
    is older than the tolerance (DuckDB oracle for the engine's
    tolerance_seconds option; the as-of match is the latest admissible
    feature, so a stale match implies no admissible feature exists)."""
    assert dialect == "duckdb", "spark side runs the engine API (asof_join_fast)"
    tol_us = int(round(tolerance_s * 1e6))
    return f"""
WITH {turns_cte(dialect)}, {sess_cte(gap_us)}, {feats_cte()}, {probes_cte()},
matched AS (
  SELECT p.entity_id, p.probe_ts, {_epoch_us(dialect, 'p.probe_ts')} AS probe_us,
         f.feat_us, f.session_id, f.n_turns, f.duration, f.dpl_total_i
  FROM probes p ASOF LEFT JOIN feats f
    ON p.entity_id = f.conv_id AND {_epoch_us(dialect, 'p.probe_ts')} > f.feat_us
)
SELECT entity_id, probe_ts,
       CASE WHEN probe_us - feat_us <= {tol_us} THEN session_id END AS session_id,
       CASE WHEN probe_us - feat_us <= {tol_us} THEN n_turns END    AS n_turns,
       CASE WHEN probe_us - feat_us <= {tol_us} THEN duration END   AS duration,
       CASE WHEN probe_us - feat_us <= {tol_us} THEN dpl_total_i END AS dpl_total_i
FROM matched
"""


# ---------------------------------------------------------------------------
# TPC-H-ish relational operator coverage (A2/A10/A11, J2/J3, W5).
# Same text in both dialects; money goes through DECIMAL(18,2) for exactness.
# ---------------------------------------------------------------------------

def tpch_q1_sql(dialect: str) -> str:
    return f"""
SELECT l_returnflag, l_linestatus,
       -- exact decimal accumulation, then ONE double conversion + r6 so the
       -- driver's value hash sees an identical representation in both engines
       -- (raw decimal output hash-mismatched on rendering in round 1)
       {r6('cast(sum(cast(l_quantity AS decimal(18,2))) AS double)')}      AS sum_qty,
       {r6('cast(sum(cast(l_extendedprice AS decimal(18,2))) AS double)')} AS sum_base_price,
       {r6('cast(sum(cast(l_quantity AS decimal(18,2))) AS double)/count(*)')} AS avg_qty,
       {r6('cast(sum(cast(l_discount AS decimal(18,2))) AS double)/count(*)')} AS avg_disc,
       cast(count(*) AS bigint) AS count_order
FROM lineitem
WHERE cast(l_shipdate AS date) <= date '1998-09-02'
GROUP BY l_returnflag, l_linestatus
"""


def broadcast_join_sql(dialect: str) -> str:
    """orders x customer x nation: broadcast-dim join + exact money agg."""
    return f"""
SELECT n.n_name, c.c_mktsegment,
       cast(count(*) AS bigint) AS order_cnt,
       {r6('cast(sum(cast(o.o_totalprice AS decimal(18,2))) AS double)')} AS revenue
FROM orders o
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n   ON c.c_nationkey = n.n_nationkey
GROUP BY n.n_name, c.c_mktsegment
"""


def semi_anti_sql(dialect: str) -> str:
    """Left-semi + left-anti coverage: customers split by order existence."""
    return """
SELECT c_mktsegment,
       cast(count(*) FILTER (WHERE has_order) AS bigint)     AS with_orders,
       cast(count(*) FILTER (WHERE NOT has_order) AS bigint) AS without_orders
FROM (
  SELECT c.c_mktsegment, (o.o_custkey IS NOT NULL) AS has_order
  FROM customer c
  LEFT JOIN (SELECT DISTINCT o_custkey FROM orders) o
    ON c.c_custkey = o.o_custkey
) t
GROUP BY c_mktsegment
"""


def distinct_count_sql(dialect: str) -> str:
    """A10: exact distinct counts (reference dst_sets, flow.py:508-510)."""
    return """
SELECT event_type,
       cast(count(DISTINCT user_id) AS bigint) AS n_users,
       cast(count(*) AS bigint)                AS n_events
FROM events
GROUP BY event_type
"""


def topk_per_group_sql(dialect: str) -> str:
    """W5: top-3 lineitems per suppkey bucket, deterministic tiebreak."""
    return """
SELECT suppgrp, l_orderkey, l_linenumber, l_extendedprice, rn
FROM (
  SELECT l_suppkey % 10 AS suppgrp, l_orderkey, l_linenumber, l_extendedprice,
         cast(row_number() OVER (PARTITION BY l_suppkey % 10
                            ORDER BY l_extendedprice DESC,
                                     l_orderkey, l_linenumber) AS int) AS rn
  FROM lineitem
) t WHERE rn <= 3
"""


def whole_table_flow_sql(dialect: str) -> str:
    """Degenerate 'pcap mode' grouping (reference get_flow_feature.py:35-57 /
    flow.py:484-522): the whole source is ONE flow; extra distinct-endpoint
    set (dst_sets -> distinct users) and a formatted start time (F5,
    flow_basic.py:135 strftime analog)."""
    if dialect == "spark":
        fmt = "date_format(min(ts), 'yyyy-MM-dd HH:mm:ss')"
    else:
        fmt = "strftime(min(ts), '%Y-%m-%d %H:%M:%S')"
    ep = _epoch_us(dialect)
    return f"""
SELECT 'events' AS source_tag,
       cast(count(DISTINCT user_id) AS bigint)      AS dst_sets,
       cast(count(*) AS bigint)                     AS dpnum,
       {r6(f'(max({ep}) - min({ep}))/1e6 + 0.0001')} AS duration,
       cast(sum(length(coalesce(props, ''))) AS bigint) AS dpl_total,
       {fmt}                                        AS start_time_str
FROM events
"""


def json_field_sql(dialect: str) -> str:
    """F9: structured-metadata field lookup (reference get_timestamp over TCP
    options assoc-list, flow_basic.py:78-86) — extract props.k per event."""
    if dialect == "spark":
        k = "get_json_object(props, '$.k')"
    else:
        k = "json_extract_string(props, '$.k')"
    return f"""
SELECT event_id, cast({k} AS bigint) AS k_value,
       cast(length(coalesce(props, '')) AS bigint) AS props_len
FROM events
"""


def training_set_sql(dialect: str, gap_us: int = GAP_US) -> str:
    """Feature-store training-set oracle: two independent feature groups
    attached point-in-time to the shared probe set — session features
    (feats_cte, available at session end) and per-conversation DAILY
    aggregates (available at the day's last turn). DuckDB's native chained
    ASOF LEFT JOIN (strict >) is the independent implementation the
    engine's carry-through union-and-window builder
    (featurestore.build_training_set) is graded against."""
    assert dialect == "duckdb", "oracle-only SQL; the engine side is the API"
    return f"""
WITH {turns_cte(dialect)}, {sess_cte(gap_us)}, {feats_cte()}, {probes_cte()},
dayfeats AS (
  SELECT conv_id,
         max(ts_us)                AS avail_us,
         cast(count(*) AS bigint)  AS n_day,
         cast(sum(win) AS bigint)  AS win_day
  FROM turns
  GROUP BY conv_id, cast(floor(ts_us / 86400000000.0) AS bigint)
)
SELECT p.entity_id, p.probe_ts,
       f.session_id   AS sess__session_id,
       f.n_turns      AS sess__n_turns,
       f.duration     AS sess__duration,
       f.dpl_total_i  AS sess__dpl_total_i,
       d.n_day        AS day__n_day,
       d.win_day      AS day__win_day
FROM probes p
ASOF LEFT JOIN feats f
  ON p.entity_id = f.conv_id AND {_epoch_us(dialect, 'p.probe_ts')} > f.feat_us
ASOF LEFT JOIN dayfeats d
  ON p.entity_id = d.conv_id AND {_epoch_us(dialect, 'p.probe_ts')} > d.avail_us
"""


def online_features_sql(dialect: str, gap_us: int = GAP_US) -> str:
    """featurestore.materialize_online oracle: the serving table must equal
    the global latest-session-per-conversation regardless of the order
    batches were materialized in (the staleness guard's contract). Session
    end timestamps within a conversation are strictly increasing, so the
    argmax is unique and no tie-break fires."""
    return f"""
WITH {turns_cte(dialect)}, {sess_cte(gap_us)}, {feats_cte()}
SELECT conv_id, session_id, feat_us, n_turns, duration, dpl_total_i
FROM (
  SELECT f.*, row_number() OVER (PARTITION BY conv_id
                                 ORDER BY feat_us DESC) AS rn
  FROM feats f
) t WHERE rn = 1
"""


def future_labels_sql(dialect: str, horizon_us: int = GAP_US) -> str:
    """featurestore.attach_future_labels oracle: per-turn strict-future
    window aggregate (ts, ts+horizon] — count and win-sum of the
    conversation's later turns. RANGE frame on int64 µs starting at
    1 FOLLOWING: the row's own microsecond is excluded (labels contain
    only the strict future), and rows sharing a microsecond see identical
    frames, so duplicate timestamps stay deterministic. Identical template
    text in both dialects — exact bigint domains, hash-exact."""
    return f"""
WITH {turns_cte(dialect)}
SELECT conv_id, turn_idx,
  cast(count(*) OVER w AS bigint)               AS label_n,
  cast(coalesce(sum(win) OVER w, 0) AS bigint)  AS label_sum
FROM turns
WINDOW w AS (PARTITION BY conv_id ORDER BY ts_us
             RANGE BETWEEN 1 FOLLOWING AND {horizon_us} FOLLOWING)
"""


def asof_running_vector_sql(dialect: str, gap_us: int = GAP_US) -> str:
    """J1 x W6: attach the latest PER-TURN running vector (not just the
    session-final one) to every probe — the north rule's point-in-time
    guarantee at turn granularity. DuckDB oracle uses native ASOF (strict >);
    the Spark side runs the engine's cumulative window + vectorized as-of."""
    cum = ("OVER (PARTITION BY conv_id, session_id ORDER BY ts_us, turn_idx "
           "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)")
    run_std = _std_from_exact(f"sum(plen) {cum}", f"sum(plen*plen) {cum}", f"count(*) {cum}")
    feats = f"""
runvec AS (
  SELECT conv_id, ts_us, turn_idx,
         cast(count(*) {cum} AS bigint)  AS run_n_turns,
         cast(sum(plen) {cum} AS bigint) AS run_plen_sum,
         {r6(run_std)}                   AS run_plen_std
  FROM sess
),
rv AS (
  -- at equal ts the later turn_idx row is the knowable state
  SELECT conv_id, ts_us, run_n_turns, run_plen_sum, run_plen_std
  FROM (SELECT *, row_number() OVER (PARTITION BY conv_id, ts_us
                                     ORDER BY turn_idx DESC) AS rn FROM runvec)
  WHERE rn = 1
)"""
    if dialect == "duckdb":
        return f"""
WITH {turns_cte(dialect)}, {sess_cte(gap_us)}, {feats}, {probes_cte()}
SELECT p.entity_id, p.probe_ts,
       f.run_n_turns, f.run_plen_sum, f.run_plen_std
FROM probes p ASOF LEFT JOIN rv f
  ON p.entity_id = f.conv_id AND {_epoch_us(dialect, 'p.probe_ts')} > f.ts_us
"""
    return f"""
WITH {turns_cte(dialect)}, {sess_cte(gap_us)}, {feats}, {probes_cte()},
tagged AS (
  SELECT conv_id AS entity_id, ts_us AS t_us, 1 AS side,
         named_struct('run_n_turns', run_n_turns, 'run_plen_sum', run_plen_sum,
                      'run_plen_std', run_plen_std) AS payload,
         cast(NULL AS timestamp_ntz) AS probe_ts
  FROM rv
  UNION ALL
  SELECT entity_id, {_epoch_us(dialect, 'probe_ts')}, 0, NULL, probe_ts FROM probes
),
winp AS (
  SELECT *, last(payload, true) OVER (PARTITION BY entity_id ORDER BY t_us, side
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS attached
  FROM tagged
)
SELECT entity_id, probe_ts,
       attached.run_n_turns AS run_n_turns,
       attached.run_plen_sum AS run_plen_sum,
       attached.run_plen_std AS run_plen_std
FROM winp WHERE side = 0
"""


def dedup_turns_sql(dialect: str) -> str:
    """W5 oracle: idempotent replay collapse. The input is the turns table
    unioned with a deterministic replayed subset (every 5th turn, as a
    restart would re-ingest); dedup keeps one row per (conv_id, turn_idx),
    earliest ts first."""
    return f"""
WITH {turns_cte(dialect)},
replayed AS (
  SELECT * FROM turns
  UNION ALL
  SELECT * FROM turns WHERE turn_idx % 5 = 0
),
ranked AS (
  SELECT conv_id, turn_idx, ts_us, plen,
         row_number() OVER (PARTITION BY conv_id, turn_idx
                            ORDER BY ts_us, plen) AS rn
  FROM replayed
)
SELECT conv_id, turn_idx, ts_us, plen
FROM ranked WHERE rn = 1
"""


def whole_turns_cte(dialect: str) -> str:
    """Degenerate pcap-mode turns: the WHOLE events table as one flow
    (reference get_pcap_feature_from_pcap, flow.py:484-522) — conv_id is a
    constant, turn ordering is global."""
    return f"""
turns AS (
  SELECT 'ALL'                                                     AS conv_id,
         cast(row_number() OVER (ORDER BY ts, event_id) AS int)    AS turn_idx,
         event_type                                                AS role,
         props                                                     AS text,
         ts,
         {_epoch_us(dialect)}                                      AS ts_us,
         (event_type = 'purchase')                                 AS is_fwd,
         cast(length(coalesce(props, '')) AS bigint)               AS plen,
         cast(floor(value) AS bigint)                              AS win,
         cast(cast(floor(value) AS bigint) % 256 AS int)           AS flags,
         cast(length(event_type) AS bigint)                        AS ihl
  FROM events
)"""


def per_source_turns_cte(dialect: str) -> str:
    """Turns keyed by SOURCE FILE basename (F10 — reference
    get_flow_feature.py:57 per-pcap identifier). The Spark engine side uses
    the real input_file_name() basename; the oracle exploits the testdata
    layout invariant (each table is exactly one file named <table>.parquet at
    every sf) and emits the literal — the filename mechanics themselves are
    pinned by the multi-shard pytest (test_per_source_grouping_multi_file)."""
    if dialect == "spark":
        src = "element_at(split(input_file_name(), '/'), -1)"
    else:
        src = "'events.parquet'"
    from_clause = "events"
    return f"""
turns AS (
  SELECT {src}                                                     AS conv_id,
         cast(row_number() OVER (PARTITION BY {src}
                                 ORDER BY ts, event_id) AS int)    AS turn_idx,
         event_type                                                AS role,
         props                                                     AS text,
         ts,
         {_epoch_us(dialect)}                                      AS ts_us,
         (event_type = 'purchase')                                 AS is_fwd,
         cast(length(coalesce(props, '')) AS bigint)               AS plen,
         cast(floor(value) AS bigint)                              AS win,
         cast(cast(floor(value) AS bigint) % 256 AS int)           AS flags,
         cast(length(event_type) AS bigint)                        AS ihl
  FROM {from_clause}
)"""


def per_source_features_sql(dialect: str) -> str:
    """F10: the whole-file 72-vector PER SOURCE FILE — pcap-mode grouping at
    shard granularity ([source, n_turns] + features). One session per file
    (gap larger than any dataset)."""
    huge_gap = 10**15
    base = feature_vector_sql(dialect, gap_us=huge_gap)
    base = base.replace(turns_cte(dialect), per_source_turns_cte(dialect), 1)
    from flow_feature_spark.schema import FEATURE_NAMES

    return f"""
WITH flow AS ({base})
SELECT conv_id AS source, session_id, cast(n_turns AS bigint) AS n_turns,
       {', '.join(FEATURE_NAMES)}
FROM flow
"""


def proto_tag_sql(dialect: str) -> str:
    """P2: explicit two-protocol classify-then-filter (flow_basic.py:113-124
    proto 6->TCP / 17->UDP, other protocols dropped), aggregated per tag."""
    return """
SELECT proto,
       cast(count(*) AS bigint)                AS n_events,
       cast(count(DISTINCT user_id) AS bigint) AS n_users,
       cast(sum(length(coalesce(props, ''))) AS bigint) AS bytes_total
FROM (
  SELECT *, CASE WHEN event_type = 'purchase' THEN 'TCP'
                 WHEN event_type IN ('view', 'click') THEN 'UDP'
                 END AS proto
  FROM events
) t
WHERE proto IN ('TCP', 'UDP')
GROUP BY proto
"""


def rolling_features_sql(dialect: str, gap_us: int = GAP_US, k: int = 8) -> str:
    """Bounded-frame rolling stats per turn (W-family extension): moving
    count/sum/mean/min/max of plen over the trailing ``k`` turns of the
    session. Exact domains: bigint sum over the frame, one double conversion
    for the mean. Mirrors windows.rolling_turn_features."""
    frame = (f"OVER (PARTITION BY conv_id, session_id ORDER BY ts_us, turn_idx "
             f"ROWS BETWEEN {k - 1} PRECEDING AND CURRENT ROW)")
    return f"""
WITH {turns_cte(dialect)}, {sess_cte(gap_us)}
SELECT conv_id, session_id, turn_idx,
  cast(count(*) {frame} AS bigint)  AS roll_cnt,
  cast(sum(plen) {frame} AS bigint) AS roll_sum,
  {r6(f'cast(sum(plen) {frame} AS double) / count(*) {frame}')} AS roll_mean,
  cast(min(plen) {frame} AS bigint) AS roll_min,
  cast(max(plen) {frame} AS bigint) AS roll_max
FROM sess
"""


def interval_join_sql(dialect: str, gap_us: int = GAP_US) -> str:
    """Range/interval-join oracle: every probe paired with the session whose
    [min_us, max_us] interval contains it (same conversation). The Spark side
    runs rangejoin.interval_join_bucketed — the time-bucket decomposition —
    so this plain non-equi join is a genuinely independent implementation."""
    return f"""
WITH {turns_cte(dialect)}, {sess_cte(gap_us)}, {probes_cte()},
iv AS (
  SELECT conv_id, session_id,
         min(ts_us) AS start_us, max(ts_us) AS end_us,
         cast(count(*) AS bigint) AS n_turns
  FROM sess GROUP BY conv_id, session_id
)
SELECT p.entity_id, p.probe_ts, iv.session_id, iv.n_turns,
       {r6(f"({_epoch_us(dialect, 'p.probe_ts')} - iv.start_us)/1e6")} AS into_session_s
FROM probes p
JOIN iv ON p.entity_id = iv.conv_id
       AND {_epoch_us(dialect, 'p.probe_ts')} BETWEEN iv.start_us AND iv.end_us
"""


def overlap_join_sql(dialect: str, gap_us: int = GAP_US) -> str:
    """Interval x interval overlap oracle: cross-conversation session pairs
    that ran concurrently, with the overlap length. Plain non-equi self-join
    (quadratic — oracle scale only); the Spark side runs
    rangejoin.overlap_join_bucketed (responsibility-rule dedup)."""
    return f"""
WITH {turns_cte(dialect)}, {sess_cte(gap_us)},
iv AS (
  SELECT conv_id, session_id,
         min(ts_us) AS start_us, max(ts_us) AS end_us
  FROM sess GROUP BY conv_id, session_id
)
SELECT a.conv_id AS conv_a, a.session_id AS session_a,
       b.conv_id AS conv_b, b.session_id AS session_b,
       {r6('(least(a.end_us, b.end_us) - greatest(a.start_us, b.start_us))/1e6')} AS overlap_s
FROM iv a JOIN iv b
  ON a.conv_id < b.conv_id
 AND a.start_us <= b.end_us AND b.start_us <= a.end_us
"""


def time_rollup_sql(dialect: str) -> str:
    """Hypertable-style multi-granularity rollup: ROLLUP(day, hour) emits the
    hourly, daily and grand-total aggregate rows in one pass. The level tag is
    derived from the null markers (ts is never null, so a null bucket can only
    be a rollup subtotal). Counts/sums stay in exact integer domains."""
    return """
SELECT CASE WHEN bucket_day IS NULL THEN 'all'
            WHEN bucket_hour IS NULL THEN 'day' ELSE 'hour' END AS lvl,
       bucket_day, bucket_hour,
       cast(count(*) AS bigint)                         AS n_events,
       cast(sum(length(coalesce(props, ''))) AS bigint) AS bytes_total,
       cast(count(DISTINCT user_id) AS bigint)          AS n_users
FROM (
  SELECT cast(date_trunc('day', ts) AS timestamp) AS bucket_day,
         cast(hour(ts) AS int)                    AS bucket_hour,
         user_id, props
  FROM events
) t
GROUP BY ROLLUP (bucket_day, bucket_hour)
"""


def time_cube_sql(dialect: str) -> str:
    """CUBE variant of the rollup: all four grouping combinations, including
    the hour-of-day MARGINAL (activity-by-hour across all days — the
    diurnal profile ROLLUP cannot produce). Same null-marker level tagging;
    identical template text in both dialects."""
    return """
SELECT CASE WHEN bucket_day IS NULL AND bucket_hour IS NULL THEN 'all'
            WHEN bucket_day IS NULL THEN 'hour_of_day'
            WHEN bucket_hour IS NULL THEN 'day' ELSE 'day_hour' END AS lvl,
       bucket_day, bucket_hour,
       cast(count(*) AS bigint)                         AS n_events,
       cast(sum(length(coalesce(props, ''))) AS bigint) AS bytes_total
FROM (
  SELECT cast(date_trunc('day', ts) AS timestamp) AS bucket_day,
         cast(hour(ts) AS int)                    AS bucket_hour,
         props
  FROM events
) t
GROUP BY CUBE (bucket_day, bucket_hour)
"""


def gap_percentiles_sql(dialect: str, gap_us: int = GAP_US) -> str:
    """Per-session exact gap percentiles (p50/p90/p99) via deterministic
    linear interpolation written out identically in both dialects: rank the
    gaps, pick the floor/ceil neighbors of (n-1)*p, interpolate in double.
    This sidesteps engine-internal percentile implementations (whose float-op
    order differs) — identical expression text over exact bigint gaps gives
    bit-identical doubles. Matches numpy.percentile(linear) semantics,
    asserted in tests against F.percentile."""
    pcts = (("p50", "0.5"), ("p90", "0.9"), ("p99", "0.99"))
    agg_terms, fin_terms = [], []
    for name, p in pcts:
        lo = f"cast(floor((n-1)*{p}) AS bigint)"
        agg_terms.append(
            f"max(CASE WHEN rk = {lo} THEN gap_us END) AS lo_{name},\n"
            f"    max(CASE WHEN rk = least({lo} + 1, n - 1) THEN gap_us END) AS hi_{name}"
        )
        interp = (f"(cast(lo_{name} AS double) + "
                  f"(cast(hi_{name} AS double) - cast(lo_{name} AS double)) * "
                  f"((n-1)*{p} - floor((n-1)*{p})))")
        fin_terms.append(f"{r6(f'{interp}/1e6')} AS gap_{name}_s")
    return f"""
WITH {turns_cte(dialect)}, {sess_cte(gap_us)},
g AS (
  SELECT conv_id, session_id,
         ts_us - lag(ts_us) OVER (PARTITION BY conv_id, session_id
                                  ORDER BY ts_us, turn_idx) AS gap_us
  FROM sess
),
r AS (
  SELECT conv_id, session_id, gap_us,
         cast(row_number() OVER (PARTITION BY conv_id, session_id
                                 ORDER BY gap_us) AS bigint) - 1 AS rk,
         cast(count(*) OVER (PARTITION BY conv_id, session_id) AS bigint) AS n
  FROM g WHERE gap_us IS NOT NULL
),
agg AS (
  SELECT conv_id, session_id, min(n) AS n,
    {(",".join(chr(10) + "    " + t for t in agg_terms)).lstrip()}
  FROM r GROUP BY conv_id, session_id
)
SELECT conv_id, session_id, cast(n AS bigint) AS n_gaps,
  {",".join(chr(10) + "  " + t for t in fin_terms).lstrip()}
FROM agg
"""


PIVOT_VALUES = ("purchase", "view", "click")


def tool_pivot_sql(dialect: str) -> str:
    """Long->wide pivot oracle: per-user counts per event_type as columns
    (mirrors rollup.pivot_counts, which emits the same SUM(CASE)-per-category
    conditional aggregate — one scan, one shuffle on both engines)."""
    cols = ",\n       ".join(
        f"cast(count(*) FILTER (WHERE event_type = '{v}') AS bigint) AS n_{v}"
        for v in PIVOT_VALUES
    )
    return f"""
SELECT user_id,
       {cols},
       cast(count(*) AS bigint) AS n_total
FROM events
GROUP BY user_id
"""


def rank_binning_sql(dialect: str, gap_us: int = GAP_US, n_bins: int = 4) -> str:
    """Rank-based discretization per session (feature binning): ntile
    quartile, percent_rank and cume_dist of plen under a TOTAL order
    (plen, ts_us, turn_idx) — the full tiebreak is what makes all three
    deterministic and therefore cross-engine hash-exact."""
    w = ("OVER (PARTITION BY conv_id, session_id "
         "ORDER BY plen, ts_us, turn_idx)")
    return f"""
WITH {turns_cte(dialect)}, {sess_cte(gap_us)}
SELECT conv_id, session_id, turn_idx, plen,
  cast(ntile({n_bins}) {w} AS int) AS plen_bin,
  {r6(f'percent_rank() {w}')}      AS plen_prank,
  {r6(f'cume_dist() {w}')}         AS plen_cdist
FROM sess
"""


PROFILE_COLS: tuple[tuple[str, str], ...] = (
    # (column, kind): numeric columns profile min/max in double (r6), string
    # columns in lexicographic string space, timestamps via exact epoch-µs
    ("event_id", "num"),
    ("user_id", "num"),
    ("ts", "ts"),
    ("event_type", "str"),
    ("props", "str"),
    ("value", "num"),
)


def table_profile_sql(dialect: str) -> str:
    """Ingest-QA table profiler: one row per column with count, null count,
    exact distinct count, and typed min/max — the schema-sanity pass a
    training pipeline runs before anything else. UNION ALL of per-column
    aggregates over ONE scan per branch (Catalyst collapses the shared scan;
    at 100 TB this is the shape you want anyway — each branch is a partial
    agg, no shuffle of raw rows). Doubles go through r6 after exact
    accumulation; timestamps through exact epoch-µs."""
    parts = []
    for col, kind in PROFILE_COLS:
        if kind == "num":
            mn = f"{r6(f'cast(min({col}) AS double)')}"
            mx = f"{r6(f'cast(max({col}) AS double)')}"
        elif kind == "ts":
            mn = f"cast(min({_epoch_us(dialect, col)}) AS double)/1e6"
            mx = f"cast(max({_epoch_us(dialect, col)}) AS double)/1e6"
        else:
            mn, mx = "cast(NULL AS double)", "cast(NULL AS double)"
        if kind == "str":
            smn, smx = f"min({col})", f"max({col})"
        else:
            smn, smx = "cast(NULL AS string)", "cast(NULL AS string)"
        if dialect == "duckdb":
            smn = smn.replace(" AS string", " AS VARCHAR")
            smx = smx.replace(" AS string", " AS VARCHAR")
        parts.append(f"""
  SELECT '{col}' AS col,
         cast(count(*) AS bigint) AS n,
         cast(count(*) - count({col}) AS bigint) AS n_null,
         cast(count(DISTINCT {col}) AS bigint) AS n_distinct,
         {mn} AS min_num, {mx} AS max_num,
         {smn} AS min_str, {smx} AS max_str
  FROM events""")
    return "\nUNION ALL\n".join(parts)


def zscore_sql(dialect: str, gap_us: int = GAP_US) -> str:
    """Per-session z-score feature scaling: z = (x - mean)/std_pop over the
    session population, std from exact integer sums (one double conversion),
    std = 0 -> z = 0. The normalization step of a feature pipeline, written
    as one window pass (no second scan for the moments)."""
    w = "OVER (PARTITION BY conv_id, session_id)"
    mean = f"(cast(sum(plen) {w} AS double) / count(*) {w})"
    var = (f"greatest(cast(sum(plen*plen) {w} AS double) / count(*) {w}"
           f" - {mean}*{mean}, 0.0)")
    return f"""
WITH {turns_cte(dialect)}, {sess_cte(gap_us)}
SELECT conv_id, session_id, turn_idx, plen,
  CASE WHEN sqrt({var}) = 0.0 THEN 0.0
       ELSE {r6(f'(plen - {mean}) / sqrt({var})')} END AS plen_z
FROM sess
"""


def whole_table_features_sql(dialect: str) -> str:
    """pcap-mode full 72-vector: one row for the whole table, plus the
    distinct-endpoint count (dst_sets analog). Same exact-domain machinery as
    feature_vector_sql; a gap larger than any dataset keeps one session.

    The single-partition window ("No Partition Defined" warning) is this
    operator's SEMANTIC, not a plan defect: the reference's pcap mode
    (get_flow_feature.py) computes ONE flow over the whole capture, so the
    lag-based gap features are an ordered pass over one logical flow. At
    scale that decomposes exactly like a hot conversation does — run the
    bucketized sessionizer path (assign_sessions_bucketed + the exact-SQL
    kernel), which computes the same lag/gap features with two bounded
    passes and no single-partition shuffle."""
    huge_gap = 10**15  # µs — no session splits
    base = feature_vector_sql(dialect, gap_us=huge_gap)
    # swap the per-conv turns CTE for the whole-table one and attach dst_sets
    base = base.replace(turns_cte(dialect), whole_turns_cte(dialect), 1)
    return f"""
WITH flow AS ({base}),
dst AS (SELECT cast(count(DISTINCT user_id) AS bigint) AS dst_sets FROM events)
SELECT dst.dst_sets, flow.* FROM flow CROSS JOIN dst
"""


FUNNEL_STEPS = ("view", "click", "purchase")


def funnel_sql(dialect: str, steps: tuple[str, ...] = FUNNEL_STEPS,
               max_gap_us: int | None = None) -> str:
    """Ordered-funnel reach oracle (mirrors analytics.funnel_counts): step
    i+1's first-qualifying ts is a full-partition window min over events
    strictly after (and within ``max_gap_us`` of) step i's — k chained
    window CTEs, one exchange on the engine side."""
    ctes = [f"f0 AS (SELECT user_id AS u, event_type AS et, "
            f"{_epoch_us(dialect)} AS ts_us FROM events)"]
    for i, step in enumerate(steps):
        after = f" AND ts_us > t{i-1}" if i > 0 else ""
        if i > 0 and max_gap_us is not None:
            after += f" AND ts_us <= t{i-1} + {max_gap_us}"
        ctes.append(
            f"f{i+1} AS (SELECT *, min(CASE WHEN et = '{step}'{after} "
            f"THEN ts_us END) OVER (PARTITION BY u) AS t{i} FROM f{i})"
        )
    tcols = ", ".join(f"max(t{i}) AS t{i}" for i in range(len(steps)))
    ncols = ", ".join(
        f"cast(count(t{i}) AS bigint) AS n{i}" for i in range(len(steps))
    )
    ctes.append(f"pu AS (SELECT u, {tcols} FROM f{len(steps)} GROUP BY u)")
    ctes.append(f"c AS (SELECT {ncols} FROM pu)")
    selects = []
    for i, step in enumerate(steps):
        rate = ("cast(1.0 AS double)" if i == 0 else
                r6(f"cast(n{i} AS double)/cast(greatest(n{i-1}, 1) AS double)"))
        selects.append(
            f"SELECT cast({i} AS int) AS step_idx, '{step}' AS step, "
            f"n{i} AS n_users, cast({rate} AS double) AS conv_rate FROM c"
        )
    return "WITH " + ",\n".join(ctes) + "\n" + "\nUNION ALL ".join(selects)


def funnel_reanchored_sql(dialect: str, steps: tuple[str, ...] = FUNNEL_STEPS,
                          win_us: int | None = 86_400_000_000) -> str:
    """Any-anchor funnel oracle (mirrors analytics.funnel_reanchored): per
    step, a probe/event UNION + forward window min (ORDER BY ts with events
    before probes on ties -> strictly-after), anchors surviving while the
    greedy chain stays within the per-anchor conversion window. The same
    formulation the engine runs, in portable SQL."""
    ctes = [f"ev AS (SELECT user_id AS u, event_type AS et, "
            f"{_epoch_us(dialect)} AS ts_us FROM events)",
            f"s0 AS (SELECT u, ts_us AS a, ts_us AS cur FROM ev "
            f"WHERE et = '{steps[0]}')"]
    for i, step in enumerate(steps[1:], start=1):
        ctes.append(
            f"u{i} AS (SELECT u, cur AS ord_ts, a, CAST(NULL AS BIGINT) "
            f"AS ev, 1 AS tag FROM s{i-1} UNION ALL "
            f"SELECT u, ts_us, CAST(NULL AS BIGINT), ts_us, 0 FROM ev "
            f"WHERE et = '{step}')"
        )
        ctes.append(
            f"w{i} AS (SELECT u, a, tag, min(ev) OVER (PARTITION BY u "
            f"ORDER BY ord_ts, tag ROWS BETWEEN CURRENT ROW AND UNBOUNDED "
            f"FOLLOWING) AS nxt FROM u{i})"
        )
        dl = f" AND nxt <= a + {win_us}" if win_us is not None else ""
        ctes.append(
            f"s{i} AS (SELECT u, a, nxt AS cur FROM w{i} "
            f"WHERE tag = 1 AND nxt IS NOT NULL{dl})"
        )
    ncols = ", ".join(
        f"(SELECT cast(count(DISTINCT u) AS bigint) FROM s{i}) AS n{i}"
        for i in range(len(steps))
    )
    ctes.append(f"c AS (SELECT {ncols})")
    selects = []
    for i, step in enumerate(steps):
        rate = ("cast(1.0 AS double)" if i == 0 else
                r6(f"cast(n{i} AS double)/cast(greatest(n{i-1}, 1) AS double)"))
        selects.append(
            f"SELECT cast({i} AS int) AS step_idx, '{step}' AS step, "
            f"n{i} AS n_users, cast({rate} AS double) AS conv_rate FROM c"
        )
    return "WITH " + ",\n".join(ctes) + "\n" + "\nUNION ALL ".join(selects)


def cohort_retention_sql(dialect: str) -> str:
    """Cohort retention oracle (mirrors analytics.cohort_retention);
    cohort_day emitted as timestamp for cross-engine hash stability."""
    if dialect == "spark":
        day = "to_date(cast(ts AS timestamp))"
        diff = "datediff(day, cohort_day)"
    else:
        day = "cast(ts AS date)"
        diff = "datediff('day', cohort_day, day)"
    return f"""
WITH d AS (SELECT user_id AS u, {day} AS day FROM events),
w AS (SELECT u, day, min(day) OVER (PARTITION BY u) AS cohort_day FROM d)
SELECT cast(cohort_day AS timestamp) AS cohort_ts,
       cast({diff} AS int)           AS day_offset,
       cast(count(DISTINCT u) AS bigint) AS n_users
FROM w
GROUP BY cohort_day, {diff}
"""


def transition_counts_sql(dialect: str) -> str:
    """Markov transition-matrix oracle (mirrors analytics.transition_counts
    with normalize=True; (ts, event_id) ordering): lag window + vocabulary-
    sized aggregate; p from exact bigint row sums -> bit-stable r6."""
    return f"""
WITH s AS (
  SELECT user_id AS g, event_type AS t, {_epoch_us(dialect)} AS ts_us, event_id
  FROM events
),
l AS (
  SELECT t, lag(t) OVER (PARTITION BY g ORDER BY ts_us, event_id) AS prev
  FROM s
)
SELECT prev AS from_type, t AS to_type,
       cast(count(*) AS bigint) AS n_transitions,
       cast({r6('cast(count(*) AS double) / cast(sum(count(*)) OVER (PARTITION BY prev) AS double)')} AS double) AS p
FROM l WHERE prev IS NOT NULL
GROUP BY prev, t
"""


def histogram_drift_sql(
    dialect: str,
    value_sql: str = "length(coalesce(props, ''))",
    split_sql: str = "event_id % 2 = 0",
    n_bins: int = 16,
    lo: float = 0.0,
    hi: float = 160.0,
) -> str:
    """Histogram-drift oracle (mirrors analytics.histogram_drift): fixed-width
    bins + under/overflow, Pearson chi-square contribution per bin — purely
    rational arithmetic (no logs), so r6 is cross-engine exact."""
    width = (hi - lo) / n_bins
    e = "(cast(n_ref AS double) * tot_cur / tot_ref)"
    term = r6(f"(cast(n_cur AS double) - {e}) * (cast(n_cur AS double) - {e}) / {e}")
    return f"""
WITH b AS (
  SELECT ({split_sql}) AS is_ref,
         CASE WHEN ({value_sql}) IS NULL THEN NULL
              ELSE cast(least(greatest(floor((cast({value_sql} AS double) - {lo!r}) / {width!r}), -1), {n_bins}) AS int)
         END AS bin_idx
  FROM events
),
h AS (
  SELECT bin_idx,
         cast(count(*) FILTER (WHERE is_ref) AS bigint)     AS n_ref,
         cast(count(*) FILTER (WHERE NOT is_ref) AS bigint) AS n_cur
  FROM b GROUP BY bin_idx
),
t AS (
  SELECT *, cast(sum(n_ref) OVER () AS double) AS tot_ref,
            cast(sum(n_cur) OVER () AS double) AS tot_cur
  FROM h
)
SELECT bin_idx, n_ref, n_cur,
       cast(CASE WHEN n_ref > 0 THEN {term} END AS double) AS chi2_term
FROM t
"""


def hopping_window_sql(
    dialect: str,
    size_us: int = 21_600_000_000,
    slide_us: int = 7_200_000_000,
) -> str:
    """Hopping-window oracle (mirrors rollup.hopping_window_counts): each
    event replicated into its size/slide slide-aligned windows by integer
    arithmetic — window start = slide * (floor(ts_us/slide) - i)."""
    n = size_us // slide_us
    assert size_us % slide_us == 0, "slide must divide size"
    if dialect == "spark":
        gen = f"LATERAL VIEW explode(sequence(0, {n - 1})) _t AS i"
        frm = f"FROM events {gen}"
    else:
        frm = f"FROM events CROSS JOIN (SELECT unnest(range(0, {n})) AS i) _t"
    return f"""
WITH h AS (
  SELECT {slide_us} * (cast(floor({_epoch_us(dialect)} / {slide_us}) AS bigint) - i) AS ws_us,
         user_id,
         cast(length(coalesce(props, '')) AS bigint) AS b
  {frm}
)
SELECT ws_us                          AS win_start_us,
       ws_us + {size_us}              AS win_end_us,
       cast(count(*) AS bigint)       AS n_events,
       cast(count(DISTINCT user_id) AS bigint) AS n_users,
       cast(sum(b) AS bigint)         AS bytes_total
FROM h GROUP BY ws_us
"""


RESAMPLE_BUCKET_US = 21_600_000_000  # 6 h — a few hundred grid rows per user


def resample_sql(dialect: str, bucket_us: int = RESAMPLE_BUCKET_US) -> str:
    """Dense-grid resample oracle (mirrors timeseries.resample_counts over
    events): absolute-aligned buckets, zero-filled counts/byte sums, and the
    forward-filled last `value` (per-bucket last by (ts, event_id), then
    IGNORE NULLS last_value over the dense grid)."""
    ts = _epoch_us(dialect)
    if dialect == "spark":
        gen = "LATERAL VIEW explode(sequence(lo, hi)) _t AS bucket_idx"
        grid = f"SELECT user_id, bucket_idx FROM span {gen}"
    else:
        grid = ("SELECT user_id, unnest(generate_series(lo, hi)) AS bucket_idx "
                "FROM span")
    return f"""
WITH e AS (
  SELECT user_id,
         {ts} AS ts_us,
         cast(floor({ts} / {bucket_us}) AS bigint) AS bucket_idx,
         cast(length(coalesce(props, '')) AS bigint) AS b,
         value, event_id
  FROM events
),
pb AS (
  SELECT user_id, bucket_idx,
         cast(count(*) AS bigint) AS n_events,
         cast(sum(b) AS bigint)   AS sum_bytes
  FROM e GROUP BY user_id, bucket_idx
),
bl AS (  -- per-bucket last observed value: max by (ts_us, event_id)
  SELECT user_id, bucket_idx, value AS bucket_last
  FROM (
    SELECT user_id, bucket_idx, value,
           row_number() OVER (PARTITION BY user_id, bucket_idx
                              ORDER BY ts_us DESC, event_id DESC) AS rn
    FROM e
  ) r WHERE rn = 1
),
span AS (
  SELECT user_id, min(bucket_idx) AS lo, max(bucket_idx) AS hi
  FROM e GROUP BY user_id
),
grid AS ({grid})
SELECT g.user_id,
       g.bucket_idx,
       cast(g.bucket_idx * {bucket_us} AS bigint)   AS bucket_start_us,
       cast(coalesce(pb.n_events, 0) AS bigint)     AS n_events,
       cast(coalesce(pb.sum_bytes, 0) AS bigint)    AS sum_bytes,
       last_value(bl.bucket_last IGNORE NULLS) OVER (
         PARTITION BY g.user_id ORDER BY g.bucket_idx
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value_ffill
FROM grid g
LEFT JOIN pb ON pb.user_id = g.user_id AND pb.bucket_idx = g.bucket_idx
LEFT JOIN bl ON bl.user_id = g.user_id AND bl.bucket_idx = g.bucket_idx
"""


def decayed_sql(
    dialect: str,
    bucket_us: int = RESAMPLE_BUCKET_US,
    lookback: int = 20,
) -> str:
    """Half-life decayed counts oracle (mirrors timeseries.decayed_counts on
    the resample grid): integer numerator sum_j c_{b-j} * 2^(K-j) via K+1
    lag terms, ONE double divide by 2^K (dyadic-exact)."""
    ts = _epoch_us(dialect)
    if dialect == "spark":
        gen = "LATERAL VIEW explode(sequence(lo, hi)) _t AS bucket_idx"
        grid = f"SELECT user_id, bucket_idx FROM span {gen}"
    else:
        grid = ("SELECT user_id, unnest(generate_series(lo, hi)) AS bucket_idx "
                "FROM span")
    terms = " + ".join(
        f"coalesce(lag(n_events, {j}) OVER w, 0) * {1 << (lookback - j)}"
        for j in range(lookback + 1)
    )
    return f"""
WITH e AS (
  SELECT user_id, cast(floor({ts} / {bucket_us}) AS bigint) AS bucket_idx
  FROM events
),
pb AS (
  SELECT user_id, bucket_idx, cast(count(*) AS bigint) AS n_events
  FROM e GROUP BY user_id, bucket_idx
),
span AS (
  SELECT user_id, min(bucket_idx) AS lo, max(bucket_idx) AS hi
  FROM e GROUP BY user_id
),
grid AS ({grid}),
dense AS (
  SELECT g.user_id, g.bucket_idx,
         cast(coalesce(pb.n_events, 0) AS bigint) AS n_events
  FROM grid g
  LEFT JOIN pb ON pb.user_id = g.user_id AND pb.bucket_idx = g.bucket_idx
)
SELECT user_id,
       bucket_idx,
       cast(bucket_idx * {bucket_us} AS bigint) AS bucket_start_us,
       n_events,
       cast({terms} AS bigint) AS decayed_num,
       cast(cast({terms} AS bigint) AS double) / {float(1 << lookback)!r} AS decayed
FROM dense
WINDOW w AS (PARTITION BY user_id ORDER BY bucket_idx)
"""


def merge_intervals_sql(dialect: str) -> str:
    """Interval-coalescing oracle (mirrors intervals.merge_intervals over
    per-user event activity intervals [ts, ts + floor(value) seconds]):
    running-max-end island detection, closed-interval touching merge."""
    ts = _epoch_us(dialect)
    return f"""
WITH iv AS (
  SELECT user_id,
         {ts} AS start_us,
         {ts} + cast(floor(value) AS bigint) * 1000000 AS end_us
  FROM events
),
flagged AS (
  SELECT user_id, start_us, end_us,
         CASE WHEN max(end_us) OVER (
                PARTITION BY user_id ORDER BY start_us, end_us
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
              ) >= start_us THEN 0 ELSE 1 END AS is_new
  FROM iv
),
labeled AS (
  SELECT user_id, start_us, end_us,
         sum(is_new) OVER (
           PARTITION BY user_id ORDER BY start_us, end_us
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island_id
  FROM flagged
)
SELECT user_id,
       cast(island_id AS bigint)      AS island_id,
       cast(min(start_us) AS bigint)  AS start_us,
       cast(max(end_us) AS bigint)    AS end_us,
       cast(count(*) AS bigint)       AS n_intervals,
       cast(sum(end_us - start_us) AS bigint) AS len_sum_us
FROM labeled
GROUP BY user_id, island_id
"""


def scd2_sql(dialect: str) -> str:
    """SCD2 dimension-history oracle (mirrors featurestore.build_scd2 over
    the per-user value tier floor(value/100)): null-safe change detection,
    run compression, half-open validity with NULL open end."""
    ts = _epoch_us(dialect)
    neq = "IS DISTINCT FROM"
    return f"""
WITH cl AS (
  SELECT user_id,
         {ts} AS ts_us,
         cast(floor(value / 100) AS bigint) AS tier,
         event_id
  FROM events
),
flagged AS (
  SELECT user_id, ts_us, tier, event_id,
         CASE WHEN row_number() OVER w = 1
                OR tier {neq} lag(tier) OVER w
              THEN 1 ELSE 0 END AS is_start
  FROM cl
  WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)
),
runs AS (
  SELECT user_id, tier, ts_us AS valid_from_us, event_id
  FROM flagged WHERE is_start = 1
)
SELECT user_id, tier,
       cast(valid_from_us AS bigint) AS valid_from_us,
       cast(lead(valid_from_us) OVER (
         PARTITION BY user_id ORDER BY valid_from_us, event_id
       ) AS bigint) AS valid_to_us
FROM runs
"""


def melt_long_sql(dialect: str) -> str:
    """Wide->long melt oracle: the pivot oracle's wide frame unpivoted back
    to (user_id, category, n) via UNION ALL — the literal definition of the
    melt rollup.unpivot_counts performs with one Expand."""
    wide = tool_pivot_sql(dialect).strip().rstrip()
    cols = [f"n_{v}" for v in PIVOT_VALUES] + ["n_total"]
    arms = "\nUNION ALL\n".join(
        f"SELECT user_id, '{c}' AS category, {c} AS n FROM w" for c in cols
    )
    return f"WITH w AS (\n{wide}\n)\n{arms}"


def scd2_attach_sql(dialect: str) -> str:
    """Point-in-time SCD2 attach oracle: every event probes the tier
    history at its own timestamp via DuckDB's native ASOF LEFT JOIN (an
    independent implementation of featurestore.attach_scd2's union-window
    formulation). Inclusive at valid_from (>=), NULLs before the first run."""
    ts = _epoch_us(dialect)
    return f"""
WITH p AS (
  SELECT user_id, {ts} AS t_us, event_id FROM events
)
SELECT p.user_id,
       p.event_id,
       cast(p.t_us AS bigint)          AS t_us,
       d.tier,
       d.valid_from_us
FROM p
ASOF LEFT JOIN ({scd2_sql(dialect)}) d
  ON p.user_id = d.user_id AND p.t_us >= d.valid_from_us
"""


def mad_outliers_sql(dialect: str, k: float = 3.0) -> str:
    """Robust MAD outlier oracle (mirrors analytics.mad_outlier_flags over
    events.value per user): exact interpolated median and MAD with the
    gap_percentiles neighbor-pick recipe, flag = |v - med| > k * mad on the
    raw doubles, emitted stats r6-rounded."""
    def med_cte(src: str, val: str, rk: str, out: str) -> str:
        lo = "cast(floor((n-1)*0.5) AS bigint)"
        return f"""
{rk} AS (
  SELECT *, cast(row_number() OVER (PARTITION BY user_id ORDER BY {val})
                 AS bigint) - 1 AS rk,
         cast(count(*) OVER (PARTITION BY user_id) AS bigint) AS n
  FROM {src}
),
{out} AS (
  SELECT user_id,
         max(CASE WHEN rk = {lo} THEN cast({val} AS double) END)
           + (max(CASE WHEN rk = least({lo} + 1, n - 1)
                       THEN cast({val} AS double) END)
              - max(CASE WHEN rk = {lo} THEN cast({val} AS double) END))
             * min((n-1)*0.5 - floor((n-1)*0.5)) AS m
  FROM {rk} GROUP BY user_id
)"""
    return f"""
WITH v AS (
  SELECT user_id, event_id, value FROM events
),{med_cte("v", "value", "r1", "m1")},
d AS (
  SELECT v.user_id, v.event_id, v.value,
         m1.m AS med_raw,
         abs(cast(v.value AS double) - m1.m) AS absdev
  FROM v JOIN m1 ON v.user_id = m1.user_id
),{med_cte("d", "absdev", "r2", "m2")}
SELECT d.user_id,
       d.event_id,
       d.value,
       floor(d.med_raw * 1e6 + 0.5) / 1e6 AS med,
       floor(m2.m * 1e6 + 0.5) / 1e6      AS mad,
       d.absdev > {float(k)!r} * m2.m      AS is_outlier
FROM d JOIN m2 ON d.user_id = m2.user_id
"""


def merge_intervals_global_sql(dialect: str) -> str:
    """GLOBAL interval-coalescing oracle: same islands rule as
    merge_intervals_sql but over ALL users' intervals in one start-ordered
    sweep — the single-window ground truth the engine's two-level bucketed
    path (fixed-width start buckets merged in parallel, then the island
    list merged once) must reproduce exactly."""
    ts = _epoch_us(dialect)
    return f"""
WITH iv AS (
  SELECT {ts} AS start_us,
         {ts} + cast(floor(value) AS bigint) * 1000000 AS end_us
  FROM events
),
flagged AS (
  SELECT start_us, end_us,
         CASE WHEN max(end_us) OVER (
                ORDER BY start_us, end_us
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
              ) >= start_us THEN 0 ELSE 1 END AS is_new
  FROM iv
),
labeled AS (
  SELECT start_us, end_us,
         sum(is_new) OVER (
           ORDER BY start_us, end_us
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island_id
  FROM flagged
)
SELECT cast(island_id AS bigint)      AS island_id,
       cast(min(start_us) AS bigint)  AS start_us,
       cast(max(end_us) AS bigint)    AS end_us,
       cast(count(*) AS bigint)       AS n_intervals,
       cast(sum(end_us - start_us) AS bigint) AS len_sum_us
FROM labeled
GROUP BY island_id
"""
