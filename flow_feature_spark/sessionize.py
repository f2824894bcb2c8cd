"""Gap-based sessionization and idempotent turn dedup (SURVEY.md §2.5 W4/W5).

The reference separates "sessions" only by flow identity plus a SYN-reset hint
(flow_basic.py:70-72); the north rule generalizes that to gap-based
sessionization: a new session starts whenever the inter-turn gap exceeds a
threshold. Canonical Spark idiom: ``lag`` + cumulative sum over a per-key
window — one shuffle on conv_id, reused by every downstream per-session
aggregate (same partitioning, no second exchange).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

DEFAULT_SESSION_GAP_S = 1800.0  # 30 minutes


def assign_sessions(
    df: DataFrame,
    gap_seconds: float = DEFAULT_SESSION_GAP_S,
    conv_col: str = "conv_id",
    ts_us_col: str = "ts_us",
    tiebreak_col: str = "turn_idx",
    out_col: str = "session_id",
    reset_tool: str | None = None,
) -> DataFrame:
    """Add a 1-based ``session_id`` per conv: gap > threshold => new session.

    Gap comparison runs in exact integer microseconds (no float drift at the
    threshold boundary). Ordering is (ts, turn_idx) — the stable secondary
    sort the reference gets implicitly from Python's stable list sort
    (flow.py:139).

    ``reset_tool``: a tool name whose turns force-open a new session — the
    transcript analog of the reference's SYN start_time reset
    (flow_basic.py:70-72, its only sessionization-flavored logic).
    """
    gap_us = int(round(gap_seconds * 1_000_000))
    w = Window.partitionBy(conv_col).orderBy(ts_us_col, tiebreak_col)
    gap = F.col(ts_us_col) - F.lag(ts_us_col, 1).over(w)
    new_cond = gap.isNull() | (gap > F.lit(gap_us))
    if reset_tool is not None:
        # normalized turns carry the tool as a flag bitmask (prepare.py)
        from flow_feature_spark.schema import TOOL_FLAG_BITS

        bit = TOOL_FLAG_BITS[reset_tool]
        new_cond = new_cond | (F.shiftright(F.col("flags"), bit).bitwiseAND(1) == 1)
    is_new = F.when(new_cond, F.lit(1)).otherwise(F.lit(0))
    cum = Window.partitionBy(conv_col).orderBy(ts_us_col, tiebreak_col).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return df.withColumn(out_col, F.sum(is_new).over(cum).cast("long"))


def _reset_cond_col(reset_tool: str | None) -> "F.Column":
    """tool-flag force-new predicate (False literal when no reset tool)."""
    if reset_tool is None:
        return F.lit(False)
    from flow_feature_spark.schema import TOOL_FLAG_BITS

    bit = TOOL_FLAG_BITS[reset_tool]
    return F.shiftright(F.col("flags"), bit).bitwiseAND(1) == 1


def assign_sessions_bucketed(
    df: DataFrame,
    gap_seconds: float = DEFAULT_SESSION_GAP_S,
    bucket_turns: int = 8192,
    conv_col: str = "conv_id",
    ts_us_col: str = "ts_us",
    tiebreak_col: str = "turn_idx",
    out_col: str = "session_id",
    reset_tool: str | None = None,
) -> DataFrame:
    """``assign_sessions`` with NO per-conversation single task: identical
    session ids, but every window is scoped to a contiguous turn-range bucket
    of at most ``bucket_turns`` rows, so a 10^7-turn mega-conversation spreads
    over 10^7/bucket_turns tasks instead of serializing its sort + lag +
    cumsum through one (the last per-conv straggler VERDICT r2 named).

    Two-pass design (turn-range buckets plus a per-conversation
    boundary carry):

    1. bucket = floor(turn_idx / bucket_turns) — pure arithmetic, no pre-pass
       window; explicit repartition(conv, bucket) (a window's
       ClusteredDistribution is satisfied by the upstream conv-only hash
       partitioning — a key subset — so without the explicit exchange every
       bucket of a hot conv would stay in ONE task). Within-bucket lag gives
       each non-first row its exact global gap.
    2. A per-(conv, bucket) summary (first/last ts, local new-session count,
       first-row reset flag) — ~n/bucket_turns tiny rows — is windowed per
       conv (bounded at max_conv_turns/bucket_turns rows per task) to decide
       each bucket's boundary flag and its session-id offset (prefix sum of
       earlier buckets' new-session counts), then joined back on
       (conv, bucket): the join reuses the pass-1 partitioning AND sort order
       (conv, bucket prefix), so the big side never re-shuffles.

    session_id = offset + within-bucket cumulative sum of new-session flags —
    hash-identical to ``assign_sessions`` (asserted in tests and shared with
    its DuckDB oracle via the sessionize_bucketed driver query).

    Reference basis: the reference's per-flow sort + single-pass walk
    (flow.py:139, flow_basic.py:70-76) assumes a whole flow fits one worker;
    this is that walk re-derived as a two-level scan so no single task ever
    owns a whole key — the north rule's explicit-skew-handling requirement.

    Precondition, checked inside the summary window (no extra pass): no
    bucket of a conversation may start before the previous bucket ends,
    i.e. min(ts) of bucket b >= max(ts) of bucket b-1. That is exactly the
    case where bucket order agrees with the (ts, turn_idx) order the
    windows need; ts inversions inside one bucket are answered correctly,
    because the within-bucket windows sort by (ts, turn_idx). A violating
    conversation makes the frame raise when evaluated, naming the
    conversation — route such input through ``assign_sessions``.
    """
    gap_us = int(round(gap_seconds * 1_000_000))
    tool_new = _reset_cond_col(reset_tool)

    t = df.withColumn(
        "__bkt", F.floor(F.col(tiebreak_col).cast("long") / F.lit(bucket_turns))
    )
    t = t.repartition(conv_col, "__bkt")
    wb = Window.partitionBy(conv_col, "__bkt").orderBy(ts_us_col, tiebreak_col)
    t = t.withColumn("__lgap", F.col(ts_us_col) - F.lag(ts_us_col, 1).over(wb))
    t = t.withColumn("__tool_new", tool_new.cast("int"))
    # new-session flag for rows WITH a within-bucket predecessor (bucket-first
    # rows are decided by the summary's boundary gap below)
    t = t.withColumn(
        "__local_new",
        F.when(
            F.col("__lgap").isNotNull(),
            ((F.col("__lgap") > F.lit(gap_us)) | (F.col("__tool_new") == 1)).cast("long"),
        ),
    )

    summary = t.groupBy(conv_col, "__bkt").agg(
        F.min(ts_us_col).alias("__first_us"),
        F.max(ts_us_col).alias("__last_us"),
        F.coalesce(F.sum("__local_new"), F.lit(0)).alias("__local_cnt"),
        F.min_by("__tool_new", F.struct(ts_us_col, tiebreak_col)).alias("__first_tool"),
    )
    ws = Window.partitionBy(conv_col).orderBy("__bkt")
    # bound once: each use of a window Column is a separate window expression
    summary = summary.withColumn("__prev_last", F.lag("__last_us", 1).over(ws))
    prev_last = F.col("__prev_last")
    overlap = F.raise_error(F.concat(
        F.lit("assign_sessions_bucketed: conversation "),
        F.col(conv_col).cast("string"),
        F.lit(" has a turn_idx bucket that starts before the previous one "
              "ends in time; sessionize it with assign_sessions "
              "(job: --sessionizer sql)"),
    ))
    first_new = F.when(prev_last > F.col("__first_us"), overlap).when(
        prev_last.isNull()
        | ((F.col("__first_us") - prev_last) > F.lit(gap_us))
        | (F.col("__first_tool") == 1),
        F.lit(1),
    ).otherwise(F.lit(0))
    summary = summary.withColumn("__first_new", first_new.cast("long"))
    w_off = Window.partitionBy(conv_col).orderBy("__bkt").rowsBetween(
        Window.unboundedPreceding, -1
    )
    summary = summary.withColumn(
        "__offset",
        F.coalesce(
            F.sum(F.col("__local_cnt") + F.col("__first_new")).over(w_off), F.lit(0)
        ),
    ).select(conv_col, "__bkt", "__first_new", "__offset")

    joined = t.join(summary, [conv_col, "__bkt"])
    is_new = F.when(F.col("__lgap").isNull(), F.col("__first_new")).otherwise(
        F.col("__local_new")
    )
    cum = Window.partitionBy(conv_col, "__bkt").orderBy(
        ts_us_col, tiebreak_col
    ).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    out = joined.withColumn(
        out_col, (F.col("__offset") + F.sum(is_new).over(cum)).cast("long")
    )
    return out.drop(
        "__bkt", "__lgap", "__tool_new", "__local_new", "__first_new", "__offset"
    )


def dedup_turns(
    df: DataFrame,
    conv_col: str = "conv_id",
    turn_col: str = "turn_idx",
    ts_col: str = "ts",
) -> DataFrame:
    """Drop duplicate (conv_id, turn_idx) rows, keeping the earliest-ts one.

    Used for idempotent resume: re-ingested turns after a restart collapse to
    one row (SURVEY.md §2.5 W5).
    """
    w = Window.partitionBy(conv_col, turn_col).orderBy(F.col(ts_col).asc())
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
