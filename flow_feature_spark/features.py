"""The 72 features as one pure Spark SQL query: no Python boundary.

``session_features_exact_sql`` runs the exact-integer/decimal-domain SQL the
DuckDB oracle uses, so its r6 output is bit-identical to the Arrow kernel
(kernel_fast.py) while the whole plan stays in whole-stage codegen.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from flow_feature_spark.schema import FEATURE_NAMES


def session_features_exact_sql(
    turns: DataFrame,
    gap_seconds: float,
    rounding: str = "r6",
    reset_tool: str | None = None,
    sessionizer: str = "sql",
    bucket_turns: int = 8192,
) -> DataFrame:
    """EXACT 72-feature extraction as pure Spark SQL — no Python anywhere.

    Runs the same exact-integer/decimal-domain SQL the DuckDB oracle uses
    (oracle_queries.feature_vector_sql) over any normalized transcript
    DataFrame: gap sessionization, centered exact IAT deviations, r6
    rounding — bit-identical to the Arrow kernel (pinned in tests) while
    staying entirely inside whole-stage codegen / JVM. This is
    the no-Python-boundary scale path for clusters where the Arrow socket is
    the bottleneck; the fused kernel remains the fewer-shuffles option.

    ``rounding``: "r6" (bit-identical to the kernel's r6 mode and the DuckDB
    oracle) or "half_even" (``bround``, HALF_EVEN like Python round() — agrees
    with the kernel's half_even mode to allclose; the two half-even
    implementations round the shortest-decimal vs exact-binary representation
    and can differ by 1e-6 on pathological ties). ``reset_tool``: a tool name
    whose turns force-open a new session (same contract as
    sessionize.assign_sessions).

    ``sessionizer``: "sql" (default) assigns sessions inside the query via
    the per-conv lag+cumsum window CTE — one task per conversation for that
    stage; "bucketed" pre-assigns them with
    sessionize.assign_sessions_bucketed (bit-identical ids, no per-conv task
    anywhere) and runs the feature SQL presessionized, so the largest task
    unit drops from conversation to session. Output is bit-identical either
    way (pinned in tests), except that "bucketed" raises on a conversation
    whose turn_idx buckets overlap in time (its precondition, see
    assign_sessions_bucketed) where "sql" answers it.
    """
    import uuid

    from flow_feature_spark.oracle_queries import feature_vector_sql

    # session-global temp views are shared mutable state: a fixed name
    # races when two pipelines are built on the same SparkSession before
    # either executes (the second createOrReplaceTempView would rebind
    # the first caller's plan) — suffix with a uuid per call
    view_name = f"ffs_turns_v_{uuid.uuid4().hex}"
    spark = turns.sparkSession
    if sessionizer not in ("sql", "bucketed"):
        raise ValueError(f"sessionizer must be 'sql' or 'bucketed', got {sessionizer!r}")
    cols = ["conv_id", "turn_idx", "ts_us", "is_fwd", "plen", "win", "flags", "ihl"]
    presessionized = sessionizer == "bucketed"
    if presessionized:
        from flow_feature_spark.sessionize import assign_sessions_bucketed

        src = assign_sessions_bucketed(
            turns, gap_seconds=gap_seconds, bucket_turns=bucket_turns,
            reset_tool=reset_tool,
        ).select(*cols, "session_id")
        reset_cond = None  # applied during assignment
    else:
        src = turns.select(*cols)
        reset_cond = None
        if reset_tool is not None:
            from flow_feature_spark.schema import TOOL_FLAG_BITS

            bit = TOOL_FLAG_BITS[reset_tool]
            reset_cond = f"(shiftright(flags, {bit}) & 1) = 1"
    src.createOrReplaceTempView(view_name)
    sel = ", ".join(cols + (["session_id"] if presessionized else []))
    turns_sql = f"turns AS (SELECT {sel} FROM {view_name})"
    sql = feature_vector_sql(
        "spark",
        gap_us=int(round(gap_seconds * 1_000_000)),
        turns_sql=turns_sql,
        include_bounds=True,
        rounding=rounding,
        reset_cond=reset_cond,
        presessionized=presessionized,
    )
    # kernel column order: keys, bounds, n_turns, features — put in the SQL
    # text, so the projection costs one call however many columns it names
    order = ", ".join(
        ["conv_id", "session_id", "session_start_ts", "session_end_ts", "n_turns"]
        + FEATURE_NAMES
    )
    out = spark.sql(f"SELECT {order} FROM ({sql})")
    # analysis captured the plan; drop the view so the session namespace
    # doesn't accumulate per-call entries
    spark.catalog.dropTempView(view_name)
    return out
