"""Turn normalization: transcript rows -> kernel input columns.

Pure column expressions (JVM-side, whole-stage codegen). This is the analog of
the reference's per-packet field extraction (flow.py:326, 347, 375, 397) done
declaratively so Catalyst prunes the parquet scan down to the used columns.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from flow_feature_spark.schema import FWD_ROLE, TOOL_FLAG_BITS


def quote_ident(name: str) -> str:
    """``name`` as a Spark SQL identifier."""
    return "`" + name.replace("`", "``") + "`"


def _sql_str(value: str) -> str:
    """``value`` as a Spark SQL string literal."""
    return "'" + value.replace("\\", "\\\\").replace("'", "\\'") + "'"


def _tool_flags_sql(tool: str) -> str:
    """SQL text: the tool name in column ``tool`` (a quoted identifier) ->
    8-bit bitmask (the TCP-flags analog, flow.py:375-378); null and unknown
    tools map to 0."""
    arms = " ".join(
        f"WHEN {_sql_str(name)} THEN {1 << bit}"
        for name, bit in TOOL_FLAG_BITS.items()
    )
    return f"CAST(CASE {tool} {arms} ELSE 0 END AS INT)"


def filter_valid_turns(df: DataFrame, ts_col: str = "ts", conv_col: str = "conv_id") -> DataFrame:
    """Keep only well-formed turns: non-null key and timestamp.

    The transcript analog of the reference's ``is_TCP_packet`` admission
    filter (flow.py:413-428: drop packets without IP/TCP layers before
    grouping) — malformed rows never reach the key pipeline.
    """
    return df.filter(F.col(conv_col).isNotNull() & F.col(ts_col).isNotNull())


def drop_housekeeping(
    df: DataFrame,
    roles: tuple[str, ...] = ("system",),
    min_len: int = 8,
) -> DataFrame:
    """Filter out housekeeping turns: system-role rows and near-empty turns.

    Analog of the reference's ``is_handshake_packet`` (flow.py:430-444 — drop
    SYN/FIN handshakes and bare ACKs < 61 B). Like the reference, which
    defines the filter but never calls it, this is OFF by default and opt-in
    via job.py --drop-housekeeping.
    """
    bare = (F.col("plen") < min_len) & F.col("flags").isNotNull() & (F.col("flags") == 0)
    # coalesce: a NULL role must KEEP the row — role.isin(...) is NULL for
    # NULL roles, and ~(NULL | false) is NULL, which filter() would drop
    is_housekeeping = F.coalesce(F.col("role").isin(*roles), F.lit(False)) | bare
    return df.filter(~is_housekeeping)


def with_source_file(df: DataFrame, col: str = "source") -> Column | DataFrame:
    """Tag each row with the basename of the file it was scanned from (F10).

    Analog of the reference's per-pcap identifier prefix
    (get_flow_feature.py:57: ``[pcap_name, flow_num] + features``): a
    directory of per-day shards keeps its per-shard breakdown. Must be
    applied directly on the scanned DataFrame, before any shuffle —
    ``input_file_name()`` is only defined at scan time.
    """
    return df.withColumn(
        col, F.element_at(F.split(F.input_file_name(), "/"), -1)
    )


def tag_protocol(
    df: DataFrame,
    proto_col: str = "role",
    mapping: dict[str, str] | None = None,
    keep: tuple[str, ...] = ("TCP", "UDP"),
    tag_col: str = "proto",
) -> DataFrame:
    """Classify-then-filter on a protocol-like column (P2, basic edition).

    The reference's two-protocol predicate (flow_basic.py:113-124: ip.proto
    6 -> "TCP", 17 -> "UDP", anything else dropped) as an explicit operator:
    map raw values to protocol tags via ``mapping``, keep only rows whose tag
    is in ``keep``. Unmapped (or NULL) values are dropped, mirroring the
    reference's silent skip of other protocols.
    """
    if mapping is None:
        # transcript default: dialog turns are the TCP analog (stateful,
        # bidirectional), telemetry/system turns the UDP analog
        mapping = {"user": "TCP", "assistant": "TCP", "system": "UDP"}
    tag = F.lit(None).cast("string")
    for raw, name in mapping.items():
        tag = F.when(F.col(proto_col) == raw, F.lit(name)).otherwise(tag)
    return df.withColumn(tag_col, tag).filter(F.col(tag_col).isin(*keep))


def normalize_turns(
    df: DataFrame,
    conv_col: str = "conv_id",
    turn_col: str = "turn_idx",
    role_col: str = "role",
    text_col: str = "text",
    tool_col: str = "tool",
    ts_col: str = "ts",
    fwd_role: str = FWD_ROLE,
) -> DataFrame:
    """Project a transcript-shaped table onto the kernel input columns.

    Output: conv_id, turn_idx, ts (kept), ts_us (canonical int64 micros —
    all gap math happens in this exact domain; double ULP at epoch-seconds
    scale is ~0.5 µs, so subtracting rounded double seconds would drift),
    ts_sec (display/compat), is_fwd, plen, win, flags, ihl, plus the original
    text (for per-turn invariant checks downstream).

    ts_sec divides the integer micros once by 1e6, the one float op, identical
    across engines (the DuckDB oracles use it verbatim as ``epoch_us(ts)/1e6``).
    Parquet TIMESTAMP_NTZ is cast to TIMESTAMP first — the session timezone is
    pinned to UTC, so the cast is a pure reinterpret that agrees with DuckDB's
    naive-UTC timestamps.

    Built as one ``selectExpr`` of SQL text: under PySpark's call-site
    capture every ``Column`` API call costs about 10 py4j round trips.
    """
    q = quote_ident
    role, text, ts = q(role_col), q(text_col), q(ts_col)
    ts_us = f"unix_micros(CAST({ts} AS TIMESTAMP))"
    trimmed = f"trim(coalesce({text}, ''))"
    return df.selectExpr(
        f"{q(conv_col)} AS conv_id",
        f"CAST({q(turn_col)} AS INT) AS turn_idx",
        f"{role} AS role",
        f"{text} AS text",
        f"{ts} AS ts",
        f"{ts_us} AS ts_us",
        f"{ts_us} / 1000000.0D AS ts_sec",
        f"({role} = {_sql_str(fwd_role)}) AS is_fwd",
        f"CAST(length(coalesce({text}, '')) AS BIGINT) AS plen",
        # whitespace token count (the tcp.window analog); the SQL literal
        # '\\s+' reaches the regex engine as \s+
        f"CAST(CASE WHEN length({trimmed}) = 0 THEN 0 "
        f"ELSE size(split({trimmed}, '\\\\s+')) END AS BIGINT) AS win",
        f"{_tool_flags_sql(q(tool_col))} AS flags",
        f"CAST(length(coalesce({role}, '')) AS BIGINT) AS ihl",
    )
