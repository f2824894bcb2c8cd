"""Point-in-time (as-of) join: attach the latest non-leaking feature vector to
every entity x timestamp probe (SURVEY.md §2.3 J1 — north-rule mandate; the
reference performs no joins).

One strategy, ``asof_join_union_window``, cross-checked in tests against a
cogrouped ``pd.merge_asof`` oracle (tests/reference_asof.py) and a brute
force: pure Spark SQL — tag both sides, union, one window pass per entity
ordered by (ts, side), ``last(payload, ignorenulls=True)``, keep probe rows.
Strictness (`<` vs `<=`) is encoded in the tie order of the ``side`` column
at equal timestamps. It never crosses the Arrow boundary. ``job.py --mode
asof`` runs it under every engine, the declared as-of queries run it, and
the feature store (featurestore.py) attaches each feature group with it.
Every probe column (labels, previously attached groups) rides through to
the output; the feature side null-fills them in the union.

Zero-leakage contract (strict=True): a probe at ts T sees only features with
feature_ts strictly < T. Probes before any feature, and entities with no
feature rows at all, yield null feature columns (left semantics).

Max-staleness contract (``tolerance_seconds``): when set, a probe only
matches a feature with ``probe_ts - feature_ts <= tolerance`` — the standard
feature-store guard against serving stale state. Since the as-of match is
always the LATEST admissible feature, a too-old match means no admissible
feature exists, so the row nulls out (the same semantics in the pandas
oracle and the DuckDB oracle queries).

Driver-side rule: under PySpark 4.1's call-site capture every ``Column`` API
call costs about 10 py4j round trips, so the wide projections (the payload,
the null-filled probe side, the window, the output expansion) are built in
a constant number of calls — from SQL text (``selectExpr``/``where``),
``*``, ``unionByName(allowMissingColumns=True)`` and ``struct.*`` — never
one ``Column`` per feature or probe column, and never a ``selectExpr`` list
that grows with the columns (py4j ships a list one element per round trip).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from flow_feature_spark.prepare import quote_ident


def _tol_us(tolerance_seconds: float | None) -> int | None:
    """Validated tolerance in µs — one contract for the join and its oracle.

    A tolerance that rounds to 0 µs is rejected here (rather than letting
    pd.merge_asof raise its own 'tolerance must be positive' only in the
    test oracle while the window join silently accepts tol_us=0): the same
    inputs raise the same error in both.
    """
    if tolerance_seconds is None:
        return None
    tol_us = int(round(tolerance_seconds * 1e6))
    if tol_us < 1:
        raise ValueError(
            f"tolerance_seconds={tolerance_seconds} rounds to {tol_us} µs; "
            "must be >= 1 µs (or None for unbounded lookback)"
        )
    return tol_us


def _feature_value_cols(features: DataFrame, entity_col: str, ts_col: str) -> list[str]:
    return [c for c in features.columns if c not in (entity_col, ts_col)]


def asof_join_union_window(
    features: DataFrame,
    probes: DataFrame,
    feature_entity: str = "conv_id",
    feature_ts: str = "feature_ts",
    probe_entity: str = "entity_id",
    probe_ts: str = "probe_ts",
    strict: bool = True,
    tolerance_seconds: float | None = None,
) -> DataFrame:
    """Union-and-window as-of join. Returns one row per probe: every probe
    column, then the feature value columns."""
    vals = _feature_value_cols(features, feature_entity, feature_ts)
    clash = sorted(set(vals) & set(probes.columns))
    if clash:
        raise ValueError(f"feature value columns {clash} clash with probe columns")
    tol_us = _tol_us(tolerance_seconds)

    # side tie-break at equal ts: strict -> probe sorts BEFORE the feature row
    # (cannot see it); inclusive -> after.
    probe_side, feat_side = (0, 1) if strict else (1, 0)

    q = quote_ident
    same_key = (
        features.schema[feature_entity].dataType
        == probes.schema[probe_entity].dataType
    )
    if same_key:
        f_key = q(feature_entity)
        p = probes.withColumnRenamed(probe_entity, "__ent")
    else:
        # mismatched key types join on their string forms; the probe's own
        # entity column rides along, so the output keeps its type and values
        f_key = f"CAST({q(feature_entity)} AS STRING)"
        p = probes.selectExpr("*", f"CAST({q(probe_entity)} AS STRING) AS __ent")

    payload = ", ".join(
        [f"unix_micros(CAST({q(feature_ts)} AS TIMESTAMP)) AS __ft_us"]
        + [q(c) for c in vals]
    )
    f = features.selectExpr(
        f"{f_key} AS __ent",
        f"unix_micros(CAST({q(feature_ts)} AS TIMESTAMP)) AS __t_us",
        f"{feat_side} AS __side",
        f"struct({payload}) AS __payload",
    )
    p = p.selectExpr(
        "*",
        f"unix_micros(CAST({q(probe_ts)} AS TIMESTAMP)) AS __t_us",
        f"{probe_side} AS __side",
    )
    last = (
        "last(__payload, true) OVER (PARTITION BY __ent ORDER BY __t_us, __side "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
    )
    joined = (
        # features: null probe columns; probes: null payload. The union's
        # column order is the feature side's, then the probe columns.
        f.unionByName(p, allowMissingColumns=True)
        .selectExpr("*", f"{last} AS __last")
        .where(f"__side = {probe_side}")
    )
    if tol_us is not None:
        # a null __last compares as null, so the CASE keeps it null
        joined = joined.withColumn("__last", F.expr(
            f"CASE WHEN __t_us - __last.__ft_us <= {tol_us} THEN __last END"
        ))
    out = joined.selectExpr("*", "__last.*").drop(
        "__t_us", "__side", "__payload", "__last", "__ft_us"
    )
    if same_key:
        return out.withColumnRenamed("__ent", probe_entity)
    return out.drop("__ent")


# perfbench's frozen ``--trace 1`` replay imports this name; the alias goes
# when the benchmark deletes that replay (ROADMAP next direction 3)
asof_join_fast = asof_join_union_window
