"""Point-in-time (as-of) join: attach the latest non-leaking feature vector to
every entity x timestamp probe (SURVEY.md §2.3 J1 — north-rule mandate; the
reference performs no joins).

Two strategies, cross-checked in tests against each other and against a
cogrouped ``pd.merge_asof`` oracle (tests/reference_asof.py):

* ``asof_join_union_window`` — pure Spark SQL: tag both sides, union, one
  window pass per entity ordered by (ts, side), ``last(payload,
  ignorenulls=True)``, keep probe rows. Strictness (`<` vs `<=`) is encoded in
  the tie order of the ``side`` column at equal timestamps. This is the
  SQL-expressible form used as the DuckDB oracle AND the production path:
  ``job.py --mode asof`` uses it under every engine. It never crosses the
  Arrow boundary, measured 8-13x faster than the Arrow strategy at 30M probes
  with 8->32-core scaling at ~0.98 of the hardware ceiling
  (BENCH/BASELINE.md).
* ``asof_join_fast`` — vectorized Arrow sort-merge: union both sides,
  ONE hash co-shuffle on entity + partition-local sort by (entity, ts, side),
  then a single vectorized forward-fill pass per Arrow batch
  (np.maximum.accumulate over feature-row indices) with one carried feature
  row across batch boundaries. No per-entity Python calls. It serves the
  declared queries built on it and pipelines that continue in pandas; the
  whole stream pays the Arrow socket once per side, the dominant term on one
  host.

Zero-leakage contract (strict=True): a probe at ts T sees only features with
feature_ts strictly < T. Probes before any feature, and entities with no
feature rows at all, yield null feature columns (left semantics).

Max-staleness contract (``tolerance_seconds``): when set, a probe only
matches a feature with ``probe_ts - feature_ts <= tolerance`` — the standard
feature-store guard against serving stale state. Since the as-of match is
always the LATEST admissible feature, a too-old match means no admissible
feature exists, so the row nulls out (identical semantics in both
strategies and the DuckDB oracle).

Driver-side rule: under PySpark 4.1's call-site capture every ``Column`` API
call costs about 10 py4j round trips, so both strategies build their wide
projections (the payload, the null-filled probe side, the window, the output
expansion) in a constant number of calls — from column names, SQL text
(``selectExpr``/``where``), ``unionByName(allowMissingColumns=True)`` and
``struct.*`` — never one ``Column`` per feature column.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from flow_feature_spark.prepare import quote_ident


def _tol_us(tolerance_seconds: float | None) -> int | None:
    """Validated tolerance in µs — identical contract for every strategy.

    A tolerance that rounds to 0 µs is rejected here (rather than letting
    pd.merge_asof raise its own 'tolerance must be positive' only in the
    test oracle while the window strategies silently accept tol_us=0):
    strategy parity means the same inputs raise the same error everywhere.
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
    """Union-and-window as-of join. Returns probe rows + feature columns."""
    vals = _feature_value_cols(features, feature_entity, feature_ts)
    tol_us = _tol_us(tolerance_seconds)

    # side tie-break at equal ts: strict -> probe sorts BEFORE the feature row
    # (cannot see it); inclusive -> after.
    probe_side, feat_side = (0, 1) if strict else (1, 0)

    q = quote_ident
    payload = ", ".join(
        [f"unix_micros(CAST({q(feature_ts)} AS TIMESTAMP)) AS __ft_us"]
        + [q(c) for c in vals]
    )
    f = features.selectExpr(
        f"{q(feature_entity)} AS __ent",
        f"unix_micros(CAST({q(feature_ts)} AS TIMESTAMP)) AS __t_us",
        f"{feat_side} AS __side",
        f"struct({payload}) AS __payload",
        f"CAST(NULL AS TIMESTAMP) AS {q(probe_ts)}",
    )
    p = probes.selectExpr(
        f"{q(probe_entity)} AS __ent",
        f"unix_micros(CAST({q(probe_ts)} AS TIMESTAMP)) AS __t_us",
        f"{probe_side} AS __side",
        q(probe_ts),
    )
    last = (
        "last(__payload, true) OVER (PARTITION BY __ent ORDER BY __t_us, __side "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
    )
    joined = (
        f.unionByName(p, allowMissingColumns=True)  # probes: null payload
        .selectExpr("__ent", "__t_us", "__side", q(probe_ts), f"{last} AS __last")
        .where(f"__side = {probe_side}")
    )
    if tol_us is not None:
        # a null __last compares as null, so the CASE keeps it null
        joined = joined.selectExpr(
            "__ent", q(probe_ts),
            f"CASE WHEN __t_us - __last.__ft_us <= {tol_us} THEN __last END AS __last",
        )
    return joined.selectExpr(
        f"__ent AS {q(probe_entity)}", q(probe_ts), "__last.*"
    ).drop("__ft_us")


def asof_join_fast(
    features: DataFrame,
    probes: DataFrame,
    feature_entity: str = "conv_id",
    feature_ts: str = "feature_ts",
    probe_entity: str = "entity_id",
    probe_ts: str = "probe_ts",
    strict: bool = True,
    num_partitions: int | None = None,
    tolerance_seconds: float | None = None,
) -> DataFrame:
    """Vectorized distributed sort-merge as-of join (see module docstring)."""
    import numpy as np

    vals = _feature_value_cols(features, feature_entity, feature_ts)
    tol_us = _tol_us(tolerance_seconds)
    probe_side, feat_side = (0, 1) if strict else (1, 0)

    f = features.withColumns({
        "__ent": F.col(feature_entity),
        "__t_us": F.unix_micros(F.col(feature_ts).cast("timestamp")),
        "__side": F.lit(feat_side),
    }).drop(feature_entity, feature_ts)
    p = probes.select(
        F.col(probe_entity).alias("__ent"),
        F.unix_micros(F.col(probe_ts).cast("timestamp")).alias("__t_us"),
        F.lit(probe_side).alias("__side"),
    )
    # the probe side's value columns are filled with typed nulls by Spark;
    # the kernel reads columns by name, so the union's order is free
    u = f.unionByName(p, allowMissingColumns=True)
    u = (
        u.repartition(num_partitions, "__ent") if num_partitions else u.repartition("__ent")
    ).sortWithinPartitions("__ent", "__t_us", "__side")

    out_fields = [
        T.StructField(probe_entity, T.StringType(), False),
        T.StructField(probe_ts, T.TimestampType(), False),
    ] + [T.StructField(c, features.schema[c].dataType, True) for c in vals]
    out_schema = T.StructType(out_fields)

    is_probe_side = probe_side

    def run(batches):
        carry: pd.DataFrame | None = None  # exactly one feature row, or None
        for pdf in batches:
            if carry is not None and len(carry):
                pdf = pd.concat([carry, pdf], ignore_index=True)
            n = len(pdf)
            if n == 0:
                continue
            ent = pdf["__ent"].to_numpy()
            ent_codes = pd.factorize(ent)[0]  # C-speed, avoids object compares
            side = pdf["__side"].to_numpy()
            is_feat = side != is_probe_side
            idx = np.arange(n)
            last_feat = np.maximum.accumulate(np.where(is_feat, idx, -1))
            probe_rows = np.flatnonzero(~is_feat)
            if len(probe_rows):
                src = last_feat[probe_rows]
                ok = src >= 0
                ok[ok] = ent_codes[src[ok]] == ent_codes[probe_rows[ok]]
                if tol_us is not None:
                    t_arr = pdf["__t_us"].to_numpy()
                    ok[ok] = (
                        t_arr[probe_rows[ok]] - t_arr[src[ok]]
                    ) <= tol_us
                out = pd.DataFrame(
                    {
                        probe_entity: ent[probe_rows],
                        probe_ts: pd.to_datetime(
                            pdf["__t_us"].to_numpy()[probe_rows], unit="us"
                        ),
                    }
                )
                for c in vals:
                    col = pdf[c].to_numpy()
                    taken = col[np.where(ok, src, 0)]
                    taken = pd.Series(taken).where(ok)
                    out[c] = taken
                yield out
            # carry the most recent feature row of the final entity
            feats_of_last = np.flatnonzero(is_feat & (ent_codes == ent_codes[-1]))
            if len(feats_of_last):
                carry = pdf.iloc[[feats_of_last[-1]]]
            else:
                carry = pdf.iloc[[0]].iloc[0:0] if carry is None else carry.iloc[0:0]
        return

    return u.mapInPandas(run, schema=out_schema)
