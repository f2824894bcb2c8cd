"""As-of join oracle: ``pd.merge_asof`` per entity, cogrouped.

Written independently of flow_feature_spark.asof's production join (a
union-window SQL pass): pandas does the backward search, strictness maps to
``allow_exact_matches=not strict`` and the max-staleness guard to
``tolerance``. Agreement with it is a real cross-check. It shares only the
payload-column choice and the tolerance validation (``_tol_us``), so the join
and the oracle reject the same tolerances.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from flow_feature_spark.asof import _feature_value_cols, _tol_us


def asof_join_merge(
    features: DataFrame,
    probes: DataFrame,
    feature_entity: str = "conv_id",
    feature_ts: str = "feature_ts",
    probe_entity: str = "entity_id",
    probe_ts: str = "probe_ts",
    strict: bool = True,
    tolerance_seconds: float | None = None,
) -> DataFrame:
    """Cogrouped sort-merge as-of join via ``pd.merge_asof``, per entity."""
    vals = _feature_value_cols(features, feature_entity, feature_ts)
    tol_us = _tol_us(tolerance_seconds)

    out_fields = [
        T.StructField(probe_entity, T.StringType(), False),
        T.StructField(probe_ts, T.TimestampType(), False),
    ] + [
        T.StructField(c, features.schema[c].dataType, True) for c in vals
    ]
    out_schema = T.StructType(out_fields)

    # micros domain for exact tie semantics (timestamp columns arrive in
    # pandas as datetime64[ns]/[us]; int64 micros avoids unit drift).
    f = features.select(
        F.col(feature_entity).alias("__ent"),
        F.unix_micros(F.col(feature_ts).cast("timestamp")).alias("__t_us"),
        *vals,
    )
    p = probes.select(
        F.col(probe_entity).alias("__ent"),
        F.unix_micros(F.col(probe_ts).cast("timestamp")).alias("__t_us"),
    )
    allow_exact = not strict

    def merge(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        # left = probes of one entity bucket, right = features
        if left.empty:
            return pd.DataFrame(columns=[fld.name for fld in out_fields])
        left = left.sort_values("__t_us", kind="mergesort")
        right = right.sort_values("__t_us", kind="mergesort")
        merged = pd.merge_asof(
            left,
            right.drop(columns=["__ent"]),
            on="__t_us",
            allow_exact_matches=allow_exact,
            direction="backward",
            tolerance=tol_us,  # None -> unbounded lookback
        )
        merged[probe_entity] = merged["__ent"]
        merged[probe_ts] = pd.to_datetime(merged["__t_us"], unit="us")
        return merged[[probe_entity, probe_ts] + vals]

    return (
        p.groupBy("__ent")
        .cogroup(f.groupBy("__ent"))
        .applyInPandas(merge, schema=out_schema)
    )
