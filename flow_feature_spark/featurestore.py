"""Training-set builder: multi-feature-group point-in-time join.

The feature-store user journey (Feast/Tecton ``get_historical_features``):
given a probe frame of (entity, timestamp, ...labels) and N feature GROUPS
— each an independent table of (entity, feature_ts, values...) computed on
its own cadence — attach to every probe, for every group, the latest
feature row the probe could have seen, with zero temporal leakage, and
prefix each group's value columns with its name.

Each group attaches through the engine's one as-of join,
``asof.asof_join_union_window`` (JVM-only: no Python crossing, ONE
exchange per group, map-side union), which carries every probe column
through its pass, so labels and previously-attached groups survive.
N groups = N window passes = N shuffles of the probe frame — the same
cost shape a feature store pays, and each pass is skew-safe (entity hash
partitioning).

Leakage contract (north_rule "zero temporal leakage at every
entity×timestamp"): ``strict=True`` (default) attaches only features with
feature_ts strictly BEFORE the probe ts — at equal timestamps the probe
sorts before the feature row and cannot see it. ``tolerance_seconds``
additionally voids features staler than the bound (NULL, not a join drop:
the probe row always survives).

Reference basis: flow-feature emits one feature vector per flow at
extraction time (get_flow_feature.py:118-141); the point-in-time builder
is what a TRAINING pipeline needs instead — the vector as-of each label's
timestamp, per entity.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from flow_feature_spark.asof import asof_join_union_window
from flow_feature_spark.prepare import quote_ident


@dataclass
class FeatureGroup:
    """One feature table: ``df`` holds ``entity_col``, ``ts_col`` (the
    availability timestamp — when the vector became visible), and value
    columns (everything else)."""

    df: DataFrame
    entity_col: str = "conv_id"
    ts_col: str = "feature_ts"
    tolerance_seconds: float | None = None
    strict: bool = True


def _attach_group(
    probes: DataFrame,
    name: str,
    g: FeatureGroup,
    probe_entity: str,
    probe_ts: str,
) -> DataFrame:
    vals = [c for c in g.df.columns if c not in (g.entity_col, g.ts_col)]
    if not vals:
        raise ValueError(f"feature group {name!r} has no value columns")
    out_cols = [f"{name}__{c}" for c in vals]
    clash = set(out_cols) & set(probes.columns)
    if clash:
        raise ValueError(
            f"feature group {name!r} would overwrite probe columns {sorted(clash)}"
        )
    q = quote_ident
    # renamed inside one struct: a selectExpr list costs a py4j round trip
    # per element, one SQL string does not
    renamed = ", ".join(f"{q(c)} AS {q(o)}" for c, o in zip(vals, out_cols))
    group = g.df.selectExpr(
        q(g.entity_col), q(g.ts_col), f"struct({renamed}) AS __group"
    ).selectExpr(q(g.entity_col), q(g.ts_col), "__group.*")
    return asof_join_union_window(
        group, probes, g.entity_col, g.ts_col, probe_entity, probe_ts,
        strict=g.strict, tolerance_seconds=g.tolerance_seconds,
    )


def build_training_set(
    probes: DataFrame,
    feature_groups: dict[str, FeatureGroup],
    probe_entity: str = "entity_id",
    probe_ts: str = "probe_ts",
) -> DataFrame:
    """Attach every feature group point-in-time to every probe row.

    Returns the probe frame (all its columns preserved, row-for-row — a
    probe with no visible features gets NULLs, never drops) plus
    ``{group}__{value}`` columns for each group. Groups attach
    independently — order of ``feature_groups`` does not affect values,
    only column order."""
    if probe_entity not in probes.columns or probe_ts not in probes.columns:
        raise KeyError(
            f"probes must carry {probe_entity!r} and {probe_ts!r}; "
            f"have {probes.columns}"
        )
    out = probes
    for name, g in feature_groups.items():
        out = _attach_group(out, name, g, probe_entity, probe_ts)
    return out


def materialize_online(
    features: DataFrame,
    table_path: str,
    entity_col: str = "conv_id",
    ts_col: str = "feature_ts",
) -> dict:
    """Maintain the ONLINE half of the feature store: a latest-per-entity
    serving table (what `build_training_set` is to training, this is to
    inference). Each call merges a batch of feature rows:

    1. the batch collapses to one row per entity — its latest ``ts_col``;
       two rows sharing an entity's max timestamp are REJECTED (the same
       cardinality rule MERGE enforces: picking one silently would make
       the serving value nondeterministic);
    2. rows not strictly newer than the entity's current serving row are
       dropped — an OUT-OF-ORDER or replayed batch can never regress the
       table (equal timestamps skip too, so re-materializing a batch is
       idempotent);
    3. the survivors MERGE INTO the snapshot table (copy-on-write upsert,
       time travel over serving history included).

    First call bootstraps the table. Returns the commit entry, or the
    current entry when nothing survived the staleness guard."""
    from flow_feature_spark.io import (
        _read_log,
        merge_snapshot,
        read_snapshot,
        write_snapshot,
    )

    spark = features.sparkSession
    q = quote_ident
    ranked = features.selectExpr(
        "*",
        f"rank() OVER (PARTITION BY {q(entity_col)} ORDER BY {q(ts_col)} DESC) "
        "AS __rk",
    )
    dup = (
        ranked.filter(F.col("__rk") == 1)
        .groupBy(entity_col)
        .count()
        .filter(F.col("count") > 1)
        .limit(5)
        .collect()
    )
    if dup:
        ents = [r[entity_col] for r in dup]
        raise ValueError(
            f"batch has multiple rows at an entity's max {ts_col}: {ents}"
        )
    latest = ranked.filter(F.col("__rk") == 1).drop("__rk")

    log = _read_log(spark, table_path)
    if not log:
        return write_snapshot(latest, table_path, job="online")
    current = read_snapshot(spark, table_path).select(
        F.col(entity_col), F.col(ts_col).alias("__cur_ts")
    )
    fresh = (
        latest.join(current, on=entity_col, how="left")
        .filter(
            F.col("__cur_ts").isNull() | (F.col(ts_col) > F.col("__cur_ts"))
        )
        .drop("__cur_ts")
    )
    if not fresh.take(1):
        return log[-1]  # everything stale or replayed: no commit
    return merge_snapshot(fresh, table_path, (entity_col,), job="online")


def attach_future_labels(
    df: DataFrame,
    horizon_seconds: float,
    entity_col: str = "conv_id",
    ts_us_col: str = "ts_us",
    value_col: str | None = None,
    prefix: str = "label",
) -> DataFrame:
    """Label generation, the forward dual of the feature attach: for every
    row, aggregate the entity's rows in the half-open future window
    (ts, ts + horizon] — ``{prefix}_n`` (count) and, with ``value_col``,
    ``{prefix}_sum``. The frame is a RANGE frame on int64 microseconds
    starting at 1 FOLLOWING, so the row's own events — and any other event
    at the SAME microsecond — are excluded: a label may only contain the
    strict future, the mirror of the feature side's strict past
    (north_rule zero-leakage, label direction).

    One window pass, one exchange on the entity key; value-based RANGE
    frames are JVM codegen (no Python). Empty windows yield label_n = 0
    and label_sum = 0 (coalesced identically in the SQL oracle)."""
    if horizon_seconds <= 0:
        raise ValueError("horizon_seconds must be positive")
    horizon_us = int(round(horizon_seconds * 1_000_000))
    q = quote_ident
    w = (
        f"OVER (PARTITION BY {q(entity_col)} ORDER BY CAST({q(ts_us_col)} AS BIGINT) "
        f"RANGE BETWEEN 1 FOLLOWING AND {horizon_us} FOLLOWING)"
    )
    labels = {f"{prefix}_n": F.expr(f"CAST(count(1) {w} AS BIGINT)")}
    if value_col is not None:
        labels[f"{prefix}_sum"] = F.expr(
            f"CAST(coalesce(sum({q(value_col)}) {w}, 0) AS BIGINT)"
        )
    return df.withColumns(labels)


def build_scd2(
    df: DataFrame,
    key_cols: list[str],
    ts_us_col: str,
    attr_cols: list[str],
    tiebreak_cols: list[str] | None = None,
) -> DataFrame:
    """Type-2 slowly-changing-dimension history from an attribute changelog.

    Input: one row per observation (key, ts, attributes). Output: one row
    per VALIDITY INTERVAL — consecutive observations with identical
    attribute values are compressed into a single row with
    ``valid_from_us`` (first observation of the run) and ``valid_to_us``
    (the next run's valid_from, i.e. half-open [from, to); NULL for the
    currently-open run). This is the dimension-history table a
    point-in-time training join reads (``build_training_set`` /
    ``asof_join_union_window`` attach it leak-free): the feature-store
    complement of the reference's per-flow final vectors — attributes as
    they WERE at each probe time, not as they ARE now.

    Semantics pinned by tests: change detection is null-safe (NULL -> value
    and value -> NULL are changes, NULL -> NULL is not); a value that
    reverts (A -> B -> A) produces three intervals, never a merged one;
    duplicate timestamps are ordered by ``tiebreak_cols`` so the result is
    deterministic. Scale shape: ONE hash exchange on the key — change
    detection (lag), run compression (filter) and valid_to (lead) all ride
    the same per-key sort; output size is the number of value RUNS, never
    the changelog size.
    """
    if not key_cols or not attr_cols:
        raise ValueError("build_scd2 needs at least one key and one attribute")
    q = quote_ident
    ts_us = f"CAST({q(ts_us_col)} AS BIGINT)"
    order = ", ".join([ts_us, *map(q, tiebreak_cols or [])])
    w = f"OVER (PARTITION BY {', '.join(map(q, key_cols))} ORDER BY {order})"
    changed = " OR ".join(f"NOT ({q(a)} <=> lag({q(a)}) {w})" for a in attr_cols)
    runs = df.selectExpr(
        "*", f"row_number() {w} = 1 OR {changed} AS _is_start"
    ).where("_is_start")
    return runs.selectExpr(
        *map(q, key_cols), *map(q, attr_cols),
        f"{ts_us} AS valid_from_us", f"lead({ts_us}) {w} AS valid_to_us",
    )


def attach_scd2(
    probes: DataFrame,
    dim: DataFrame,
    key_col: str,
    probe_ts_us_col: str,
    attr_cols: list[str],
) -> DataFrame:
    """Point-in-time attach of a ``build_scd2`` dimension history to a probe
    frame: each probe row gains the attribute values that were valid AT its
    timestamp (run with ``valid_from <= t < valid_to``), plus the run's
    ``valid_from_us`` for lineage. Probes before the key's first run (or
    with no dimension key) keep NULL attributes — probe rows never drop.

    Because SCD2 runs partition ``[first_from, inf)`` per key, "the run
    containing t" equals "the latest run with valid_from <= t", so this is
    the INCLUSIVE union-and-window as-of join (J1's formulation — one
    exchange, no interval containment join needed); equality with the
    brute-force interval lookup is pinned in tests.
    """
    missing = [c for c in attr_cols if c not in dim.columns]
    if missing:
        raise ValueError(f"attach_scd2: dim lacks attribute columns {missing}")
    clash = [c for c in ["valid_from_us", *attr_cols] if c in probes.columns]
    if clash:
        raise ValueError(
            f"attach_scd2: probe columns {clash} clash with attached names; "
            "rename them first (silent overwrite would corrupt the probes)"
        )
    d = dim.select(
        F.col(key_col),
        F.timestamp_micros(F.col("valid_from_us")).alias("__dim_ts"),
        F.col("valid_from_us"),
        *[F.col(c) for c in attr_cols],
    )
    p = probes.withColumn(
        "__probe_ts", F.timestamp_micros(F.col(probe_ts_us_col).cast("long"))
    )
    out = build_training_set(
        p,
        {"dim": FeatureGroup(d, entity_col=key_col, ts_col="__dim_ts",
                             strict=False)},  # a run is visible AT its
        # valid_from (half-open [from, to) -> inclusive as-of)
        probe_entity=key_col,
        probe_ts="__probe_ts",
    ).drop("__probe_ts")
    for c in ["valid_from_us", *attr_cols]:
        out = out.withColumnRenamed(f"dim__{c}", c)
    return out
