"""Incremental feature maintenance over snapshot tables.

The daily-pipeline pattern the snapshot layer exists for: turn history lives
in an append-only snapshot table, the per-session feature vectors in a second
one. When a delta of new turns arrives, only the conversations the delta
touches are recomputed — their FULL turn history is re-read (a late turn can
bridge two previously separate sessions, so per-session incremental state is
not safe; per-conversation recompute is), and their feature rows are replaced
as a group. Everything else is untouched.

Reference basis: the reference's resumable cache (get_flow_feature.py:7-14,
103-108) re-extracts every flow on every run; this is the scale-correct
replacement — recompute cost is proportional to the delta's conversation
footprint, not the table size.

Scale shape at 100 TB:
- the turn-history append commits ONLY the delta directory (fast-append);
- the touched conversation ids are read back from that committed delta
  directory (a day's distinct entities are ~MBs), so the delta's own plan
  runs once, in the append; the one touched-id frame is broadcast into the
  history scan (one pass with a broadcast semi-join — no shuffle of the
  100-TB side) and is also the replace's key set, so the feature plan runs
  once, in the feature-table write, instead of a second time just to
  list the conversations it produced; their count (``touched_convs``) is
  observed on the jobs that scan them, so no job of its own counts them;
- each table's snapshot log is read once per update (the commits and
  reads take the parsed log or entry), and every snapshot read takes its
  schema from the log, so no parquet footer is read to infer one: a warm
  update runs only the jobs of its two commits;
- the feature recompute is the JVM-only exact-SQL engine, shuffling only the
  touched conversations' turns;
- the feature-table rewrite is copy-on-write replace_groups; bound it with
  ``feature_buckets`` / ``feature_bucket_expr`` (partition-bounded replace),
  or keep deltas and reconcile at read (merge-on-read) when the touched set
  is huge.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from flow_feature_spark.io import (
    _entry_reader,
    _read_entry,
    _read_log,
    _replace_groups,
    _replace_groups_partitioned,
    _write_snapshot,
    write_snapshot,
)

TURN_COLS = ("conv_id", "turn_idx", "ts_us", "is_fwd", "plen", "win", "flags", "ihl")


def incremental_feature_update(
    new_turns: DataFrame,
    turns_table: str,
    features_table: str,
    gap_seconds: float,
    rounding: str = "r6",
    reset_tool: str | None = None,
    feature_buckets: int | None = None,
    feature_bucket_expr: str | None = None,
) -> dict:
    """Ingest ``new_turns`` and bring ``features_table`` up to date.

    First call (no snapshot log yet) initializes both tables. Later calls:
    fast-append the delta to ``turns_table``, recompute the 72-vector
    features for ONLY the conversations present in the delta (over their
    full history), and replace those conversations' rows in
    ``features_table`` as groups. The resulting feature table is
    bit-identical to a full recompute over the whole turn history (pinned in
    tests and by the ``incremental_features`` driver query, which shares the
    full-recompute oracle).

    The distinct touched conversation ids are broadcast into the history
    scan (the right call when the delta is a day against years of history).
    A later call reads each table's snapshot log once and runs no job
    beyond its two commits: no schema inference, no separate count.

    ``feature_buckets=N`` stores the feature table hive-partitioned by
    ``__bucket = xxhash64(conv_id) % N`` and updates it with
    replace_groups_partitioned: only the buckets containing touched
    conversations are rewritten, so the update cost is proportional to the
    delta's footprint instead of the feature-table size — without it, the
    full-table copy-on-write rewrite is the floor of every update
    (measured in BENCH/INCREMENTAL.md). Size N so table_rows/N fits a
    comfortable rewrite unit (~one parquet file per bucket).

    A HASH bucket only bounds the rewrite while touched_convs << N (k
    random convs hit ~k distinct buckets). When deltas have locality — new
    and recent conversations, the daily-pipeline norm — pass
    ``feature_bucket_expr`` instead: a SQL expression over ``conv_id``
    (and ONLY conv_id: every row of a group must land in one bucket, and
    the bucket must never change across updates) that buckets by
    cohort/range, so a recent-cohort delta touches few buckets regardless
    of its size. Measured: the range-bucketed update rewrites ~2% of the
    table where hash bucketing rewrites most of it (BENCH/INCREMENTAL.md).

    Returns {"initialized", "touched_convs", "turns_appended",
    "feature_rows", "turns_snapshot", "features_snapshot"}.
    """
    from flow_feature_spark.features import session_features_exact_sql

    missing = [c for c in TURN_COLS if c not in new_turns.columns]
    if missing:
        raise ValueError(f"new_turns is missing kernel input columns: {missing}")
    spark = new_turns.sparkSession
    feats_of = lambda t: session_features_exact_sql(  # noqa: E731
        t, gap_seconds, rounding=rounding, reset_tool=reset_tool
    )

    if feature_bucket_expr:
        bucket_of = F.expr(feature_bucket_expr).cast("int")
        bucketed = True
    elif feature_buckets:
        bucket_of = F.pmod(F.xxhash64("conv_id"), F.lit(feature_buckets)).cast("int")
        bucketed = True
    else:
        bucket_of, bucketed = None, False
    # each table's log is read once; the commits and reads below take the
    # parsed log or entry, and every read takes its schema from the log
    turns_log = _read_log(spark, turns_table)
    if not turns_log:
        te = _write_snapshot(new_turns, turns_table, turns_log, job="incremental")
        feats = feats_of(_read_entry(spark, turns_table, te))
        if bucketed:
            fe = write_snapshot(
                feats.withColumn("__bucket", bucket_of),
                features_table,
                job="incremental",
                partition_cols=("__bucket",),
            )
        else:
            fe = write_snapshot(feats, features_table, job="incremental")
        return {
            "initialized": True,
            "touched_convs": None,
            "turns_appended": te["rows"],
            "feature_rows": fe["rows"],
            "turns_snapshot": te["snapshot_id"],
            "features_snapshot": fe["snapshot_id"],
        }

    te = _write_snapshot(
        new_turns, turns_table, turns_log, job="incremental", operation="append"
    )
    # the touched ids come from the committed delta directory, not from
    # new_turns (each use would rerun its normalize + dedup plan), and they
    # are the replace's keys, not feats' own ids (which would rerun the
    # feature plan inside the write). history holds only touched
    # conversations, so the keys cover every conversation in feats — the
    # replaces' precondition. Their count is observed on the jobs that
    # already scan them, not counted by a job of its own (an empty delta
    # has none, and Spark drops the empty frame from the plans that would
    # report the observation).
    delta_dir = f"{turns_table.rstrip('/')}/{te['dir']}"
    convs = Observation()
    touched = (
        _entry_reader(spark, te).parquet(delta_dir).select("conv_id").distinct()
        .observe(convs, F.expr("count(1) AS n"))
    )
    history = _read_entry(spark, turns_table, te).join(
        F.broadcast(touched), on="conv_id", how="left_semi"
    )
    feats = feats_of(history)
    features_log = _read_log(spark, features_table)
    if bucketed:
        fe = _replace_groups_partitioned(
            feats.withColumn("__bucket", bucket_of),
            features_table,
            features_log,
            ("conv_id",),
            "__bucket",
            keys=touched.withColumn("__bucket", bucket_of),
        )
    else:
        fe = _replace_groups(
            feats, features_table, features_log, ("conv_id",), keys=touched
        )
    return {
        "initialized": False,
        "touched_convs": int(convs.get["n"]) if te["rows"] else 0,
        "turns_appended": te["rows"],
        "feature_rows": fe["rows"],
        "turns_snapshot": te["snapshot_id"],
        "features_snapshot": fe["snapshot_id"],
    }
