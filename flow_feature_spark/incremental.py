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
  ``feature_bucket_expr`` (partition-bounded replace), or keep deltas and
  reconcile at read (merge-on-read) when the touched set is huge. The
  feature table's log records that expression and the turns snapshot the
  table reflects.
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
)

TURN_COLS = ("conv_id", "turn_idx", "ts_us", "is_fwd", "plen", "win", "flags", "ihl")


def _check_consistent(
    turns_log: list[dict],
    features_log: list[dict],
    turns_table: str,
    features_table: str,
) -> None:
    """Raise IOError unless the feature table reflects the turns table's
    current state. A call that stopped between its turns append and its
    feature commit left the delta appended; a rerun would append it twice.
    Rollbacks and compactions keep the state they point at, so the turns
    table may reach the recorded snapshot through them. A feature table
    without the recorded turns snapshot is not checked."""
    if turns_log and not features_log:
        raise IOError(
            f"turns table {turns_table} is at snapshot "
            f"{turns_log[-1]['snapshot_id']} but feature table "
            f"{features_table} has no snapshot: the first update stopped "
            f"between its two commits; delete {turns_table} and rerun it"
        )
    if not features_log or "turns_snapshot_id" not in features_log[-1]:
        return
    want = features_log[-1]["turns_snapshot_id"]
    by_id = {e["snapshot_id"]: e for e in turns_log}
    e = turns_log[-1] if turns_log else None
    while e is not None and e["snapshot_id"] != want:
        op = e["operation"]
        if op.startswith("rollback_to_"):
            e = by_id[int(op[len("rollback_to_"):])]
        else:
            e = by_id[e["parent_id"]] if e.get("job") == "compact_snapshot" else None
    if e is None:
        raise IOError(
            f"feature table {features_table} reflects turns snapshot {want}, "
            f"but turns table {turns_table} is at snapshot "
            f"{turns_log[-1]['snapshot_id'] if turns_log else None}: an update "
            f"stopped between its two commits. Restore with "
            f"io.rollback_snapshot(spark, {turns_table!r}, {want}), then "
            f"rerun the delta"
        )


def incremental_feature_update(
    new_turns: DataFrame,
    turns_table: str,
    features_table: str,
    gap_seconds: float,
    rounding: str = "r6",
    reset_tool: str | None = None,
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
    beyond its two commits: no schema inference, no separate count. Before
    writing anything it raises IOError, naming the rollback that restores
    the tables, if an earlier call stopped between its two commits.

    ``feature_bucket_expr`` stores the feature table hive-partitioned by
    ``__bucket = <expr>``, a SQL expression over ``conv_id`` only (every row
    of a group must land in one bucket), and updates it with
    replace_groups_partitioned: only the buckets holding touched
    conversations are rewritten, where the copy-on-write replace rewrites
    the whole table (BENCH/INCREMENTAL.md). A hash bucket,
    ``pmod(xxhash64(conv_id), N)``, bounds the rewrite only while
    touched_convs << N; when deltas are recent cohorts, bucket by cohort
    range instead (~2% of the table rewritten where hash bucketing rewrites
    most of it, BENCH/INCREMENTAL.md). The first call records the
    expression (None for none) in the feature table's log; later calls use
    the recorded one, and a different one raises ValueError. A feature
    table written before the expression was recorded uses the caller's.

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

    # each table's log is read once, both before anything is written; the
    # commits and reads below take the parsed log or entry, and every read
    # takes its schema from the log
    turns_log = _read_log(spark, turns_table)
    features_log = _read_log(spark, features_table)
    _check_consistent(turns_log, features_log, turns_table, features_table)
    bucket_expr = feature_bucket_expr
    if features_log and "bucket_expr" in features_log[-1]:
        # a different expression would leave a touched conversation's old
        # rows in the buckets it does not rewrite
        bucket_expr = features_log[-1]["bucket_expr"]
        if feature_bucket_expr not in (None, bucket_expr):
            raise ValueError(
                f"feature table {features_table} records bucket expression "
                f"{bucket_expr!r}, but this call passes "
                f"{feature_bucket_expr!r}; omit it to use the recorded one"
            )
    bucket_of = F.expr(bucket_expr).cast("int") if bucket_expr else None
    te = _write_snapshot(
        new_turns, turns_table, turns_log, job="incremental",
        operation="append" if turns_log else "overwrite",
    )
    reflects = {"turns_snapshot_id": te["snapshot_id"]}
    if not turns_log:
        feats = feats_of(_read_entry(spark, turns_table, te))
        fe = _write_snapshot(
            feats.withColumn("__bucket", bucket_of) if bucket_expr else feats,
            features_table, features_log, job="incremental",
            partition_cols=("__bucket",) if bucket_expr else None,
            extra_entry={"bucket_expr": bucket_expr, **reflects},
        )
        touched_convs = None
    else:
        # the touched ids come from the committed delta directory, not from
        # new_turns (each use would rerun its normalize + dedup plan), and
        # they are the replace's keys, not feats' own ids (which would rerun
        # the feature plan inside the write). history holds only touched
        # conversations, so the keys cover every conversation in feats —
        # the replaces' precondition. Their count is observed on the jobs
        # that already scan them, not counted by a job of its own (an empty
        # delta has none, and Spark drops the empty frame from the plans
        # that would report the observation).
        delta_dir = f"{turns_table.rstrip('/')}/{te['dir']}"
        convs = Observation()
        touched = (
            _entry_reader(spark, te).parquet(delta_dir).select("conv_id")
            .distinct().observe(convs, F.expr("count(1) AS n"))
        )
        history = _read_entry(spark, turns_table, te).join(
            F.broadcast(touched), on="conv_id", how="left_semi"
        )
        feats = feats_of(history)
        if bucket_expr:
            fe = _replace_groups_partitioned(
                feats.withColumn("__bucket", bucket_of), features_table,
                features_log, ("conv_id",), "__bucket",
                keys=touched.withColumn("__bucket", bucket_of), extra_entry=reflects,
            )
        else:
            fe = _replace_groups(
                feats, features_table, features_log, ("conv_id",),
                keys=touched, extra_entry=reflects,
            )
        touched_convs = int(convs.get["n"]) if te["rows"] else 0
    return {
        "initialized": not turns_log,
        "touched_convs": touched_convs,
        "turns_appended": te["rows"],
        "feature_rows": fe["rows"],
        "turns_snapshot": te["snapshot_id"],
        "features_snapshot": fe["snapshot_id"],
    }
