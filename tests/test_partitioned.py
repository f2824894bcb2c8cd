"""Partitioned table layout + partition pruning (SURVEY §2.1 S1's
partition-pruned scan promise made concrete).

At 100 TB, a date-sliced query over an unpartitioned table pays a full scan;
hive-partitioning the sink by event date turns the same predicate into
directory-level pruning at PLANNING time (PartitionFilters on the scan node,
only the matching directories listed/read) — the parquet analog of an
Iceberg partition spec. These tests pin (a) that a partitioned snapshot
commit (io.write_snapshot, the --checkpoint commit) lays the directories
out, (b) that a date predicate on the snapshot read shows up as a
PartitionFilter and prunes the file set, and (c) that the job CLI derives +
partitions end-to-end.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from flow_feature_spark.io import read_snapshot, snapshot_history, write_snapshot


def _scan_meta(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _partition_filters(plan: str) -> str:
    """The contents of the scan node's PartitionFilters: [...] list."""
    if "PartitionFilters" not in plan:
        return ""
    tail = plan[plan.index("PartitionFilters"):]
    return tail[tail.index("[") + 1 : tail.index("]")]


def _partition_dirs(path: str, col: str) -> list[str]:
    return sorted(d for d in os.listdir(path) if d.startswith(f"{col}="))


def test_checkpoint_partitioned_layout_and_pruned_scan(spark, tmp_path):
    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet").withColumn(
        "event_date", F.to_date("ts")
    )
    out = f"{tmp_path}/events_by_date"
    m = write_snapshot(
        ev, out, job="events_partitioned", partition_cols=("event_date",)
    )
    snap = f"{out}/{m['dir']}"
    dirs = _partition_dirs(snap, "event_date")
    assert len(dirs) > 1, "expected one directory per event date"
    assert m["rows"] == ev.count()
    assert snapshot_history(spark, out)[-1]["job"] == "events_partitioned"

    back = read_snapshot(spark, out)
    one_day = dirs[0].split("=", 1)[1]
    sliced = back.filter(F.col("event_date") == F.lit(one_day).cast("date"))
    plan = _scan_meta(sliced)
    # the predicate must reach the scan as a PARTITION filter (planning-time
    # directory pruning), not a data filter evaluated per row-group
    assert "event_date" in _partition_filters(plan), plan[:1500]
    # pruning proof by I/O shape: the sliced scan reads exactly the one
    # directory's files
    n_files_total = sum(
        len([f for f in files if f.endswith(".parquet")])
        for _, _, files in os.walk(out)
    )
    n_files_read = sliced.select(F.input_file_name()).distinct().count()
    n_files_one_dir = len(
        [f for f in os.listdir(f"{snap}/{dirs[0]}") if f.endswith(".parquet")]
    )
    assert n_files_read == n_files_one_dir < n_files_total
    # and the slice is correct
    assert sliced.count() == ev.filter(
        F.col("event_date") == F.lit(one_day).cast("date")
    ).count()


def test_unpartitioned_scan_has_no_partition_filter(spark, tmp_path):
    """Control: the same predicate over an unpartitioned checkpoint is a data
    filter (PushedFilters at best), never a PartitionFilter — the delta the
    partitioned layout buys."""
    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet").withColumn(
        "event_date", F.to_date("ts")
    )
    out = f"{tmp_path}/events_flat"
    write_snapshot(ev, out, job="events_flat")
    back = read_snapshot(spark, out)
    sliced = back.filter(F.col("event_date") == F.to_date(F.lit("2024-01-02")))
    plan = _scan_meta(sliced)
    assert "event_date" not in _partition_filters(plan)


def test_job_cli_partition_by_derived_column(spark, tmp_path):
    """End-to-end: --partition-by event_date=to_date(ts) on the sessionize
    sink lays out hive directories and a date slice prunes."""
    from flow_feature_spark import job
    from flow_feature_spark.synth import synth_transcripts

    inp, out = f"{tmp_path}/turns", f"{tmp_path}/sess_by_date"
    synth_transcripts(spark, n_convs=40, turns_mean=8).write.parquet(inp)
    rc = job.run([
        "--input", inp, "--output", out, "--mode", "sessionize",
        "--partition-by", "event_date=to_date(ts)",
    ])
    assert rc == 0
    dirs = _partition_dirs(out, "event_date")
    assert dirs, "expected hive-style event_date= directories"
    back = spark.read.parquet(out)
    assert "event_date" in back.columns
    one_day = dirs[0].split("=", 1)[1]
    plan = _scan_meta(
        back.filter(F.col("event_date") == F.lit(one_day).cast("date"))
    )
    assert "event_date" in _partition_filters(plan)
    # row-preserving: partitioning changed layout, not content
    assert back.count() == spark.read.parquet(inp).count()


def test_job_cli_partition_by_rejects_csv(tmp_path):
    from flow_feature_spark import job

    rc = None
    try:
        job.run([
            "--input", f"{tmp_path}/x", "--output", f"{tmp_path}/y",
            "--format", "csv", "--partition-by", "event_date=to_date(ts)",
        ])
    except SystemExit as e:
        rc = str(e)
    assert rc is not None and "parquet sink only" in rc


def test_compact_preserves_hive_partition_layout(spark, tmp_path):
    """Compaction of a date-partitioned table must keep the col=value layout
    (and its pruning) while collapsing the per-partition small files."""
    from flow_feature_spark.io import compact_table

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet").withColumn(
        "event_date", F.to_date("ts")
    )
    out = f"{tmp_path}/events_frag"
    # fragment: many small files inside each date directory
    ev.repartition(8).write.partitionBy("event_date").parquet(out)
    before = spark.read.parquet(out)
    n_rows, n_dates = before.count(), before.select("event_date").distinct().count()

    stats = compact_table(spark, out, target_file_bytes=256 * 1024 * 1024)
    assert stats["partition_cols"] == ["event_date"]
    assert stats["files_after"] < stats["files_before"]
    # one file per date directory (hash-clustered rewrite)
    assert stats["files_after"] == n_dates
    dirs = _partition_dirs(out, "event_date")
    assert len(dirs) == n_dates
    after = spark.read.parquet(out)
    assert after.count() == n_rows
    one_day = dirs[0].split("=", 1)[1]
    plan = _scan_meta(after.filter(F.col("event_date") == F.lit(one_day).cast("date")))
    assert "event_date" in _partition_filters(plan)


def test_compact_preserves_string_partition_values_verbatim(spark, tmp_path):
    """An in-place compaction must not rewrite partition VALUES: a
    numeric-looking string partition (src=00123) would be inferred as int by
    the default rewrite read and come back as src=123 — a silent value and
    type change. compact_table disables partition-column type inference for
    its rewrite read, so the on-disk spelling survives."""
    from flow_feature_spark.io import compact_table

    df = spark.createDataFrame(
        [(i, "00123" if i % 2 == 0 else "7A") for i in range(200)],
        "id long, src string",
    )
    out = f"{tmp_path}/by_src"
    df.repartition(4).write.partitionBy("src").parquet(out)
    dirs_before = sorted(_partition_dirs(out, "src"))
    assert dirs_before == ["src=00123", "src=7A"]

    stats = compact_table(spark, out)
    assert stats["partition_cols"] == ["src"]
    assert sorted(_partition_dirs(out, "src")) == dirs_before
    after = spark.read.option(
        "spark.sql.sources.partitionColumnTypeInference.enabled", "false"
    ).parquet(out)
    assert after.count() == 200
    vals = {r["src"] for r in after.select("src").distinct().collect()}
    assert vals == {"00123", "7A"}
