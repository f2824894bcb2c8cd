"""Checkpoint/resume semantics (north rule: resumable with per-partition
lineage + metrics) — SURVEY.md §5.6. A checkpoint is a snapshot table
(io.py's snapshot log); resume reads its current snapshot."""

from __future__ import annotations

import os
import shutil
import tempfile

import pytest

from pyspark.sql import functions as F

from flow_feature_spark.io import (
    KernelMetrics,
    resume_or_compute,
    snapshot_history,
    write_snapshot,
)
from flow_feature_spark.kernel_fast import sessionize_and_extract_fast
from flow_feature_spark.prepare import normalize_turns
from flow_feature_spark.sessionize import dedup_turns
from flow_feature_spark.synth import synth_transcripts


@pytest.fixture()
def tmppath():
    d = tempfile.mkdtemp(prefix="ffs_resume_")
    yield os.path.join(d, "out")
    shutil.rmtree(d, ignore_errors=True)


def _features(spark, metrics=None):
    tr = synth_transcripts(spark, n_convs=20, turns_mean=15, hot_factor=5)
    return sessionize_and_extract_fast(
        normalize_turns(tr), gap_seconds=1800.0, rounding="r6", metrics=metrics
    )


def test_checkpoint_commit_and_resume(spark, tmppath):
    calls = {"n": 0}

    def compute():
        calls["n"] += 1
        return _features(spark)

    fp = "test-input-v1"
    df1, resumed1 = resume_or_compute(spark, tmppath, "features", compute, fp)
    assert not resumed1 and calls["n"] == 1
    n1 = df1.count()

    df2, resumed2 = resume_or_compute(spark, tmppath, "features", compute, fp)
    assert resumed2 and calls["n"] == 1  # no recompute
    assert df2.count() == n1

    # changed input fingerprint -> recompute
    df3, resumed3 = resume_or_compute(spark, tmppath, "features", compute, "v2")
    assert not resumed3 and calls["n"] == 2


def test_aborted_write_recomputes(spark, tmppath):
    feats = _features(spark)
    # simulate a crash: the first snapshot's data written, its log never
    # committed
    feats.write.parquet(f"{tmppath}/snap-000001")
    assert snapshot_history(spark, tmppath) == []
    calls = {"n": 0}

    def compute():
        calls["n"] += 1
        return _features(spark)

    _, resumed = resume_or_compute(spark, tmppath, "features", compute, "fp")
    assert not resumed and calls["n"] == 1
    (entry,) = snapshot_history(spark, tmppath)
    assert (entry["snapshot_id"], entry["input_fingerprint"]) == (1, "fp")


def _files_read(df) -> set[str]:
    return {r[0] for r in df.select(F.input_file_name()).distinct().collect()}


def test_old_layout_checkpoint_recomputes(spark, tmppath):
    """A directory in the pre-snapshot checkpoint layout (part files at the
    root plus a _FFS_MANIFEST.json naming the same job and fingerprint)
    recomputes once into a snapshot; no read includes the old root files."""
    import json

    _features(spark).write.parquet(tmppath)
    with open(os.path.join(tmppath, "_FFS_MANIFEST.json"), "w") as fh:
        json.dump({"job": "features", "input_fingerprint": "fp"}, fh)
    calls = {"n": 0}

    def compute():
        calls["n"] += 1
        return _features(spark)

    df1, resumed1 = resume_or_compute(spark, tmppath, "features", compute, "fp")
    df2, resumed2 = resume_or_compute(spark, tmppath, "features", compute, "fp")
    assert (resumed1, resumed2, calls["n"]) == (False, True, 1)
    n, snap = _features(spark).count(), f"{tmppath}/snap-000001/"
    for df in (df1, df2):
        assert df.count() == n
        assert all(snap in f for f in _files_read(df))


def test_orphan_of_crashed_recompute_keeps_checkpoint(spark, tmppath):
    """A recompute that crashed after writing its data (an orphan
    snap-000002, no log entry) leaves the committed checkpoint current: the
    next run resumes it with identical rows."""
    calls = {"n": 0}

    def compute():
        calls["n"] += 1
        return _features(spark)

    df1, _ = resume_or_compute(spark, tmppath, "features", compute, "fp")
    _features(spark).limit(3).write.parquet(f"{tmppath}/snap-000002")
    df2, resumed = resume_or_compute(spark, tmppath, "features", compute, "fp")
    assert resumed and calls["n"] == 1
    assert df1.exceptAll(df2).count() == 0 == df2.exceptAll(df1).count()
    assert all("/snap-000001/" in f for f in _files_read(df2))


def test_fingerprint_change_leaves_one_live_snapshot(spark, tmppath):
    """Each recompute expires the snapshot it supersedes: the checkpoint
    directory holds one live copy, the current one."""
    for fp in ("v1", "v2", "v3"):
        df, resumed = resume_or_compute(
            spark, tmppath, "features", lambda: _features(spark), fp
        )
        assert not resumed
    snaps = sorted(d for d in os.listdir(tmppath) if d.startswith("snap-"))
    log = snapshot_history(spark, tmppath)
    assert snaps == [log[-1]["dir"]] == ["snap-000003"]
    assert [e["dirs"] for e in log[:-1]] == [None, None]
    assert log[-1]["input_fingerprint"] == "v3"
    assert df.count() == log[-1]["rows"]


def test_metrics_lineage_in_manifest(spark, tmppath):
    metrics = KernelMetrics.create(spark)
    feats = _features(spark, metrics=metrics)
    m = write_snapshot(feats, tmppath, "features", "fp", metrics=metrics)
    assert m["rows"] == feats.count()
    snap = m["metrics"]
    assert snap["rows_out"] >= m["rows"]  # kernel may run before final count
    assert snap["rows_in"] > 0 and snap["batches"] > 0
    assert sum(snap["rows_in_by_partition"].values()) == snap["rows_in"]


def test_resume_idempotent_with_duplicate_turns(spark, tmppath):
    """Replayed (restart) turns collapse via dedup_turns before the kernel —
    final table identical, no duplicate (conv_id, session_id) rows."""
    tr = normalize_turns(synth_transcripts(spark, n_convs=15, turns_mean=12, hot_factor=3))
    replayed = tr.unionByName(tr.limit(50))  # partial re-ingest after restart
    clean = dedup_turns(replayed)
    a = sessionize_and_extract_fast(tr, 1800.0, rounding="r6")
    b = sessionize_and_extract_fast(clean, 1800.0, rounding="r6")
    rows_a = {(r["conv_id"], r["session_id"]): r["n_turns"] for r in a.collect()}
    rows_b = {(r["conv_id"], r["session_id"]): r["n_turns"] for r in b.collect()}
    assert rows_a == rows_b
    assert b.groupBy("conv_id", "session_id").count().filter(F.col("count") > 1).count() == 0


def test_compact_table(spark, tmp_path):
    """Small-files compaction: many tiny files -> few, same rows, safe swap."""
    from flow_feature_spark.io import compact_table

    path = f"{tmp_path}/frag"
    df = spark.range(10_000).selectExpr("id", "id % 7 AS k")
    df.repartition(40).write.parquet(path)
    before = spark.read.parquet(path)
    n_rows = before.count()

    stats = compact_table(spark, path, target_file_bytes=10 * 1024 * 1024)
    assert stats["files_before"] == 40
    assert stats["files_after"] < 40
    after = spark.read.parquet(path)
    assert after.count() == n_rows
    assert sorted(r["id"] for r in after.collect()) == list(range(10_000))
    # no leftover staging dirs
    import os
    leftovers = [d for d in os.listdir(tmp_path) if "compact" in d or "precompact" in d]
    assert leftovers == []


def test_compact_table_sorted(spark, tmp_path):
    from flow_feature_spark.io import compact_table

    path = f"{tmp_path}/frag2"
    spark.range(5_000).selectExpr("id", "id % 13 AS k").repartition(25).write.parquet(path)
    stats = compact_table(spark, path, target_file_bytes=512 * 1024 * 1024, sort_cols=("k", "id"))
    assert stats["files_after"] == 1
    got = [r["id"] for r in spark.read.parquet(path).collect()]
    assert sorted(got) == list(range(5_000))
