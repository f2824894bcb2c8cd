"""Snapshot log: Iceberg-shaped versioning without the Iceberg jar
(io.write_snapshot / read_snapshot / rollback_snapshot / expire_snapshots).

Reference basis: generalizes the joblib cache S4 replaces
(get_flow_feature.py:7-14) — the --checkpoint resume reads the current
snapshot of this log — adding the Iceberg table contract the north rule
names: immutable snapshots, VERSION AS OF / TIMESTAMP AS OF time travel,
append-only rollback, expiration.
"""

from __future__ import annotations

import time

import pytest
from pyspark.sql import functions as F

from flow_feature_spark.io import (
    expire_snapshots,
    read_snapshot,
    rollback_snapshot,
    snapshot_history,
    write_snapshot,
)


def test_snapshot_commit_time_travel_rollback_expire(spark, tmp_path):
    tp = str(tmp_path / "tbl")
    a = spark.range(5).withColumn("v", F.col("id") * 2)
    b = spark.range(9).withColumn("v", F.col("id") * 3)

    e1 = write_snapshot(a, tp, job="t")
    assert e1["snapshot_id"] == 1 and e1["parent_id"] is None and e1["rows"] == 5
    t_mid = int(time.time())
    time.sleep(1.1)  # committed_at_unix has second granularity
    e2 = write_snapshot(b, tp, job="t")
    assert e2["snapshot_id"] == 2 and e2["parent_id"] == 1

    # current state is the last commit; snapshot 1's directory is untouched
    assert read_snapshot(spark, tp).count() == 9
    assert sorted(
        r["v"] for r in read_snapshot(spark, tp, snapshot_id=1).collect()
    ) == [0, 2, 4, 6, 8]
    # TIMESTAMP AS OF between the two commits resolves to snapshot 1
    assert read_snapshot(spark, tp, as_of_unix=t_mid).count() == 5

    # rollback = NEW log entry pointing at snapshot 1's immutable dir
    e3 = rollback_snapshot(spark, tp, 1)
    assert e3["snapshot_id"] == 3 and e3["parent_id"] == 2
    assert read_snapshot(spark, tp).count() == 5
    hist = snapshot_history(spark, tp)
    assert [e["snapshot_id"] for e in hist] == [1, 2, 3]
    assert hist[2]["operation"] == "rollback_to_1"

    # expiration keeps directories still referenced by kept entries: with
    # keep_last=2 the kept rollback entry references snap 1's dir, so
    # nothing is deletable
    res = expire_snapshots(spark, tp, keep_last=2)
    assert res == {"expired": [], "kept": [2, 3]}
    assert read_snapshot(spark, tp, snapshot_id=1).count() == 5

    # a fourth commit then keep_last=1 expires everything else
    c = spark.range(2).withColumn("v", F.col("id"))
    e4 = write_snapshot(c, tp, job="t")
    res = expire_snapshots(spark, tp, keep_last=1)
    assert res["kept"] == [4]
    assert set(res["expired"]) == {1, 2, 3}
    assert read_snapshot(spark, tp).count() == 2
    # expired snapshots stay in the log for audit but are unreadable
    hist = snapshot_history(spark, tp)
    assert [e["snapshot_id"] for e in hist] == [1, 2, 3, 4]
    assert all(e["dir"] is None for e in hist[:3])
    try:
        read_snapshot(spark, tp, snapshot_id=2)
        raise AssertionError("expired snapshot must not be readable")
    except KeyError:
        pass
    assert e4["snapshot_id"] == 4


def test_snapshot_partitioned_write_reads_back(spark, tmp_path):
    tp = str(tmp_path / "ptbl")
    df = spark.range(100).select(
        F.col("id"),
        (F.col("id") % 4).cast("string").alias("p"),
    )
    write_snapshot(df, tp, partition_cols=("p",))
    got = read_snapshot(spark, tp)
    assert got.count() == 100
    assert sorted(got.columns) == ["id", "p"]
    # partition pruning works on the snapshot directory
    assert got.filter(F.col("p") == "1").count() == 25


def test_snapshot_append_commits_delta_only(spark, tmp_path):
    """operation="append" writes ONLY the delta directory (Iceberg
    fast-append): state = parent dirs + delta, earlier snapshots unchanged,
    schema drift rejected."""
    tp = str(tmp_path / "atbl")
    mk = lambda lo, hi: spark.range(lo, hi).withColumn(  # noqa: E731
        "v", F.col("id") * 10
    )
    e1 = write_snapshot(mk(0, 4), tp)
    e2 = write_snapshot(mk(4, 10), tp, operation="append")
    e3 = write_snapshot(mk(10, 11), tp, operation="append")
    assert e1["dirs"] == ["snap-000001"]
    assert e2["dirs"] == ["snap-000001", "snap-000002"]
    assert e3["dirs"] == ["snap-000001", "snap-000002", "snap-000003"]
    assert (e2["rows"], e2["state_rows"]) == (6, 10)
    assert e3["state_rows"] == 11
    assert read_snapshot(spark, tp).count() == 11
    assert read_snapshot(spark, tp, snapshot_id=2).count() == 10
    assert read_snapshot(spark, tp, snapshot_id=1).count() == 4
    assert sorted(
        r["v"] for r in read_snapshot(spark, tp).collect()
    ) == [i * 10 for i in range(11)]

    # schema drift must be an overwrite, not an append
    try:
        write_snapshot(
            spark.range(3).withColumn("other", F.lit("x")),
            tp,
            operation="append",
        )
        raise AssertionError("append with a different schema must fail")
    except ValueError:
        pass

    # rollback to an append snapshot carries its full composition
    rollback_snapshot(spark, tp, 2)
    assert read_snapshot(spark, tp).count() == 10
    # expire keep_last=1: the kept rollback references snaps 1+2, so only
    # snap 3's delta is reclaimable
    res = expire_snapshots(spark, tp, keep_last=1)
    assert res["expired"] == [3]
    assert read_snapshot(spark, tp).count() == 10
    assert read_snapshot(spark, tp, snapshot_id=1).count() == 4


def test_snapshot_merge_upsert_insert_delete(spark, tmp_path):
    """merge_snapshot = MERGE INTO: same-key rows replaced, new keys
    inserted, delete-flagged keys removed; pre-merge state still readable."""
    from flow_feature_spark.io import merge_snapshot

    tp = str(tmp_path / "mtbl")
    base = spark.createDataFrame(
        [("a", 1, 10), ("b", 2, 20), ("c", 3, 30)], "k string, n int, v int"
    )
    write_snapshot(base, tp)
    updates = spark.createDataFrame(
        [
            ("b", 99, 990, False),   # update existing key
            ("d", 4, 40, False),     # insert new key
            ("a", 0, 0, True),       # delete existing key
        ],
        "k string, n int, v int, __del boolean",
    )
    e = merge_snapshot(updates, tp, ("k",), delete_col="__del")
    assert e["operation"] == "merge" and e["snapshot_id"] == 2
    got = {r["k"]: (r["n"], r["v"]) for r in read_snapshot(spark, tp).collect()}
    assert got == {"b": (99, 990), "c": (3, 30), "d": (4, 40)}
    # time travel to the pre-merge state
    pre = {r["k"]: r["n"] for r in
           read_snapshot(spark, tp, snapshot_id=1).collect()}
    assert pre == {"a": 1, "b": 2, "c": 3}

    # schema mismatch walls
    try:
        merge_snapshot(updates.drop("v"), tp, ("k",), delete_col="__del")
        raise AssertionError("schema mismatch must fail")
    except ValueError:
        pass
    try:
        merge_snapshot(updates, tp, ("nope",), delete_col="__del")
        raise AssertionError("bad key must fail")
    except ValueError:
        pass

    # MERGE cardinality: two source rows for one key (an upsert AND a delete
    # flag) is ambiguous — Iceberg/Delta raise; so do we
    dup = spark.createDataFrame(
        [("b", 1, 10, False), ("b", 0, 0, True)],
        "k string, n int, v int, __del boolean",
    )
    try:
        merge_snapshot(dup, tp, ("k",), delete_col="__del")
        raise AssertionError("duplicate source keys must fail")
    except ValueError as e:
        assert "multiple rows per key" in str(e)


def test_snapshot_changes_full_row_diff(spark, tmp_path):
    """snapshot_changes = changelog scan between versions: inserts, deletes,
    and an update as a delete+insert pair; multiset semantics keep duplicate
    multiplicity."""
    from flow_feature_spark.io import snapshot_changes

    tp = str(tmp_path / "ctbl")
    v1 = spark.createDataFrame(
        [("a", 1), ("b", 2), ("dup", 7), ("dup", 7)], "k string, n int"
    )
    v2 = spark.createDataFrame(
        [("a", 1), ("b", 99), ("c", 3), ("dup", 7)], "k string, n int"
    )
    write_snapshot(v1, tp)
    write_snapshot(v2, tp)
    ch = sorted(
        (r["change_type"], r["k"], r["n"])
        for r in snapshot_changes(spark, tp, 1, 2).collect()
    )
    assert ch == [
        ("delete", "b", 2),      # update = delete+insert
        ("delete", "dup", 7),    # multiplicity 2 -> 1: ONE delete row
        ("insert", "b", 99),
        ("insert", "c", 3),
    ]


def test_snapshot_append_schema_evolution(spark, tmp_path):
    """allow_new_columns: an append may ADD columns; pre-evolution rows
    surface them as NULL via parquet schema merging, no rewrite. Drops and
    retypes stay rejected."""
    tp = str(tmp_path / "etbl")
    write_snapshot(
        spark.createDataFrame([(1, "a"), (2, "b")], "id int, v string"), tp
    )
    # adding a column without the flag still fails
    evolved = spark.createDataFrame(
        [(3, "c", 9.5)], "id int, v string, score double"
    )
    try:
        write_snapshot(evolved, tp, operation="append")
        raise AssertionError("schema drift without the flag must fail")
    except ValueError:
        pass
    e = write_snapshot(evolved, tp, operation="append", allow_new_columns=True)
    assert e["schema_evolved"] is True
    got = {r["id"]: (r["v"], r["score"]) for r in read_snapshot(spark, tp).collect()}
    assert got == {1: ("a", None), 2: ("b", None), 3: ("c", 9.5)}
    # old snapshots read with their own schema
    assert "score" not in read_snapshot(spark, tp, snapshot_id=1).columns
    # further appends must carry the evolved schema onward
    e2 = write_snapshot(
        spark.createDataFrame([(4, "d", 1.0)], "id int, v string, score double"),
        tp, operation="append", allow_new_columns=True,
    )
    assert e2["schema_evolved"] is True and e2["state_rows"] == 4
    # reordering / retyping the parent prefix is rejected
    try:
        write_snapshot(
            spark.createDataFrame([(5.0, "e", 1.0)], "id double, v string, score double"),
            tp, operation="append", allow_new_columns=True,
        )
        raise AssertionError("retyping a parent column must fail")
    except ValueError:
        pass


def test_snapshot_zone_map_pruned_read(spark, tmp_path):
    """write_snapshot(stats_cols=...) + read_snapshot_pruned: pruned ==
    plain read + filter across overwrite, fast-append (per-dir sidecars),
    and schema evolution (pre-evolution dirs read fully on new columns)."""
    from flow_feature_spark.io import read_snapshot_pruned
    from flow_feature_spark.layout import read_zonemap

    tp = str(tmp_path / "zm")
    base = spark.range(1000).select(
        F.col("id"), (F.col("id") % 100).alias("x")
    ).repartition(4)
    write_snapshot(base, tp, job="t", stats_cols=("x",))
    zm = read_zonemap(spark, tp + "/snap-000001")
    assert zm["columns"] == ["x"] and len(zm["files"]) == 4

    delta = spark.range(1000, 1500).select(
        F.col("id"), (F.col("id") % 100 + 200).alias("x")
    ).repartition(2)
    write_snapshot(delta, tp, job="t", operation="append", stats_cols=("x",))

    pruned = read_snapshot_pruned(spark, tp, {"x": (210, 220)})
    oracle = read_snapshot(spark, tp).filter(F.col("x").between(210, 220))
    assert sorted(map(tuple, pruned.collect())) == sorted(
        map(tuple, oracle.collect())
    )
    # the base snapshot's x range is [0,99]: its files all prune
    assert pruned.count() == oracle.count() > 0

    # evolution: new column y; predicate on y must not mis-prune old dirs
    evolved = spark.range(2000, 2100).select(
        F.col("id"), (F.col("id") % 100).alias("x"),
        (F.col("id") % 7).alias("y"),
    )
    write_snapshot(
        evolved, tp, job="t", operation="append",
        allow_new_columns=True, stats_cols=("x", "y"),
    )
    p2 = read_snapshot_pruned(spark, tp, {"y": (0, 3)})
    o2 = read_snapshot(spark, tp).filter(F.col("y").between(0, 3))
    assert sorted(r["id"] for r in p2.collect()) == sorted(
        r["id"] for r in o2.collect()
    )

    # a box pruning EVERY file still returns an empty, well-typed frame
    p3 = read_snapshot_pruned(spark, tp, {"x": (9_000, 9_999)})
    assert p3.count() == 0 and "id" in p3.columns


def test_vacuum_removes_orphans_keeps_live(spark, tmp_path):
    from flow_feature_spark.io import vacuum_table

    tp = str(tmp_path / "vac")
    write_snapshot(spark.range(10), tp, job="t")
    write_snapshot(spark.range(20), tp, job="t")
    # simulate a failed commit: data directory exists, log never updated
    spark.range(5).write.parquet(tp + "/snap-000099")
    out = vacuum_table(spark, tp)
    assert out["removed"] == ["snap-000099"]
    assert set(out["live"]) == {"snap-000001", "snap-000002"}
    # both committed snapshots still read
    assert read_snapshot(spark, tp, snapshot_id=1).count() == 10
    assert read_snapshot(spark, tp).count() == 20
    import pytest as _pytest

    with _pytest.raises(FileNotFoundError, match="refusing to vacuum"):
        vacuum_table(spark, str(tmp_path / "not_a_table"))


def test_orphan_snap_dir_from_crashed_commit_is_reclaimed_on_retry(spark, tmp_path):
    """A crash between the data write and the log commit leaves snap-<id>
    with no log entry; the retry (same snap_id) must reclaim it instead of
    failing forever on errorifexists — the streaming exactly-once resume
    depends on this."""
    import os

    tp = str(tmp_path / "otbl")
    df = spark.createDataFrame([("a", 1)], "k string, v int")
    write_snapshot(df, tp)
    # simulate the crashed second commit: data dir exists, log unchanged
    orphan = os.path.join(tp, "snap-000002")
    spark.createDataFrame([("zz", 9)], "k string, v int").write.parquet(orphan)
    assert os.path.isdir(orphan)
    # retry commits cleanly and the orphan's rows are NOT in the table
    e = write_snapshot(
        spark.createDataFrame([("b", 2)], "k string, v int"), tp,
        operation="append",
    )
    assert e["snapshot_id"] == 2
    got = {r["k"] for r in read_snapshot(spark, tp).collect()}
    assert got == {"a", "b"}

    # a bounded replace commits through the same step: its retry reclaims
    # the orphan too
    from flow_feature_spark.io import replace_groups_partitioned

    bp = str(tmp_path / "obtbl")
    mk = lambda rows: spark.createDataFrame(rows, "k string, v int, b int")  # noqa: E731
    write_snapshot(mk([("a", 1, 0), ("b", 2, 1)]), bp, partition_cols=("b",))
    mk([("zz", 9, 0)]).write.partitionBy("b").parquet(os.path.join(bp, "snap-000002"))
    e = replace_groups_partitioned(mk([("a", 5, 0)]), bp, ("k",), "b")
    assert e["snapshot_id"] == 2
    got = sorted(map(tuple, read_snapshot(spark, bp).collect()))
    assert got == [("a", 5, 0), ("b", 2, 1)]


def test_merge_null_delete_flag_raises_not_silent_delete(spark, tmp_path):
    """NULL in the delete flag used to vanish from filter(~col) while the
    key stayed in `touched` — a silent DELETE. It must fail loudly."""
    from flow_feature_spark.io import merge_snapshot

    tp = str(tmp_path / "ndtbl")
    write_snapshot(
        spark.createDataFrame([("a", 1), ("b", 2)], "k string, v int"), tp
    )
    upd = spark.createDataFrame(
        [("a", 10, None)], "k string, v int, __del boolean"
    )
    try:
        merge_snapshot(upd, tp, ("k",), delete_col="__del")
        raise AssertionError("NULL delete flag must fail")
    except Exception as e:
        assert "NULL in delete flag" in str(e)
    # table unchanged
    got = {r["k"]: r["v"] for r in read_snapshot(spark, tp).collect()}
    assert got == {"a": 1, "b": 2}


def test_compact_preserves_partition_spec_and_bounded_replace(spark, tmp_path):
    """compact_snapshot defaults to the parent's partition spec so a table
    maintained with replace_groups_partitioned keeps its bounded-replace
    path after compaction."""
    from flow_feature_spark.io import compact_snapshot

    tp = str(tmp_path / "ctbl")
    df = spark.createDataFrame(
        [("a", 1, 10), ("a", 2, 20), ("b", 1, 30)], "g string, n int, v int"
    )
    write_snapshot(df, tp, partition_cols=("g",))
    e = compact_snapshot(spark, tp, target_files=2)
    assert e["partition_cols"] == ["g"]
    got = sorted((r["g"], r["n"], r["v"]) for r in read_snapshot(spark, tp).collect())
    assert got == [("a", 1, 10), ("a", 2, 20), ("b", 1, 30)]
    # explicit () deliberately flattens
    e2 = compact_snapshot(spark, tp, target_files=1, partition_cols=())
    assert e2["partition_cols"] == []


def test_log_crash_window_recovers_from_tmp_not_data_loss(spark, tmp_path):
    """_write_log replaces the log by delete-then-rename; a crash inside
    that window leaves NO log but a complete tmp. _read_log must recover
    from the tmp — treating the state as an empty table would restart ids
    at 1 and the orphan reclaim would DELETE committed snapshot data."""
    import json
    import os

    tp = str(tmp_path / "rtbl")
    write_snapshot(spark.createDataFrame([("a", 1)], "k string, v int"), tp)
    write_snapshot(
        spark.createDataFrame([("b", 2)], "k string, v int"), tp,
        operation="append",
    )
    log_path = os.path.join(tp, "_FFS_SNAPSHOTS.json")
    content = open(log_path).read()
    # simulate the crash: tmp written, old log deleted, rename never ran
    open(os.path.join(tp, "_FFS_SNAPSHOTS.json.tmp.deadbeef"), "w").write(content)
    os.remove(log_path)
    got = {r["k"] for r in read_snapshot(spark, tp).collect()}
    assert got == {"a", "b"}
    # the next commit proceeds from the recovered history, ids intact
    e = write_snapshot(
        spark.createDataFrame([("c", 3)], "k string, v int"), tp,
        operation="append",
    )
    assert e["snapshot_id"] == 3
    assert {r["k"] for r in read_snapshot(spark, tp).collect()} == {"a", "b", "c"}
    # log healed on disk; stale tmp reaped
    assert os.path.exists(log_path)
    assert len(json.loads(open(log_path).read())) == 3
    assert not [
        f for f in os.listdir(tp) if f.startswith("_FFS_SNAPSHOTS.json.tmp.")
    ]
    # a partial (unparseable) NEWER tmp must not poison recovery either
    open(os.path.join(tp, "_FFS_SNAPSHOTS.json.tmp.ffff"), "w").write(
        open(log_path).read()[: 40]
    )
    assert {r["k"] for r in read_snapshot(spark, tp).collect()} == {"a", "b", "c"}


def test_log_lost_with_committed_dirs_raises_not_fresh_table(spark, tmp_path):
    """No log, no tmp, MULTIPLE snap dirs = a committed history whose log
    vanished outside the commit protocol. Reading or writing must refuse
    loudly — silently restarting as a fresh table reclaims (deletes)
    committed data. One lone snap dir stays retryable (the documented
    first-commit crash)."""
    import os

    import pytest as _pytest

    tp = str(tmp_path / "ltbl")
    write_snapshot(spark.createDataFrame([("a", 1)], "k string, v int"), tp)
    write_snapshot(
        spark.createDataFrame([("b", 2)], "k string, v int"), tp,
        operation="append",
    )
    os.remove(os.path.join(tp, "_FFS_SNAPSHOTS.json"))
    with _pytest.raises(Exception, match="snapshot log missing"):
        read_snapshot(spark, tp)
    with _pytest.raises(Exception, match="snapshot log missing"):
        write_snapshot(spark.createDataFrame([("x", 9)], "k string, v int"), tp)
    # committed data untouched by the refusals
    assert os.path.isdir(os.path.join(tp, "snap-000001"))
    assert os.path.isdir(os.path.join(tp, "snap-000002"))


def test_compact_and_merge_inherit_stats_cols_zone_maps_survive(spark, tmp_path):
    """A COW rewrite (compaction, merge, group replace) of a stats-tracked
    table must re-collect the zone-map sidecar — dropping it silently turns
    read_snapshot_pruned into a full scan."""
    import os

    from flow_feature_spark.io import (
        compact_snapshot,
        merge_snapshot,
        read_snapshot_pruned,
        replace_groups_partitioned,
        replace_groups_snapshot,
    )

    tp = str(tmp_path / "ztbl")
    df = spark.range(0, 100).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("ts")
    )
    write_snapshot(df, tp, stats_cols=("ts",))
    e = compact_snapshot(spark, tp, target_files=2)
    assert e["stats_cols"] == ["ts"]
    assert os.path.exists(os.path.join(tp, "snap-000002", "_zonemap.json"))
    upd = spark.createDataFrame([(5, 999)], "k long, ts long")
    e2 = merge_snapshot(upd, tp, ("k",))
    assert e2["stats_cols"] == ["ts"]
    assert os.path.exists(os.path.join(tp, "snap-000003", "_zonemap.json"))
    e3 = replace_groups_snapshot(upd, tp, ("k",))
    assert e3["stats_cols"] == ["ts"]
    assert os.path.exists(os.path.join(tp, "snap-000004", "_zonemap.json"))
    # the bounded replace keeps them as well, and the pruned read of its
    # composition (maps per directory, exclusions on top) stays exact
    bp = str(tmp_path / "zbtbl")
    write_snapshot(
        df.withColumn("b", (F.col("k") % 4).cast("int")), bp,
        partition_cols=("b",), stats_cols=("ts",),
    )
    e4 = replace_groups_partitioned(
        spark.createDataFrame([(5, 999, 1)], "k long, ts long, b int"),
        bp, ("k",), "b",
    )
    assert e4["stats_cols"] == ["ts"]
    assert os.path.exists(os.path.join(bp, "snap-000002", "_zonemap.json"))
    for lo, hi in ((990, 1000), (0, 20)):
        got = sorted(
            map(tuple, read_snapshot_pruned(spark, bp, {"ts": (lo, hi)}).collect())
        )
        want = sorted(
            map(tuple, read_snapshot(spark, bp).filter(
                F.col("ts").between(lo, hi)
            ).collect())
        )
        assert got == want


def test_merge_inherits_partition_spec_bounded_replace_survives(spark, tmp_path):
    """merge_snapshot (and replace_groups_snapshot) must default to the
    parent's partition spec — one merge without partition_cols used to
    flatten the table and permanently break replace_groups_partitioned."""
    from flow_feature_spark.io import merge_snapshot, replace_groups_partitioned

    tp = str(tmp_path / "mtbl")
    df = spark.createDataFrame(
        [("a", 0, 1), ("b", 1, 2)], "k string, bucket int, v int"
    )
    write_snapshot(df, tp, partition_cols=("bucket",))
    e = merge_snapshot(
        spark.createDataFrame([("a", 0, 10)], "k string, bucket int, v int"),
        tp, ("k",),
    )
    assert e["partition_cols"] == ["bucket"]
    # the bounded-replace path still works after the merge
    e2 = replace_groups_partitioned(
        spark.createDataFrame([("b", 1, 20)], "k string, bucket int, v int"),
        tp, ("k",), "bucket",
    )
    got = {r["k"]: r["v"] for r in read_snapshot(spark, tp).collect()}
    assert got == {"a": 10, "b": 20}


def _inferred_read(spark, tp, entry):
    """An entry's state read the way Spark infers it: each directory's
    footer schema, merged where the composition evolved, with the entry's
    partition exclusions applied per directory."""
    from flow_feature_spark.io import _norm_dirs

    rd = spark.read
    if entry.get("schema_evolved"):
        rd = rd.option("mergeSchema", "true")
    out = None
    for d in _norm_dirs(entry):
        df = rd.parquet(f"{tp}/{d['dir']}")
        if d["exclude"]:
            df = df.filter(~F.col(entry["exclude_col"]).isin(d["exclude"]))
        out = df if out is None else out.unionByName(df, allowMissingColumns=True)
    return out


def test_log_schema_reads_equal_inferred_reads(spark, tmp_path):
    """read_snapshot takes the schema from the snapshot log instead of
    inferring it from parquet footers. For every composition the log
    builds, it reads the same columns (names, order, types, nullability)
    and the same rows as Spark's inference (schema merging where
    evolved)."""
    from flow_feature_spark.io import replace_groups_partitioned

    schema = "b int, g string, v long, x double, ok boolean"
    mk = lambda rows: spark.createDataFrame(rows, schema)  # noqa: E731
    base = [(0, "a", 1, 0.5, True), (1, "b", 2, None, False), (2, "c", 3, 1.5, None)]

    def check(tp, want_rows=None):
        entry = snapshot_history(spark, tp)[-1]
        got, inferred = read_snapshot(spark, tp), _inferred_read(spark, tp, entry)
        assert got.schema == inferred.schema, (entry["operation"], got.dtypes)
        assert got.exceptAll(inferred).count() == 0, entry["operation"]
        assert inferred.exceptAll(got).count() == 0, entry["operation"]
        if want_rows is not None:
            assert got.count() == want_rows

    # overwrite, then a fast-append of the same schema
    flat = str(tmp_path / "flat")
    write_snapshot(mk(base), flat)
    write_snapshot(mk(base[:1]), flat)
    check(flat, want_rows=1)
    write_snapshot(mk(base[1:]), flat, operation="append")
    check(flat, want_rows=3)

    # an add-column append: the older directory's rows read NULL
    write_snapshot(
        mk([(5, "e", 9, 2.5, True)]).withColumn("extra", F.lit("new")),
        flat, operation="append", allow_new_columns=True,
    )
    check(flat, want_rows=4)
    got = read_snapshot(spark, flat)
    assert got.filter(F.col("extra").isNull()).count() == 3

    # rollback to the first overwrite
    rollback_snapshot(spark, flat, 2)
    check(flat, want_rows=1)

    # hive-partitioned by an int bucket that is not the last column, then
    # two bounded replaces that shadow buckets of older directories
    part = str(tmp_path / "part")
    write_snapshot(mk(base), part, partition_cols=("b",))
    check(part, want_rows=3)
    replace_groups_partitioned(mk([(0, "a", 7, 0.0, False)]), part, ("g",), "b")
    replace_groups_partitioned(
        mk([(1, "b", 8, 1.0, True), (1, "d", 9, None, None)]), part, ("g",), "b"
    )
    assert snapshot_history(spark, part)[-1]["dirs"][0]["exclude"] == [0, 1]
    check(part, want_rows=4)
    assert read_snapshot(spark, part).columns[-1] == "b"
    # updates of a wider type than the table's are refused before anything
    # is written: the log's int bucket type could not read them back
    wide = mk([(2, "c", 4, 0.0, True)]).withColumn("b", F.col("b").cast("long"))
    n_commits = len(snapshot_history(spark, part))
    with pytest.raises(ValueError, match="replace schema mismatch on \\['b'\\]"):
        replace_groups_partitioned(wide, part, ("g",), "b")
    assert len(snapshot_history(spark, part)) == n_commits
    check(part, want_rows=4)

    # a zone-map pruned read of the partitioned table keeps the partition
    # column (the kept files are read against their directory as base)
    from flow_feature_spark.io import read_snapshot_pruned

    zm = str(tmp_path / "zm")
    write_snapshot(mk(base), zm, partition_cols=("b",), stats_cols=("v",))
    pruned = read_snapshot_pruned(spark, zm, {"v": (2, 3)})
    want = read_snapshot(spark, zm).filter("v BETWEEN 2 AND 3")
    assert pruned.schema == want.schema
    assert sorted(map(tuple, pruned.collect())) == sorted(map(tuple, want.collect()))


def test_pruned_read_after_commits_without_zone_maps(spark, tmp_path):
    """read_snapshot_pruned == read_snapshot + filter when a directory with
    zone maps is followed by directories without them: an append without
    stats_cols (flat and hive-partitioned) and a bounded replace after a
    stats-tracked partitioned write. The directory read fully comes after
    the kept one, so it must not inherit the kept read's base path."""
    from flow_feature_spark.io import read_snapshot_pruned, replace_groups_partitioned

    mk = lambda rows: spark.createDataFrame(rows, "b int, g string, v long")  # noqa: E731
    base = [(0, "a", 1), (1, "b", 2), (2, "c", 3)]

    def check(tp):
        pruned = read_snapshot_pruned(spark, tp, {"v": (2, 8)})
        want = read_snapshot(spark, tp).filter("v BETWEEN 2 AND 8")
        assert pruned.schema == want.schema
        got_rows = sorted(map(tuple, pruned.collect()))
        assert got_rows == sorted(map(tuple, want.collect())) and got_rows

    flat = str(tmp_path / "flat")
    write_snapshot(mk(base), flat, stats_cols=("v",))
    write_snapshot(mk([(3, "d", 7)]), flat, operation="append")
    check(flat)

    part = str(tmp_path / "part")
    write_snapshot(mk(base), part, partition_cols=("b",), stats_cols=("v",))
    write_snapshot(
        mk([(3, "d", 7)]), part, operation="append", partition_cols=("b",)
    )
    check(part)

    repl = str(tmp_path / "repl")
    write_snapshot(mk(base), repl, partition_cols=("b",), stats_cols=("v",))
    replace_groups_partitioned(mk([(1, "b", 5)]), repl, ("g",), "b")
    check(repl)
