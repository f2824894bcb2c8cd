"""Incremental feature maintenance (incremental.incremental_feature_update)
and the group-granular replace primitive it rides on
(io.replace_groups_snapshot).

The contract under test: after any sequence of delta ingests, the feature
snapshot table is BIT-IDENTICAL to a full recompute over the whole turn
history — including the case where a late delta turn bridges two previously
separate sessions (the old second-session row must vanish, which a row-keyed
merge cannot express).

Reference basis: the resumable cache get_flow_feature.py:7-14,103-108 —
re-running there re-extracts every flow; here recompute is scoped to the
delta's conversations.
"""

from __future__ import annotations

import random

import pytest

from pyspark.sql import functions as F

from flow_feature_spark.incremental import incremental_feature_update
from flow_feature_spark.io import read_snapshot, replace_groups_snapshot, write_snapshot

HASH8 = "pmod(xxhash64(conv_id), 8)"
# the bucket layouts the update tests run: none, and 4 hash buckets
LAYOUTS = pytest.mark.parametrize(
    "bucket_expr", [None, "pmod(xxhash64(conv_id), 4)"], ids=["None", "4"]
)

TURN_SCHEMA = (
    "conv_id string, turn_idx int, ts_us long, is_fwd boolean, "
    "plen long, win long, flags int, ihl long"
)


def _mk_turns(spark, rows):
    return spark.createDataFrame(rows, TURN_SCHEMA)


def _rand_rows(n_convs, turns_per_conv, seed):
    rng = random.Random(seed)
    rows = []
    for c in range(n_convs):
        ts = rng.randrange(0, 10**6)
        for i in range(1, turns_per_conv + 1):
            # gaps straddle the 5 s session gap so most convs multi-session
            ts += rng.randrange(1, 10_000_000)
            rows.append(
                (
                    f"c{c:03d}",
                    i,
                    ts,
                    rng.random() < 0.5,
                    rng.randrange(0, 200),
                    rng.randrange(0, 31),
                    rng.randrange(0, 256),
                    rng.randrange(20, 60),
                )
            )
    return rows


def _full(spark, all_rows, gap_s):
    from flow_feature_spark.features import session_features_exact_sql

    return sorted(
        map(tuple, session_features_exact_sql(_mk_turns(spark, all_rows), gap_s).collect())
    )


def _table(spark, path):
    return sorted(map(tuple, read_snapshot(spark, path).collect()))


def test_incremental_equals_full_recompute(spark, tmp_path):
    """Three time-split ingests == one full recompute, bit-for-bit."""
    rows = _rand_rows(n_convs=30, turns_per_conv=25, seed=7)
    cuts = sorted(r[2] for r in rows)
    c1, c2 = cuts[len(cuts) // 3], cuts[2 * len(cuts) // 3]
    batches = [
        [r for r in rows if r[2] <= c1],
        [r for r in rows if c1 < r[2] <= c2],
        [r for r in rows if r[2] > c2],
    ]
    tt, ft = str(tmp_path / "turns"), str(tmp_path / "feats")
    st0 = incremental_feature_update(_mk_turns(spark, batches[0]), tt, ft, 5.0)
    assert st0["initialized"] is True
    for b in batches[1:]:
        st = incremental_feature_update(_mk_turns(spark, b), tt, ft, 5.0)
        assert st["initialized"] is False
        assert st["turns_appended"] == len(b)
        assert st["touched_convs"] == len({r[0] for r in b})
    assert _table(spark, ft) == _full(spark, rows, 5.0)
    # the turn history accumulated via fast-appends
    assert read_snapshot(spark, tt).count() == len(rows)


def test_incremental_late_turn_bridges_sessions(spark, tmp_path):
    """A delta turn landing inside an old inter-session gap merges the two
    sessions: the conversation's feature rows shrink 2 -> 1 and still equal
    the full recompute (the case a row-keyed upsert can't handle)."""
    mk = lambda i, ts: ("conv", i, ts, i % 2 == 0, 10 + i, 5, 0, 20)  # noqa: E731
    base = [mk(1, 0), mk(2, 2_000_000), mk(3, 100_000_000), mk(4, 101_000_000)]
    late = [mk(5, 50_000_000)]  # gaps 48 s and 50 s, both <= 60 s
    other = [("other", 1, 0, True, 5, 5, 0, 20), ("other", 2, 1_000_000, False, 6, 5, 0, 20)]

    tt, ft = str(tmp_path / "turns"), str(tmp_path / "feats")
    incremental_feature_update(_mk_turns(spark, base + other), tt, ft, 60.0)
    two = read_snapshot(spark, ft).filter(F.col("conv_id") == "conv")
    assert two.count() == 2  # 98 s gap > 60 s: two sessions initially

    st = incremental_feature_update(_mk_turns(spark, late), tt, ft, 60.0)
    assert st["touched_convs"] == 1
    one = read_snapshot(spark, ft).filter(F.col("conv_id") == "conv").collect()
    assert len(one) == 1 and one[0]["n_turns"] == 5  # bridged
    # untouched conv's row survived, and the whole table == full recompute
    assert read_snapshot(spark, ft).filter(F.col("conv_id") == "other").count() == 1
    assert _table(spark, ft) == _full(spark, base + other + late, 60.0)


def test_incremental_missing_columns_wall(spark, tmp_path):
    bad = spark.createDataFrame([("c", 1)], "conv_id string, turn_idx int")
    try:
        incremental_feature_update(
            bad, str(tmp_path / "t"), str(tmp_path / "f"), 5.0
        )
        raise AssertionError("missing kernel columns must fail")
    except ValueError as e:
        assert "kernel input columns" in str(e)


def test_replace_groups_snapshot(spark, tmp_path):
    """Groups are replaced wholesale: shrinking groups lose rows, new groups
    appear, untouched groups stay; schema/key walls raise."""
    tp = str(tmp_path / "g")
    base = spark.createDataFrame(
        [("a", 1, 10), ("a", 2, 20), ("b", 1, 30), ("c", 1, 40)],
        "g string, sub int, v int",
    )
    write_snapshot(base, tp)
    upd = spark.createDataFrame(
        [("a", 9, 99), ("d", 1, 50), ("d", 2, 60)], "g string, sub int, v int"
    )
    e = replace_groups_snapshot(upd, tp, ("g",))
    assert e["operation"] == "merge"
    got = sorted(map(tuple, read_snapshot(spark, tp).collect()))
    assert got == [
        ("a", 9, 99),          # 2 rows -> 1: replaced as a group
        ("b", 1, 30),          # untouched
        ("c", 1, 40),          # untouched
        ("d", 1, 50), ("d", 2, 60),  # new group inserted
    ]
    # time travel to the pre-replace state still works
    assert read_snapshot(spark, tp, snapshot_id=1).count() == 4

    # explicit keys: a key in keys and in the table but absent from the
    # updates loses its rows; groups not in keys are untouched
    keys = spark.createDataFrame([("b",), ("c",)], "g string")
    upd2 = spark.createDataFrame([("c", 5, 70)], "g string, sub int, v int")
    replace_groups_snapshot(upd2, tp, ("g",), keys=keys)
    got = sorted(map(tuple, read_snapshot(spark, tp).collect()))
    assert got == [
        ("a", 9, 99),          # not in keys: untouched
        ("c", 5, 70),          # in keys and updates: replaced
        ("d", 1, 50), ("d", 2, 60),  # not in keys: untouched
    ]                          # b: in keys only -> deleted

    try:
        replace_groups_snapshot(upd.drop("v"), tp, ("g",))
        raise AssertionError("schema mismatch must fail")
    except ValueError:
        pass
    try:
        replace_groups_snapshot(upd, tp, ("nope",))
        raise AssertionError("bad group col must fail")
    except ValueError:
        pass


def test_incremental_bucketed_equals_full(spark, tmp_path):
    """A hash bucket expression: the maintained table (hive-partitioned by a
    conv hash bucket, updated via partition-bounded replace) still equals
    the full recompute — and the update commit writes only the touched
    buckets, not the table."""
    from flow_feature_spark.io import snapshot_history

    rows = _rand_rows(n_convs=40, turns_per_conv=20, seed=11)
    cuts = sorted(r[2] for r in rows)
    c1 = cuts[len(cuts) // 2]
    b1 = [r for r in rows if r[2] <= c1]
    b2 = [r for r in rows if r[2] > c1]
    tt, ft = str(tmp_path / "turns"), str(tmp_path / "feats")
    incremental_feature_update(
        _mk_turns(spark, b1), tt, ft, 5.0, feature_bucket_expr=HASH8
    )
    st = incremental_feature_update(
        _mk_turns(spark, b2), tt, ft, 5.0, feature_bucket_expr=HASH8
    )
    got = sorted(
        map(tuple, read_snapshot(spark, ft).drop("__bucket").collect())
    )
    assert got == _full(spark, rows, 5.0)
    e = snapshot_history(spark, ft)[-1]
    assert e["operation"] == "replace_partitioned"
    assert e["exclude_col"] == "__bucket"
    assert len(e["replaced_partitions"]) <= 8
    assert st["feature_rows"] == e["rows"]
    # time travel to the pre-update state still reads clean
    assert read_snapshot(spark, ft, snapshot_id=1).count() > 0


def test_replace_groups_partitioned_unit(spark, tmp_path):
    """Bounded replace: only touched buckets rewritten; exclusions
    accumulate across commits; shrinking groups; walls for unpartitioned
    parents and missing bucket column."""
    from pyspark.sql import functions as F

    from flow_feature_spark.io import replace_groups_partitioned, snapshot_history

    tp = str(tmp_path / "p")
    mk = lambda rows: spark.createDataFrame(  # noqa: E731
        rows, "g string, v int, b int"
    )
    write_snapshot(
        mk([("a", 1, 0), ("a", 2, 0), ("b", 3, 1), ("c", 4, 2)]),
        tp,
        partition_cols=("b",),
    )
    # replace group a (bucket 0): 2 rows -> 1; buckets 1,2 untouched
    e = replace_groups_partitioned(mk([("a", 9, 0)]), tp, ("g",), "b")
    assert e["replaced_partitions"] == [0] and e["rows"] == 1
    got = sorted(map(tuple, read_snapshot(spark, tp).collect()))
    assert got == [("a", 9, 0), ("b", 3, 1), ("c", 4, 2)]
    # second replace in bucket 1: exclusions accumulate per directory
    replace_groups_partitioned(mk([("b", 8, 1), ("d", 7, 1)]), tp, ("g",), "b")
    got = sorted(map(tuple, read_snapshot(spark, tp).collect()))
    assert got == [("a", 9, 0), ("b", 8, 1), ("c", 4, 2), ("d", 7, 1)]
    log = snapshot_history(spark, tp)
    assert log[-1]["dirs"][0]["exclude"] == [0, 1]   # snap 1 shadowed twice
    assert log[-1]["dirs"][1]["exclude"] == [1]      # snap 2 shadowed once
    assert log[-1]["state_rows"] == 4
    # pre-replace states remain exactly readable (time travel)
    assert read_snapshot(spark, tp, snapshot_id=1).count() == 4
    assert sorted(
        map(tuple, read_snapshot(spark, tp, snapshot_id=2).collect())
    ) == [("a", 9, 0), ("b", 3, 1), ("c", 4, 2)]
    # explicit keys: c (bucket 2) is in keys and the table but not in the
    # updates, so it loses its rows; the buckets come from keys, so bucket
    # 0 (groups not in keys) is not rewritten
    e = replace_groups_partitioned(
        mk([("d", 6, 1)]),
        tp,
        ("g",),
        "b",
        keys=spark.createDataFrame([("c", 2), ("d", 1)], "g string, b int"),
    )
    assert e["replaced_partitions"] == [1, 2]
    got = sorted(map(tuple, read_snapshot(spark, tp).collect()))
    assert got == [("a", 9, 0), ("b", 8, 1), ("d", 6, 1)]
    assert snapshot_history(spark, tp)[-1]["state_rows"] == 3

    # walls
    flat = str(tmp_path / "flat")
    write_snapshot(mk([("a", 1, 0)]), flat)  # not partitioned
    try:
        replace_groups_partitioned(mk([("a", 2, 0)]), flat, ("g",), "b")
        raise AssertionError("unpartitioned parent must fail")
    except ValueError as ex:
        assert "partitioned by" in str(ex)
    try:
        replace_groups_partitioned(
            mk([("a", 2, 0)]).drop("b"), tp, ("g",), "b"
        )
        raise AssertionError("missing bucket column must fail")
    except ValueError:
        pass


def _analysis_time_jobs(spark, group, executions_before):
    """Stage names of the jobs in ``group`` that ran outside every SQL
    execution started since ``executions_before``: jobs Spark runs while it
    resolves a read, such as the one-task footer read of parquet schema
    inference (named ``parquet at ...``)."""
    # both stores are filled from the listener bus, asynchronously
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    store = spark._jsparkSession.sharedState().statusStore()
    to_java = spark._jvm.scala.jdk.javaapi.CollectionConverters.asJava
    execs = store.executionsList(
        executions_before, store.executionsCount() - executions_before
    )
    in_sql = set()
    for i in range(execs.size()):
        in_sql.update(to_java(execs.apply(i).jobs()).keySet())
    tracker = spark.sparkContext.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    assert jobs and in_sql  # the trackers saw the call's jobs
    return [
        tracker.getStageInfo(min(tracker.getJobInfo(j).stageIds)).name
        for j in jobs
        if j not in in_sql
    ]


@LAYOUTS
def test_incremental_warm_call_budget(spark, tmp_path, monkeypatch, bucket_expr):
    """A warm update reads each table's snapshot log once (2 reads), takes
    every read schema from the log (no schema-inference job), and gets
    touched_convs from jobs it runs anyway — still the delta's distinct
    conversations."""
    from flow_feature_spark import io

    rows = _rand_rows(n_convs=12, turns_per_conv=10, seed=5)
    cut = sorted(r[2] for r in rows)[len(rows) // 2]
    old, delta = [r for r in rows if r[2] <= cut], [r for r in rows if r[2] > cut]
    tt, ft = str(tmp_path / "turns"), str(tmp_path / "feats")
    incremental_feature_update(
        _mk_turns(spark, old), tt, ft, 5.0, feature_bucket_expr=bucket_expr
    )
    new_turns = _mk_turns(spark, delta)

    slurps = []
    slurp = io._slurp
    monkeypatch.setattr(
        io, "_slurp", lambda *a: slurps.append(str(a[2])) or slurp(*a)
    )
    sc = spark.sparkContext
    group = f"budget-{bucket_expr}"
    executions_before = spark._jsparkSession.sharedState().statusStore().executionsCount()
    sc.setJobGroup(group, group)
    try:
        st = incremental_feature_update(
            new_turns, tt, ft, 5.0, feature_bucket_expr=bucket_expr
        )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)

    assert len(slurps) == 2, slurps
    assert _analysis_time_jobs(spark, group, executions_before) == []
    assert st["touched_convs"] == len({r[0] for r in delta})
    got = sorted(map(tuple, read_snapshot(spark, ft).drop("__bucket").collect()))
    assert got == _full(spark, rows, 5.0)


@LAYOUTS
def test_incremental_empty_delta(spark, tmp_path, bucket_expr):
    """An empty delta commits, touches no conversation and leaves the
    feature rows as they were."""
    rows = _rand_rows(n_convs=5, turns_per_conv=6, seed=3)
    tt, ft = str(tmp_path / "turns"), str(tmp_path / "feats")
    incremental_feature_update(
        _mk_turns(spark, rows), tt, ft, 5.0, feature_bucket_expr=bucket_expr
    )
    before = _table(spark, ft)
    st = incremental_feature_update(
        _mk_turns(spark, []), tt, ft, 5.0, feature_bucket_expr=bucket_expr
    )
    assert st["touched_convs"] == 0 and st["turns_appended"] == 0
    assert _table(spark, ft) == before


def _split(rows):
    cut = sorted(r[2] for r in rows)[len(rows) // 2]
    return [r for r in rows if r[2] <= cut], [r for r in rows if r[2] > cut]


def test_incremental_layout_from_log(spark, tmp_path):
    """The first call records the bucket expression (or none) in the feature
    table's log, and compaction keeps it. A later call with a different
    expression raises before writing anything: it would rewrite the touched
    conversations' new buckets and leave their old rows in buckets it does
    not touch. A later call without one takes the recorded layout."""
    from flow_feature_spark.io import compact_snapshot, snapshot_history

    rows = _rand_rows(n_convs=30, turns_per_conv=12, seed=13)
    old, delta = _split(rows)
    tt, ft = str(tmp_path / "turns"), str(tmp_path / "feats")
    incremental_feature_update(
        _mk_turns(spark, old), tt, ft, 5.0, feature_bucket_expr=HASH8
    )
    assert snapshot_history(spark, ft)[-1]["bucket_expr"] == HASH8
    assert compact_snapshot(spark, ft, target_files=2)["bucket_expr"] == HASH8
    hash4 = "pmod(xxhash64(conv_id), 4)"
    with pytest.raises(ValueError, match=r"xxhash64\(conv_id\), 8\).*4\)"):
        incremental_feature_update(
            _mk_turns(spark, delta), tt, ft, 5.0, feature_bucket_expr=hash4
        )
    assert len(snapshot_history(spark, tt)) == 1  # nothing was written
    incremental_feature_update(_mk_turns(spark, delta), tt, ft, 5.0)
    e = snapshot_history(spark, ft)[-1]
    assert e["operation"] == "replace_partitioned"
    assert e["bucket_expr"] == HASH8
    got = sorted(map(tuple, read_snapshot(spark, ft).drop("__bucket").collect()))
    assert got == _full(spark, rows, 5.0)

    # an unbucketed table records the key with a null value
    ut, uf = str(tmp_path / "uturns"), str(tmp_path / "ufeats")
    incremental_feature_update(_mk_turns(spark, old), ut, uf, 5.0)
    assert snapshot_history(spark, uf)[-1]["bucket_expr"] is None
    with pytest.raises(ValueError, match="records bucket expression None"):
        incremental_feature_update(
            _mk_turns(spark, delta), ut, uf, 5.0, feature_bucket_expr=HASH8
        )


def test_incremental_rerun_after_crash_between_commits_raises(
    spark, tmp_path, monkeypatch
):
    """A call that stops after its turns append and before its feature
    commit leaves the delta appended. Rerunning the delta raises, naming
    the rollback, instead of appending it a second time; after that
    rollback the rerun equals the full recompute, and compacting either
    table does not make the next update refuse. A first call that stops
    the same way leaves a turns table without a feature table, which a
    rerun also refuses."""
    from flow_feature_spark import incremental
    from flow_feature_spark.io import compact_snapshot, rollback_snapshot

    rows = _rand_rows(n_convs=12, turns_per_conv=10, seed=17)
    old, delta = _split(rows)
    tt, ft = str(tmp_path / "turns"), str(tmp_path / "feats")
    incremental_feature_update(_mk_turns(spark, old), tt, ft, 5.0)

    def crash(*a, **kw):
        raise RuntimeError("stopped before the feature commit")

    with monkeypatch.context() as m:
        m.setattr(incremental, "_replace_groups", crash)
        with pytest.raises(RuntimeError, match="stopped before"):
            incremental_feature_update(_mk_turns(spark, delta), tt, ft, 5.0)
    assert read_snapshot(spark, tt).count() == len(rows)
    with pytest.raises(IOError, match=r"rollback_snapshot\(spark, '.*turns', 1\)"):
        incremental_feature_update(_mk_turns(spark, delta), tt, ft, 5.0)
    assert read_snapshot(spark, tt).count() == len(rows)  # did not grow
    rollback_snapshot(spark, tt, 1)
    incremental_feature_update(_mk_turns(spark, delta), tt, ft, 5.0)
    assert _table(spark, ft) == _full(spark, rows, 5.0)
    # compactions keep the state they rewrite: the next update goes on
    compact_snapshot(spark, tt, target_files=2)
    assert compact_snapshot(spark, ft, target_files=2)["turns_snapshot_id"] == 4
    incremental_feature_update(_mk_turns(spark, []), tt, ft, 5.0)
    assert _table(spark, ft) == _full(spark, rows, 5.0)

    t2, f2 = str(tmp_path / "turns2"), str(tmp_path / "feats2")
    commit = incremental._write_snapshot

    def crash_on_features(df, path, *a, **kw):
        if path == f2:
            raise RuntimeError("stopped before the feature commit")
        return commit(df, path, *a, **kw)

    with monkeypatch.context() as m:
        m.setattr(incremental, "_write_snapshot", crash_on_features)
        with pytest.raises(RuntimeError, match="stopped before"):
            incremental_feature_update(_mk_turns(spark, old), t2, f2, 5.0)
    with pytest.raises(IOError, match="has no snapshot"):
        incremental_feature_update(_mk_turns(spark, old), t2, f2, 5.0)
    assert read_snapshot(spark, t2).count() == len(old)
