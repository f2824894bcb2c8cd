"""Training-set builder (featurestore.py): multi-group point-in-time join.

Zero-leakage contract pinned against a per-probe brute force: for every
probe and every group, the attached vector is the one with the greatest
feature_ts strictly before the probe ts (NULL if none), probe rows and
label columns always survive, groups attach independently.
"""

from __future__ import annotations

from datetime import datetime, timedelta

import pytest

from flow_feature_spark.featurestore import FeatureGroup, build_training_set

T0 = datetime(2024, 1, 1)


def _ts(minutes: float) -> datetime:
    return T0 + timedelta(minutes=minutes)


@pytest.fixture()
def frames(spark):
    probes = spark.createDataFrame(
        [
            ("a", _ts(10), 1.0),
            ("a", _ts(30), 0.0),
            ("a", _ts(5), 1.0),   # before any feature -> NULLs
            ("b", _ts(30), 1.0),  # equal-ts tie with b's feature at 30
            ("c", _ts(60), 0.0),  # entity with no features at all
        ],
        "entity_id string, probe_ts timestamp, label double",
    )
    ga = spark.createDataFrame(
        [
            ("a", _ts(8), 100, 1.5),
            ("a", _ts(25), 200, 2.5),
            ("b", _ts(30), 300, 3.5),
        ],
        "conv_id string, feature_ts timestamp, f1 int, f2 double",
    )
    gb = spark.createDataFrame(
        [("a", _ts(9), 7), ("b", _ts(1), 8)],
        "conv_id string, feature_ts timestamp, g1 int",
    )
    return probes, ga, gb


def _brute(probe_rows, group_rows, vals, strict=True, tol_s=None):
    out = []
    for ent, pts in probe_rows:
        cands = [
            r for r in group_rows
            if r[0] == ent and (r[1] < pts if strict else r[1] <= pts)
        ]
        if tol_s is not None:
            cands = [
                r for r in cands if (pts - r[1]).total_seconds() <= tol_s
            ]
        if cands:
            best = max(cands, key=lambda r: r[1])
            out.append(tuple(best[2:]))
        else:
            out.append(tuple([None] * len(vals)))
    return out


def test_matches_brute_force_two_groups(spark, frames):
    probes, ga, gb = frames
    ts = build_training_set(
        probes,
        {"A": FeatureGroup(ga), "B": FeatureGroup(gb)},
    )
    got = {
        (r["entity_id"], r["probe_ts"]): r.asDict() for r in ts.collect()
    }
    assert len(got) == probes.count()

    pr = [(r["entity_id"], r["probe_ts"]) for r in probes.collect()]
    ga_rows = [tuple(r) for r in ga.collect()]
    gb_rows = [tuple(r) for r in gb.collect()]
    for (ent, pts), exp_a, exp_b in zip(
        pr,
        _brute(pr, ga_rows, ["f1", "f2"]),
        _brute(pr, gb_rows, ["g1"]),
    ):
        row = got[(ent, pts)]
        assert (row["A__f1"], row["A__f2"]) == exp_a, (ent, pts)
        assert (row["B__g1"],) == exp_b, (ent, pts)


def test_strict_equal_ts_invisible_inclusive_sees_it(spark, frames):
    probes, ga, _ = frames
    b_probe = probes.filter("entity_id = 'b'")
    strict = build_training_set(b_probe, {"A": FeatureGroup(ga)})
    assert strict.collect()[0]["A__f1"] is None  # ts(30) == feature ts(30)
    incl = build_training_set(
        b_probe, {"A": FeatureGroup(ga, strict=False)}
    )
    assert incl.collect()[0]["A__f1"] == 300


def test_tolerance_voids_stale_features(spark, frames):
    probes, ga, _ = frames
    tol = build_training_set(
        probes, {"A": FeatureGroup(ga, tolerance_seconds=120.0)}
    )
    got = {(r["entity_id"], r["probe_ts"]): r for r in tol.collect()}
    # a@30: latest feature is 25 (5 min old > 2 min tolerance) -> NULL
    assert got[("a", _ts(30))]["A__f1"] is None
    # a@10: feature at 8 is 2 min old -> exactly at tolerance, kept
    assert got[("a", _ts(10))]["A__f1"] == 100


def test_labels_carried_and_probe_rows_never_drop(spark, frames):
    probes, ga, gb = frames
    ts = build_training_set(
        probes, {"A": FeatureGroup(ga), "B": FeatureGroup(gb)}
    )
    assert ts.count() == probes.count()
    got = {(r["entity_id"], r["probe_ts"]): r for r in ts.collect()}
    assert got[("a", _ts(10))]["label"] == 1.0
    c = got[("c", _ts(60))]
    assert c["label"] == 0.0
    assert c["A__f1"] is None and c["B__g1"] is None


def test_group_order_does_not_change_values(spark, frames):
    probes, ga, gb = frames
    ab = build_training_set(
        probes, {"A": FeatureGroup(ga), "B": FeatureGroup(gb)}
    )
    ba = build_training_set(
        probes, {"B": FeatureGroup(gb), "A": FeatureGroup(ga)}
    )
    cols = sorted(ab.columns)
    assert sorted(ba.columns) == cols
    key = lambda t: tuple(map(str, t))  # noqa: E731 — None-safe ordering
    assert sorted(map(tuple, ab.select(*cols).collect()), key=key) == sorted(
        map(tuple, ba.select(*cols).collect()), key=key
    )


def test_loud_errors(spark, frames):
    probes, ga, _ = frames
    with pytest.raises(ValueError, match="overwrite probe columns"):
        build_training_set(
            probes.withColumnRenamed("label", "A__f1"),
            {"A": FeatureGroup(ga)},
        )
    with pytest.raises(ValueError, match="no value columns"):
        build_training_set(
            probes,
            {"A": FeatureGroup(ga.select("conv_id", "feature_ts"))},
        )
    with pytest.raises(KeyError, match="probes must carry"):
        build_training_set(
            probes.withColumnRenamed("entity_id", "eid"),
            {"A": FeatureGroup(ga)},
        )


def test_materialize_online_latest_wins_out_of_order_safe(spark, tmp_path):
    """The online half: latest-per-entity serving table. Out-of-order and
    replayed batches can never regress it; equal-max-ts duplicates in one
    batch are rejected loudly."""
    from flow_feature_spark.featurestore import materialize_online
    from flow_feature_spark.io import read_snapshot, snapshot_history

    tbl = f"{tmp_path}/online"

    def batch(rows):
        return spark.createDataFrame(
            rows, "conv_id string, feature_ts timestamp, f int"
        )

    # bootstrap with the NEWER batch first (out-of-order ingestion)
    materialize_online(batch([("a", _ts(30), 3), ("b", _ts(10), 7)]), tbl)
    # older batch arrives late: a@10 must NOT regress a@30; c inserts;
    # within-batch collapse keeps only c's latest row
    materialize_online(
        batch([("a", _ts(10), 1), ("c", _ts(5), 4), ("c", _ts(9), 5)]), tbl
    )
    got = {r["conv_id"]: (r["feature_ts"], r["f"])
           for r in read_snapshot(spark, tbl).collect()}
    assert got == {
        "a": (_ts(30), 3), "b": (_ts(10), 7), "c": (_ts(9), 5)
    }

    # replay of an already-applied batch: no new commit (idempotent)
    n_before = len(snapshot_history(spark, tbl))
    entry = materialize_online(batch([("a", _ts(30), 3)]), tbl)
    assert len(snapshot_history(spark, tbl)) == n_before
    assert entry["snapshot_id"] == n_before

    # strictly newer value wins and commits
    materialize_online(batch([("a", _ts(31), 9)]), tbl)
    got2 = {r["conv_id"]: r["f"] for r in read_snapshot(spark, tbl).collect()}
    assert got2["a"] == 9 and got2["b"] == 7

    # equal-max-ts duplicate within one batch -> loud
    with pytest.raises(ValueError, match="multiple rows"):
        materialize_online(
            batch([("z", _ts(1), 1), ("z", _ts(1), 2)]), tbl
        )


def test_probe_entity_column_keeps_its_original_type(spark):
    """An int64 probe entity must come back as int64, whether the group's key
    has the probe's type or another one (a string key joins on the string
    form internally, but output columns keep probe types)."""
    probes = spark.createDataFrame(
        [(2**62 + 3, _ts(10), 1.0), (7, _ts(30), 0.0)],
        "entity_id long, probe_ts timestamp, label double",
    )
    g = spark.createDataFrame(
        [(2**62 + 3, _ts(5), 100)],
        "conv_id long, feature_ts timestamp, f1 int",
    )
    s = spark.createDataFrame(
        [("7", _ts(20), 9)], "conv_id string, feature_ts timestamp, f1 int"
    )
    out = build_training_set(probes, {"g": FeatureGroup(g), "s": FeatureGroup(s)})
    assert dict(out.dtypes)["entity_id"] == "bigint"
    got = {r["entity_id"]: (r["g__f1"], r["s__f1"]) for r in out.collect()}
    # int64 magnitude past 2^53: a silent string/double round-trip would corrupt
    assert got == {2**62 + 3: (100, None), 7: (None, 9)}
