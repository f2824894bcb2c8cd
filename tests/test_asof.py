"""As-of join: strict/inclusive semantics, both strategies agree with the
pd.merge_asof oracle (tests/reference_asof.py), and a brute-force
zero-leakage property check (SURVEY.md §5.3)."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from flow_feature_spark.asof import asof_join_union_window
from flow_feature_spark.features import session_features_exact_sql
from flow_feature_spark.kernel import attach_feature_ts
from flow_feature_spark.prepare import normalize_turns
from flow_feature_spark.synth import synth_probes, synth_transcripts

from tests.reference_asof import asof_join_merge
from tests.round_trips import calling_thread_round_trips

N = 40


@pytest.fixture(scope="module")
def data(spark):
    tr = synth_transcripts(spark, n_convs=N, turns_mean=15, hot_factor=5).cache()
    feats = attach_feature_ts(
        session_features_exact_sql(normalize_turns(tr), gap_seconds=1800.0)
    )
    # compact payload for readable assertions
    feats = feats.select("conv_id", "feature_ts", "session_id", "n_turns", "dpl_total")
    probes = synth_probes(spark, n_convs=N, probes_per_entity=4).cache()
    return feats.cache(), probes


def _collect(df, probe_entity="entity_id"):
    return {
        (r[probe_entity], r["probe_ts"]): (r["session_id"], r["n_turns"], r["dpl_total"])
        for r in df.collect()
    }


def test_both_strategies_agree_strict(spark, data):
    feats, probes = data
    a = _collect(asof_join_union_window(feats, probes, strict=True))
    b = _collect(asof_join_merge(feats, probes, strict=True))
    assert a == b
    assert len(a) == probes.count()


def test_both_strategies_agree_inclusive(spark, data):
    feats, probes = data
    a = _collect(asof_join_union_window(feats, probes, strict=False))
    b = _collect(asof_join_merge(feats, probes, strict=False))
    assert a == b


def test_zero_leakage_brute_force(spark, data):
    """For every probe: result must equal the max-feature_ts feature row with
    feature_ts strictly < probe_ts, computed by brute force on the driver."""
    feats, probes = data
    frows = feats.collect()
    by_ent: dict[str, list] = {}
    for r in frows:
        by_ent.setdefault(r["conv_id"], []).append(r)
    got = _collect(asof_join_union_window(feats, probes, strict=True))
    for (ent, pts), val in got.items():
        cands = [r for r in by_ent.get(ent, []) if r["feature_ts"] < pts]
        if not cands:
            assert val == (None, None, None), (ent, pts, val)
        else:
            best = max(cands, key=lambda r: r["feature_ts"])
            assert val == (best["session_id"], best["n_turns"], best["dpl_total"])


def test_strictness_at_exact_timestamp(spark, data):
    """Probes placed exactly AT a feature_ts must not see that feature under
    strict semantics but must under inclusive semantics."""
    feats, probes_unused = data
    exact = feats.select(
        F.col("conv_id").alias("entity_id"), F.col("feature_ts").alias("probe_ts")
    )
    strict = _collect(asof_join_union_window(feats, exact, strict=True))
    incl = _collect(asof_join_union_window(feats, exact, strict=False))
    frows = {(r["conv_id"], r["feature_ts"]): r for r in feats.collect()}
    n_diff = 0
    for key, v_incl in incl.items():
        r = frows[key]
        assert v_incl == (r["session_id"], r["n_turns"], r["dpl_total"]) or v_incl[0] is not None
        if strict[key] != v_incl:
            n_diff += 1
            # strict result must be an EARLIER session of the same entity or null
            assert strict[key][0] is None or strict[key][0] < v_incl[0]
    assert n_diff > 0  # the equality case was actually exercised


def test_ghost_entity_all_null(spark, data):
    feats, probes = data
    ghosts = probes.filter(F.col("entity_id") >= f"conv{N:08d}")
    assert ghosts.count() > 0
    out = asof_join_union_window(feats, ghosts, strict=True)
    assert out.filter(F.col("session_id").isNotNull()).count() == 0
    assert out.count() == ghosts.count()


def test_fast_asof_agrees_both_modes(spark, data):
    from flow_feature_spark.asof import asof_join_fast

    feats, probes = data
    for strict in (True, False):
        a = _collect(asof_join_union_window(feats, probes, strict=strict))
        b = _collect(asof_join_fast(feats, probes, strict=strict))
        assert a == b, f"strict={strict}"


def test_fast_asof_tiny_batches(spark, data):
    from flow_feature_spark.asof import asof_join_fast

    feats, probes = data
    expected = _collect(asof_join_union_window(feats, probes, strict=True))
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "16")
    try:
        got = _collect(asof_join_fast(feats, probes, strict=True))
        assert got == expected
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)


def test_tolerance_all_strategies_agree_and_match_brute_force(spark, data):
    """Max-staleness: both strategies and the oracle agree under tolerance,
    and every row matches a brute-force 'latest fresh feature'
    recomputation."""
    from flow_feature_spark.asof import asof_join_fast

    feats, probes = data
    tol = 900.0  # 15 min — forces a mix of kept and nulled matches
    a = _collect(asof_join_union_window(feats, probes, strict=True,
                                        tolerance_seconds=tol))
    b = _collect(asof_join_merge(feats, probes, strict=True,
                                 tolerance_seconds=tol))
    c = _collect(asof_join_fast(feats, probes, strict=True,
                                tolerance_seconds=tol))
    assert a == b == c
    nulls = sum(1 for v in a.values() if v[0] is None)
    assert 0 < nulls < len(a)  # tolerance actually bites, but not everywhere

    frows = [
        (r["conv_id"], r["feature_ts"], r["session_id"], r["n_turns"], r["dpl_total"])
        for r in feats.collect()
    ]
    for (ent, pts), got in a.items():
        fresh = [
            fr for fr in frows
            if fr[0] == ent and fr[1] < pts
            and (pts - fr[1]).total_seconds() <= tol
        ]
        if not fresh:
            assert got == (None, None, None), (ent, pts, got)
        else:
            best = max(fresh, key=lambda fr: fr[1])
            assert got == (best[2], best[3], best[4]), (ent, pts)


def test_asof_forward_is_strictly_later(spark):
    """Forward as-of: every attached feature must be the EARLIEST one with
    feat_ts strictly greater than the probe ts — brute-forced per probe."""
    from flow_feature_spark import oracle_queries as OQ

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    ev.createOrReplaceTempView("events")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    got = spark.sql(OQ.asof_forward_sql("spark")).collect()
    feats = spark.sql(
        f"WITH {OQ.turns_cte('spark')}, {OQ.sess_cte()}, {OQ.feats_cte()} "
        "SELECT conv_id, feat_us, session_id FROM feats"
    ).collect()
    by_entity: dict[str, list] = {}
    for f in feats:
        by_entity.setdefault(f["conv_id"], []).append((f["feat_us"], f["session_id"]))
    import datetime as dt

    for r in got:
        p_us = int(r["probe_ts"].replace(tzinfo=dt.timezone.utc).timestamp() * 1e6)
        later = sorted(t for t in by_entity.get(r["entity_id"], []) if t[0] > p_us)
        if r["session_id"] is None:
            assert not later
        else:
            assert later and later[0][1] == r["session_id"]


def _wide_payload(spark):
    from flow_feature_spark.schema import FEATURE_NAMES

    cols = ", ".join(f"{c} double" for c in FEATURE_NAMES)
    feats = spark.createDataFrame(
        [], f"conv_id string, feature_ts timestamp, session_id long, n_turns long, {cols}"
    )
    probes = spark.createDataFrame([], "entity_id string, probe_ts timestamp")
    return feats, probes


@pytest.mark.parametrize("strategy", ["fast", "union_window"])
def test_build_round_trip_budget(spark, strategy):
    """Building the as-of frame over the 72-feature payload costs a bounded
    number of py4j round trips, not several per feature column: every Column
    call pays about 10 under PySpark's call-site capture, so per-column
    Column calls alone cost 3,500-6,000 here."""
    from flow_feature_spark import asof

    build = {"fast": asof.asof_join_fast,
             "union_window": asof.asof_join_union_window}[strategy]
    feats, probes = _wide_payload(spark)
    build(feats, probes)  # warm: first-call imports and lookups
    out, calls = calling_thread_round_trips(lambda: build(feats, probes))
    assert calls < 600, calls
    assert out.columns[2:] == feats.columns[2:]


def test_value_column_types_and_unmatched_nulls(spark):
    """Both strategies keep every value column's type, and fill the value
    columns of unmatched probes (an entity with no features, a probe before
    the first feature) with nulls."""
    import datetime as dt

    from pyspark.sql import types as T

    from flow_feature_spark.asof import asof_join_fast

    t = lambda m: dt.datetime(2024, 1, 1, 0, m)  # noqa: E731
    value_fields = [
        T.StructField("i", T.IntegerType()),
        T.StructField("l", T.LongType()),
        T.StructField("b", T.BooleanType()),
        T.StructField("s", T.StringType()),
        T.StructField("seen", T.TimestampType()),
        T.StructField("d", T.DoubleType()),
    ]
    feats = spark.createDataFrame(
        [("a", t(10), 1, 10, True, "x", t(1), 0.5),
         ("a", t(20), 2, 20, False, "y", t(2), 1.5),
         ("b", t(10), 3, 30, None, None, None, None)],
        T.StructType([T.StructField("conv_id", T.StringType()),
                      T.StructField("feature_ts", T.TimestampType())] + value_fields),
    )
    probes = spark.createDataFrame(
        [("a", t(5)), ("a", t(15)), ("a", t(25)), ("b", t(11)), ("z", t(30))],
        "entity_id string, probe_ts timestamp",
    )
    expected = {
        ("a", t(5)): (None,) * 6,
        ("a", t(15)): (1, 10, True, "x", t(1), 0.5),
        ("a", t(25)): (2, 20, False, "y", t(2), 1.5),
        ("b", t(11)): (3, 30, None, None, None, None),
        ("z", t(30)): (None,) * 6,
    }
    want_types = [("entity_id", T.StringType()), ("probe_ts", T.TimestampType())] + [
        (f.name, f.dataType) for f in value_fields
    ]
    for build in (asof_join_union_window, asof_join_fast):
        out = build(feats, probes, strict=True)
        assert [(f.name, f.dataType) for f in out.schema] == want_types, build
        assert all(f.nullable for f in out.schema.fields[2:]), build
        got = {(r[0], r[1]): tuple(r[2:]) for r in out.collect()}
        assert got == expected, build
