"""Z-order clustering + zone-map file skipping (layout.py).

The invariant every test here defends: LAYOUT NEVER CHANGES RESULTS —
a pruned scan equals full-scan+filter row-for-row, for any predicate,
on any layout. Effectiveness (fewer files opened) is asserted
separately, z-order vs linear sort on a 2-d box.
"""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from flow_feature_spark.layout import (
    PruneReport,
    collect_file_stats,
    prune_plan,
    read_pruned,
    read_zonemap,
    zorder_key,
    zorder_table,
)


def _grid(spark, n=4096, seed=7):
    rng = random.Random(seed)
    rows = [
        (i, rng.randrange(0, 1000), rng.randrange(0, 1000) * 1.0)
        for i in range(n)
    ]
    return spark.createDataFrame(rows, "id long, x long, v double")


def test_zorder_key_matches_python_reference(spark):
    """The z-value expression == quantize-then-interleave done in Python."""
    df = _grid(spark, n=512).cache()
    bits = 4
    out = df.withColumn("z", zorder_key(df, ["x", "v"], bits=bits)).collect()

    # rebuild the same boundaries the expression used
    n_b = (1 << bits) - 1
    probs = [(i + 1) / (n_b + 1) for i in range(n_b)]
    bx, bv = (
        df.select(F.col("x").cast("double").alias("x"),
                  F.col("v").cast("double").alias("v"))
        .stat.approxQuantile(["x", "v"], probs, 0.01)
    )
    bx, bv = sorted(set(bx)), sorted(set(bv))

    def quant(val, bounds):
        return sum(1 for b in bounds if val > b)

    def interleave(bs, bits, k=2):
        z = 0
        for i, b in enumerate(bs):
            for j in range(bits):
                z |= ((b >> j) & 1) << (j * k + i)
        return z

    for r in out:
        exp = interleave([quant(r["x"], bx), quant(r["v"], bv)], bits)
        assert r["z"] == exp, (r["x"], r["v"], r["z"], exp)
    df.unpersist()


def test_zorder_rewrite_preserves_rows_and_counts_files(spark, tmp_path):
    df = _grid(spark)
    path = str(tmp_path / "zt")
    zonemap = zorder_table(df, path, ["x", "v"], n_files=8)
    assert len(zonemap["files"]) == 8
    assert sum(e["rows"] for e in zonemap["files"]) == df.count()
    back = spark.read.parquet(path)
    assert back.exceptAll(df).count() == 0
    assert df.exceptAll(back).count() == 0


def test_pruned_scan_equals_full_scan_randomized(spark, tmp_path):
    """Property: for random boxes, pruned read == full read + filter."""
    df = _grid(spark)
    path = str(tmp_path / "zt")
    zonemap = zorder_table(df, path, ["x", "v"], n_files=8)
    full = spark.read.parquet(path)
    rng = random.Random(11)
    for _ in range(8):
        lo_x = rng.randrange(0, 900)
        lo_v = rng.randrange(0, 900)
        preds = {
            "x": (lo_x, lo_x + rng.randrange(10, 200)),
            "v": (float(lo_v), float(lo_v + rng.randrange(10, 200))),
        }
        pruned, report = read_pruned(spark, path, preds, zonemap=zonemap)
        oracle = full.filter(
            F.col("x").between(*preds["x"]) & F.col("v").between(*preds["v"])
        )
        got = sorted(pruned.collect())
        want = sorted(oracle.collect())
        assert got == want
        assert report.kept_files <= report.total_files


def test_zorder_prunes_better_than_linear_on_2d_box(spark, tmp_path):
    """The point of the curve: a box on (x, v) touches few z-ordered files;
    a linear sort on x alone can't also cluster v."""
    df = _grid(spark, n=8192)
    zpath, lpath = str(tmp_path / "z"), str(tmp_path / "l")
    # both layouts come from repartitionByRange, whose sample is seeded by
    # the RDD id: sampling every row gives exact range bounds, so the files
    # depend on the data alone, not on how many RDDs the session has made
    conf = "spark.sql.execution.rangeExchange.sampleSizePerPartition"
    old = spark.conf.get(conf)
    spark.conf.set(conf, str(df.count()))
    try:
        zonemap_z = zorder_table(df, zpath, ["x", "v"], n_files=16)
        (
            df.repartitionByRange(16, "x")
            .sortWithinPartitions("x")
            .write.parquet(lpath)
        )
    finally:
        spark.conf.set(conf, old)
    zonemap_l = collect_file_stats(spark, lpath, ["x", "v"])

    # non-leading column: the linear layout cannot prune AT ALL, the
    # z-order keeps a strict subset (measured 4 vs 16 of 16)
    preds_v = {"v": (100.0, 180.0)}
    _, rz_v = prune_plan(zonemap_z, preds_v)
    _, rl_v = prune_plan(zonemap_l, preds_v)
    assert rl_v.kept_files == rl_v.total_files
    assert rz_v.kept_files < rl_v.kept_files, (rz_v, rl_v)
    # 2-d box: z-order at least matches linear (measured 2 vs 3)
    preds_box = {"x": (100, 180), "v": (100.0, 180.0)}
    _, rz_b = prune_plan(zonemap_z, preds_box)
    _, rl_b = prune_plan(zonemap_l, preds_box)
    assert rz_b.kept_files <= rl_b.kept_files, (rz_b, rl_b)
    # the tradeoff, pinned: a narrow leading-column slab favors the
    # linear sort (z spreads x across curve quadrants) — both still prune
    _, rz_x = prune_plan(zonemap_z, {"x": (100, 180)})
    assert rz_x.kept_files < rz_x.total_files


def test_all_null_file_prunes_and_null_rows_never_match(spark, tmp_path):
    df = spark.createDataFrame(
        [(1, None), (2, None)], "id long, x double"
    ).coalesce(1)
    path = str(tmp_path / "nulls")
    df.write.parquet(path)
    zm = collect_file_stats(spark, path, ["x"])
    kept, report = prune_plan(zm, {"x": (0.0, 10.0)})
    assert kept == [] and report.kept_files == 0
    pruned, _ = read_pruned(spark, path, {"x": (0.0, 10.0)}, zonemap=zm)
    assert pruned.count() == 0
    # unbounded predicate -> no constraint -> file kept
    kept2, _ = prune_plan(zm, {"x": (None, None)})
    assert len(kept2) == 1


def test_sidecar_roundtrip_and_missing_column_is_loud(spark, tmp_path):
    df = _grid(spark, n=256)
    path = str(tmp_path / "sc")
    zorder_table(df, path, ["x"], n_files=2, stats_cols=["x", "v"])
    zm = read_zonemap(spark, path)
    assert zm["columns"] == ["x", "v"]
    with pytest.raises(KeyError, match="no zone maps"):
        prune_plan(zm, {"id": (0, 10)})


def test_one_sided_predicates(spark, tmp_path):
    df = _grid(spark, n=1024)
    path = str(tmp_path / "one")
    zm = zorder_table(df, path, ["x", "v"], n_files=4)
    pruned, report = read_pruned(spark, path, {"x": (900, None)}, zonemap=zm)
    oracle = spark.read.parquet(path).filter(F.col("x") >= 900)
    assert sorted(pruned.collect()) == sorted(oracle.collect())
    assert isinstance(report, PruneReport)
    assert report.skipped_files == report.total_files - report.kept_files


def test_timestamp_stats_rejected_loudly(spark, tmp_path):
    df = spark.sql("select timestamp'2024-01-01' as ts, 1 as x")
    path = str(tmp_path / "ts")
    df.write.parquet(path)
    with pytest.raises(TypeError, match="int64 microseconds"):
        collect_file_stats(spark, path, ["ts"])
