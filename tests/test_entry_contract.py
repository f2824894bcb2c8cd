"""Driver-contract regression net: every queries() entry runs at sf0.001 and
returns a stable schema; oracle_sql() keys line up; entry() produces rows."""

from __future__ import annotations

import pytest

import __spark_entry__ as entrymod

SF = "/root/testdata/sf0.001"


def test_oracle_keys_subset_of_queries():
    qs, os_ = entrymod.queries(), entrymod.oracle_sql()
    assert set(os_) <= set(qs)
    missing_oracle = set(qs) - set(os_)
    # only deliberately rows-only entries may omit the oracle
    assert missing_oracle <= {"ann_lsh_topk"}, missing_oracle


def test_entry_returns_rows(spark):
    df = entrymod.entry(spark)
    assert df.count() > 0
    assert {"conv_id", "session_id", "n_turns"} <= set(df.columns)


@pytest.mark.parametrize("name", sorted(entrymod.queries()))
def test_query_runs_at_smoke_scale(spark, name):
    df = entrymod.queries()[name](spark, SF)
    cols = df.columns
    assert len(cols) > 0 and len(cols) == len(set(cols))  # unique names
    n = df.count()
    # most queries produce rows at sf0.001; dedup families may legitimately
    # be empty on this synthetic corpus
    may_be_empty = {"dedup_exact", "ngram_jaccard", "embedding_near_dup",
                    "minhash_lsh_pairs"}
    if name not in may_be_empty:
        assert n > 0, name


def test_valid_turn_filter(spark):
    from flow_feature_spark.prepare import filter_valid_turns

    df = spark.createDataFrame(
        [("c1", "2024-01-01"), (None, "2024-01-01"), ("c2", None)],
        "conv_id string, ts_raw string",
    ).selectExpr("conv_id", "cast(ts_raw as timestamp) as ts")
    assert filter_valid_turns(df).count() == 1


def test_production_never_imports_tests():
    """The oracles under tests/ (the exact grouped kernel, the merge_asof
    join) stay out of production: no module of the package, and not the
    driver contract, imports from ``tests``."""
    import ast
    import pathlib

    root = pathlib.Path(entrymod.__file__).parent
    files = [root / "__spark_entry__.py",
             *sorted((root / "flow_feature_spark").rglob("*.py"))]
    offenders = []
    for path in files:
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, ast.Import):
                names = [a.name for a in node.names]
            elif isinstance(node, ast.ImportFrom) and node.level == 0:
                names = [node.module or ""]
            else:
                continue
            offenders += [(path.name, n) for n in names
                          if n == "tests" or n.startswith("tests.")]
    assert len(files) > 30
    assert offenders == []
