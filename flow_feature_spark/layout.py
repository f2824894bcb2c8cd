"""Data layout for scan efficiency: z-order clustering + zone-map file skipping.

At 10^12 rows, a predicate's cost is dominated by how many FILES it must
open. Two cooperating pieces:

* ``zorder_table`` rewrites a table clustered on the interleaved bits of
  k quantile-ranked columns (Delta ``OPTIMIZE ZORDER BY`` / Iceberg
  ``sort_order`` with a z-curve), so a box predicate on ANY subset of the
  clustered columns touches few files — a linear sort only serves its
  leading column.
* ``collect_file_stats`` records per-file min/max/null-count zone maps
  (what Iceberg keeps in manifests, parquet in footers) into a sidecar
  JSON, and ``read_pruned`` plans a scan that opens only the files whose
  [min,max] intervals intersect the predicate — manifest-level pruning
  before Spark ever lists a row.

Layout never changes query RESULTS — pruned-scan == full-scan+filter is
the invariant every test and the driver oracle pin.

Reference basis: the reference re-reads whole capture files per run
(get_flow_feature.py:27, flow_basic.py:103 — `rdpcap` loads the entire
file); this is the columnar replacement where a selective query reads
the few files its predicate intersects.

Scale notes (100 TB):
* stats collection is ONE distributed column-pruned aggregate over the
  tracked columns, grouped by ``input_file_name()`` — map-side partial
  min/max, no second shuffle. A native Iceberg writer gets these free
  from parquet footers at commit time; recomputing them is the honest
  Spark-level equivalent and amortizes over every subsequent query.
* pruning happens on the DRIVER against the sidecar (Iceberg planning
  does the same against manifests): O(files) comparisons, no cluster
  work for skipped files.
* the z-value is pure codegen arithmetic (compare-and-sum quantization +
  shift/OR interleave), then ONE ``repartitionByRange`` shuffle — the
  same single exchange a plain sorted rewrite costs.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

ZONEMAP_NAME = "_zonemap.json"

# ---------------------------------------------------------------------------
# z-order clustering
# ---------------------------------------------------------------------------


def _quantize(col: F.Column, boundaries: list[float]) -> F.Column:
    """Rank-bucket ``col`` into [0, len(boundaries)] by counting boundary
    crossings: sum of (col > b). A chain of codegen'd comparisons — NOT a
    higher-order function (HOFs are CodegenFallback, interpreted per
    element). NULLs land in bucket 0 with the minimum values."""
    out = F.lit(0)
    for b in boundaries:
        out = out + F.when(col > F.lit(b), 1).otherwise(0)
    return out


def _interleave_bits(buckets: list[F.Column], bits: int) -> F.Column:
    """Morton/z-value of k bucket ids: bit j of dim i goes to output bit
    j*k + i. Closed-form shift/AND/OR expression — whole-stage codegen."""
    k = len(buckets)
    z = F.lit(0).cast("long")
    for i, b in enumerate(buckets):
        bl = b.cast("long")
        for j in range(bits):
            z = z.bitwiseOR(
                F.shiftleft(F.shiftright(bl, j).bitwiseAND(F.lit(1)), j * k + i)
            )
    return z


def zorder_key(
    df: DataFrame, cols: list[str], bits: int = 6, rel_err: float = 0.01
) -> F.Column:
    """A z-value column over ``cols``, each quantile-ranked into 2**bits
    buckets (rank buckets, not uniform width: skewed distributions still
    spread evenly across the curve — Delta's range_partition_id choice).
    Boundary estimation is one ``approxQuantile`` pass per call."""
    if not 1 <= bits <= 16:
        raise ValueError("bits must be in [1, 16]")
    n_buckets = (1 << bits) - 1  # boundaries -> buckets 0..n_buckets
    probs = [(i + 1) / (n_buckets + 1) for i in range(n_buckets)]
    num = df.select(
        *[F.col(c).cast("double").alias(c) for c in cols]
    )
    all_bounds = num.stat.approxQuantile(cols, probs, rel_err)
    buckets = []
    for c, bounds in zip(cols, all_bounds):
        # dedup equal boundaries (low-cardinality columns)
        uniq = sorted(set(bounds))
        buckets.append(_quantize(F.col(c).cast("double"), uniq))
    return _interleave_bits(buckets, bits)


def zorder_table(
    df: DataFrame,
    path: str,
    cols: list[str],
    n_files: int = 64,
    bits: int = 6,
    stats_cols: list[str] | None = None,
) -> dict:
    """Rewrite ``df`` at ``path`` clustered on the z-curve of ``cols`` and
    record zone maps for ``stats_cols`` (default: the z-order columns).
    ONE range shuffle on the z-value; files get ~equal rows because
    repartitionByRange samples the (already rank-balanced) z-values."""
    # r7: the rewrite reads its input THREE times (the quantile-boundary
    # pass, repartitionByRange's range-sampling pass, and the shuffle
    # itself) — persist once so two of the passes read the materialized
    # rows instead of re-scanning and re-decoding the source (guide §5:
    # the frame is reused and recompute costs a full scan each time).
    # Unpersisted before returning; results are layout-invariant anyway.
    df = df.persist()
    try:
        zcol = zorder_key(df, cols, bits=bits)
        (
            df.withColumn("__z", zcol)
            .repartitionByRange(n_files, "__z")
            .sortWithinPartitions("__z")
            .drop("__z")
            .write.mode("errorifexists")
            .parquet(path)
        )
    finally:
        df.unpersist()
    return collect_file_stats(
        df.sparkSession, path, stats_cols if stats_cols is not None else cols
    )


# ---------------------------------------------------------------------------
# zone maps
# ---------------------------------------------------------------------------


def collect_file_stats(
    spark: SparkSession, path: str, cols: list[str], write_sidecar: bool = True
) -> dict:
    """Per-file min/max/null-count zone maps for ``cols``, written to
    ``<path>/_zonemap.json``. One column-pruned aggregate grouped by
    ``input_file_name()`` — map-side partial min/max, a single shuffle of
    one row per file."""
    df = spark.read.parquet(path)
    aggs = [F.count(F.lit(1)).alias("__rows")]
    for c in cols:
        aggs += [
            F.min(c).alias(f"__min_{c}"),
            F.max(c).alias(f"__max_{c}"),
            F.sum(F.col(c).isNull().cast("long")).alias(f"__nulls_{c}"),
        ]
    rows = (
        df.groupBy(F.input_file_name().alias("__file"))
        .agg(*aggs)
        .collect()
    )
    files = []
    for r in sorted(rows, key=lambda r: r["__file"]):
        ent: dict = {"file": r["__file"], "rows": r["__rows"], "stats": {}}
        for c in cols:
            ent["stats"][c] = {
                "min": _json_val(r[f"__min_{c}"]),
                "max": _json_val(r[f"__max_{c}"]),
                "nulls": r[f"__nulls_{c}"],
            }
        files.append(ent)
    zonemap = {"columns": list(cols), "files": files}
    if write_sidecar:
        _write_sidecar(spark, path, zonemap)
    return zonemap


def _json_val(v):
    """Zone-map values serialized losslessly: ints/floats/strings pass
    through; timestamps/dates/decimals are rejected — track their int64
    projections instead (the engine standardizes time as ts_us)."""
    if v is None or isinstance(v, (int, float, str, bool)):
        return v
    raise TypeError(
        f"zone maps track numeric/string columns; got {type(v).__name__} "
        "(project timestamps to int64 microseconds first)"
    )


def _write_sidecar(spark: SparkSession, path: str, zonemap: dict) -> None:
    from flow_feature_spark.io import _hadoop_fs

    fs, Path = _hadoop_fs(spark, path)
    out = fs.create(Path(path, ZONEMAP_NAME), True)
    try:
        out.write(bytearray(json.dumps(zonemap, indent=1).encode("utf-8")))
    finally:
        out.close()


def read_zonemap(spark: SparkSession, path: str) -> dict:
    from flow_feature_spark.io import _hadoop_fs, _slurp

    fs, Path = _hadoop_fs(spark, path)
    p = Path(path, ZONEMAP_NAME)
    if not fs.exists(p):
        raise FileNotFoundError(f"no {ZONEMAP_NAME} under {path}")
    return json.loads(_slurp(spark, fs, p))


# ---------------------------------------------------------------------------
# pruned scan
# ---------------------------------------------------------------------------


@dataclass
class PruneReport:
    total_files: int
    kept_files: int
    total_rows: int
    kept_rows: int

    @property
    def skipped_files(self) -> int:
        return self.total_files - self.kept_files


def _intersects(st: dict, lo, hi) -> bool:
    """Can any row in a file with zone [st.min, st.max] satisfy
    lo <= v <= hi?  A (None, None) interval constrains nothing. A file
    whose tracked values are ALL NULL (min/max absent) can never satisfy
    a bounded predicate — NULL comparisons are never true — so it prunes."""
    if lo is None and hi is None:
        return True
    if st["min"] is None:  # all values NULL in this file
        return False
    if lo is not None and st["max"] < lo:
        return False
    if hi is not None and st["min"] > hi:
        return False
    return True


def prune_plan(
    zonemap: dict, predicates: dict[str, tuple]
) -> tuple[list[str], PruneReport]:
    """Driver-side planning: the files whose zone maps intersect EVERY
    predicate interval. ``predicates`` maps column -> (lo, hi) inclusive
    bounds (None = unbounded on that side). Columns without zone maps are
    rejected loudly rather than silently unpruned."""
    tracked = set(zonemap["columns"])
    missing = [c for c in predicates if c not in tracked]
    if missing:
        raise KeyError(f"no zone maps for predicate columns {missing}; "
                       f"tracked: {sorted(tracked)}")
    kept, kept_rows, total_rows = [], 0, 0
    for ent in zonemap["files"]:
        total_rows += ent["rows"]
        ok = all(
            _intersects(ent["stats"][c], lo, hi)
            for c, (lo, hi) in predicates.items()
        )
        if ok:
            kept.append(ent["file"])
            kept_rows += ent["rows"]
    report = PruneReport(
        total_files=len(zonemap["files"]),
        kept_files=len(kept),
        total_rows=total_rows,
        kept_rows=kept_rows,
    )
    return kept, report


def read_pruned(
    spark: SparkSession,
    path: str,
    predicates: dict[str, tuple],
    zonemap: dict | None = None,
) -> tuple[DataFrame, PruneReport]:
    """Zone-map-pruned scan: open only intersecting files, then apply the
    REAL predicate as a residual filter (zone maps are necessary, not
    sufficient — the filter also reaches the parquet reader as a pushed
    row-group predicate). Result set == full scan + filter, always."""
    if zonemap is None:
        zonemap = read_zonemap(spark, path)
    kept, report = prune_plan(zonemap, predicates)
    if not kept:
        df = spark.read.parquet(path)
    else:
        df = spark.read.parquet(*kept)
    cond = F.lit(True)
    for c, (lo, hi) in predicates.items():
        if lo is not None:
            cond = cond & (F.col(c) >= F.lit(lo))
        if hi is not None:
            cond = cond & (F.col(c) <= F.lit(hi))
    out = df.filter(cond)
    if not kept:
        out = out.limit(0)
    return out, report
