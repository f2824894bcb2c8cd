"""Checkpointed, resumable writes with per-partition lineage + metrics.

The reference's joblib dump/load cache (get_flow_feature.py:7-14, 103-108)
generalizes here to snapshot-checkpointed tables: a job commits its output
table as a snapshot whose log entry records row counts, schema, input
fingerprint and per-partition lineage metrics; a restarted job finds a
current snapshot with a matching job and fingerprint and skips the
recompute entirely (north rule: "resumable from checkpoint with
per-partition lineage + metrics").

Backend: Iceberg table snapshots when an Iceberg catalog is on the classpath
(`spark.sql.catalog...` + iceberg-spark-runtime jar — not in this sandbox),
else the snapshot log below: immutable parquet directories plus an atomic
log commit (write the log LAST, to a temp name, rename into place), which
gives the same at-least-once/resume-exactly semantics for a single writer.

Per-partition metrics ride on Spark accumulators updated inside the Arrow
batch kernel (rows in, vectors out, batches, per-partition row counts) and
are persisted into the snapshot's log entry next to the data.
"""

from __future__ import annotations

import json
import time
import uuid
from dataclasses import dataclass

from pyspark import AccumulatorParam, TaskContext
from pyspark.sql import DataFrame, SparkSession


class _DictSumParam(AccumulatorParam):
    def zero(self, value):
        return {}

    def addInPlace(self, a, b):
        for k, v in b.items():
            a[k] = a.get(k, 0) + v
        return a


@dataclass
class KernelMetrics:
    """Accumulator bundle threaded through the batch kernels."""

    rows_in: object = None
    rows_out: object = None
    batches: object = None
    by_partition: object = None

    @classmethod
    def create(cls, spark: SparkSession) -> "KernelMetrics":
        sc = spark.sparkContext
        return cls(
            rows_in=sc.accumulator(0),
            rows_out=sc.accumulator(0),
            batches=sc.accumulator(0),
            by_partition=sc.accumulator({}, _DictSumParam()),
        )

    def record(self, n_in: int, n_out: int) -> None:
        ctx = TaskContext.get()
        pid = ctx.partitionId() if ctx is not None else -1
        self.rows_in += n_in
        self.rows_out += n_out
        self.batches += 1
        self.by_partition += {str(pid): n_in}

    def snapshot(self) -> dict:
        return {
            "rows_in": self.rows_in.value,
            "rows_out": self.rows_out.value,
            "batches": self.batches.value,
            "rows_in_by_partition": dict(sorted(self.by_partition.value.items())),
        }


def _jclass(spark: SparkSession, name: str):
    """The JVM class ``name``, resolved in one py4j round trip (walking
    ``spark._jvm.org.apache...`` costs one per name segment)."""
    return getattr(spark._jvm, name)


def _hadoop_fs(spark: SparkSession, path: str):
    """(FileSystem, Path class) for the path's scheme — log IO must live
    on the SAME filesystem namespace as the parquet data Spark writes, so
    hdfs:///s3a:// checkpoint locations work, not just local paths. The
    Path class comes back already resolved, for the caller's own paths."""
    Path = _jclass(spark, "org.apache.hadoop.fs.Path")
    fs = Path(path).getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, Path


def resume_or_compute(
    spark: SparkSession,
    path: str,
    job: str,
    compute,
    input_fingerprint: str = "",
    metrics: KernelMetrics | None = None,
    partition_cols: tuple[str, ...] | None = None,
) -> tuple[DataFrame, bool]:
    """Return (df, resumed). The checkpoint at ``path`` is a snapshot table:
    if its current entry records the same job and input fingerprint, read it
    back (schema from the log, no inference job); otherwise commit
    ``compute()`` as a new snapshot (with the accumulator bundle's
    per-partition lineage in the entry, if given, and hive-partitioned by
    ``partition_cols`` if given) and expire the superseded one. A crash
    mid-recompute leaves the previous snapshot current and readable."""
    log = _read_log(spark, path)
    if log and (log[-1].get("job"), log[-1].get("input_fingerprint")) == (
        job, input_fingerprint
    ):
        return _read_entry(spark, path, log[-1]), True
    entry = _write_snapshot(
        compute(), path, log, job, input_fingerprint, metrics, partition_cols
    )
    if log:
        _expire_snapshots(spark, path, log + [entry], keep_last=1)
    return _read_entry(spark, path, entry), False


def write_bucketed_table(
    df: DataFrame,
    table_name: str,
    path: str,
    bucket_cols: tuple[str, ...] = ("conv_id",),
    n_buckets: int = 64,
    sort_cols: tuple[str, ...] | None = None,
) -> None:
    """Persist df as a bucketed (and optionally sort-ordered) external table.

    Two tables bucketed identically on the join key co-locate their buckets:
    joins and aggregations on that key run WITHOUT a shuffle exchange (and
    without a sort, when sort_cols prefix the join key) — the pre-partitioning
    strategy the north rule calls for on repeatedly-joined 10^12-row tables.
    Data lands at ``path`` (external table); only metadata enters the catalog.
    """
    w = df.write.mode("overwrite").format("parquet").option("path", path)
    w = w.bucketBy(n_buckets, *bucket_cols)
    if sort_cols:
        w = w.sortBy(*sort_cols)
    w.saveAsTable(table_name)


def _hive_partition_cols(fs, hpath) -> tuple[str, ...]:
    """Ordered hive partition columns of a parquet directory, inferred from
    the first `col=value` directory chain (empty tuple for a flat table)."""
    cols: list[str] = []
    cur = hpath
    while True:
        subdirs = [
            st.getPath()
            for st in fs.listStatus(cur)
            if st.isDirectory() and "=" in st.getPath().getName()
        ]
        if not subdirs:
            return tuple(cols)
        cols.append(subdirs[0].getName().split("=", 1)[0])
        cur = subdirs[0]


def _count_parquet_files(fs, hpath) -> int:
    it, n = fs.listFiles(hpath, True), 0
    while it.hasNext():
        if it.next().getPath().getName().endswith(".parquet"):
            n += 1
    return n


def compact_table(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    sort_cols: tuple[str, ...] | None = None,
) -> dict:
    """Small-files compaction: rewrite a parquet directory into
    ceil(total_bytes / target_file_bytes) files (optionally cluster-sorted
    for scan locality). The operational chore every long-running ingest needs
    — 10^5 tiny files turn scan planning and the NameNode/manifest layer into
    the bottleneck long before data volume does.

    Hive-partitioned directories (``col=value`` layout, e.g. from a plain
    ``--partition-by`` parquet sink) keep their layout: rows are
    hash-clustered on the partition columns so each partition value rewrites
    to one file (a date partition bigger than ``target_file_bytes`` stays one
    file — split such tables by a finer partition spec, not by compaction).
    A snapshot table (a ``--checkpoint`` or ``--snapshot`` directory) is
    compacted by ``compact_snapshot`` instead.

    Safe rewrite: write to a sibling temp dir first, then swap via the
    Hadoop FS (old data removed only after the rewrite commits). Returns
    {files_before, files_after, bytes, partition_cols}.
    """
    fs, Path = _hadoop_fs(spark, path)
    hpath = Path(path)
    summary = fs.getContentSummary(hpath)
    total_bytes = summary.getLength()
    part_cols = _hive_partition_cols(fs, hpath)
    files_before = _count_parquet_files(fs, hpath)
    n_files = max(1, -(-total_bytes // target_file_bytes))

    # An in-place rewrite must read partition values back VERBATIM: with
    # default partition-column type inference a numeric-looking string value
    # (src=00123) is inferred as int and rewritten as src=123 — compaction
    # would silently alter partition values and flip the column's type for
    # tables partitioned on string keys. Disable inference for the rewrite
    # read (partition columns come back as string, their on-disk spelling);
    # restore the session setting afterwards.
    _INFER = "spark.sql.sources.partitionColumnTypeInference.enabled"
    infer_before = spark.conf.get(_INFER, "true")
    tmp = path.rstrip("/") + f".compact.{uuid.uuid4().hex}"
    try:
        if part_cols:
            spark.conf.set(_INFER, "false")
        df = spark.read.parquet(path)
        if part_cols:
            # co-locate each partition value into one task -> one output file
            # per value per partition directory
            if sort_cols:
                df = df.repartition(*part_cols).sortWithinPartitions(*sort_cols)
            else:
                df = df.repartition(*part_cols)
            df.write.mode("overwrite").partitionBy(*part_cols).parquet(tmp)
        else:
            if sort_cols:
                df = df.repartitionByRange(n_files, *sort_cols)
            else:
                df = df.coalesce(n_files) if n_files < files_before else df.repartition(n_files)
            df.write.mode("overwrite").parquet(tmp)
    finally:
        spark.conf.set(_INFER, infer_before)

    tmp_path = Path(tmp)
    backup = Path(path.rstrip("/") + ".precompact")
    if fs.exists(backup) and not fs.delete(backup, True):
        raise IOError(f"compaction aborted: stale backup {backup} undeletable")
    if not fs.rename(hpath, backup):
        raise IOError(f"compaction aborted: could not stage {path} aside")
    if not fs.rename(tmp_path, hpath):
        fs.rename(backup, hpath)  # roll back
        raise IOError(f"compaction failed: could not move {tmp} into place")
    fs.delete(backup, True)
    files_after = _count_parquet_files(fs, hpath)
    return {
        "files_before": files_before,
        "files_after": files_after,
        "bytes": total_bytes,
        "partition_cols": list(part_cols),
    }


# --- Snapshot log: Iceberg-shaped table versioning without the jar ---------
#
# Iceberg's core table contract without the runtime jar (it is not in this
# environment; with it, these map 1:1 onto `df.writeTo(tbl)` snapshots,
# VERSION AS OF reads, rollback_to_snapshot and expire_snapshots). Layout:
#
#   table_path/
#     snap-<id>/           immutable parquet data of one snapshot
#     _FFS_SNAPSHOTS.json  append-only log, atomically replaced (tmp+rename)
#
# Each commit appends {snapshot_id, parent_id, dir, dirs, ...}; the LAST
# entry is the current table state. ``dir`` is the data directory THIS commit
# wrote (None for rollback, which writes no data); ``dirs`` is the full list
# of directories composing the snapshot's state — [own] for overwrite/merge,
# parent dirs + [own] for append, a copy of the source's for rollback.
# Readers scan ``dirs`` as one multi-path parquet read, so an append commits
# only its delta (Iceberg fast-append: no table rewrite). Rollback appends a
# NEW entry (history is never rewritten — Iceberg semantics); expiration
# deletes data directories no live log entry references. Single writer.
# ``resume_or_compute`` above runs on the same log.

SNAPSHOT_LOG = "_FFS_SNAPSHOTS.json"


def _slurp(spark: SparkSession, fs, path) -> str:
    """The whole file at Hadoop ``path`` as text: the one read path for the
    JSON side files (snapshot log, zone-map sidecar)."""
    stream = fs.open(path)
    try:
        return _jclass(spark, "org.apache.commons.io.IOUtils").toString(
            stream, "UTF-8"
        )
    finally:
        stream.close()


def _read_log(spark: SparkSession, table_path: str) -> list[dict]:
    fs, Path = _hadoop_fs(spark, table_path)
    lp = Path(table_path, SNAPSHOT_LOG)
    if fs.exists(lp):
        return json.loads(_slurp(spark, fs, lp))
    # Log file absent. _write_log replaces the log by delete-then-rename
    # (Hadoop rename does not overwrite), so a crash inside that window
    # leaves NO log but a fully-written tmp — recover from the newest
    # parseable one. Treating "no log" as "empty table" here would be a
    # DATA-LOSS bug: write_snapshot would restart ids at 1 and reclaim
    # committed snap dirs as orphans.
    glob = Path(table_path, f"{SNAPSHOT_LOG}.tmp.*")
    tmps = sorted(
        (fs.globStatus(glob) or []),
        key=lambda st: st.getModificationTime(),
        reverse=True,
    )
    for st in tmps:
        try:
            return json.loads(_slurp(spark, fs, st.getPath()))
        except ValueError:
            continue  # partial write from a crash mid-create; try older
    # No log, no recoverable tmp. A single snap dir is the documented
    # first-commit crash (data written, log commit never started) and must
    # stay retryable; MORE than one directory means a committed history
    # whose log vanished — refuse to silently restart it as a fresh table.
    snaps = fs.globStatus(Path(table_path, "snap-*")) or []
    if len(snaps) > 1:
        raise IOError(
            f"snapshot log missing at {table_path} but "
            f"{len(snaps)} snap-* directories exist — the log was lost "
            "outside the commit protocol; restore it (or a "
            f"{SNAPSHOT_LOG}.tmp.* copy) before writing"
        )
    return []


def _write_log(spark: SparkSession, table_path: str, entries: list[dict]) -> None:
    fs, Path = _hadoop_fs(spark, table_path)
    tmp = Path(table_path, f"{SNAPSHOT_LOG}.tmp.{uuid.uuid4().hex}")
    final = Path(table_path, SNAPSHOT_LOG)
    out = fs.create(tmp, True)
    try:
        out.write(bytearray(json.dumps(entries, separators=(",", ":")).encode("utf-8")))
    finally:
        out.close()
    if fs.exists(final) and not fs.delete(final, False):
        fs.delete(tmp, False)
        raise IOError(f"snapshot log commit failed: could not replace {final}")
    if not fs.rename(tmp, final):
        # KEEP the tmp: the old log is already deleted, so this tmp is now
        # the only complete copy — _read_log's recovery path restores from
        # it. Deleting it here would make the rename failure a total loss.
        raise IOError(
            f"snapshot log commit failed: rename returned false; "
            f"log recoverable from {tmp}"
        )
    # success — reap stale tmps from earlier crashed commits (single-writer
    # protocol; any tmp other than ours is dead weight that could only
    # confuse a future recovery)
    for st in fs.globStatus(Path(table_path, f"{SNAPSHOT_LOG}.tmp.*")) or []:
        fs.delete(st.getPath(), False)


def _raw_dirs(entry: dict) -> list | None:
    """The entry's ``dirs`` value as stored (strings, or dicts with
    per-directory partition exclusions), or None if expired. Pre-``dirs``
    log entries carry only ``dir``."""
    if entry.get("dirs") is not None:
        return entry["dirs"]
    return [entry["dir"]] if entry.get("dir") else None


def _norm_dirs(entry: dict) -> list[dict] | None:
    """``dirs`` normalized to [{"dir": name, "exclude": [values]}]. A plain
    string dir (every operation except replace_partitioned) has no
    exclusions."""
    raw = _raw_dirs(entry)
    if raw is None:
        return None
    return [
        d if isinstance(d, dict) else {"dir": d, "exclude": []} for d in raw
    ]


def _entry_dirs(entry: dict) -> list[str] | None:
    """Just the directory NAMES composing an entry's state (for liveness /
    reclaim bookkeeping), or None if expired."""
    nd = _norm_dirs(entry)
    return None if nd is None else [d["dir"] for d in nd]


def _entry_reader(spark: SparkSession, entry: dict):
    """A parquet reader for the directories of one log entry, with the
    schema the entry records: Spark infers no schema, which is a one-task
    footer-read job per read. Hive partition columns still come last and
    take their recorded type. The recorded schema of an evolved
    composition is the newest (add-only) one, so an older directory's
    missing columns read as NULL, as parquet schema merging gives."""
    from pyspark.sql.types import StructType

    return spark.read.schema(StructType.fromJson(entry["schema"]))


def _live_dirs(entry: dict) -> list[dict]:
    """``_norm_dirs`` of an entry that must still have its data."""
    ndirs = _norm_dirs(entry)
    if ndirs is None:
        raise KeyError(
            f"snapshot {entry['snapshot_id']} was expired; its data is gone"
        )
    return ndirs


def _read_entry(spark: SparkSession, table_path: str, entry: dict) -> DataFrame:
    """Materialize one log entry's state. Fast path: one multi-path parquet
    read. A hive-partitioned composition of several directories reads each
    directory separately (Spark's partition discovery takes one root per
    read), and a directory with partition exclusions (a bounded replace
    shadowed some of its partitions) gets its exclusion filter — the filter
    is on the hive partition column, so Spark prunes the shadowed
    subdirectories instead of scanning them."""
    ndirs = _live_dirs(entry)
    base = table_path.rstrip("/")
    excl_col = entry.get("exclude_col")
    rd = _entry_reader(spark, entry)
    if len(ndirs) == 1 or not (excl_col or entry.get("partition_cols")):
        return rd.parquet(*[f"{base}/{d['dir']}" for d in ndirs])
    from pyspark.sql import functions as F

    out = None
    for d in ndirs:
        df = rd.parquet(f"{base}/{d['dir']}")
        if d["exclude"]:
            df = df.filter(~F.col(excl_col).isin(d["exclude"]))
        out = (
            df
            if out is None
            else out.unionByName(df, allowMissingColumns=True)
        )
    return out


def write_snapshot(
    df: DataFrame,
    table_path: str,
    job: str = "",
    input_fingerprint: str = "",
    metrics: KernelMetrics | None = None,
    partition_cols: tuple[str, ...] | None = None,
    operation: str = "overwrite",
    allow_new_columns: bool = False,
    stats_cols: tuple[str, ...] | None = None,
    extra_entry: dict | None = None,
) -> dict:
    """Commit df as a NEW immutable snapshot of the table; returns the log
    entry. Readers of earlier snapshot ids are unaffected (their data dirs
    are immutable) — the writer-never-blocks-readers property Iceberg's
    snapshot isolation gives, which plain overwrite-in-place parquet lacks.

    ``operation="append"`` commits ONLY the delta directory and composes the
    new state as parent dirs + delta (Iceberg fast-append): a daily ingest
    into a 100-TB table writes the day's data, never rewrites the table.
    Appends require the parent's exact schema unless ``allow_new_columns``
    (Iceberg add-column schema evolution): the delta may ADD columns — the
    parent's columns must keep their exact types/order — and readers merge
    parquet schemas across directories, so pre-evolution rows surface the
    new columns as NULL without any rewrite. Dropping or retyping a column
    stays an overwrite.
    """
    return _write_snapshot(
        df, table_path, _read_log(df.sparkSession, table_path), job=job,
        input_fingerprint=input_fingerprint, metrics=metrics,
        partition_cols=partition_cols, operation=operation,
        allow_new_columns=allow_new_columns, stats_cols=stats_cols,
        extra_entry=extra_entry,
    )


def _write_snapshot(
    df: DataFrame,
    table_path: str,
    log: list[dict],
    job: str = "",
    input_fingerprint: str = "",
    metrics: KernelMetrics | None = None,
    partition_cols: tuple[str, ...] | None = None,
    operation: str = "overwrite",
    allow_new_columns: bool = False,
    stats_cols: tuple[str, ...] | None = None,
    extra_entry: dict | None = None,
) -> dict:
    """write_snapshot on the table's already-read ``log``, for callers that
    read it for their own checks first (one log read per commit)."""
    if operation not in ("overwrite", "append", "merge"):
        raise ValueError(f"unknown snapshot operation {operation!r}")
    spark = df.sparkSession
    parent_dirs: list = []
    state_rows_base = 0
    exclude_col = None
    schema_evolved = False
    if operation == "append" and log:
        parent = log[-1]
        pdirs = _raw_dirs(parent)
        if pdirs is None:
            raise KeyError(
                f"cannot append: parent snapshot {parent['snapshot_id']} is expired"
            )
        if allow_new_columns:
            pfields = parent["schema"].get("fields", [])
            dfields = df.schema.jsonValue().get("fields", [])
            if dfields[: len(pfields)] != pfields:
                raise ValueError(
                    "schema evolution may only ADD columns after the "
                    "parent's (which must keep exact name/type/order); "
                    "commit an overwrite to drop or retype"
                )
        elif parent["schema"] != df.schema.jsonValue():
            raise ValueError(
                "append requires the parent snapshot's exact schema; "
                "commit an overwrite to change schema"
            )
        parent_dirs = list(pdirs)
        state_rows_base = int(parent.get("state_rows", parent["rows"]))
        # a parent shaped by bounded replaces carries partition exclusions;
        # the composed state keeps them (and the reader must apply them)
        exclude_col = parent.get("exclude_col")
        schema_evolved = bool(parent.get("schema_evolved")) or (
            allow_new_columns and parent["schema"] != df.schema.jsonValue()
        )
    snap_id = len(log) + 1
    snap_dir = f"{table_path.rstrip('/')}/snap-{snap_id:06d}"
    # crash-retry safety: a failure between the data write and the log
    # commit leaves snap-<id> on disk with no log entry referencing it, and
    # since snap_id = len(log)+1 is unchanged on retry, errorifexists would
    # fail the replay forever (notably the streaming exactly-once resume).
    # Ids are never reused (expired entries stay in the log), so a
    # pre-existing snap-<id> dir is by construction an orphan of a failed
    # commit — delete it before writing.
    fs, Path = _hadoop_fs(spark, table_path)
    orphan = Path(snap_dir)
    if fs.exists(orphan):
        if any(e["snapshot_id"] == snap_id for e in log):
            raise IOError(
                f"snapshot {snap_id} already committed; log/dir disagree"
            )
        fs.delete(orphan, True)
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    obs = Observation()
    # SQL text: one Column call, where F.count(F.lit(1)).alias is three
    w = df.observe(obs, F.expr("count(1) AS rows")).write.mode("errorifexists")
    if partition_cols:
        w = w.partitionBy(*partition_cols)
    w.parquet(snap_dir)
    rows = int(obs.get["rows"])
    if stats_cols:
        # per-file zone maps into the directory's _zonemap.json sidecar
        # (what Iceberg keeps in manifests); read_snapshot_pruned consumes
        # them, plain readers ignore the underscore-prefixed file
        from flow_feature_spark.layout import collect_file_stats

        collect_file_stats(spark, snap_dir, list(stats_cols))
    entry = {
        "snapshot_id": snap_id,
        "parent_id": log[-1]["snapshot_id"] if log else None,
        "dir": f"snap-{snap_id:06d}",
        "dirs": parent_dirs + [f"snap-{snap_id:06d}"],
        "operation": operation,
        "job": job,
        "rows": rows,
        "state_rows": state_rows_base + rows,
        "partition_cols": list(partition_cols) if partition_cols else [],
        "stats_cols": list(stats_cols) if stats_cols else [],
        "exclude_col": exclude_col,
        "schema_evolved": schema_evolved,
        "schema": df.schema.jsonValue(),
        "input_fingerprint": input_fingerprint,
        "committed_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
        "committed_at_unix": int(time.time()),
        "metrics": metrics.snapshot() if metrics is not None else None,
    }
    if extra_entry:
        clash = set(extra_entry) & set(entry)
        if clash:
            raise ValueError(f"extra_entry may not override {sorted(clash)}")
        entry.update(extra_entry)
    _write_log(spark, table_path, log + [entry])
    return entry


def snapshot_history(spark: SparkSession, table_path: str) -> list[dict]:
    """The table's commit log, oldest first (Iceberg `table.history()`)."""
    return _read_log(spark, table_path)


def read_snapshot(
    spark: SparkSession,
    table_path: str,
    snapshot_id: int | None = None,
    as_of_unix: int | None = None,
) -> DataFrame:
    """Read the current table state, a specific snapshot (VERSION AS OF), or
    the latest snapshot committed at-or-before ``as_of_unix`` (TIMESTAMP AS
    OF). Time travel reads immutable directories — no lock, no copy."""
    entry = _pick_entry(
        _read_log(spark, table_path), table_path, snapshot_id, as_of_unix
    )
    return _read_entry(spark, table_path, entry)


def _pick_entry(
    log: list[dict],
    table_path: str,
    snapshot_id: int | None = None,
    as_of_unix: int | None = None,
) -> dict:
    """The log entry a read names: ``snapshot_id``, the latest committed
    at-or-before ``as_of_unix``, or the current one."""
    if not log:
        raise FileNotFoundError(f"no snapshot log at {table_path}")
    if snapshot_id is not None and as_of_unix is not None:
        raise ValueError("pass snapshot_id or as_of_unix, not both")
    if snapshot_id is not None:
        matches = [e for e in log if e["snapshot_id"] == snapshot_id]
        if not matches:
            raise KeyError(f"snapshot {snapshot_id} not in log (expired or never committed)")
        return matches[0]
    if as_of_unix is not None:
        eligible = [e for e in log if e["committed_at_unix"] <= as_of_unix]
        if not eligible:
            raise KeyError(f"no snapshot at or before {as_of_unix}")
        return eligible[-1]
    return log[-1]


def read_snapshot_pruned(
    spark: SparkSession,
    table_path: str,
    predicates: dict[str, tuple],
    snapshot_id: int | None = None,
    as_of_unix: int | None = None,
) -> DataFrame:
    """``read_snapshot`` with zone-map file skipping: each directory
    composing the snapshot's state is pruned against its own
    ``_zonemap.json`` sidecar (written by ``write_snapshot(stats_cols=…)``
    — immutable alongside the data, so appends keep the parent's maps),
    directories without a sidecar read fully, and the residual predicate
    filter applies on top. Result == read_snapshot + filter, always; at
    scale the win is opening only intersecting files per directory —
    Iceberg's manifest pruning composed with the snapshot log."""
    from pyspark.sql import functions as F

    from flow_feature_spark.layout import prune_plan, read_zonemap

    entry = _pick_entry(
        _read_log(spark, table_path), table_path, snapshot_id, as_of_unix
    )
    ndirs = _live_dirs(entry)
    base = table_path.rstrip("/")
    excl_col = entry.get("exclude_col")
    out = None
    for d in ndirs:
        dpath = f"{base}/{d['dir']}"
        # a fresh reader per directory: DataFrameReader.option sets the
        # option on the reader itself, so a shared one would carry this
        # directory's basePath into the next directory's read
        rd = _entry_reader(spark, entry)
        try:
            zonemap = read_zonemap(spark, dpath)
            kept, _ = prune_plan(zonemap, predicates)
        except (FileNotFoundError, KeyError):
            # no sidecar, or this directory's maps predate a predicate
            # column (schema evolution): read fully, the residual filter
            # below keeps the result correct
            df = rd.parquet(dpath)
        else:
            if not kept:
                continue
            # files of a hive-partitioned directory keep their partition
            # values only when read against the directory as base path
            df = rd.option("basePath", dpath).parquet(*kept)
        if excl_col and d["exclude"]:
            df = df.filter(~F.col(excl_col).isin(d["exclude"]))
        out = df if out is None else out.unionByName(
            df, allowMissingColumns=True
        )
    if out is None:  # every file of every directory pruned
        out = _read_entry(spark, table_path, entry).limit(0)
    cond = F.lit(True)
    for c, (lo, hi) in predicates.items():
        if lo is not None:
            cond = cond & (F.col(c) >= F.lit(lo))
        if hi is not None:
            cond = cond & (F.col(c) <= F.lit(hi))
    return out.filter(cond)


def _inherit_spec(
    parent: dict,
    partition_cols: tuple[str, ...] | None,
) -> tuple[tuple[str, ...], tuple[str, ...]]:
    """Default a COW rewrite's partition spec and zone-map columns to the
    ``parent`` entry's. Every operation that rewrites the CURRENT state (merge,
    group replace, compaction) must preserve both unless the caller
    explicitly changes them: flattening the spec breaks the bounded-replace
    path ('requires the table partitioned by ...'), and dropping stats_cols
    silently turns read_snapshot_pruned into a full scan. Pass ``()`` to
    deliberately flatten."""
    if partition_cols is None:
        partition_cols = tuple(parent.get("partition_cols") or [])
    stats_cols = tuple(parent.get("stats_cols") or [])
    return partition_cols, stats_cols


def compact_snapshot(
    spark: SparkSession,
    table_path: str,
    target_files: int = 8,
    stats_cols: tuple[str, ...] | None = None,
    partition_cols: tuple[str, ...] | None = None,
) -> dict:
    """Rewrite the CURRENT state as one fresh overwrite commit of
    ``target_files`` files — the history-preserving compaction for snapshot
    tables. A long fast-append chain (one small directory per ingested
    batch) or a replace-shadowed composition degrades reads: every query
    opens every delta directory and applies exclusion filters. Compaction
    collapses the live composition into a single directory; older
    snapshots keep reading their immutable directories (run
    ``expire_snapshots`` + ``vacuum_table`` afterwards to reclaim them).
    Iceberg calls this rewrite_data_files.

    The rewrite PRESERVES the parent's partition spec by default (a table
    maintained with ``replace_groups_partitioned`` must stay partitioned by
    its group columns or the bounded-replace path stops working); pass
    ``partition_cols`` explicitly to change the spec, or ``()`` to
    deliberately flatten."""
    log = _read_log(spark, table_path)
    parent = _pick_entry(log, table_path)
    cur = _read_entry(spark, table_path, parent)
    partition_cols, inherited_stats = _inherit_spec(parent, partition_cols)
    if stats_cols is None:
        stats_cols = inherited_stats
    parts = list(partition_cols)
    compacted = (
        cur.repartition(target_files, *parts) if parts
        else cur.repartition(target_files)
    )
    return _write_snapshot(
        compacted,
        table_path,
        log,
        job="compact_snapshot",
        operation="overwrite",
        partition_cols=tuple(parts),
        stats_cols=stats_cols,
    )


def vacuum_table(spark: SparkSession, table_path: str) -> dict:
    """Delete ``snap-*`` directories no live log entry references — the
    debris of failed commits (data written, log rename lost) and any
    directory an earlier maintenance pass missed. The snapshot-layer
    counterpart of Iceberg's ``remove_orphan_files``: ``expire_snapshots``
    reclaims directories the LOG knows about; vacuum reclaims the ones it
    doesn't. Refuses to run without a snapshot log (never deletes from a
    directory this layer doesn't own)."""
    log = _read_log(spark, table_path)
    if not log:
        raise FileNotFoundError(
            f"no snapshot log at {table_path}; refusing to vacuum"
        )
    live: set[str] = set()
    for e in log:
        live.update(_entry_dirs(e) or [])
    fs, Path = _hadoop_fs(spark, table_path)
    removed = []
    for status in fs.listStatus(Path(table_path)):
        name = status.getPath().getName()
        if status.isDirectory() and name.startswith("snap-") and name not in live:
            fs.delete(status.getPath(), True)
            removed.append(name)
    return {"removed": sorted(removed), "live": sorted(live)}


def rollback_snapshot(
    spark: SparkSession, table_path: str, snapshot_id: int
) -> dict:
    """Make ``snapshot_id`` the current state by committing a NEW log entry
    that points at its (immutable) data directory — history is append-only,
    the bad snapshot stays readable for forensics (Iceberg
    ``rollback_to_snapshot``)."""
    log = _read_log(spark, table_path)
    matches = [e for e in log if e["snapshot_id"] == snapshot_id]
    if not matches:
        raise KeyError(f"snapshot {snapshot_id} not in log")
    src = matches[0]
    if _entry_dirs(src) is None:
        raise KeyError(f"snapshot {snapshot_id} was expired; cannot roll back")
    entry = dict(
        src,
        snapshot_id=len(log) + 1,
        parent_id=log[-1]["snapshot_id"],
        dir=None,  # a rollback writes no data of its own
        dirs=_raw_dirs(src),  # raw: partition exclusions must survive
        operation=f"rollback_to_{snapshot_id}",
        committed_at=time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
        committed_at_unix=int(time.time()),
    )
    _write_log(spark, table_path, log + [entry])
    return entry


def expire_snapshots(
    spark: SparkSession, table_path: str, keep_last: int = 2
) -> dict:
    """Drop the data directories of all but the last ``keep_last`` log
    entries — EXCEPT directories a kept entry still references (a rollback
    entry keeps its source snapshot's directory alive). Expired entries stay
    in the log with dir=None for auditability. The storage-reclaim chore
    Iceberg's ``expire_snapshots`` runs on every production table."""
    return _expire_snapshots(
        spark, table_path, _read_log(spark, table_path), keep_last
    )


def _expire_snapshots(
    spark: SparkSession, table_path: str, log: list[dict], keep_last: int
) -> dict:
    """expire_snapshots on the table's already-read ``log``."""
    if keep_last < 1:
        raise ValueError("keep_last must be >= 1")
    keep = log[-keep_last:]
    live_dirs: set[str] = set()
    for e in keep:
        live_dirs.update(_entry_dirs(e) or [])
    fs, Path = _hadoop_fs(spark, table_path)
    removed = []
    deleted: set[str] = set()
    new_log = []
    for e in log[:-keep_last]:
        dirs = _entry_dirs(e)
        if dirs is None:  # already expired
            new_log.append(e)
            continue
        if set(dirs) <= live_dirs:
            # every directory composing this state is still referenced by a
            # kept entry (e.g. the source of a kept rollback) — stays readable
            new_log.append(e)
            continue
        d = e.get("dir")
        if d and d not in live_dirs and d not in deleted:
            fs.delete(Path(table_path, d), True)
            deleted.add(d)
        removed.append(e["snapshot_id"])
        new_log.append(
            dict(e, dir=None, dirs=None, operation=e["operation"] + ",expired")
        )
    _write_log(spark, table_path, new_log + keep)
    return {"expired": removed, "kept": [e["snapshot_id"] for e in keep]}


def merge_snapshot(
    updates: DataFrame,
    table_path: str,
    key_cols: tuple[str, ...],
    delete_col: str | None = None,
    job: str = "",
    partition_cols: tuple[str, ...] | None = None,
) -> dict:
    """MERGE INTO the snapshot table (Iceberg/Delta upsert, copy-on-write):
    rows of ``updates`` replace current rows with the same key, keys absent
    from the current state are inserted, and — when ``delete_col`` names a
    boolean column — rows flagged true DELETE their key instead. Commits the
    merged state as a new snapshot (operation="merge"); time travel to the
    pre-merge state keeps working.

    Plan shape: current LEFT ANTI JOIN (distinct update keys) ∪ upserts —
    one shuffle of the current state on the key (or zero when the update
    key set fits under the broadcast threshold, the common CDC case), then
    a plain append-style write. Copy-on-write rewrites the table like
    Iceberg's COW mode; partition_cols bound the rewrite the same way
    partitioned COW does. A merge-on-read variant (commit the delta, apply
    at read) is the append operation + read-side reconciliation."""
    spark = updates.sparkSession
    log = _read_log(spark, table_path)
    current = _read_entry(spark, table_path, _pick_entry(log, table_path))
    data_cols = [c for c in updates.columns if c != delete_col]
    if set(data_cols) != set(current.columns):
        raise ValueError(
            f"merge schema mismatch: updates {sorted(data_cols)} vs "
            f"table {sorted(current.columns)}"
        )
    missing = [k for k in key_cols if k not in current.columns]
    if missing:
        raise ValueError(f"key columns not in table: {missing}")
    from pyspark.sql import functions as F

    # MERGE's cardinality rule (Iceberg/Delta raise on multiple source rows
    # matching one target row): a duplicated key would make the upsert
    # non-deterministic — or silently resurrect a key its other row deletes.
    dup = (
        updates.groupBy(*key_cols)
        .agg(F.count(F.lit(1)).alias("__n"))
        .filter(F.col("__n") > 1)
        .limit(5)
        .collect()
    )
    if dup:
        keys = [tuple(r[k] for k in key_cols) for r in dup]
        raise ValueError(f"merge updates have multiple rows per key: {keys}")
    touched = updates.select(*key_cols).distinct()
    if delete_col:
        # a NULL flag would vanish from filter(~col) while its key stays in
        # `touched` — a silent DELETE; fail loudly instead (the caller must
        # coalesce an optional flag explicitly)
        d = F.col(delete_col)
        updates = updates.withColumn(
            delete_col,
            F.when(
                d.isNull(),
                F.raise_error(F.lit(
                    f"merge_snapshot: NULL in delete flag {delete_col!r}; "
                    "coalesce to false explicitly if NULL means no-delete"
                )).cast("boolean"),
            ).otherwise(d),
        )
    upserts = (
        updates.filter(~F.col(delete_col)) if delete_col else updates
    ).select(*current.columns)
    kept = current.join(touched, on=list(key_cols), how="left_anti")
    partition_cols, stats_cols = _inherit_spec(log[-1], partition_cols)
    return _write_snapshot(
        kept.unionByName(upserts),
        table_path,
        log,
        job=job,
        operation="merge",
        partition_cols=partition_cols,
        stats_cols=stats_cols,
    )


def replace_groups_snapshot(
    updates: DataFrame,
    table_path: str,
    group_cols: tuple[str, ...],
    job: str = "",
    partition_cols: tuple[str, ...] | None = None,
    keys: DataFrame | None = None,
) -> dict:
    """Group-granular overwrite (Delta ``replaceWhere`` / Iceberg dynamic
    partition overwrite, at arbitrary key granularity): every current row
    whose group key appears in ``keys`` is dropped and replaced by ALL of
    ``updates``' rows for that group — including groups with a different row
    COUNT than before (a row-keyed merge can't shrink a group; this can),
    and groups in ``keys`` with no rows in ``updates``, which are deleted.
    Groups absent from ``keys`` are untouched; new groups are inserted.

    ``keys`` (a frame with the ``group_cols`` columns) names the groups to
    replace; it defaults to the groups present in ``updates``. Pass it when
    the caller already holds the key set more cheaply than ``updates``
    yields it: deriving the keys from ``updates`` runs ``updates``' plan a
    second time in the same write. Precondition: ``keys`` must cover every
    group in ``updates`` — a group in ``updates`` but not in ``keys`` keeps
    its old rows beside the new ones.

    This is the maintenance primitive incremental recomputation needs: a
    group (conversation, partition, day) is recomputed as a unit, so its old
    rows must vanish as a unit. Same plan shape as merge_snapshot — one
    left-anti join of the current state against the distinct touched keys
    (broadcast when small) — without MERGE's one-row-per-key cardinality
    rule, which multi-row groups would violate."""
    return _replace_groups(
        updates, table_path, _read_log(updates.sparkSession, table_path),
        group_cols, job=job, partition_cols=partition_cols, keys=keys,
    )


def _replace_groups(
    updates: DataFrame,
    table_path: str,
    log: list[dict],
    group_cols: tuple[str, ...],
    job: str = "",
    partition_cols: tuple[str, ...] | None = None,
    keys: DataFrame | None = None,
) -> dict:
    """replace_groups_snapshot on the table's already-read ``log``."""
    spark = updates.sparkSession
    current = _read_entry(spark, table_path, _pick_entry(log, table_path))
    if set(updates.columns) != set(current.columns):
        raise ValueError(
            f"replace_groups schema mismatch: updates {sorted(updates.columns)} "
            f"vs table {sorted(current.columns)}"
        )
    missing = [k for k in group_cols if k not in current.columns]
    if missing:
        raise ValueError(f"group columns not in table: {missing}")
    touched = (updates if keys is None else keys).select(*group_cols).distinct()
    kept = current.join(touched, on=list(group_cols), how="left_anti")
    partition_cols, stats_cols = _inherit_spec(log[-1], partition_cols)
    return _write_snapshot(
        kept.unionByName(updates),
        table_path,
        log,
        job=job,
        operation="merge",
        partition_cols=partition_cols,
        stats_cols=stats_cols,
    )


def replace_groups_partitioned(
    updates: DataFrame,
    table_path: str,
    group_cols: tuple[str, ...],
    partition_col: str,
    job: str = "",
    keys: DataFrame | None = None,
) -> dict:
    """Partition-bounded group replace (Iceberg dynamic partition overwrite
    composed with merge-on-read shadowing): like replace_groups_snapshot,
    but the commit writes ONLY the hive partitions (buckets) the updates
    touch — untouched buckets are not rewritten, they stay served by the
    parent's directories. The new log entry records, per older directory,
    which partition values it no longer serves; readers filter those out
    (a partition-column filter, so the shadowed subdirectories are PRUNED,
    not scanned).

    This removes the full-table copy-on-write floor from incremental
    maintenance: the rewrite cost is proportional to the touched buckets,
    not the table (measured in BENCH/INCREMENTAL.md). The trade is
    Iceberg's own MOR trade — read amplification grows with accumulated
    replace commits (more directories per read); a periodic plain
    replace_groups_snapshot/overwrite is the compaction that resets the
    composition to one directory.

    Requirements: the table's current state must be partitioned by exactly
    ``partition_col`` (write the initial snapshot with
    ``partition_cols=(partition_col,)``), and ``updates`` must carry that
    column with values consistent with the group key (every row of a group
    in one bucket — e.g. bucket = hash(key) % N). Use an INT bucket column;
    reads type it from the snapshot log's schema. ``updates`` must have the
    table's columns with the table's types (ValueError otherwise): every
    directory is read with the schema the log records.

    ``keys`` (a frame with the ``group_cols`` columns and ``partition_col``)
    names the groups to replace, as in replace_groups_snapshot, and the
    buckets to rewrite are read from it; it defaults to ``updates``. Pass it
    when the keys are cheaper to get than ``updates``' plan: each use of
    ``updates`` here runs that plan again. Precondition: ``keys`` must cover
    every group in ``updates``, with the same bucket value for each group."""
    return _replace_groups_partitioned(
        updates, table_path, _read_log(updates.sparkSession, table_path),
        group_cols, partition_col, job=job, keys=keys,
    )


def _replace_groups_partitioned(
    updates: DataFrame,
    table_path: str,
    log: list[dict],
    group_cols: tuple[str, ...],
    partition_col: str,
    job: str = "",
    keys: DataFrame | None = None,
) -> dict:
    """replace_groups_partitioned on the table's already-read ``log``."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    spark = updates.sparkSession
    parent = _pick_entry(log, table_path)
    ndirs = _norm_dirs(parent)
    if ndirs is None:
        raise KeyError(
            f"cannot replace: snapshot {parent['snapshot_id']} is expired"
        )
    if parent.get("partition_cols") != [partition_col]:
        raise ValueError(
            f"bounded replace requires the table partitioned by "
            f"[{partition_col!r}]; parent has {parent.get('partition_cols')}"
        )
    if parent.get("exclude_col") not in (None, partition_col):
        raise ValueError(
            f"table already shadowed on {parent['exclude_col']!r}, "
            f"cannot mix with {partition_col!r}"
        )
    if partition_col not in updates.columns:
        raise ValueError(f"updates lack partition column {partition_col!r}")
    missing = [k for k in group_cols if k not in updates.columns]
    if missing:
        raise ValueError(f"group columns not in updates: {missing}")
    # every directory is read with the schema the log records, so the new
    # directory must hold the parent's column types: a wider update type
    # would not read back as the parent's narrower one
    want = {f["name"]: f["type"] for f in parent["schema"]["fields"]}
    got = {f["name"]: f["type"] for f in updates.schema.jsonValue()["fields"]}
    bad = sorted(n for n in set(got) | set(want) if got.get(n) != want.get(n))
    if bad:
        raise ValueError(
            f"replace schema mismatch on {bad}: updates "
            f"{[got.get(n) for n in bad]} vs table "
            f"{[want.get(n) for n in bad]}; commit an overwrite to "
            f"change schema"
        )
    keys = updates if keys is None else keys

    touched_parts = sorted(
        r[0] for r in keys.select(partition_col).distinct().collect()
    )
    current = _read_entry(spark, table_path, parent)
    cur_touched = current.filter(F.col(partition_col).isin(touched_parts))
    replaced_rows = cur_touched.count()  # partition-pruned job
    touched_keys = keys.select(*group_cols).distinct()
    kept = cur_touched.join(touched_keys, on=list(group_cols), how="left_anti")

    snap_id = len(log) + 1
    own = f"snap-{snap_id:06d}"
    obs = Observation()
    (
        kept.unionByName(updates)
        .observe(obs, F.expr("count(1) AS rows"))
        .write.mode("errorifexists")
        .partitionBy(partition_col)
        .parquet(f"{table_path.rstrip('/')}/{own}")
    )
    rows = int(obs.get["rows"])
    new_dirs = [
        {"dir": d["dir"], "exclude": sorted(set(d["exclude"]) | set(touched_parts))}
        for d in ndirs
    ] + [own]
    state_rows = int(parent.get("state_rows", parent["rows"])) - replaced_rows + rows
    entry = {
        "snapshot_id": snap_id,
        "parent_id": parent["snapshot_id"],
        "dir": own,
        "dirs": new_dirs,
        "operation": "replace_partitioned",
        "job": job,
        "rows": rows,
        "state_rows": state_rows,
        "partition_cols": [partition_col],
        "exclude_col": partition_col,
        "replaced_partitions": touched_parts,
        "schema_evolved": bool(parent.get("schema_evolved")),
        "schema": parent["schema"],
        "input_fingerprint": "",
        "committed_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
        "committed_at_unix": int(time.time()),
        "metrics": None,
    }
    _write_log(spark, table_path, log + [entry])
    return entry


def snapshot_changes(
    spark: SparkSession,
    table_path: str,
    from_snapshot_id: int,
    to_snapshot_id: int,
) -> DataFrame:
    """Changelog between two snapshots (Iceberg changelog scan / Delta CDF
    read): full-row multiset diff — rows only in ``to`` tagged ``insert``,
    rows only in ``from`` tagged ``delete``; an updated row appears as a
    delete+insert pair. exceptAll keeps duplicate multiplicity, so N copies
    appearing/disappearing emit N change rows. Both sides shuffle on the
    full row once; for key-based CDC at 100 TB, capture changes at merge
    time instead (the ``updates`` frame IS the changelog)."""
    from pyspark.sql import functions as F

    a = read_snapshot(spark, table_path, snapshot_id=from_snapshot_id)
    b = read_snapshot(spark, table_path, snapshot_id=to_snapshot_id)
    ins = b.exceptAll(a).withColumn("change_type", F.lit("insert"))
    dels = a.exceptAll(b).withColumn("change_type", F.lit("delete"))
    return ins.unionByName(dels)
