"""The three benchmark workloads.

Each one generates its inputs from the seed, runs one job call the way
``spark-submit -m flow_feature_spark.job`` does (``job.run`` with the job's
default engine, writing real output), checks that output against a reference
computed once by a second route, and knows how to replay its job plan one
layer at a time for the traced run.
"""

from __future__ import annotations

import shutil
import time
from pathlib import Path

from tracing import Cost, Tracer, exchanges_in

GAP_SECONDS = 1800.0  # the job's default --gap-seconds
# The job's default half_even rounding agrees between the fast kernel and the
# exact-SQL engine only to 1e-6 on ties (features.py); under r6 the two are
# bit-identical, so the reference check can be exact.
ROUNDING = "r6"
HOT_FACTOR = 100  # conversation 0 is 100x the median length
DELTA_FRACTION = 0.05  # share of the turns (the newest) in the delta

SIZES = {
    "full": {"n_convs": 1000, "turns_mean": 60, "probes_per_entity": 20},
    "tiny": {"n_convs": 40, "turns_mean": 8, "probes_per_entity": 3},
}


def digest(df, cols: list[str]) -> tuple[int, str]:
    """Row count and an order-independent checksum over ``cols``."""
    from pyspark.sql import functions as F

    h = F.xxhash64(*[F.col(c) for c in sorted(cols)]).cast("decimal(20,0)")
    row = df.agg(F.count(F.lit(1)), F.sum(h)).first()
    return int(row[0]), str(row[1])


def write_counted(df, path: str) -> int:
    """Write ``df`` as parquet and return its row count, in one job."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    obs = Observation()
    df.observe(obs, F.count(F.lit(1)).alias("n")).write.parquet(path)
    return int(obs.get["n"])


def dir_bytes(path: Path) -> int:
    return sum(f.stat().st_size for f in path.rglob("*") if f.is_file())


class Workload:
    """Feature extraction over the whole turn table (``--mode features``)."""

    name = "features_full"
    mode = "features"
    # The first calls in a fresh JVM keep getting faster, and use less CPU,
    # while the JIT compiles; these many untimed calls come before timing
    # starts (measured warm-up curves: README.md).
    warmup_calls = 8

    def __init__(self, spark, work: Path, seed: int, size: str):
        self.spark, self.work, self.seed = spark, work, seed
        self.size = SIZES[size]
        self.turns = str(work / "in" / "turns")
        self.job_input = self.turns  # what one call reads
        self.out = str(work / "out")
        self.columns: list[str] = []
        self.expected: tuple[int, str] | None = None
        self.input_rows = 0
        self.sizes: dict[str, int] = {}

    # -- set-up ---------------------------------------------------------
    def generate(self) -> None:
        self.sizes["conversations"] = self.size["n_convs"]
        self.sizes["turns"] = self.input_rows = write_counted(
            self.synth_turns(), self.turns
        )

    def synth_turns(self):
        from flow_feature_spark.synth import synth_transcripts

        return synth_transcripts(
            self.spark, n_convs=self.size["n_convs"],
            turns_mean=self.size["turns_mean"], hot_factor=HOT_FACTOR,
            seed=self.seed,
        )

    def argv(self, output: str) -> list[str]:
        return ["--input", self.turns, "--output", output, "--mode", self.mode,
                "--rounding", ROUNDING]

    def reference(self) -> None:
        """Run the job once through the exact-SQL engine, which the repo holds
        bit-equal to the default fast kernel, and keep its checksum."""
        from flow_feature_spark import job

        ref = str(self.work / "ref")
        if job.run(self.argv(ref) + ["--engine", "exact-sql"]) != 0:
            raise RuntimeError("reference job failed")
        df = self.spark.read.parquet(ref)
        self.columns = sorted(df.columns)
        self.expected = digest(df, self.columns)
        self.sizes["output_rows"] = self.expected[0]

    def load(self) -> None:
        """Untimed state the first call needs beyond its inputs."""

    # -- one call -------------------------------------------------------
    def before_call(self) -> None:
        """Untimed preparation of identical work for the next call."""

    def call(self) -> int:
        from flow_feature_spark import job

        return job.run(self.argv(self.out))

    def output(self):
        return self.spark.read.parquet(self.out)

    def matches(self, df) -> bool:
        return sorted(df.columns) == self.columns and (
            digest(df, self.columns) == self.expected
        )

    def check(self) -> bool:
        return self.matches(self.output())

    # -- traced layers --------------------------------------------------
    def _prefixes(self, tr: Tracer) -> tuple[dict[str, Cost], Cost, object]:
        """prepare -> sessionize prefixes over the job's input."""
        from flow_feature_spark.prepare import normalize_turns
        from flow_feature_spark.sessionize import dedup_turns

        scan = self.spark.read.parquet(self.job_input)
        m_scan = tr.materialize("prepare.scan", scan)
        norm = normalize_turns(scan)
        m_norm = tr.materialize("prepare.normalize", norm)
        dedup = dedup_turns(norm)
        m_dedup = tr.materialize("sessionize.dedup", dedup)
        layers = {
            "prepare.scan": m_scan,
            "prepare.normalize": m_norm - m_scan,
            "sessionize.dedup": m_dedup - m_norm,
        }
        return layers, m_dedup, dedup

    def _features(self, dedup):
        from flow_feature_spark.kernel import attach_feature_ts
        from flow_feature_spark.kernel_fast import sessionize_and_extract_fast

        return attach_feature_ts(
            sessionize_and_extract_fast(dedup, gap_seconds=GAP_SECONDS,
                                        rounding=ROUNDING)
        )

    def final_frame(self):
        """The job's output DataFrame, built the way the job builds it."""
        from flow_feature_spark.prepare import normalize_turns
        from flow_feature_spark.sessionize import dedup_turns

        return self._features(
            dedup_turns(normalize_turns(self.spark.read.parquet(self.turns)))
        )

    def chain(self, tr: Tracer) -> tuple[dict[str, Cost], Cost, object]:
        """Materialize every layer of the job plan; returns the self cost per
        layer, the cost of the job's final DataFrame(s) on the noop sink, and
        the DataFrame that must equal the job's output."""
        layers, m_dedup, dedup = self._prefixes(tr)
        feats = self._features(dedup)
        m_feats = tr.materialize("kernel_fast.extract", feats)
        layers["kernel_fast.extract"] = m_feats - m_dedup
        return layers, m_feats, feats

    def plan_seconds(self) -> float:
        t0 = time.perf_counter()
        exchanges_in(self.final_frame())
        return time.perf_counter() - t0


class PitAsof(Workload):
    """Point-in-time as-of join of the feature vectors onto probes."""

    name = "pit_asof"
    mode = "asof"

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        self.probes = str(self.work / "in" / "probes")

    def generate(self) -> None:
        from flow_feature_spark.synth import synth_probes

        super().generate()
        self.sizes["probes"] = self.input_rows = write_counted(
            synth_probes(
                self.spark, n_convs=self.size["n_convs"],
                probes_per_entity=self.size["probes_per_entity"],
                seed=self.seed,
            ),
            self.probes,
        )

    def argv(self, output: str) -> list[str]:
        return super().argv(output) + ["--probes", self.probes]

    def _asof(self, feats):
        from flow_feature_spark.asof import asof_join_fast

        return asof_join_fast(
            feats.drop("session_start_ts", "session_end_ts"),
            self.spark.read.parquet(self.probes), strict=True,
        )

    def final_frame(self):
        return self._asof(super().final_frame())

    def chain(self, tr: Tracer) -> tuple[dict[str, Cost], Cost, object]:
        layers, m_dedup, dedup = self._prefixes(tr)
        feats = self._features(dedup)
        m_feats = tr.materialize("kernel_fast.extract", feats)
        joined = self._asof(feats)
        m_asof = tr.materialize("asof.join", joined)
        layers["kernel_fast.extract"] = m_feats - m_dedup
        layers["asof.join"] = m_asof - m_feats
        return layers, m_asof, joined


class IncrementalDelta(Workload):
    """Incremental update of snapshot tables from a delta of recent turns."""

    name = "incremental_delta"
    mode = "incremental"
    # load() is itself a full incremental job call, over the history
    warmup_calls = 2

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        # one table partitioned into part=history and part=delta; the job
        # reads a partition directory like any parquet table (and ignores the
        # extra ``part`` column when it reads the whole table)
        self.history = f"{self.turns}/part=history"
        self.delta = self.job_input = f"{self.turns}/part=delta"
        self.pristine = self.work / "pristine"
        self.tables = self.work / "tables"

    def generate(self) -> None:
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        # The history is every turn up to a timestamp cutoff and the delta
        # every turn after it: the newest DELTA_FRACTION of the turns, which
        # belong to the most recent conversations (they start 2 h apart). A
        # cutoff by share of turns keeps the delta's size, and so the input
        # rows of a call, within a few percent across seeds. One older
        # conversation also gets late turns, the smallest mix that makes the
        # update replace existing feature rows (so a replace that keeps stale
        # rows fails the check): the hot one, the older conversation sure to
        # have feature rows before its last turns_mean turns arrive.
        turns = self.synth_turns()
        us = F.unix_micros("ts")
        cutoff = turns.select(F.percentile(us, 1 - DELTA_FRACTION)).first()[0]
        late = (F.col("conv_id") == "conv00000000") & (
            F.col("turn_idx") >= self.size["turns_mean"] * (HOT_FACTOR - 1)
        )
        part = F.when((us > cutoff) | late, "delta").otherwise("history")
        obs = Observation()
        turns.withColumn("part", part).observe(
            obs,
            F.sum((part == "history").cast("long")).alias("history"),
            F.sum((part == "delta").cast("long")).alias("delta"),
        ).write.partitionBy("part").parquet(self.turns)
        history, delta = int(obs.get["history"]), int(obs.get["delta"])
        self.sizes["conversations"] = self.size["n_convs"]
        self.sizes["turns"] = history + delta
        self.sizes["delta_turns"] = self.input_rows = delta
        self.delta_bytes = dir_bytes(Path(self.delta))
        # touched conversations: new ones, and older ones whose rows the
        # update replaces
        in_part = lambda p: F.max((F.col("part") == p).cast("int"))  # noqa: E731
        touched = (
            self.spark.read.parquet(self.turns).groupBy("conv_id")
            .agg(in_part("history").alias("old"), in_part("delta").alias("new"))
            .where("new = 1").agg(F.count(F.lit(1)), F.sum("old")).first()
        )
        self.sizes["delta_conversations"] = int(touched[0])
        self.sizes["replaced_conversations"] = int(touched[1])

    def load(self) -> None:
        """The pristine tables hold the history; every call starts from a
        copy of them. The job's own first incremental call creates them."""
        from flow_feature_spark import job

        if job.run(self._table_argv(self.pristine, self.history)) != 0:
            raise RuntimeError("initial incremental load failed")

    def _table_argv(self, tables: Path, source: str) -> list[str]:
        return [
            "--input", source, "--output", str(self.work / "unused"),
            "--mode", "incremental", "--rounding", ROUNDING,
            "--turns-table", str(tables / "turns"),
            "--features-table", str(tables / "features"),
        ]

    def reference(self) -> None:
        """A full recompute over history + delta, which the incremental update
        promises to match bit for bit."""
        from flow_feature_spark import job

        ref = str(self.work / "ref")
        rc = job.run(
            ["--input", self.turns, "--output", ref, "--mode", "features",
             "--engine", "exact-sql", "--rounding", ROUNDING]
        )
        if rc != 0:
            raise RuntimeError("reference job failed")
        df = self.spark.read.parquet(ref)
        # the feature table holds the vectors without the as-of timestamp
        self.columns = sorted(c for c in df.columns if c != "feature_ts")
        self.expected = digest(df, self.columns)
        self.sizes["output_rows"] = self.expected[0]

    def before_call(self) -> None:
        shutil.rmtree(self.tables, ignore_errors=True)
        shutil.copytree(self.pristine, self.tables)

    def call(self) -> int:
        from flow_feature_spark import job

        return job.run(self._table_argv(self.tables, self.delta))

    def output(self):
        from flow_feature_spark.io import read_snapshot

        return read_snapshot(self.spark, str(self.tables / "features"))

    def _update_frames(self, dedup):
        """history of the touched conversations -> their exact-SQL features
        -> the feature table with those conversations' rows replaced."""
        from pyspark.sql import functions as F

        from flow_feature_spark.features import session_features_exact_sql
        from flow_feature_spark.io import read_snapshot

        touched = dedup.select("conv_id").distinct()
        history = read_snapshot(self.spark, str(self.tables / "turns")).join(
            F.broadcast(touched), on="conv_id", how="left_semi"
        )
        feats = session_features_exact_sql(history, GAP_SECONDS, rounding=ROUNDING)
        current = read_snapshot(self.spark, str(self.tables / "features"))
        merged = current.join(
            feats.select("conv_id").distinct(), on="conv_id", how="left_anti"
        ).unionByName(feats.select(*current.columns))
        return history, feats, merged

    def _delta_turns(self):
        from flow_feature_spark.incremental import TURN_COLS
        from flow_feature_spark.prepare import normalize_turns
        from flow_feature_spark.sessionize import dedup_turns

        return dedup_turns(
            normalize_turns(self.spark.read.parquet(self.delta))
        ).select(*TURN_COLS)

    def final_frame(self):
        return self._update_frames(self._delta_turns())[2]

    def chain(self, tr: Tracer) -> tuple[dict[str, Cost], Cost, object]:
        from flow_feature_spark.incremental import TURN_COLS
        from flow_feature_spark.io import replace_groups_snapshot, write_snapshot

        self.before_call()
        layers, m_dedup, dedup = self._prefixes(tr)
        dedup = dedup.select(*TURN_COLS)
        with tr.span("io.snapshot_write.append") as m_append:
            appended = write_snapshot(
                dedup, str(self.tables / "turns"), job="incremental",
                operation="append",
            )
        history, feats, merged = self._update_frames(dedup)
        m_read = tr.materialize("io.snapshot_read", history)
        m_feats = tr.materialize("features.exact_sql", feats)
        m_merged = tr.materialize("incremental.update", merged)
        with tr.span("io.snapshot_write.replace") as m_replace:
            replaced = replace_groups_snapshot(
                feats, str(self.tables / "features"), ("conv_id",)
            )
        # a snapshot write runs the plan of the prefix it commits
        m_append.exchanges, m_replace.exchanges = m_dedup.exchanges, m_merged.exchanges
        write = (m_append - m_dedup) + (m_replace - m_merged)
        write.rows_out = appended["rows"] + replaced["rows"]
        layers["io.snapshot_read"] = m_read - m_dedup
        layers["features.exact_sql"] = m_feats - m_read
        layers["incremental.update"] = m_merged - m_feats
        layers["io.snapshot_write"] = write
        self.bytes_written = dir_bytes(self.tables) - dir_bytes(self.pristine)
        # the job writes the delta turns and the replaced feature table
        return layers, m_dedup + m_merged, self.output()


WORKLOADS = {w.name: w for w in (Workload, PitAsof, IncrementalDelta)}

