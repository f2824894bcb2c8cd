"""spark-submit entry point + config-driven job spec.

The reference drives runs from an INI file + CLI (run.conf via configparser,
get_flow_feature.py:83-125; argparse in flow_basic.py:140-161 — SURVEY.md §2.1
S5/S6). This is the Spark-native equivalent: one argparse surface covering
mode, paths, sessionization gap, engine choice, sink format (CSV with optional
header — the reference's S3 sink — or parquet), checkpoint/resume, and
parallelism, runnable as

    spark-submit --py-files flow_feature_spark.zip -m flow_feature_spark.job \
        --input /data/transcripts --output /out/features --mode features

or plain ``python -m flow_feature_spark.job`` for local runs.
"""

from __future__ import annotations

import argparse
import json
import sys


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="flow_feature_spark.job")
    p.add_argument("--input", required=True, help="transcript table path (parquet)")
    p.add_argument("--output", required=True, help="output path")
    p.add_argument(
        "--mode",
        choices=["features", "sessionize", "asof", "stream", "rollup",
                 "compact", "profile", "drift", "quality", "incremental",
                 "zorder", "vacuum", "resample", "scd2"],
        default="features",
        help="features: per-session 72-vectors; sessionize: turn->session map; "
        "asof: attach vectors to --probes; stream: readStream the input "
        "directory and emit 72-vectors per closed session "
        "(applyInPandasWithState; requires --checkpoint for the streaming "
        "checkpointLocation); rollup: hypertable-style day/hour/total "
        "activity rollup of the turn table; compact: rewrite --input in "
        "place into ~--target-file-mb files (small-files maintenance; "
        "--output ignored); profile: per-column ingest-QA stats of --input; "
        "drift: per-bin chi-square of --drift-value between --ref "
        "(reference slice) and --input (current slice); "
        "quality: evaluate the --expectations constraints against --input in "
        "one scan and write the report (exit 2 with --fail-on-violation if "
        "any fail); incremental: ingest --input as a turn delta into "
        "--turns-table and bring --features-table up to date, recomputing "
        "only the touched conversations (--output ignored); "
        "zorder: rewrite --input into --output clustered on the z-curve of "
        "--zorder-by and record per-file zone maps for pruned reads; "
        "vacuum: delete snap-* directories under --input (a snapshot table) "
        "that no log entry references (--output ignored); "
        "resample: dense per-conversation --bucket-seconds grid with turn "
        "counts, text-byte sums and (with --ffill-col) the forward-filled "
        "last value; "
        "scd2: compress the --scd2-attr changelog into validity intervals "
        "(type-2 dimension history)",
    )
    p.add_argument("--zorder-by", default=None,
                   help="--mode zorder: comma-separated numeric/string "
                        "columns to cluster on (zone maps recorded for the "
                        "same columns)")
    p.add_argument("--zorder-files", type=int, default=64,
                   help="--mode zorder: output file count")
    p.add_argument("--expectations",
                   help="--mode quality: JSON file with a list of constraint "
                   "specs, e.g. [{\"kind\": \"not_null\", \"col\": \"conv_id\"}]")
    p.add_argument("--fail-on-violation", action="store_true",
                   help="--mode quality: exit 2 if any constraint fails "
                   "(report is still written)")
    p.add_argument("--turns-table",
                   help="--mode incremental: snapshot table holding the "
                   "accumulated turn history (created on first run)")
    p.add_argument("--features-table",
                   help="--mode incremental: snapshot table holding the "
                   "maintained per-session feature vectors")
    p.add_argument("--feature-bucket-expr", default=None,
                   help="--mode incremental: SQL bucket expression over "
                   "conv_id, e.g. pmod(xxhash64(conv_id), 64) or a cohort "
                   "range; an update rewrites only the touched buckets. "
                   "The first run records it in the feature table's log; "
                   "later runs use the recorded one (a different one fails)")
    p.add_argument("--probes", help="probe table path (entity_id, probe_ts) for --mode asof")
    p.add_argument("--bucket-seconds", type=float, default=3600.0,
                   help="--mode resample: grid bucket width in seconds")
    p.add_argument("--ffill-col", default=None,
                   help="--mode resample: column to forward-fill onto the grid")
    p.add_argument("--scd2-attr", default="tool",
                   help="--mode scd2: attribute column whose run history to build")
    p.add_argument("--gap-seconds", type=float, default=1800.0)
    p.add_argument(
        "--engine",
        choices=["fast", "exact-sql"],
        default="fast",
        help="fast: the fused Arrow kernel, one Python call per Arrow batch "
        "(fewest shuffles); exact-sql: exact-domain pure SQL, no Python "
        "boundary (with --sessionizer bucketed it is the skew path for "
        "mega-conversations). Both give bit-identical rows at --rounding r6 "
        "and honour --reset-tool. --mode asof attaches the vectors with the "
        "JVM-only union-window join under every engine",
    )
    p.add_argument("--rounding", choices=["half_even", "r6"], default="half_even")
    p.add_argument("--sessionizer", choices=["sql", "bucketed"], default="sql",
                   help="exact-sql engine: assign sessions in-query (one "
                   "window task per conversation) or via the bucketized "
                   "two-pass pre-assignment (bit-identical ids, no per-conv "
                   "task; use for mega-conversation inputs). bucketed fails "
                   "the job, naming the conversation, when a conversation's "
                   "turn_idx buckets overlap in time; use sql for such input")
    p.add_argument(
        "--input-format", choices=["parquet", "csv", "json"], default="parquet",
        help="batch source format (csv expects a header row; csv/json string "
        "timestamps cast under the UTC session timezone; --mode stream and "
        "compact are parquet-only)",
    )
    p.add_argument("--format", choices=["parquet", "csv"], default="parquet")
    p.add_argument("--partition-by", default=None,
                   help="comma-separated output columns for hive-style "
                   "directory partitioning of the parquet sink (and the "
                   "checkpoint table); each entry is either an existing "
                   "column name or name=sql_expr to derive one (e.g. "
                   "event_date=to_date(ts)). Use a low-cardinality column "
                   "so downstream time-sliced reads prune whole partition "
                   "directories at planning time (parquet analog of an "
                   "Iceberg partition spec)")
    p.add_argument("--csv-header", action="store_true",
                   help="write a header row (reference: print_colname switch)")
    p.add_argument("--checkpoint",
                   help="checkpoint dir: batch modes commit their output "
                   "there as a snapshot table and resume from its current "
                   "snapshot when the job and flags match (--mode stream: "
                   "the streaming checkpoint)")
    p.add_argument("--snapshot", action="store_true",
                   help="commit the output as a NEW immutable snapshot of the "
                        "output table (io.write_snapshot): earlier snapshots "
                        "stay readable — time travel / rollback / expiration "
                        "via the io snapshot API; parquet sink only")
    p.add_argument("--per-source", action="store_true",
                   help="features mode: one flow per input FILE (reference "
                   "pcap mode, get_flow_feature.py:57 — emits "
                   "[source, ...features] per shard instead of per session)")
    p.add_argument("--drop-housekeeping", action="store_true",
                   help="drop short system/housekeeping turns before grouping "
                   "(reference is_handshake_packet analog; off by default like "
                   "the reference, which defines but never calls it)")
    p.add_argument("--reset-tool", default=None,
                   help="tool name that force-opens a new session (reference "
                   "flow_basic SYN start_time reset analog)")
    p.add_argument("--master", default=None)
    p.add_argument("--shuffle-partitions", type=int, default=None)
    p.add_argument("--target-file-mb", type=int, default=128,
                   help="--mode compact: target output file size")
    p.add_argument("--ref", help="--mode drift: reference table path (parquet)")
    p.add_argument("--drift-value", default="length(coalesce(text, ''))",
                   help="--mode drift: SQL expression binned on both sides")
    p.add_argument("--drift-bins", type=int, default=16)
    p.add_argument("--drift-lo", type=float, default=0.0)
    p.add_argument("--drift-hi", type=float, default=160.0)
    p.add_argument("--hll", action="store_true",
                   help="--mode profile: approx_count_distinct sketches "
                   "instead of exact COUNT(DISTINCT) — drops the Expand from "
                   "the plan; the default for 10^12-row tables "
                   "(BENCH/PROFILE_SCALE.md)")
    p.add_argument("--stream-engine", choices=["features", "counts"],
                   default="features",
                   help="stream mode: features = full 72-vector per closed "
                   "session (applyInPandasWithState; EventTimeTimeout also "
                   "flushes the trailing open session of each conv); counts "
                   "= native session_window incremental aggregates (basic "
                   "edition). NOTE counts emits only sessions CLOSED by the "
                   "final watermark — sessions containing the newest events "
                   "stay pending in the streaming state and flush when a "
                   "later run's data advances the watermark (append-mode "
                   "file-sink semantics); use features or batch --mode "
                   "sessionize when a bounded run must emit everything")
    p.add_argument("--stream-timeout", choices=["none", "event_time"],
                   default="event_time",
                   help="stream mode: open-tail flush policy (event_time = "
                   "flush when the watermark passes last-turn + gap)")
    p.add_argument("--stream-watermark", default="0 seconds",
                   help="stream mode: late-data watermark delay")
    p.add_argument("--max-files-per-trigger", type=int, default=None,
                   help="stream mode: micro-batch size in files")
    return p


def run(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    if args.mode == "drift" and not args.ref:
        raise SystemExit("--mode drift requires --ref")
    if args.mode == "quality" and not args.expectations:
        raise SystemExit("--mode quality requires --expectations")
    if args.mode == "incremental" and not (args.turns_table and args.features_table):
        raise SystemExit(
            "--mode incremental requires --turns-table and --features-table"
        )

    from flow_feature_spark.session import owned_session

    with owned_session(
        app_name=f"ffs_job_{args.mode}",
        master=args.master,
        shuffle_partitions=args.shuffle_partitions,
    ) as spark:
        return _run(args, spark)


def _run(args: argparse.Namespace, spark) -> int:
    """The work of one ``run`` on ``spark``; returns the exit code."""
    from flow_feature_spark.asof import asof_join_union_window
    from flow_feature_spark.io import resume_or_compute, snapshot_history
    from flow_feature_spark.kernel import attach_feature_ts
    from flow_feature_spark.kernel_fast import sessionize_and_extract_fast
    from flow_feature_spark.prepare import drop_housekeeping, normalize_turns
    from flow_feature_spark.sessionize import assign_sessions, dedup_turns

    if args.mode == "compact":
        from flow_feature_spark.io import compact_table

        stats = compact_table(
            spark, args.input,
            target_file_bytes=args.target_file_mb * 1024 * 1024,
        )
        print(
            f"compacted {args.input}: {stats['files_before']} -> "
            f"{stats['files_after']} files ({stats['bytes']} bytes)"
        )
        return 0

    if args.mode == "zorder":
        from flow_feature_spark.layout import zorder_table

        cols = [c.strip() for c in (args.zorder_by or "").split(",") if c.strip()]
        if not cols:
            raise SystemExit("--mode zorder requires --zorder-by col[,col...]")
        # a layout rewrite is parquet-table maintenance, like --mode compact
        df = spark.read.parquet(args.input)
        zonemap = zorder_table(df, args.output, cols, n_files=args.zorder_files)
        print(
            f"z-ordered {args.input} -> {args.output}: "
            f"{len(zonemap['files'])} files, zone maps on {cols}"
        )
        return 0

    if args.mode == "vacuum":
        from flow_feature_spark.io import vacuum_table

        out = vacuum_table(spark, args.input)
        print(
            f"vacuumed {args.input}: removed {len(out['removed'])} orphan "
            f"dir(s) {out['removed']}, {len(out['live'])} live"
        )
        return 0

    if args.mode == "stream":
        # the W7 path as an OPERABLE job (not just a tested module): bounded
        # availableNow run over whatever files exist, resumable from the
        # streaming checkpoint — rerunning picks up only new files
        if not args.checkpoint:
            raise SystemExit("--mode stream requires --checkpoint "
                             "(streaming checkpointLocation)")
        from flow_feature_spark.streaming import (
            stateful_session_features,
            stream_session_counts,
        )

        schema = spark.read.parquet(args.input).schema
        reader = spark.readStream.schema(schema)
        if args.max_files_per_trigger:
            reader = reader.option("maxFilesPerTrigger", args.max_files_per_trigger)
        stream_df = reader.parquet(args.input)
        if args.stream_engine == "counts":
            # gap + 1 µs: session_window splits at inter-event gap >= g while
            # the batch lag+cumsum sessionizer splits at gap > threshold —
            # the translation makes the two split rules identical, so the
            # stream-counts CLI agrees with --mode sessionize on boundary
            # ties (same rule as __spark_entry__.q_stream_counts)
            feats = stream_session_counts(
                stream_df,
                gap=f"{int(args.gap_seconds * 1_000_000) + 1} microseconds",
                watermark=args.stream_watermark,
            )
        else:
            feats = stateful_session_features(
                normalize_turns(stream_df),
                gap_seconds=args.gap_seconds,
                rounding=args.rounding,
                timeout=args.stream_timeout,
                watermark=args.stream_watermark,
            )
        writer = (
            feats.writeStream.outputMode("append")
            .format(args.format)
            .option("path", args.output)
            .option("checkpointLocation", args.checkpoint)
            .trigger(availableNow=True)
        )
        if args.format == "csv":
            writer = writer.option("header", str(args.csv_header).lower())
        q = writer.start()
        q.awaitTermination()
        print(f"wrote {args.output} (stream, checkpoint {args.checkpoint})")
        return 0

    # per-partition lineage metrics ride on accumulators inside the Arrow
    # kernel and land in the checkpoint's log entry (north rule: "resumable from
    # checkpoint with per-partition lineage + metrics")
    kernel_metrics = None
    if args.checkpoint and args.engine == "fast" and args.mode == "features":
        from flow_feature_spark.io import KernelMetrics

        kernel_metrics = KernelMetrics.create(spark)

    def _read_input():
        if args.input_format == "csv":
            return spark.read.option("header", True).option(
                "inferSchema", True
            ).csv(args.input)
        if args.input_format == "json":
            return spark.read.json(args.input)
        return spark.read.parquet(args.input)

    if args.mode == "incremental":
        # the S7 daily-pipeline entrypoint: delta in, touched conversations
        # recomputed over full history, feature rows group-replaced —
        # bit-identical to a full recompute (tests/test_incremental.py)
        from flow_feature_spark.incremental import (
            TURN_COLS,
            incremental_feature_update,
        )

        delta = dedup_turns(normalize_turns(_read_input())).select(*TURN_COLS)
        stats = incremental_feature_update(
            delta, args.turns_table, args.features_table,
            gap_seconds=args.gap_seconds, rounding=args.rounding,
            reset_tool=args.reset_tool,
            feature_bucket_expr=args.feature_bucket_expr,
        )
        print(
            f"incremental update: initialized={stats['initialized']} "
            f"touched_convs={stats['touched_convs']} "
            f"turns_appended={stats['turns_appended']} "
            f"feature_rows={stats['feature_rows']} "
            f"(turns snap {stats['turns_snapshot']}, "
            f"features snap {stats['features_snapshot']})"
        )
        return 0

    def compute():
        df = _read_input()
        if args.mode == "quality":
            from flow_feature_spark.quality import (
                check_expectations,
                expectations_from_specs,
            )

            with open(args.expectations) as fh:
                specs = json.load(fh)
            return check_expectations(df, expectations_from_specs(specs))
        if args.mode == "resample":
            from pyspark.sql import functions as F

            from flow_feature_spark.timeseries import resample_counts

            turns = df.withColumn(
                "ts_us", F.unix_micros(F.col("ts").cast("timestamp"))
            ).withColumn("text_bytes", F.length(F.coalesce("text", F.lit(""))))
            return resample_counts(
                turns, "conv_id", "ts_us",
                bucket_us=int(args.bucket_seconds * 1_000_000),
                sum_col="text_bytes",
                ffill_col=args.ffill_col,
                tiebreak_col="turn_idx",
            )
        if args.mode == "scd2":
            from pyspark.sql import functions as F

            from flow_feature_spark.featurestore import build_scd2

            turns = df.withColumn(
                "ts_us", F.unix_micros(F.col("ts").cast("timestamp"))
            )
            return build_scd2(
                turns, ["conv_id"], "ts_us", [args.scd2_attr],
                tiebreak_cols=["turn_idx"],
            )
        if args.mode == "rollup":
            from flow_feature_spark.rollup import time_rollup

            return time_rollup(
                df, ts_col="ts", entity_col="conv_id",
                bytes_expr="length(coalesce(text, ''))",
            )
        if args.mode == "profile":
            from flow_feature_spark.profile import profile_table

            return profile_table(df, exact_distinct=not args.hll)
        if args.mode == "drift":
            from pyspark.sql import functions as F

            from flow_feature_spark.analytics import histogram_drift

            ref = spark.read.parquet(args.ref)
            shared = [c for c in df.columns if c in set(ref.columns)]
            both = ref.select(*shared).withColumn(
                "__is_ref", F.lit(True)
            ).unionByName(df.select(*shared).withColumn("__is_ref", F.lit(False)))
            return histogram_drift(
                both, args.drift_value, "__is_ref",
                n_bins=args.drift_bins, lo=args.drift_lo, hi=args.drift_hi,
            )
        if args.per_source and args.mode == "features":
            # pcap mode: the whole FILE is one flow — key by source basename,
            # order rows by time within the file; an infinite gap never splits.
            # The turns are numbered after normalize_turns has read the text,
            # so the numbering sort carries the kernel columns, not raw rows.
            import math

            from flow_feature_spark.prepare import with_source_file

            turns = with_source_file(normalize_turns(df)).selectExpr(
                "source",
                "row_number() OVER (PARTITION BY source "
                "ORDER BY ts, conv_id, turn_idx) AS __turn",
                "ts_us", "is_fwd", "plen", "win", "flags", "ihl",
            ).selectExpr(
                "source AS conv_id", "__turn AS turn_idx",
                "ts_us", "is_fwd", "plen", "win", "flags", "ihl",
            )
            feats = sessionize_and_extract_fast(
                turns, gap_seconds=math.inf, rounding=args.rounding,
                metrics=kernel_metrics,
            )
            return attach_feature_ts(feats).withColumnRenamed("conv_id", "source")
        turns = normalize_turns(df)
        if args.drop_housekeeping:
            turns = drop_housekeeping(turns)
        if args.engine == "fast" and args.mode in ("features", "asof"):
            # the fused kernel shuffles on conv_id; shuffling the dedup there
            # too satisfies its (conv_id, turn_idx) window, and Spark drops
            # the kernel's same-key repartition: one exchange, not two
            turns = turns.repartition("conv_id")
        turns = dedup_turns(turns)
        if args.mode == "sessionize":
            return assign_sessions(
                turns, gap_seconds=args.gap_seconds, reset_tool=args.reset_tool
            ).select("conv_id", "turn_idx", "session_id", "ts")
        if args.engine == "fast":
            feats = sessionize_and_extract_fast(
                turns, gap_seconds=args.gap_seconds, rounding=args.rounding,
                metrics=kernel_metrics, reset_tool=args.reset_tool,
            )
        else:
            from flow_feature_spark.features import session_features_exact_sql

            # rounding + reset-tool thread all the way through (the SQL engine
            # emits bround for half_even; r6 stays bit-identical to the kernel)
            feats = session_features_exact_sql(
                turns, gap_seconds=args.gap_seconds,
                rounding=args.rounding, reset_tool=args.reset_tool,
                sessionizer=args.sessionizer,
            )
        feats = attach_feature_ts(feats)
        if args.mode == "asof":
            probes = spark.read.parquet(args.probes)
            payload = feats.drop("session_start_ts", "session_end_ts")
            return asof_join_union_window(payload, probes, strict=True)
        return feats

    partition_cols: tuple[str, ...] | None = None
    if args.partition_by:
        if args.format == "csv":
            raise SystemExit("--partition-by applies to the parquet sink only")
        names, derived = [], []
        for entry in args.partition_by.split(","):
            entry = entry.strip()
            if not entry:
                continue
            if "=" in entry:
                name, expr = entry.split("=", 1)
                names.append(name.strip())
                derived.append((name.strip(), expr.strip()))
            else:
                names.append(entry)
        partition_cols = tuple(names)
        if derived:
            inner_compute = compute

            def compute():  # noqa: F811 — deliberate wrap
                from pyspark.sql import functions as F

                out = inner_compute()
                for name, expr in derived:
                    out = out.withColumn(name, F.expr(expr))
                return out

    if args.checkpoint:
        # every flag but the sinks' and the deployment's participates: a
        # rerun with any other flag changed (one added later too) recomputes
        # instead of resuming a stale table
        sink_flags = ("output", "checkpoint", "master", "shuffle_partitions",
                      "format", "csv_header", "snapshot")
        fingerprint = json.dumps(
            {k: v for k, v in vars(args).items() if k not in sink_flags},
            sort_keys=True,
        )
        out, resumed = resume_or_compute(
            spark, args.checkpoint, args.mode, compute,
            input_fingerprint=fingerprint, metrics=kernel_metrics,
            partition_cols=partition_cols,
        )
        # the current log entry records the row count: no count job
        rows = snapshot_history(spark, args.checkpoint)[-1]["rows"]
        print(f"checkpoint {'resumed' if resumed else 'computed'}: {rows} rows")
    else:
        out = compute()

    if args.snapshot and args.format == "csv":
        raise SystemExit("--snapshot applies to the parquet sink only")
    if args.format == "csv":
        w = out
        if args.mode != "sessionize":
            # CSV cannot carry timestamps portably for this sink: format them
            # (reference F5, flow_basic.py:135 strftime analog)
            from pyspark.sql import functions as F

            for c, t in out.dtypes:
                if t.startswith("timestamp"):
                    w = w.withColumn(c, F.date_format(c, "yyyy-MM-dd HH:mm:ss"))
        w.write.mode("overwrite").option("header", str(args.csv_header).lower()).csv(
            args.output
        )
    elif args.snapshot:
        from flow_feature_spark.io import write_snapshot

        entry = write_snapshot(
            out, args.output, job=args.mode, partition_cols=partition_cols
        )
        print(
            f"committed snapshot {entry['snapshot_id']} of {args.output} "
            f"({entry['rows']} rows)"
        )
    else:
        w = out.write.mode("overwrite")
        if partition_cols:
            w = w.partitionBy(*partition_cols)
        w.parquet(args.output)
    print(f"wrote {args.output}")
    rc = 0
    if args.mode == "quality" and args.fail_on_violation:
        from pyspark.sql import functions as F

        failed = [r["detail"] for r in out.filter(~F.col("passed")).collect()]
        if failed:
            print(f"quality gate FAILED: {failed}", file=sys.stderr)
            rc = 2
    return rc


if __name__ == "__main__":
    raise SystemExit(run(sys.argv[1:]))
