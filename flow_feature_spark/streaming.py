"""Structured Streaming surface (SURVEY.md §2.8 — upgrade path).

The reference is strictly batch (whole-file ``rdpcap``; streaming listed as
future work in its CHANGES.md:196-198), so streaming is NOT parity scope.
This module provides the documented upgrade path the north rule anticipates:

* ``stream_session_counts`` — the reference's *basic edition* incremental
  aggregates (flow_basic.py:41-76: running count / byte sum / min / max) as a
  native Structured Streaming query: ``withWatermark`` + ``session_window``
  (gap-close semantics identical to the batch lag+cumsum sessionizer for
  in-order data), emitting one row per closed session.
* The full 72-vector needs ordered per-session turn history (per-direction
  inter-turn gaps), which is ``applyInPandasWithState`` territory: keep the
  per-(conv) running arrays in state, flush a vector when the gap closes a
  session. Sketch provided as ``FULL_VECTOR_STATEFUL_SKETCH`` for round 2+;
  the batch kernel remains the system of record.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def stream_session_counts(
    stream_df: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "2 hours",
    ts_col: str = "ts",
    conv_col: str = "conv_id",
    text_col: str = "text",
) -> DataFrame:
    """Streaming per-session incremental aggregates (basic-edition analog).

    Works on a streaming DataFrame (``spark.readStream``). Late data beyond
    the watermark is dropped; a session closes ``gap`` after its last event.

    Boundary semantics: ``session_window(ts, g)`` opens a new session at
    inter-event gap >= g, while the batch lag+cumsum sessionizer opens at
    gap > threshold — pass ``g = threshold + 1 microsecond`` for
    bit-identical session membership (job.py --mode stream and the
    stream_counts driver query both do).
    """
    return (
        stream_df.withWatermark(ts_col, watermark)
        .groupBy(
            F.col(conv_col),
            F.session_window(F.col(ts_col), gap).alias("session"),
        )
        .agg(
            F.count(F.lit(1)).alias("turn_cnt"),
            F.sum(F.length(F.coalesce(F.col(text_col), F.lit("")))).alias("byte_cnt"),
            F.min(ts_col).alias("first_ts"),
            F.max(ts_col).alias("last_ts"),
        )
        .select(
            conv_col,
            F.col("session.start").alias("session_start"),
            F.col("session.end").alias("session_end"),
            "turn_cnt",
            "byte_cnt",
            "first_ts",
            "last_ts",
        )
    )


def stateful_session_features(
    stream_turns: DataFrame,
    gap_seconds: float = 1800.0,
    rounding: str = "half_even",
    timeout: str = "none",
    watermark: str = "0 seconds",
):
    """Streaming FULL 72-vector per closed session via applyInPandasWithState.

    Input: a streaming DataFrame of normalized turns (conv_id, turn_idx,
    ts_us, is_fwd, plen, win, flags, ihl — prepare.normalize_turns works on
    streaming frames too; ``timeout="event_time"`` additionally requires the
    ``ts`` timestamp column for the watermark). Per conv, the open session's
    turns are buffered in group state; whenever the gap threshold splits the
    buffer, every CLOSED session is emitted through the same batch kernel the
    batch engine uses (kernel_fast.batch_feature_frame), so streaming and
    batch vectors are computed by literally the same code.

    The trailing open session:
    * ``timeout="event_time"`` — each update arms an EventTimeTimeout at
      (last buffered ts + gap); when the stream's watermark passes it, the
      state times out and the tail session is emitted exactly as the batch
      kernel would have. This is the production mode: state is bounded and
      every session eventually flushes.
    * ``timeout="none"`` — the tail stays in state forever (bounded-input
      demo/testing mode).

    Out of parity scope (the reference is batch-only) — this is the W7
    upgrade path made concrete; semantics pinned against the batch engine in
    tests/test_streaming.py.
    """
    import numpy as np
    import pandas as pd

    from pyspark.sql import types as T
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from flow_feature_spark.kernel_fast import batch_feature_frame
    from flow_feature_spark.schema import FEATURE_SCHEMA

    if timeout not in ("none", "event_time"):
        raise ValueError(f"timeout must be 'none' or 'event_time', got {timeout!r}")
    event_time = timeout == "event_time"
    gap_us = int(round(gap_seconds * 1_000_000))
    gap_ms = gap_us // 1000

    state_schema = T.StructType([
        T.StructField("sid", T.LongType()),
        T.StructField("ts_us", T.ArrayType(T.LongType())),
        T.StructField("turn_idx", T.ArrayType(T.IntegerType())),
        T.StructField("is_fwd", T.ArrayType(T.BooleanType())),
        T.StructField("plen", T.ArrayType(T.LongType())),
        T.StructField("win", T.ArrayType(T.LongType())),
        T.StructField("flags", T.ArrayType(T.IntegerType())),
        T.StructField("ihl", T.ArrayType(T.LongType())),
    ])
    COLS = ["ts_us", "turn_idx", "is_fwd", "plen", "win", "flags", "ihl"]

    def fn(key, pdf_iter, state: GroupState):
        conv = key[0]
        if state.exists:
            sid, *buf_cols = state.get
            buf = pd.DataFrame({c: list(v) for c, v in zip(COLS, buf_cols)})
        else:
            sid, buf = 1, pd.DataFrame(columns=COLS)

        # a timed-out invocation carries NO data — pd.concat([]) would raise
        frames = [b[COLS] for b in pdf_iter]
        batch = (
            pd.concat(frames, ignore_index=True)
            if frames
            else pd.DataFrame(columns=COLS)
        )
        allrows = (
            pd.concat([buf, batch], ignore_index=True)
            .sort_values(["ts_us", "turn_idx"], kind="mergesort")
            .reset_index(drop=True)
        )
        if not len(allrows):
            state.remove()
            return
        ts = allrows["ts_us"].to_numpy(np.int64)
        # split points where the gap exceeds the threshold
        splits = (np.flatnonzero(np.diff(ts) > gap_us) + 1).tolist()
        segments = np.split(np.arange(len(allrows)), splits)
        closed, open_seg = segments[:-1], segments[-1]
        for seg in closed:
            part = allrows.iloc[seg].assign(conv_id=conv, session_id=sid)
            sid += 1
            out = batch_feature_frame(part, rounding)
            if len(out):
                yield out
        tail = allrows.iloc[open_seg]
        # NB: a timed-out invocation's pdf_iter may yield an EMPTY frame (not
        # zero frames) — hasTimedOut alone decides; Spark never mixes new
        # data into a timeout invocation
        if state.hasTimedOut:
            # the watermark passed the tail's gap window: the open session
            # can never grow again — flush it exactly as the batch kernel
            # would and drop the state
            out = batch_feature_frame(
                tail.assign(conv_id=conv, session_id=sid), rounding
            )
            state.remove()
            if len(out):
                yield out
        else:
            state.update((
                sid,
                tail["ts_us"].astype("int64").tolist(),
                tail["turn_idx"].astype("int32").tolist(),
                tail["is_fwd"].astype(bool).tolist(),
                tail["plen"].astype("int64").tolist(),
                tail["win"].astype("int64").tolist(),
                tail["flags"].astype("int32").tolist(),
                tail["ihl"].astype("int64").tolist(),
            ))
            if event_time:
                # re-arm: flush when the watermark passes last-turn ts + gap.
                # A tail whose gap already elapsed (other convs advanced the
                # watermark past it) flushes at the next micro-batch — Spark
                # rejects timeout timestamps at or below the watermark.
                last_ms = int(tail["ts_us"].max()) // 1000
                wm = state.getCurrentWatermarkMs()
                state.setTimeoutTimestamp(max(last_ms + gap_ms + 1, wm + 1))

    src = stream_turns
    conf = GroupStateTimeout.NoTimeout
    if event_time:
        src = stream_turns.withWatermark("ts", watermark)
        conf = GroupStateTimeout.EventTimeTimeout
    return src.groupBy("conv_id").applyInPandasWithState(
        fn,
        outputStructType=FEATURE_SCHEMA,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=conf,
    )


def _nonnull_default(dt):
    """A typed NON-NULL literal for a payload field's dummy value on probe
    rows (never read): any null in a numeric struct field makes the state
    serializer widen it to float64, corrupting int64 past 2^53."""
    from pyspark.sql import types as T

    if isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType,
                       T.FloatType, T.DoubleType)) or isinstance(
                           dt, T.DecimalType):
        return F.lit(0).cast(dt)
    if isinstance(dt, (T.StringType, T.VarcharType, T.CharType)):
        return F.lit("").cast(dt)
    if isinstance(dt, T.BooleanType):
        return F.lit(False)
    if isinstance(dt, T.TimestampType):
        return F.timestamp_micros(F.lit(0))
    if isinstance(dt, T.TimestampNTZType):
        return F.timestamp_micros(F.lit(0)).cast(dt)
    if isinstance(dt, T.DateType):
        return F.to_date(F.lit("1970-01-01"))
    if isinstance(dt, T.BinaryType):
        return F.lit(b"")
    if isinstance(dt, T.ArrayType):
        return F.array().cast(dt)
    if isinstance(dt, T.StructType):
        return F.struct(
            *[_nonnull_default(fl.dataType).alias(fl.name) for fl in dt.fields]
        )
    raise TypeError(
        f"stream_asof_attach: no non-null dummy for feature value type {dt};"
        " wrap the column (e.g. cast to string) or drop it from the payload"
    )


def stream_asof_attach(
    features: DataFrame,
    probes: DataFrame,
    feature_entity: str = "conv_id",
    feature_ts: str = "feature_ts",
    probe_entity: str = "entity_id",
    probe_ts: str = "probe_ts",
    strict: bool = True,
    tolerance_seconds: float | None = None,
    watermark: str = "0 seconds",
) -> DataFrame:
    """Streaming as-of join: attach the latest non-leaking feature row to
    every probe, on two UNBOUNDED streams. Spark has no native stream-stream
    as-of join (only equi and interval joins), so this implements one with
    ``applyInPandasWithState`` — the online twin of ``asof.
    asof_join_union_window`` with the identical zero-leakage contract
    (strict: a probe at ts T sees only features with ts < T; inclusive:
    <= T; ``tolerance_seconds``: probe_ts − feature_ts must not exceed it,
    else the probe emits NULL features).

    Mechanics: both streams are tagged and unioned on the entity key, then
    grouped state per entity holds (a) the feature buffer, (b) probes not
    yet answerable. A probe at ts P is answered only once the stream's
    event-time watermark passes P — at that point no feature with ts <= P
    can still arrive (anything later would be watermark-late and dropped),
    so the answer equals the batch join's. Pending probes flush via
    EventTimeTimeout armed at the earliest pending probe ts, so a quiet
    entity still answers when OTHER entities advance the watermark.

    Bounded state (the 100-TB property): after each invocation the feature
    buffer is evicted to {the single latest feature <= watermark} ∪
    {features > watermark} — the only rows a future probe (necessarily
    > watermark) can still match — and pending probes are bounded by the
    watermark horizon. State never grows with stream length, only with
    in-flight width. Exactly one output row per probe (NULL-padded when no
    feature qualifies), same as the batch operator.

    Ties: among equal feature ts the last-arrived wins, matching the batch
    window's ``last()`` over arrival order; duplicate (entity, feature_ts)
    rows are UB in both engines. Event-time column must be a true TIMESTAMP
    (cast NTZ first). Feature VALUE fields must be non-null: a null in a
    numeric payload field would make the state serializer widen the whole
    field to float64 (silent int64 corruption past 2^53 — the reason probe
    rows carry typed non-null dummies instead of a null struct). Semantics
    pinned against asof_join_union_window in tests/test_streaming.py
    (including 2^62-magnitude payload ints) and driver query
    ``stream_asof``.
    """
    import numpy as np
    import pandas as pd

    from pyspark.sql import types as T
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from flow_feature_spark.asof import _feature_value_cols, _tol_us

    vals = _feature_value_cols(features, feature_entity, feature_ts)
    tol_us = _tol_us(tolerance_seconds)
    val_fields = [features.schema[c] for c in vals]

    # the payload rides as ONE struct column whose fields are NEVER null on
    # any row: probe rows carry typed non-null dummies (ignored by fn). A
    # null anywhere in a numeric field makes the state serializer's
    # Arrow->pandas conversion widen it to float64, which silently corrupts
    # int64 values past 2^53 (observed: ...249396 -> ...249536) and then
    # nulls on the array<long> state cast. Null-free columns arrive as
    # exact int64/float64 — verified by the large-fid parity test.
    f = features.select(
        F.col(feature_entity).alias("__ent"),
        F.col(feature_ts).cast("timestamp").alias("__ts"),
        F.unix_micros(F.col(feature_ts).cast("timestamp")).alias("__t_us"),
        F.lit(False).alias("__probe"),
        F.struct(*[F.col(c) for c in vals]).alias("__payload"),
    )
    p = probes.select(
        F.col(probe_entity).alias("__ent"),
        F.col(probe_ts).cast("timestamp").alias("__ts"),
        F.unix_micros(F.col(probe_ts).cast("timestamp")).alias("__t_us"),
        F.lit(True).alias("__probe"),
        F.struct(
            *[
                _nonnull_default(fl.dataType).alias(fl.name)
                for fl in val_fields
            ]
        ).alias("__payload"),
    )
    tagged = f.unionByName(p).withWatermark("__ts", watermark)

    state_schema = T.StructType(
        [T.StructField("fts", T.ArrayType(T.LongType()))]
        + [
            T.StructField(f"v{j}", T.ArrayType(fl.dataType))
            for j, fl in enumerate(val_fields)
        ]
        + [T.StructField("pend", T.ArrayType(T.LongType()))]
    )
    out_schema = T.StructType(
        [
            T.StructField(probe_entity, probes.schema[probe_entity].dataType),
            T.StructField(probe_ts, T.TimestampType()),
        ]
        + [T.StructField(fl.name, fl.dataType) for fl in val_fields]
    )
    side = "left" if strict else "right"
    nvals = len(vals)

    def fn(key, pdf_iter, state: GroupState):
        ent = key[0]
        if state.exists:
            st = state.get
            fts = list(st[0])
            fvals = [list(v) for v in st[1 : 1 + nvals]]
            pend = list(st[-1])
        else:
            fts, fvals, pend = [], [[] for _ in range(nvals)], []
        for pdf in pdf_iter:
            if not len(pdf):
                continue
            isp = pdf["__probe"].to_numpy(bool)
            fp, pp = pdf[~isp], pdf[isp]
            fts.extend(int(t) for t in fp["__t_us"])
            for d in fp["__payload"]:
                # struct cell -> per-field dict (or Row-like); object dtype,
                # so int64 values survive exactly
                for j, c in enumerate(vals):
                    fvals[j].append(d[c])
            pend.extend(int(t) for t in pp["__t_us"])
        # stable sort on ts keeps arrival order among equal-ts features, so
        # searchsorted('left')-1 lands on the LAST-arrived tie — the batch
        # window's last() pick
        ts_arr = np.asarray(fts, dtype=np.int64)
        order = np.argsort(ts_arr, kind="stable")
        ts_arr = ts_arr[order]
        fvals = [[v[i] for i in order] for v in fvals]
        wm_ms = state.getCurrentWatermarkMs()
        wm_us = wm_ms * 1000
        ready = sorted(t for t in pend if t <= wm_us)
        pend = [t for t in pend if t > wm_us]
        if ready:
            rp = np.asarray(ready, dtype=np.int64)
            idx = np.searchsorted(ts_arr, rp, side=side) - 1
            ok = idx >= 0
            if tol_us is not None and len(ts_arr):
                ok &= np.where(ok, rp - ts_arr[np.maximum(idx, 0)], 0) <= tol_us
            cols: dict = {
                probe_entity: [ent] * len(ready),
                probe_ts: pd.to_datetime(rp, unit="us"),
            }
            for j, c in enumerate(vals):
                # dtype=object: pandas would infer float64 for an int list
                # containing None, rounding int64 payloads past 2^53
                cols[c] = pd.Series(
                    [
                        fvals[j][i] if good else None
                        for i, good in zip(idx.tolist(), ok.tolist())
                    ],
                    dtype=object,
                )
            yield pd.DataFrame(cols)
        # evict features a future probe (> watermark) can never match:
        # everything older than the latest feature <= watermark
        cut = np.searchsorted(ts_arr, wm_us, side="right")
        keep_from = max(0, int(cut) - 1)
        fts = ts_arr[keep_from:].tolist()
        fvals = [v[keep_from:] for v in fvals]
        if not fts and not pend:
            state.remove()
            return
        state.update((fts, *fvals, pend))
        if pend:
            # flush when the watermark passes the earliest pending probe;
            # Spark rejects timeouts at or below the current watermark
            state.setTimeoutTimestamp(max(min(pend) // 1000, wm_ms + 1))

    return tagged.groupBy("__ent").applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


def stream_dedup_turns(
    stream_df: DataFrame,
    watermark: str = "2 hours",
    ts_col: str = "ts",
    key_cols: tuple[str, ...] = ("conv_id", "turn_idx"),
) -> DataFrame:
    """Streaming replay collapse (W5's dedup at ingest time): exactly one row
    per key survives, with state bounded by the watermark —
    ``dropDuplicatesWithinWatermark`` evicts a key's dedup state once the
    watermark passes its event time, so an unbounded stream does not
    accumulate unbounded key state (the property plain dropDuplicates lacks
    on streams). Replays arriving inside the watermark window collapse;
    replays older than the watermark were already late-dropped upstream.
    """
    return stream_df.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        list(key_cols)
    )


def snapshot_append_sink(table_path: str, job: str = "stream"):
    """foreachBatch sink committing each micro-batch as a fast-append
    snapshot EXACTLY-ONCE. Structured Streaming's foreachBatch is
    at-least-once: after a crash between the snapshot commit and the
    checkpoint advance, the SAME batch_id replays — the sink records
    ``stream_batch_id`` in the snapshot log and skips any (job, batch_id)
    it has already committed (the Delta ``txnAppId``/``txnVersion``
    idempotent-writer pattern). The log read+append runs on the driver
    inside the micro-batch, serialized by the streaming engine, so the
    check-then-commit pair is race-free within a query."""
    from flow_feature_spark.io import _read_log, _write_snapshot

    def sink(bdf: DataFrame, batch_id: int) -> None:
        spark = bdf.sparkSession
        log = _read_log(spark, table_path)
        if any(
            e.get("stream_batch_id") == batch_id and e.get("job") == job
            for e in log
        ):
            return  # replayed batch: already durable, skip (exactly-once)
        _write_snapshot(
            bdf,
            table_path,
            log,
            job=job,
            operation="append",
            extra_entry={"stream_batch_id": batch_id},
        )

    return sink


def stream_append_snapshot(
    stream_df: DataFrame,
    table_path: str,
    checkpoint: str,
    job: str = "stream",
):
    """Run a bounded (availableNow) ingestion of ``stream_df`` into the
    snapshot table and block until drained: streaming source -> exactly-once
    fast-append commits, resumable from ``checkpoint`` — rerunning after a
    kill picks up only unprocessed batches and replayed ones are skipped by
    the sink's batch-id ledger. The streaming face of S4's resumability
    promise, landing in the same table time travel / changelog / incremental
    maintenance already read."""
    q = (
        stream_df.writeStream.foreachBatch(snapshot_append_sink(table_path, job))
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


def stream_decayed_counts(
    stream_events: DataFrame,
    entity_col: str = "user_id",
    ts_col: str = "ts",
    bucket_us: int = 21_600_000_000,
    lookback: int = 20,
    watermark: str = "0 seconds",
    expire_after_silent_buckets: int | None = None,
):
    """Streaming half-life decayed counts — the online twin of
    ``timeseries.decayed_counts`` (W20), emitting the SAME dense grid rows
    (entity, bucket_idx, bucket_start_us, n_events, decayed_num, decayed)
    incrementally as the watermark completes buckets.

    Per entity the state is O(lookback + in-flight buckets): a ring of the
    last ``lookback+1`` completed bucket counts (all the decay formula ever
    needs) plus a pending histogram of buckets the watermark has not passed
    yet — NEVER the events themselves. A bucket is final once
    ``(b+1)*bucket_us <= watermark`` (nothing earlier can still arrive), at
    which point it is folded into the ring and emitted with the exact
    integer numerator ``sum_j c_{b-j} * 2^(lookback-j)`` — bit-identical to
    the batch operator, which is how the driver grades it (query
    ``stream_decayed`` shares the batch oracle). Gap buckets emit with
    count 0, exactly like the batch grid; the grid starts at the entity's
    first event bucket (safe: emission starts only below the watermark, so
    no earlier event can appear later) and ends at its last event bucket.

    Tail flush: each update arms an EventTimeTimeout for when the watermark
    passes the last pending bucket's end; the timed-out invocation drains
    the remaining buckets.

    State retention: after a drain the state shrinks to (last_done, ring) —
    a few hundred bytes per entity. By DEFAULT it is retained for the
    stream's lifetime, because exact batch-grid parity requires remembering
    ``last_done`` across arbitrarily long silences (the zero-count gap rows
    up to the next event are emitted lazily when it arrives — drop the
    state and those grid rows are lost, which a chunked-replay bench
    caught). ``expire_after_silent_buckets=N`` (N >= lookback) opts into
    bounded total state: entities silent for N+1 buckets are dropped; their
    decayed VALUES stay exact on return (the ring is provably zeros past
    lookback silence) but the grid RESTARTS at the next event's bucket —
    per-segment grids instead of one spanning grid.

    Reference basis: the online sibling of the same aggregates the reference
    computes batch-only (flow_basic.py:41-76 incremental counters); not in
    the reference's scope (it has no streaming runtime).
    """
    import pandas as pd

    from pyspark.sql import functions as F
    from pyspark.sql import types as T
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    if not 0 < lookback <= 61:
        raise ValueError("lookback must be in 1..61")
    if (expire_after_silent_buckets is not None
            and expire_after_silent_buckets < lookback):
        raise ValueError("expire_after_silent_buckets must be >= lookback "
                         "(earlier expiry would change decayed values)")
    K = lookback
    expire = expire_after_silent_buckets
    den = float(1 << K)
    NONE = -(1 << 62)  # sentinel: no bucket emitted yet (state must be non-null)

    ent_type = stream_events.schema[entity_col].dataType
    out_schema = T.StructType([
        T.StructField(entity_col, ent_type),
        T.StructField("bucket_idx", T.LongType()),
        T.StructField("bucket_start_us", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("decayed_num", T.LongType()),
        T.StructField("decayed", T.DoubleType()),
    ])
    state_schema = T.StructType([
        T.StructField("last_done", T.LongType()),
        T.StructField("ring", T.ArrayType(T.LongType())),
        T.StructField("pend_b", T.ArrayType(T.LongType())),
        T.StructField("pend_c", T.ArrayType(T.LongType())),
    ])

    def fn(key, pdf_iter, state: GroupState):
        entity = key[0]
        if state.exists:
            last_done, ring, pend_b, pend_c = state.get
            ring = list(ring)
            pending = dict(zip(pend_b, pend_c))
        else:
            last_done, ring, pending = NONE, [0] * (K + 1), {}

        for pdf in pdf_iter:
            if not len(pdf):
                continue
            bks = (pdf["ts_us"].astype("int64") // bucket_us)
            for b, c in bks.value_counts().items():
                pending[int(b)] = pending.get(int(b), 0) + int(c)

        wm_us = state.getCurrentWatermarkMs() * 1000
        max_seen = max(pending) if pending else last_done
        # bucket b is final iff its end <= watermark; grid never extends past
        # the entity's last event bucket
        emit_hi = min(wm_us // bucket_us - 1, max_seen)
        start = last_done + 1 if last_done != NONE else (
            min(pending) if pending else None
        )

        rows = []
        if start is not None and max_seen != NONE:
            b = start
            while b <= emit_hi:
                c = pending.pop(b, 0)
                ring.pop(0)
                ring.append(int(c))
                num = sum(ring[i] << i for i in range(K + 1))
                rows.append((entity, b, b * bucket_us, int(c), num, num / den))
                last_done = b
                b += 1
        if rows:
            yield pd.DataFrame(rows, columns=[
                entity_col, "bucket_idx", "bucket_start_us",
                "n_events", "decayed_num", "decayed",
            ])

        # State lifecycle: the ring must SURVIVE a full drain — it is the
        # decay history a later event continues from — and last_done must
        # survive ANY silence when exact grid parity is wanted (gap rows up
        # to the next event are emitted lazily from last_done+1).
        arm_b = None
        if pending:
            # flush when the watermark passes the last pending bucket's end
            arm_b = max(pending)
        elif last_done == NONE:
            state.remove()
            return
        elif expire is not None:
            expire_b = last_done + expire + 1
            if wm_us // bucket_us - 1 >= expire_b:
                state.remove()
                return
            arm_b = expire_b
        state.update((
            int(last_done),
            [int(x) for x in ring],
            [int(b) for b in sorted(pending)],
            [int(pending[b]) for b in sorted(pending)],
        ))
        if arm_b is not None:
            need_ms = ((arm_b + 1) * bucket_us) // 1000
            state.setTimeoutTimestamp(
                max(need_ms + 1, state.getCurrentWatermarkMs() + 1)
            )

    src = stream_events.select(
        F.col(entity_col),
        F.col(ts_col).cast("timestamp").alias("ts"),
        F.unix_micros(F.col(ts_col).cast("timestamp")).alias("ts_us"),
    ).withWatermark("ts", watermark)
    return src.groupBy(entity_col).applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )
