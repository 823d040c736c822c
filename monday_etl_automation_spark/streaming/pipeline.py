"""Structured Streaming surface (SURVEY.md §2.10).

The reference is an at-least-once webhook processor with no windowing;
the engine exposes the full Structured Streaming shape over the
``events`` table: watermarked tumbling/sliding/session windows,
duplicate-event suppression (``dropDuplicatesWithinWatermark`` — the
webhook-retry path), and a ``foreachBatch`` MERGE-style upsert (the
S12 status-mutation path, Leyton_depot.py:594-613).

Batch/stream parity: every streaming aggregation here is a function of
an events frame with batch semantics, so a full replay with
``availableNow`` must reproduce the batch answer — that property is
what the driver's DuckDB oracle checks (``plans/windows_ops.py``).

Every query here starts through ``_available_now``: one availableNow
trigger at the replay width, into a memory sink or a ``foreachBatch``
sink's ``process_batch``, with the checkpoint deleted once drained.

Scale notes: state stores are keyed by (window, event_type) /
(user_id, session) — bounded by watermark eviction; a real deployment
sets ``spark.sql.streaming.stateStore.providerClass`` to RocksDB for
100 TB replays. The parquet source here stands in for Kafka: the plan
is identical from the first transformation on.
"""

from __future__ import annotations

import glob
import os
import shutil
import tempfile
import threading
import uuid
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from monday_etl_automation_spark.sources.tables import (
    load_table,
    normalize_ts,
    owned_tempdir,
    parquet_schema,
    snapshot_key,
    snapshot_memo,
)

# Stateful streaming stages instantiate ONE state store per shuffle
# partition, and every micro-batch commits a delta file (+CRC) per
# store to the checkpoint dir — at replay scale the commit I/O, not
# the data, dominates (measured at sf0.1: 32 partitions ≈ 2x the wall
# time of 8 on every replay; 8 -> 4 bought a further ~0.5s on the
# tumbling replay and ~0.25s on sliding, flat elsewhere — r9). Replays
# therefore pin a smaller shuffle width; a real deployment sizes this
# to state volume / key count (state stores are the unit of both
# parallelism and recovery), and a restarted query keeps the width its
# checkpoint recorded.
_REPLAY_SHUFFLE_PARTITIONS = 4


_REPLAY_GUARD = threading.Lock()


@contextmanager
def _replay_partitions(spark: SparkSession):
    """Scoped spark.sql.shuffle.partitions override for a replay,
    REENTRANT across threads: dead_letter_counts runs two replays
    concurrently, and a naive save/set/restore pair interleaves as
    T1:save(N),set(8) -> T2:save(8) -> T1:restore(N) -> T2:restore(8),
    leaking width 8 into the session for its remaining lifetime. A
    per-session depth counter makes only the OUTERMOST holder save and
    restore; inner holders are no-ops. A batch planned after another
    thread's restore just runs at the session width — a wall-time
    wobble, never a correctness issue (partition count does not change
    any aggregation result)."""
    key = "spark.sql.shuffle.partitions"
    with _REPLAY_GUARD:
        depth = getattr(spark, "_mea_replay_depth", 0)
        if depth == 0:
            spark._mea_replay_saved = spark.conf.get(key)  # noqa: SLF001
            spark.conf.set(key, str(_REPLAY_SHUFFLE_PARTITIONS))
        spark._mea_replay_depth = depth + 1  # noqa: SLF001
    try:
        yield
    finally:
        with _REPLAY_GUARD:
            spark._mea_replay_depth -= 1  # noqa: SLF001
            if spark._mea_replay_depth == 0:
                spark.conf.set(key, spark._mea_replay_saved)  # noqa: SLF001


def _available_now(df: DataFrame, *, mode: str | None = None, foreach=None) -> DataFrame | None:
    """THE launch path for every streaming query in the engine: drain
    ``df`` with one availableNow trigger at the replay width
    (`_replay_partitions`), then delete the query's checkpoint — a
    replay is never restarted, and an orphan checkpoint per run would
    grow without bound in a long session.

    ``foreach``: a foreachBatch function (the sinks' ``process_batch``);
    returns None. Otherwise the query writes a uniquely-named memory
    sink in output ``mode`` and its rows are returned as a frame; the
    sink's temp view is dropped, so the frame's lifetime bounds the
    rows' (the session catalog would keep them for the session)."""
    spark = df.sparkSession
    writer = df.writeStream
    if foreach is None:
        sink = f"stream_{uuid.uuid4().hex[:8]}"
        writer = writer.format("memory").queryName(sink).outputMode(mode)
    else:
        writer = writer.foreachBatch(foreach)
    ckpt = tempfile.mkdtemp(prefix="ckpt_")
    try:
        with _replay_partitions(spark):
            q = writer.option("checkpointLocation", ckpt).trigger(availableNow=True).start()
            q.awaitTermination()
        return None if foreach is not None else spark.table(sink)
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)
        if foreach is None:
            spark.catalog.dropTempView(sink)


def _drain_in_splits(df: DataFrame, n_splits: int, foreach) -> None:
    """Stream a batch frame through ``foreach`` as ``n_splits`` real
    micro-batches: write it as ``n_splits`` parquet files, read them
    back with maxFilesPerTrigger=1 (a single-file availableNow source
    collapses to one batch and never exercises cross-batch state), and
    delete the split copy once drained."""
    src = tempfile.mkdtemp(prefix="split_src_")
    try:
        df.repartition(n_splits).write.mode("overwrite").parquet(src)
        stream = (
            df.sparkSession.readStream.schema(df.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )
        _available_now(stream, foreach=foreach)
    finally:
        shutil.rmtree(src, ignore_errors=True)


def event_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """readStream over the events parquet (stand-in for a Kafka topic).

    The stream's read schema is the file's *actual* physical schema
    (`parquet_schema`: memoized on the file's footer, so an in-place
    rewrite under a new encoding is re-inferred, never served stale),
    and ``ts`` is normalized by the same `normalize_ts` the batch
    loader uses. Forcing an encoding here is how round 5 silently
    compressed every timestamp 1000× when the driver re-wrote the file;
    deriving it keeps batch and stream byte-identical under any drift.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    raw = (
        spark.readStream.schema(parquet_schema(spark, os.path.join(sf_dir, "events.parquet")))
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    return normalize_ts(raw)


def tumbling_counts(events: DataFrame, watermark: str = "1 day") -> DataFrame:
    """Watermarked 1-hour tumbling counts per event_type.

    The batch answer is TUMBLING_ORACLE (plans/windows_ops.py); DECIMAL
    sums for engine-exact totals.
    """
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            # exact decimal accumulation, driver-safe DOUBLE output
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("sum_value"),
        )
        .select(
            # NTZ output (UTC session => same wall time) matches the
            # oracle's naive timestamps at the arrow level too
            F.col("w.start").cast("timestamp_ntz").alias("window_start"),
            F.col("w.end").cast("timestamp_ntz").alias("window_end"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


# Watermark delay of the sliding, session and interval-join replays.
_WATERMARK = "100 days"


def sliding_stats(events: DataFrame) -> DataFrame:
    """Watermarked 1-hour/30-minute sliding stats per event_type (on a
    batch frame withWatermark is a no-op)."""
    return (
        events.withWatermark("ts", _WATERMARK)
        .groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.max(F.col("value").cast("decimal(18,6)")).cast("double").alias("max_value"),
        )
        .select(
            F.col("w.start").cast("timestamp_ntz").alias("window_start"),
            "event_type",
            "n_events",
            "max_value",
        )
    )


def session_stats(events: DataFrame) -> DataFrame:
    """Watermarked 5-minute-gap session windows per user — the
    merge-on-gap stateful aggregation, shared by batch and streaming."""
    return (
        events.withWatermark("ts", _WATERMARK)
        .groupBy(F.session_window("ts", "5 minutes").alias("w"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("sum_value"),
        )
        .select(
            F.col("w.start").cast("timestamp_ntz").alias("session_start"),
            F.col("w.end").cast("timestamp_ntz").alias("session_end"),
            "user_id",
            "n_events",
            "sum_value",
        )
    )


def stream_stream_interval_join(
    left: DataFrame, right: DataFrame, window_seconds: int = 600
) -> DataFrame:
    """Stream-stream inner interval join: for each left event, the
    right events of the same user with ``r.ts`` in
    ``[l.ts - window_seconds, l.ts)`` — the streaming twin of
    ``operators.joins.bucketed_range_join`` (identical predicate, so a
    full availableNow replay must reproduce the batch answer —
    asserted in tests/test_streaming.py).

    Scale posture: both sides are watermarked, so the join's state
    store retains only rows inside watermark + interval — bounded
    eviction, the Structured Streaming equivalent of the batch
    operator's 2-bucket candidate pruning.
    """
    l = left.select(
        F.col("event_id").alias("l_event_id"),
        F.col("user_id").alias("l_user_id"),
        F.col("ts").alias("l_ts"),
    ).withWatermark("l_ts", _WATERMARK)
    r = right.select(
        F.col("event_id").alias("r_event_id"),
        F.col("user_id").alias("r_user_id"),
        F.col("ts").alias("r_ts"),
        F.col("event_type").alias("r_event_type"),
    ).withWatermark("r_ts", _WATERMARK)
    return l.join(
        r,
        F.expr(
            f"l_user_id = r_user_id"
            f" AND r_ts >= l_ts - INTERVAL {window_seconds} SECOND"
            f" AND r_ts < l_ts"
        ),
        "inner",
    )


def run_interval_join_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """availableNow replay of the stream-stream interval join (append
    mode — inner interval joins emit rows as watermarks close)."""
    joined = stream_stream_interval_join(event_stream(spark, sf_dir), event_stream(spark, sf_dir))
    return _available_now(joined, mode="append")


def run_error_context_replay(
    spark: SparkSession, sf_dir: str, window_seconds: int = 600
) -> DataFrame:
    """availableNow replay of the stream-stream interval join with the
    LEFT side filtered to error events, aggregated to per-error prior
    counts — the exact streaming twin of
    plans/advanced_joins.range_error_context (identical predicate;
    inner join semantics, so only errors with >= 1 prior event emit a
    row — the oracle is the batch range section WHERE n_prior > 0).
    Round 15: this puts the stream-stream interval join under the
    driver hash (it was pytest-only), union-tagged into
    temporal_joins."""
    left = event_stream(spark, sf_dir).where(F.col("event_type") == "error")
    joined = stream_stream_interval_join(left, event_stream(spark, sf_dir), window_seconds)
    return (
        _available_now(joined, mode="append")
        .groupBy(
            F.col("l_event_id").alias("event_id"),
            F.col("l_user_id").alias("user_id"),
            F.col("l_ts").alias("ts"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_prior"),
            F.sum(F.when(F.col("r_event_type") == "error", 1).otherwise(0))
            .cast("bigint")
            .alias("n_prior_errors"),
        )
    )


def dedup_events(events: DataFrame) -> DataFrame:
    """Webhook-retry suppression: drop duplicate event_ids while their
    1-hour watermark window is open (at-least-once -> effectively-once)."""
    return events.withWatermark("ts", "1 hour").dropDuplicatesWithinWatermark(["event_id"])


def run_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full availableNow replay of the tumbling aggregation; returns
    the final (batch-equal) result (complete mode: the final table IS
    the batch answer)."""
    return _available_now(tumbling_counts(event_stream(spark, sf_dir)), mode="complete")


def run_sliding_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _available_now(sliding_stats(event_stream(spark, sf_dir)), mode="complete")


def run_session_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _available_now(session_stats(event_stream(spark, sf_dir)), mode="complete")


def stateful_user_totals_stream(events: DataFrame) -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState``: running
    per-user totals maintained in explicit group state (the shape for
    operators watermark windows can't express — per-key accumulators,
    custom eviction, decode state machines).

    Numeric policy: the state holds (n_events, sum of
    floor(value * 1e6) as int64) — integer accumulation is
    order-insensitive and engine-exact, so the batch SQL twin matches
    bit-for-bit (float sums would drift with pandas' reduction order).

    Emits the updated totals for every group touched by a micro-batch;
    totals are monotone in n_events, so the final answer of a replay
    is the max-n_events row per user.
    """
    import pandas as pd  # noqa: PLC0415 (executor-side import parity)
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key: tuple, pdfs, state: GroupState):
        # the SAME checked accumulator as the batch UDAF twin
        # (functions/grouped.py) — identical null semantics (SQL sum
        # skips NULLs, count keeps all rows; un-dropped NaN would
        # silently floor to INT64_MIN) and identical loud overflow
        # guard, so stream and batch can never drift apart.
        # functions.numeric is pyspark-free, so this executor-side
        # import is safe (functions.grouped is not: its pandas_udf
        # decorator needs an active session at import time)
        from monday_etl_automation_spark.functions.numeric import (  # noqa: PLC0415
            checked_micros_sum,
        )

        n, s = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            n += len(pdf)
            s += checked_micros_sum(pdf["value"].dropna().to_numpy(dtype="float64"))
        state.update((n, s))
        yield pd.DataFrame({"user_id": [key[0]], "n_events": [n], "sum_micros": [s]})

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType="user_id BIGINT, n_events BIGINT, sum_micros BIGINT",
        stateStructType="n BIGINT, s BIGINT",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def _reduce_updates_to_final(updates: DataFrame, keys: list[str]) -> DataFrame:
    """Reduce an update-mode replay's emission log to the final state:
    counts are monotone per key, so the final row is the max-n_events
    one (max-of-struct: partial-aggregates map-side, no sort)."""
    value_cols = [c for c in updates.columns if c not in keys]
    return (
        updates.groupBy(*keys)
        .agg(F.max(F.struct(*value_cols)).alias("_top"))
        .select(*keys, *[F.col(f"_top.{c}").alias(c) for c in value_cols])
    )


def run_stateful_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """availableNow replay of the stateful operator; reduce the update
    stream to the final (= max n_events) row per user.

    The reduced totals persist per (session, events snapshot) like
    every other derived artifact (sources/tables.py) — the deployment
    posture is a continuously-running stateful query whose state
    ALREADY reflects the stream; a batch consumer reads current state,
    it does not re-replay history per query."""

    def replay() -> DataFrame:
        updates = _available_now(
            stateful_user_totals_stream(event_stream(spark, sf_dir)), mode="update"
        )
        # materialize the per-user totals (tiny: |users| rows) so the
        # cached artifact survives later memory-sink churn and joins
        # against it never re-read the sink table
        return _reduce_updates_to_final(updates, ["user_id"]).localCheckpoint(eager=True)

    return snapshot_memo(spark, "stateful_totals", snapshot_key(sf_dir, "events"), replay)


def sessionize_with_timers(events: DataFrame, gap_seconds: int = 300) -> DataFrame:
    """Custom sessionization via applyInPandasWithState +
    EventTimeTimeout — the explicit-timer pattern the built-in
    ``session_window`` hides: per-user open-session state, a timer at
    (last event + gap), and session emission when the WATERMARK passes
    the timer (state eviction on event time, not on data arrival).

    Semantics: a session closes when no event lands within
    ``gap_seconds``; closed sessions are emitted with their span and
    aggregates, exactly like the built-in — parity with
    ``session_stats`` on closed sessions is asserted in
    tests/test_streaming.py. Sessions still open at end-of-stream are
    never closed by a timer (the watermark stops at max(ts) - delay),
    which is correct streaming semantics: the comparison restricts to
    sessions the watermark provably closed.

    Scale: state is one (start, last, n, sum) struct per user with an
    armed timer — eviction is O(1) per close; the state store never
    accumulates finished sessions. This is the custom-operator shape
    for decode state machines, funnels, and timeout-driven feature
    windows that session_window's merge-on-gap cannot express.
    """
    import pandas as pd  # noqa: PLC0415
    from pyspark.sql.streaming.state import (  # noqa: PLC0415
        GroupState,
        GroupStateTimeout,
    )

    gap_us = gap_seconds * 1_000_000

    def update(key: tuple, pdfs, state: GroupState):
        from monday_etl_automation_spark.functions.numeric import (  # noqa: PLC0415
            checked_micros_sum,
        )

        out = []
        if state.hasTimedOut:
            # watermark passed (last_event + gap): close and evict
            start_us, last_us, n, s = state.get
            out.append((key[0], start_us, last_us, n, s))
            state.remove()
        else:
            rows = pd.concat(list(pdfs)) if pdfs else pd.DataFrame()
            if len(rows):
                rows = rows.sort_values("ts")
                ts_us = (rows["ts"].astype("int64") // 1000).to_numpy()
                vals = rows["value"].to_numpy(dtype="float64")
                # split the batch into sessions at > gap silences; a
                # batch can hold MANY sessions (time-sliced replays)
                breaks = [0]
                for i in range(1, len(ts_us)):
                    if ts_us[i] - ts_us[i - 1] > gap_us:
                        breaks.append(i)
                breaks.append(len(ts_us))
                segs = []  # (start, last, n, sum_micros)
                import numpy as np  # noqa: PLC0415

                for a, b in zip(breaks[:-1], breaks[1:]):
                    seg_vals = vals[a:b]
                    segs.append(
                        (
                            int(ts_us[a]),
                            int(ts_us[b - 1]),
                            b - a,
                            checked_micros_sum(seg_vals[~np.isnan(seg_vals)]),
                        )
                    )
                if state.exists:
                    start_us, last_us, n, s = state.get
                    if segs[0][0] - last_us <= gap_us:
                        # first segment continues the open session
                        f = segs[0]
                        segs[0] = (
                            min(start_us, f[0]),
                            max(last_us, f[1]),
                            n + f[2],
                            s + f[3],
                        )
                    else:
                        # the open session's gap elapsed inside the
                        # batch window — close it now (the timer would
                        # have fired anyway once the watermark passed)
                        out.append((key[0], start_us, last_us, n, s))
                # every segment followed by a gap is closed; the final
                # one stays open with a timer at (last + gap) — unless
                # the watermark already passed that point (late/stale
                # data), in which case it is closed on the spot (a
                # timer may never be armed behind the watermark)
                for seg in segs[:-1]:
                    out.append((key[0], *seg))
                timeout_ms = (segs[-1][1] + gap_us) // 1000
                if timeout_ms <= state.getCurrentWatermarkMs():
                    out.append((key[0], *segs[-1]))
                    state.remove()
                else:
                    state.update(segs[-1])
                    state.setTimeoutTimestamp(timeout_ms)
        columns = ["user_id", "start_us", "last_us", "n_events", "sum_micros"]
        yield pd.DataFrame(out, columns=columns)

    return (
        events.withWatermark("ts", "0 seconds")
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType=(
                "user_id BIGINT, start_us BIGINT, last_us BIGINT,"
                " n_events BIGINT, sum_micros BIGINT"
            ),
            stateStructType="start_us BIGINT, last_us BIGINT, n BIGINT, s BIGINT",
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def _timer_replay_source(
    spark: SparkSession, sf_dir: str, ev: DataFrame, variant: tuple
) -> str:
    """Prepare (once per session + events snapshot + (n_splits,
    users_mod) variant) the time-ordered file source the timer replay
    streams from.

    Contiguous time slices written SEQUENTIALLY: the parquet file
    stream source orders files by modification time, and a parallel
    repartitionByRange write finishes its part files in arbitrary
    order — the replay must control mtime order explicitly or the
    "later" file can land first and stall the watermark. Slices come
    from the range-partitioned global index (no single-task global-sort
    window — the repo-wide rule holds in harness code too); ties on
    ts are broken by event_id so the order is total.

    The prepared directory is a snapshot-derived BUILD artifact (the
    ordered-source stand-in a Kafka topic would be in production), so
    it is cached per (session, snapshot) like every other derived
    artifact; the sliced frame is localCheckpointed so the 8 slice
    writes filter materialized rows instead of re-running the window
    8 times (r15: the uncached prep dominated the replay ~5:1)."""
    import time as _time  # noqa: PLC0415

    from monday_etl_automation_spark.operators.indexing import with_global_index  # noqa: PLC0415

    n_splits = variant[0]

    def build() -> str:
        src = owned_tempdir("timer_src_")
        idxed = with_global_index(ev, ["ts", "event_id"], name="_rn")
        total = ev.count()
        sliced = (
            idxed.withColumn(
                "_slice",
                (F.floor((F.col("_rn") - 1) * n_splits / F.lit(total)) + 1).cast("int"),
            )
            .drop("_rn")
            .localCheckpoint(eager=True)
        )
        for i in range(1, n_splits + 1):
            (
                sliced.where(F.col("_slice") == i)
                .drop("_slice")
                .coalesce(1)
                .write.mode("append")
                .parquet(src)
            )
            _time.sleep(0.05)  # distinct mtimes at ms resolution
        return src

    key = (snapshot_key(sf_dir, "events"), variant)
    return snapshot_memo(spark, "timer_replay_src", key, build)


def run_timer_sessions_replay(
    spark: SparkSession,
    sf_dir: str,
    gap_seconds: int = 300,
    n_splits: int = 8,
    users_mod: int | None = None,
) -> DataFrame:
    """Replay events through the timer sessionizer in ``n_splits``
    TIME-ORDERED micro-batches (range-repartitioned by ts, one file
    per trigger) so the watermark advances between batches and fires
    the timers — a single availableNow batch would never time out.

    ``users_mod``: restrict to ``user_id % users_mod == 0`` — the
    driver entry bounds its replay this way (the cosine_topk
    fixed-query-set pattern): the state-protocol cost is per (group,
    micro-batch) — ~2ms each measured r15 — so the full 1,500-user
    corpus costs ~25s/pass while a deterministic 1-in-7 slice keeps
    every semantic (multi-batch sessions, timer fires, watermark
    closure) at ~1/7 the group calls. pytest keeps the full corpus
    (sf0.001)."""
    ev = load_table(spark, sf_dir, "events")
    if users_mod is not None:
        ev = ev.where(F.col("user_id") % users_mod == 0)
    src = _timer_replay_source(spark, sf_dir, ev, (n_splits, users_mod))
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "1")
        .option("latestFirst", "false")
        .parquet(src)
    )
    return (
        _available_now(sessionize_with_timers(stream, gap_seconds), mode="append")
        .select(
            "user_id",
            F.timestamp_micros(F.col("start_us")).alias("session_start"),
            F.timestamp_micros(F.col("last_us")).alias("session_last"),
            "n_events",
            "sum_micros",
        )
    )


# ---------------------------------------------------------------------------
# dead-letter / quarantine (reference error echo, app.py:101-102,334-338:
# malformed webhook payloads must not kill the pipeline — they are
# reported and set aside while well-formed events flow on)
# ---------------------------------------------------------------------------

_PROPS_SCHEMA = "k INT"


def corrupt_some_props(events: DataFrame) -> DataFrame:
    """Deterministically inject malformed JSON payloads (one in 13
    events) — the test harness for the quarantine path."""
    return events.withColumn(
        "props",
        F.when(F.col("event_id") % 13 == 0, F.lit("{broken")).otherwise(F.col("props")),
    )


def split_dead_letter(events: DataFrame) -> DataFrame:
    """Tag each row delivered/quarantined: ``from_json`` yields a NULL
    struct for unparseable JSON (and a NULL field when '$.k' is
    absent) — rows with no usable payload are quarantined, everything
    else is delivered with its parsed payload."""
    parsed = events.withColumn("_p", F.from_json("props", _PROPS_SCHEMA))
    return parsed.withColumn(
        "disposition",
        F.when(F.col("_p").isNull() | F.col("_p.k").isNull(), "quarantined").otherwise(
            "delivered"
        ),
    ).drop("_p")


class DeadLetterSink:
    """foreachBatch router: well-formed rows land under
    ``disposition=delivered``, malformed under ``disposition=quarantined``
    (raw payload preserved for later replay/inspection), in ONE
    ``partitionBy`` append per micro-batch — the batch is scanned and
    parsed once, not once per disposition (at 100 TB a double-scan per
    micro-batch doubles the stream's input cost). Readers partition-prune
    on disposition, so the two logical tables stay independent scans.

    The sink writes under ``base_path`` and never deletes it: the frames
    ``table`` returns read it lazily. ``run_dead_letter`` hands it an
    ``owned_tempdir``; ``dead_letter_counts`` materializes its counts
    and then drops that dir and its upsert sink's."""

    def __init__(self, base_path: str) -> None:
        self.base_path = base_path

    def process_batch(self, batch: DataFrame, batch_id: int) -> None:
        split_dead_letter(batch).write.mode("append").partitionBy("disposition").parquet(
            self.base_path
        )

    def table(self, spark: SparkSession, disposition: str) -> DataFrame:
        return (
            spark.read.parquet(self.base_path)
            .where(F.col("disposition") == disposition)
            .drop("disposition")
        )


def run_dead_letter(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """Stream events (with injected corruption) through the dead-letter
    router; returns (delivered, quarantined) as batch frames."""
    sink = DeadLetterSink(owned_tempdir("dead_letter_"))
    _available_now(corrupt_some_props(event_stream(spark, sf_dir)), foreach=sink.process_batch)
    return (
        sink.table(spark, "delivered"),
        sink.table(spark, "quarantined"),
    )


def _commit(df: DataFrame, path: str, col: str) -> None:
    """THE write path of every exactly-once sink: freeze ``df`` (the
    write must never re-read the target files it replaces), then
    replace ONLY the ``col`` partitions it holds (dynamic partition
    overwrite). Partitioned by batch_id, a redelivered micro-batch
    overwrites its own partitions instead of appending duplicates."""
    (
        df.localCheckpoint(eager=True)
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(col)
        .parquet(path)
    )


def _committed(spark: SparkSession, path: str, col: str, schema: str) -> DataFrame:
    """THE read path of every exactly-once sink: the table `_commit`
    wrote under ``path`` (``col`` included), or an empty frame of
    ``schema`` before its first commit. State on disk IS state, so a
    sink restarted after a crash resumes from here."""
    if not glob.glob(os.path.join(path, f"{col}=*")):
        return spark.createDataFrame([], schema)
    return spark.read.parquet(path)


class _BucketMergeSink:
    """Keyed MERGE core of StatusUpsertSink and RollupSink. State is a
    parquet table PARTITIONED BY ``bucket`` (the sink's `_bucket` of
    its key) and a micro-batch rewrites ONLY the buckets it touched:
    per-batch work is O(touched buckets' state), not O(total state),
    which keeps the sink viable at 100 TB of state (a Delta/Iceberg
    MERGE in a real deployment).

    Per batch: `_reduce` the batch to one row per key and materialize
    that ONCE — the touched buckets are collected from it, so the batch
    is scanned and aggregated once. Only those buckets of the committed
    state are read, unioned with the reduced batch, reduced AGAIN (the
    reduce is associative, so the MERGE is batch-order independent)
    and `_commit`ted; the first commit writes the reduced batch as is.
    The repartition by bucket before the commit keeps one file per
    bucket per batch: partitionBy from N shuffle partitions would emit
    up to N, and every later batch re-reads that long tail — file count
    is what makes rewrite-MERGE state tables rot at scale.

    Replay guard (``_GUARDED``, fixed per sink): foreachBatch is
    at-least-once, so a crash between the parquet commit and the
    checkpoint commit re-delivers the batch with the same
    ``batch_id``. Latest-wins is immune; an additive MERGE would
    double-count. A guarded sink stamps each bucket it rewrites with
    ``applied_batch_id = batch_id`` and merges only touched buckets
    whose stamp is still behind. A rewrite replaces a WHOLE bucket
    partition atomically, so the stamp is exact even when a crash
    lands mid-write with some touched buckets committed and others not.
    """

    # Bucket count of the state table — the partition grain: production
    # sizes it so one bucket's state fits an executor (state_bytes /
    # ~256MB); locally 8 keeps per-batch task/file overhead low.
    n_buckets = 8
    _GUARDED = False

    def __init__(self, spark: SparkSession, path: str) -> None:
        self.spark = spark
        self.path = path

    def current(self) -> DataFrame:
        state = _committed(self.spark, self.path, "bucket", self._SCHEMA)
        return state.drop("bucket", "applied_batch_id")

    @staticmethod
    def _rows(batch: DataFrame) -> DataFrame:
        return batch

    def _bucketed(self, df: DataFrame) -> DataFrame:
        return df.withColumn("bucket", self._bucket().cast("int"))

    def process_batch(self, batch: DataFrame, batch_id: int) -> None:
        new = self._bucketed(self._reduce(self._rows(batch)))
        prev = _committed(self.spark, self.path, "bucket", self._SCHEMA)
        if prev.inputFiles():  # committed state to merge with
            new = new.localCheckpoint(eager=True)
            touched = {r["bucket"] for r in new.select("bucket").distinct().collect()}
            prev = prev.where(F.col("bucket").isin(list(touched)))
            if self._GUARDED:
                applied = prev.where(F.col("applied_batch_id") >= batch_id).select("bucket")
                todo = sorted(touched - {r["bucket"] for r in applied.distinct().collect()})
                if not todo:
                    return
                prev, new = (df.where(F.col("bucket").isin(todo)) for df in (prev, new))
            new = self._bucketed(
                self._reduce(
                    prev.drop("bucket", "applied_batch_id").unionByName(new.drop("bucket"))
                )
            )
        if self._GUARDED:
            new = new.withColumn("applied_batch_id", F.lit(batch_id).cast("bigint"))
        _commit(new.repartition(self.n_buckets, "bucket"), self.path, "bucket")


class StatusUpsertSink(_BucketMergeSink):
    """S12 analog: latest-status upsert of (item_id, column_id) -> label
    via foreachBatch, bucketed by ``item_id % n_buckets``."""

    _SCHEMA = "item_id BIGINT, column_id STRING, status STRING, updated_at TIMESTAMP"

    def _bucket(self):
        return F.col("item_id") % self.n_buckets

    @staticmethod
    def _reduce(df: DataFrame) -> DataFrame:
        # top-1 per key under (updated_at DESC, status DESC) as a
        # max-of-struct aggregation: lexicographic struct max IS that
        # total order, and unlike row_number it is associative and
        # partial-aggregates map-side (no per-key sort, ~|keys| rows
        # shuffled instead of all rows).
        return df.groupBy("item_id", "column_id").agg(
            F.max(F.struct("updated_at", "status")).alias("_top")
        ).select("item_id", "column_id", "_top.status", "_top.updated_at")


class RollupSink(_BucketMergeSink):
    """Incrementally-maintained aggregate table (streaming materialized
    view): hourly (window_start, event_type) counts and micro-unit
    value sums MERGE-ADD per micro-batch, so the table always equals
    the batch groupBy over everything ingested (tests/test_streaming.py).
    Each event becomes a (key, 1, micros) row and one sum per key
    reduces raw rows and merges partials alike — batch boundaries can't
    change the result. Additive, hence ``_GUARDED``.
    """

    _SCHEMA = "window_start TIMESTAMP, event_type STRING, n_events BIGINT, sum_micros BIGINT"
    _GUARDED = True

    def _bucket(self):
        return F.pmod(F.xxhash64("window_start", "event_type"), F.lit(self.n_buckets))

    @staticmethod
    def _rows(batch: DataFrame) -> DataFrame:
        return batch.select(
            F.date_trunc("hour", F.col("ts")).alias("window_start"),
            "event_type",
            F.lit(1).cast("bigint").alias("n_events"),
            F.floor(F.col("value") * 1_000_000).cast("bigint").alias("sum_micros"),
        )

    @staticmethod
    def _reduce(df: DataFrame) -> DataFrame:
        return df.groupBy("window_start", "event_type").agg(
            F.sum("n_events").alias("n_events"),
            F.sum("sum_micros").alias("sum_micros"),
        )


def run_rollup_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drive RollupSink across 6 real micro-batches and return the
    maintained table."""
    sink = RollupSink(spark, owned_tempdir("rollup_"))
    _drain_in_splits(load_table(spark, sf_dir, "events"), 6, sink.process_batch)
    return sink.current()


def derive_statuses(events: DataFrame) -> DataFrame:
    """S12 input shape derived from the events stream: each event is a
    status mutation (item = user, column = 'status', label = the event
    type, mutation time = the event time) — the webhook->change_status
    path (Leyton_depot.py:594-613) re-expressed over the test stream."""
    return events.select(
        F.col("user_id").alias("item_id"),
        F.lit("status").alias("column_id"),
        F.col("event_type").alias("status"),
        F.col("ts").alias("updated_at"),
    )


def run_status_upsert(spark: SparkSession, sf_dir: str, n_splits: int = 4) -> DataFrame:
    """Drive StatusUpsertSink across ``n_splits`` real micro-batches
    and return the final merged state: any split yields the table the
    driver's latest-per-key SQL oracle computes directly."""
    sink = StatusUpsertSink(spark, owned_tempdir("status_upsert_"))
    statuses = derive_statuses(load_table(spark, sf_dir, "events"))
    _drain_in_splits(statuses, n_splits, sink.process_batch)
    return sink.current()


class DedupIngestSink:
    """Continuous corpus ingestion with exact dedup (the composition
    the persisted hash index exists for): each micro-batch is
    dispositioned against everything ingested BEFORE it, and only
    first-sight documents land in the corpus.

    Exactly-once without a transaction log: both outputs are
    PARTITIONED BY batch_id and `_commit`ted, so a redelivery overwrites
    its own partitions instead of appending duplicates. The dedup
    decision reads the index RESTRICTED to batch_id < current, so a
    crash between the two writes cannot change what the replay
    computes: it sees exactly the pre-batch state and rewrites both
    partitions deterministically.

    Dedup semantics are ARRIVAL-ordered: a duplicate keeps the keeper
    from the earliest batch that carried its hash (within a batch, the
    min doc_id) — the only order an infinite stream has. With monotone
    doc ids this equals the batch dedup_exact answer over everything
    delivered (pinned in tests/test_dedup_ingest.py).

    Scale shape: per batch O(|batch|) hashing + one anti-join against
    the index (hash-partitioned equi-join; at 100 TB the index is
    bucketed on text_hash so the join co-locates), plus writes sized
    by the batch's NEW docs only. The corpus is never rescanned.
    """

    _HASH = "md5(regexp_replace(trim(lower(text)), '\\\\s+', ' '))"

    def __init__(self, spark: SparkSession, base_path: str) -> None:
        self.spark = spark
        self.corpus_path = os.path.join(base_path, "corpus")
        self.index_path = os.path.join(base_path, "index")

    def _index_before(self, batch_id: int) -> DataFrame:
        # crash-replay safety: never let this delivery's own (possibly
        # half-committed) partition influence its dedup decision
        index = _committed(
            self.spark, self.index_path, "batch_id", "text_hash STRING, keeper_doc_id BIGINT, batch_id BIGINT"
        )
        return index.where(F.col("batch_id") < batch_id)

    def process_batch(self, batch: DataFrame, batch_id: int) -> None:
        hashed = batch.withColumn("text_hash", F.expr(self._HASH))
        # within-batch keepers: min doc_id per hash (one shuffle on the
        # 128-bit hash — no text comparison anywhere)
        keepers = hashed.groupBy("text_hash").agg(F.min("doc_id").alias("keeper_doc_id"))
        fresh = keepers.join(
            self._index_before(batch_id).select("text_hash"), "text_hash", "left_anti"
        ).withColumn("batch_id", F.lit(batch_id).cast("bigint"))
        new_docs = hashed.join(
            fresh.select("text_hash", F.col("keeper_doc_id").alias("doc_id"), "batch_id"),
            ["text_hash", "doc_id"],
        ).drop("text_hash")
        _commit(fresh, self.index_path, "batch_id")
        _commit(new_docs, self.corpus_path, "batch_id")

    def corpus(self) -> DataFrame:
        return _committed(
            self.spark, self.corpus_path, "batch_id", "doc_id BIGINT, text STRING"
        ).drop("batch_id")

    def index(self) -> DataFrame:
        return self._index_before(1 << 62)


def run_dedup_ingest(
    spark: SparkSession, sf_dir: str, sink: DedupIngestSink | None = None
) -> DataFrame:
    """Drive DedupIngestSink over the documents table split into 4 real
    micro-batches; returns the deduplicated corpus."""
    sink = sink or DedupIngestSink(spark, owned_tempdir("dedup_ingest_"))
    _drain_in_splits(load_table(spark, sf_dir, "documents"), 4, sink.process_batch)
    return sink.corpus()
