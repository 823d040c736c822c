"""Structured Streaming behavior tests (SURVEY.md §2.10, §5 item 4).

Covers the streaming-only semantics that have no DuckDB oracle:
replay determinism, duplicate suppression, and the foreachBatch
MERGE-style status upsert (S12 analog).
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from monday_etl_automation_spark.streaming.pipeline import (
    StatusUpsertSink,
    _available_now,
    dedup_events,
    event_stream,
    run_replay,
)


def test_replay_is_deterministic(spark, sf_dir):
    a = run_replay(spark, sf_dir).collect()
    b = run_replay(spark, sf_dir).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    assert len(a) > 0


def test_replays_release_their_memory_sinks(spark, sf_dir):
    """A memory-sink replay leaves no ``stream_*`` view in the session
    catalog (each would pin its rows in driver memory for the life of
    the session); the returned frames still hold the batch answer."""
    from monday_etl_automation_spark.plans.windows_ops import tumbling_window_counts

    frames = [run_replay(spark, sf_dir) for _ in range(3)]
    leaked = [t.name for t in spark.catalog.listTables() if t.name.startswith("stream_")]
    assert leaked == []
    want = sorted(map(tuple, tumbling_window_counts(spark, sf_dir).collect()))
    for df in frames:
        assert sorted(map(tuple, df.collect())) == want


def test_sliding_and_session_replays_equal_batch(spark, sf_dir):
    """Replay determinism for the sliding and merge-on-gap session
    windows — the stateful shapes where streaming diverges most from
    batch (VERDICT r1 task 6)."""
    from monday_etl_automation_spark.plans import windows_ops as w

    def session_window_section(spark, sf_dir):
        # r15: the driver entry union-tags the timer sessionizer in;
        # the batch twin corresponds to the `window` section
        return (
            w.stream_session_replay(spark, sf_dir)
            .where("section = 'window'")
            .select("session_start", "session_end", "user_id", "n_events", "sum_value")
        )

    for batch_fn, replay_fn in (
        (w.sliding_window_stats, w.stream_sliding_replay),
        (w.session_window_stats, session_window_section),
    ):
        b = sorted(map(tuple, batch_fn(spark, sf_dir).collect()))
        r = sorted(map(tuple, replay_fn(spark, sf_dir).collect()))
        assert len(b) > 0
        assert b == r


def test_dead_letter_routes_malformed(spark, sf_dir):
    """Malformed payloads land in quarantine (raw payload preserved),
    well-formed rows in delivered; nothing is lost or duplicated."""
    from monday_etl_automation_spark.sources.tables import load_table
    from monday_etl_automation_spark.streaming.pipeline import run_dead_letter

    delivered, quarantined = run_dead_letter(spark, sf_dir)
    total = load_table(spark, sf_dir, "events").count()
    n_d, n_q = delivered.count(), quarantined.count()
    assert n_d + n_q == total
    assert n_q > 0
    # every injected-corrupt event is quarantined, none delivered
    assert delivered.where("event_id % 13 = 0").count() == 0
    # quarantine preserves the raw (broken) payload for replay
    assert quarantined.where("props = '{broken'").count() > 0


def test_replay_across_many_microbatches_equals_batch(spark, sf_dir, tmp_path):
    """availableNow over one parquet file usually collapses to a single
    micro-batch, which under-exercises state handoff. Split events into
    8 files and force maxFilesPerTrigger=1: the tumbling aggregation
    must carry window state across 8 micro-batches and still equal the
    batch answer."""
    import uuid

    from monday_etl_automation_spark.plans.windows_ops import tumbling_window_counts
    from monday_etl_automation_spark.sources.tables import load_table
    from monday_etl_automation_spark.streaming.pipeline import tumbling_counts

    events = load_table(spark, sf_dir, "events")
    src = str(tmp_path / "events_split")
    events.repartition(8).write.parquet(src)

    stream = (
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    sink = f"multibatch_{uuid.uuid4().hex[:8]}"
    # files are time-interleaved, so a short watermark would (correctly)
    # drop late rows; a wide one isolates the cross-batch state test
    q = (
        tumbling_counts(stream, watermark="100 days")
        .writeStream.format("memory")
        .queryName(sink)
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    n_batches = len(q.recentProgress)
    got = sorted(map(tuple, spark.table(sink).collect()))
    want = sorted(map(tuple, tumbling_window_counts(spark, sf_dir).collect()))
    assert got == want
    assert n_batches >= 8, f"expected >=8 micro-batches, got {n_batches}"


def test_session_replay_with_rocksdb_state_store(spark, sf_dir):
    """The 100 TB state path: the same session-window replay runs
    unchanged on the RocksDB state store (what a real deployment sets
    for billions of keys) and produces the identical answer."""
    from monday_etl_automation_spark.streaming.pipeline import session_stats

    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        replay = _available_now(session_stats(event_stream(spark, sf_dir)), mode="complete")
        got = sorted(map(tuple, replay.collect()))
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)
    from monday_etl_automation_spark.plans.windows_ops import session_window_stats

    want = sorted(map(tuple, session_window_stats(spark, sf_dir).collect()))
    assert got == want
    assert len(got) > 0


def test_stream_stream_interval_join_equals_batch_range_join(spark, sf_dir):
    """The stream-stream interval join must reproduce the batch
    bucketed-range-join answer on a full replay — same predicate, two
    different execution strategies (state-store eviction vs 2-bucket
    candidate pruning)."""
    from monday_etl_automation_spark.operators.joins import bucketed_range_join
    from monday_etl_automation_spark.sources.tables import load_table
    from monday_etl_automation_spark.streaming.pipeline import run_interval_join_replay

    got = sorted(
        (r.l_event_id, r.r_event_id)
        for r in run_interval_join_replay(spark, sf_dir).collect()
    )
    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    batch = bucketed_range_join(ev, ev, "user_id", "ts", "ts", 600)
    want = sorted((r.event_id, r.r_event_id) for r in batch.collect())
    assert got == want
    assert len(got) > 0


def test_dedup_within_watermark_suppresses_retries(spark, sf_dir, tmp_path):
    import uuid

    events = event_stream(spark, sf_dir)
    sink = f"dedup_{uuid.uuid4().hex[:8]}"
    q = (
        dedup_events(events)
        .groupBy()
        .agg(F.count(F.lit(1)).alias("n"))
        .writeStream.format("memory")
        .queryName(sink)
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    from monday_etl_automation_spark.sources.tables import load_table

    n_unique = load_table(spark, sf_dir, "events").select("event_id").distinct().count()
    assert spark.table(sink).collect()[0]["n"] == n_unique


import importlib.util

import pytest

# transformWithStateInPandas execution uses a protobuf-based state
# protocol between the Python worker and the state store; this
# container has no google.protobuf (and installs are off-limits), so
# the replay-parity tests run only where it exists (any real cluster).
# Plan construction and analysis are JVM-side and are always tested.
_HAS_PROTOBUF = importlib.util.find_spec("google") is not None and (
    importlib.util.find_spec("google.protobuf") is not None
)
needs_protobuf = pytest.mark.skipif(
    not _HAS_PROTOBUF, reason="transformWithState runtime needs google.protobuf"
)


def test_transform_with_state_plans_analyze(spark, sf_dir):
    """The TWS operators must at least construct and pass analysis
    (schema resolution happens in the JVM, no protobuf needed) so an
    API-level break can't hide behind the runtime skip."""
    from monday_etl_automation_spark.streaming.pipeline import (
        event_stream,
        event_type_counts_tws,
        stateful_user_totals_tws,
    )

    totals = stateful_user_totals_tws(event_stream(spark, sf_dir))
    assert [f.name for f in totals.schema.fields] == ["user_id", "n_events", "sum_micros"]
    counts = event_type_counts_tws(event_stream(spark, sf_dir))
    assert [f.name for f in counts.schema.fields] == ["user_id", "event_type", "n_events"]
    assert totals.isStreaming and counts.isStreaming


@needs_protobuf
def test_transform_with_state_equals_legacy_and_batch(spark, sf_dir):
    """The Spark 4 transformWithStateInPandas totals operator must
    produce the same final state as the applyInPandasWithState
    operator AND the batch SQL twin — three engines, one answer."""
    from monday_etl_automation_spark.sources.tables import load_table
    from monday_etl_automation_spark.streaming.pipeline import (
        run_stateful_replay,
        run_stateful_tws_replay,
    )

    tws = sorted(map(tuple, run_stateful_tws_replay(spark, sf_dir).collect()))
    legacy = sorted(map(tuple, run_stateful_replay(spark, sf_dir).collect()))
    events = load_table(spark, sf_dir, "events")
    batch = sorted(
        map(
            tuple,
            events.groupBy("user_id")
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.sum(F.floor(F.col("value") * 1000000).cast("bigint"))
                .cast("bigint")
                .alias("sum_micros"),
            )
            .orderBy("user_id")
            .collect(),
        )
    )
    assert len(tws) > 0
    assert tws == legacy
    assert tws == batch


@needs_protobuf
def test_transform_with_state_initial_state_bootstrap(spark, sf_dir):
    """Backfill→streaming handoff: aggregate the first half of events
    in batch, seed the state store with it via initialState, stream
    only the second half — the final totals must equal a full replay
    (history never transits the state store)."""
    import tempfile as tf

    from monday_etl_automation_spark.sources.tables import load_table
    from monday_etl_automation_spark.streaming.pipeline import run_stateful_tws_replay

    events = load_table(spark, sf_dir, "events")
    cut = events.selectExpr("percentile_cont(0.5) WITHIN GROUP (ORDER BY ts) AS m").collect()[
        0
    ]["m"]
    first, second = events.where(F.col("ts") < cut), events.where(F.col("ts") >= cut)
    backfill = first.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.floor(F.col("value") * 1000000).cast("bigint"))
        .cast("bigint")
        .alias("sum_micros"),
    )
    src = tf.mkdtemp(prefix="tws_tail_")
    second.write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(second.schema).parquet(src)
    got = sorted(
        map(
            tuple,
            run_stateful_tws_replay(
                spark, sf_dir, initial_state=backfill, events=stream
            ).collect(),
        )
    )
    want = sorted(map(tuple, run_stateful_tws_replay(spark, sf_dir).collect()))
    # users whose events are all in the backfill half emit nothing in
    # update mode (never touched by a micro-batch); compare on the
    # streamed users and assert the bootstrap carried their history
    want_by_user = {r[0]: r for r in want}
    assert len(got) > 0
    for row in got:
        assert row == want_by_user[row[0]]
    streamed_users = {r["user_id"] for r in second.select("user_id").distinct().collect()}
    assert {r[0] for r in got} == streamed_users


@needs_protobuf
def test_transform_with_state_map_state_counts(spark, sf_dir):
    """MapState per-user event_type counters: replay's final answer ==
    batch groupBy(user_id, event_type).count()."""
    from monday_etl_automation_spark.sources.tables import load_table
    from monday_etl_automation_spark.streaming.pipeline import run_type_counts_tws_replay

    got = sorted(map(tuple, run_type_counts_tws_replay(spark, sf_dir).collect()))
    events = load_table(spark, sf_dir, "events")
    want = sorted(
        map(
            tuple,
            events.groupBy("user_id", "event_type")
            .agg(F.count(F.lit(1)).alias("n_events"))
            .collect(),
        )
    )
    assert len(got) > 0
    assert got == want


def test_timer_sessionization_matches_builtin_on_closed_sessions(spark, sf_dir):
    """The explicit-timer sessionizer (applyInPandasWithState +
    EventTimeTimeout) must agree with the built-in session_window on
    every session it closes, and must close most sessions (only those
    still open when the watermark stops may be missing)."""
    from monday_etl_automation_spark.sources.tables import load_table
    from monday_etl_automation_spark.streaming.pipeline import run_timer_sessions_replay

    gap = 300
    got = run_timer_sessions_replay(spark, sf_dir, gap_seconds=gap).collect()
    # no duplicate emissions
    keys = [(r.user_id, r.session_start) for r in got]
    assert len(keys) == len(set(keys))

    events = load_table(spark, sf_dir, "events")
    want = {
        (r.user_id, r.session_start): (r.n_events, r.sum_micros)
        for r in events.groupBy(
            F.session_window("ts", f"{gap} seconds").alias("w"), "user_id"
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(
                F.floor(F.col("value") * 1000000).cast("bigint")
            ).alias("sum_micros"),
        )
        .select(F.col("w.start").alias("session_start"), "user_id", "n_events", "sum_micros")
        .collect()
    }
    assert len(got) > 0
    for r in got:
        assert (r.user_id, r.session_start) in want, f"spurious session {r}"
        n, s = want[(r.user_id, r.session_start)]
        assert (r.n_events, r.sum_micros) == (n, s), f"mismatch at {r}"
    # the timer path must close the overwhelming majority of sessions —
    # only per-user tail sessions can remain open at end-of-stream
    assert len(got) >= 0.5 * len(want), f"only {len(got)}/{len(want)} sessions closed"


def test_rollup_sink_equals_batch_aggregate(spark, sf_dir):
    """The incrementally-maintained rollup table must equal the batch
    groupBy over all events regardless of micro-batch splits (additive
    MERGE correctness), with multiple real batches exercised."""
    from monday_etl_automation_spark.sources.tables import load_table
    from monday_etl_automation_spark.streaming.pipeline import run_rollup_sink

    got = sorted(map(tuple, run_rollup_sink(spark, sf_dir).collect()))
    ev = load_table(spark, sf_dir, "events")
    want = sorted(
        map(
            tuple,
            ev.groupBy(
                F.date_trunc("hour", F.col("ts")).alias("window_start"), "event_type"
            )
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.sum(F.floor(F.col("value") * 1_000_000).cast("bigint")).alias(
                    "sum_micros"
                ),
            )
            .collect(),
        )
    )
    assert len(got) > 0
    assert got == want


def test_rollup_sink_replay_is_idempotent(spark, tmp_path):
    """foreachBatch is at-least-once: after a crash between the parquet
    commit and the checkpoint commit, the SAME micro-batch is
    re-delivered with the SAME batch_id. The additive MERGE must
    no-op on the re-delivery (per-bucket applied_batch_id stamp), in
    the same process AND through a restarted sink instance whose only
    knowledge is the on-disk state."""
    from monday_etl_automation_spark.streaming.pipeline import RollupSink

    t0 = dt.datetime(2024, 3, 1, 10, 0, 0)
    schema = "ts TIMESTAMP, event_type STRING, value DOUBLE"

    def batch(rows):
        return spark.createDataFrame(rows, schema)

    b0 = batch([(t0, "click", 1.5), (t0, "view", 2.0)])
    b1 = batch([(t0, "click", 0.5), (t0 + dt.timedelta(hours=1), "click", 3.0)])
    path = str(tmp_path / "rollup_state")
    sink = RollupSink(spark, path)
    sink.process_batch(b0, 0)
    sink.process_batch(b1, 1)
    want = sorted(map(tuple, sink.current().collect()))
    assert want  # non-vacuous

    # same batch, same id, delivered again -> table unchanged
    sink.process_batch(b1, 1)
    assert sorted(map(tuple, sink.current().collect())) == want
    # an even older delivery must also no-op
    sink.process_batch(b0, 0)
    assert sorted(map(tuple, sink.current().collect())) == want

    # crash-restart: a FRESH instance on the same path must see the
    # state (not clobber it) and still reject the replayed batch
    sink2 = RollupSink(spark, path)
    assert sorted(map(tuple, sink2.current().collect())) == want
    sink2.process_batch(b1, 1)
    assert sorted(map(tuple, sink2.current().collect())) == want

    # ...and a genuinely new batch still applies additively
    sink2.process_batch(batch([(t0, "view", 1.0)]), 2)
    got = {(r.window_start, r.event_type): (r.n_events, r.sum_micros) for r in sink2.current().collect()}
    assert got[(t0, "view")] == (2, 3_000_000)
    assert got[(t0, "click")] == (2, 2_000_000)


def test_rollup_sink_upgrades_pre_stamp_state(spark, tmp_path):
    """State written by a pre-stamp version of the sink has no
    applied_batch_id column; the first merge after an upgrade must not
    raise (treat old buckets as applied-by-batch -1) and must merge
    additively."""
    from pyspark.sql import functions as F

    from monday_etl_automation_spark.streaming.pipeline import RollupSink

    t0 = dt.datetime(2024, 3, 1, 10, 0, 0)
    path = str(tmp_path / "old_rollup")
    # hand-write OLD-format state in TWO buckets: bucket-partitioned,
    # NO stamp column
    old = spark.createDataFrame(
        [(t0, "click", 2, 3_000_000), (t0, "view", 1, 500_000)],
        "window_start TIMESTAMP, event_type STRING, n_events BIGINT, sum_micros BIGINT",
    ).withColumn(
        "bucket", F.pmod(F.xxhash64("window_start", "event_type"), F.lit(8)).cast("int")
    )
    old.write.mode("overwrite").partitionBy("bucket").parquet(path)

    sink = RollupSink(spark, path)
    sink.process_batch(
        spark.createDataFrame(
            [(t0, "click", 1.0)], "ts TIMESTAMP, event_type STRING, value DOUBLE"
        ),
        5,
    )
    got = {(r.window_start, r.event_type): (r.n_events, r.sum_micros) for r in sink.current().collect()}
    assert got[(t0, "click")] == (3, 4_000_000)
    assert got[(t0, "view")] == (1, 500_000)
    # the touched bucket is now stamped: replaying batch 5 no-ops
    sink.process_batch(
        spark.createDataFrame(
            [(t0, "click", 9.0)], "ts TIMESTAMP, event_type STRING, value DOUBLE"
        ),
        5,
    )
    got2 = {(r.window_start, r.event_type): (r.n_events, r.sum_micros) for r in sink.current().collect()}
    assert got2 == got
    # MIXED state is the NORMAL post-upgrade condition: the click
    # bucket is stamped, the view bucket still pre-stamp. A batch
    # touching BOTH must read the stamp through schema merge (a
    # single-footer inference could drop the column and double-count
    # the replayed click), merge the view additively, and replay-guard
    # the click by its real stamp
    b6 = spark.createDataFrame(
        [(t0, "view", 2.0), (t0, "click", 7.0)],
        "ts TIMESTAMP, event_type STRING, value DOUBLE",
    )
    sink.process_batch(b6, 6)
    sink.process_batch(b6, 6)  # redelivery
    got3 = {(r.window_start, r.event_type): (r.n_events, r.sum_micros) for r in sink.current().collect()}
    assert got3[(t0, "view")] == (2, 2_500_000)
    assert got3[(t0, "click")] == (4, 11_000_000)


def test_status_upsert_keeps_latest_per_key(spark, tmp_path):
    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    rows = [
        (1, "status", "RES020", t0),
        (1, "status", "RES010", t0 + dt.timedelta(minutes=5)),
        (2, "status", "Dossier déposé", t0),
    ]
    src = str(tmp_path / "src")
    spark.createDataFrame(
        rows, "item_id BIGINT, column_id STRING, status STRING, updated_at TIMESTAMP"
    ).write.parquet(src)

    stream = spark.readStream.schema(
        "item_id BIGINT, column_id STRING, status STRING, updated_at TIMESTAMP"
    ).parquet(src)
    sink = StatusUpsertSink(spark, str(tmp_path / "state"))
    _available_now(stream, foreach=sink.process_batch)

    got = {(r.item_id, r.column_id): r.status for r in sink.current().collect()}
    assert got == {(1, "status"): "RES010", (2, "status"): "Dossier déposé"}

    # second run with a newer status must overwrite (idempotent MERGE)
    src2 = str(tmp_path / "src2")
    spark.createDataFrame(
        [(2, "status", "RES020", t0 + dt.timedelta(hours=1))],
        "item_id BIGINT, column_id STRING, status STRING, updated_at TIMESTAMP",
    ).write.parquet(src2)
    stream2 = spark.readStream.schema(
        "item_id BIGINT, column_id STRING, status STRING, updated_at TIMESTAMP"
    ).parquet(src2)
    import glob
    import os

    before = {
        p: os.path.getmtime(p)
        for p in glob.glob(str(tmp_path / "state" / "bucket=*" / "*.parquet"))
    }
    _available_now(stream2, foreach=sink.process_batch)
    got2 = {(r.item_id, r.column_id): r.status for r in sink.current().collect()}
    assert got2[(2, "status")] == "RES020"
    assert got2[(1, "status")] == "RES010"

    # partitioned upsert: the batch touched only item 2's bucket, so
    # item 1's bucket files must survive untouched (O(touched) writes)
    after = {
        p: os.path.getmtime(p)
        for p in glob.glob(str(tmp_path / "state" / "bucket=*" / "*.parquet"))
    }
    b1 = f"bucket={1 % sink.n_buckets}"
    b2 = f"bucket={2 % sink.n_buckets}"
    untouched = [p for p in before if b1 in p]
    assert untouched, "expected files in item 1's bucket"
    for p in untouched:
        assert p in after and after[p] == before[p], f"untouched bucket rewritten: {p}"
    assert any(b2 in p and (p not in before or after[p] != before[p]) for p in after)

    # single-write MERGE: no staging copy of the batch anywhere on disk
    # (the pre-round-4 sink wrote each merged batch twice: a full
    # staging write + the dynamic overwrite; write amplification per
    # micro-batch must be 1x the touched buckets)
    staging = glob.glob(str(tmp_path / "state_b*"))
    assert staging == [], f"staging dirs left behind: {staging}"
    # all parquet data files live under bucket partitions of the target
    stray = [
        p
        for p in glob.glob(str(tmp_path / "state" / "**" / "*.parquet"), recursive=True)
        if "bucket=" not in p
    ]
    assert stray == [], f"data files outside bucket partitions: {stray}"


def test_status_upsert_multibatch_equals_latest_per_key(spark, sf_dir):
    """run_status_upsert MERGEs across >=4 real micro-batches; the
    final state must equal the global latest-per-key answer regardless
    of how the rows were split into batches."""
    from pyspark.sql import Window

    from monday_etl_automation_spark.sources.tables import load_table
    from monday_etl_automation_spark.streaming.pipeline import derive_statuses, run_status_upsert

    got = sorted(map(tuple, run_status_upsert(spark, sf_dir).collect()))
    statuses = derive_statuses(load_table(spark, sf_dir, "events"))
    w = Window.partitionBy("item_id", "column_id").orderBy(
        F.desc("updated_at"), F.desc("status")
    )
    want = sorted(
        map(
            tuple,
            statuses.withColumn("_rn", F.row_number().over(w))
            .where("_rn = 1")
            .drop("_rn")
            .collect(),
        )
    )
    assert got == want
    assert len(got) > 0


def test_timer_sessionization_split_invariant(spark, sf_dir):
    """The driver oracle's core assumption (r15): the timer replay's
    EMITTED SET depends only on the final watermark (global max ts),
    never on where the micro-batch boundaries fall — a session either
    closes mid-stream (strict-gap silence inside or across batches) or
    via a timer once the watermark passes last+gap, and both paths
    emit identical rows. Pin 2-split == 3-split == 8-split."""
    from monday_etl_automation_spark.streaming.pipeline import run_timer_sessions_replay

    runs = [
        sorted(
            map(tuple, run_timer_sessions_replay(spark, sf_dir, n_splits=n, users_mod=3).collect())
        )
        for n in (2, 3, 8)
    ]
    assert len(runs[0]) > 0
    assert runs[0] == runs[1] == runs[2]


def test_timer_oracle_millisecond_boundary_fixture(spark, sf_dir, tmp_path_factory):
    """r16 (r15 ADVICE, low): the timer-section oracle must match the
    ENGINE's emission rule exactly at millisecond resolution —
    EventTimeTimeout fires only when floor(watermark_ms) strictly
    exceeds floor((last+gap)_ms), while mid-stream sessions close on
    strict-microsecond data gaps regardless of the watermark. This
    fixture plants every collision the generated testdata cannot be
    trusted to avoid across regenerations:

    - user 0: final session with last+gap in the SAME millisecond as
      the global max (and <= it in microseconds) — the OLD `<=`
      microsecond oracle emitted it; the engine never does.
    - user 14: final session with last+gap a few ms below the global
      max — emitted by both.
    - user 21: a mid-stream session whose closing gap lands in the
      same millisecond as the global max — the engine emits it on the
      data gap; an oracle with ONLY the timer condition would drop it
      (the r16 max_sid disjunct admits it).
    """
    import os
    import shutil

    import duckdb

    from monday_etl_automation_spark.plans.windows_ops import SESSION_ORACLE
    from monday_etl_automation_spark.sources.tables import clear_artifact_caches
    from monday_etl_automation_spark.streaming.pipeline import (
        run_timer_sessions_replay,
    )

    d = str(tmp_path_factory.mktemp("timer_boundary"))
    for f in os.listdir(sf_dir):
        if f != "events.parquet":
            shutil.copy(os.path.join(sf_dir, f), os.path.join(d, f))
    gap = 300_000_000  # microseconds
    base = 1_700_000_000_000_000  # a whole-second epoch instant, us
    m_us = base + 700  # global max: mid-millisecond
    rows = [
        # (event_id, us, user_id, value)
        (1, m_us - gap - 200, 0, 1.25),   # final; last+gap == M's ms
        (2, m_us - gap - 5000, 14, 2.5),  # final; last+gap < M's ms
        (3, m_us - gap - 105_000_000, 14, 0.5),  # same session as #2
        (4, m_us - gap - 500, 21, 3.0),   # closed by #5's strict gap
        (5, m_us, 21, 4.0),               # the global max; open forever
    ]
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE ev (event_id BIGINT, ts TIMESTAMP, user_id BIGINT,"
        " event_type VARCHAR, value DOUBLE, props VARCHAR)"
    )
    for eid, us, uid, val in rows:
        con.execute(
            "INSERT INTO ev VALUES (?, make_timestamp(?), ?, 'click', ?, '{}')",
            [eid, us, uid, val],
        )
    con.execute(f"COPY ev TO '{d}/events.parquet' (FORMAT parquet)")

    try:
        got = sorted(
            (r.user_id, int(r.session_start.timestamp() * 1_000_000), r.n_events, r.sum_micros)
            for r in run_timer_sessions_replay(spark, d, n_splits=3, users_mod=7).collect()
        )
        want = [
            (14, m_us - gap - 105_000_000, 2, 3_000_000),  # 2.5 + 0.5
            (21, m_us - gap - 500, 1, 3_000_000),  # mid-stream close
        ]
        assert got == want, got
        # the DuckDB oracle's timer section picks exactly the same rows
        ocon = duckdb.connect()
        ocon.execute(f"CREATE VIEW events AS SELECT * FROM '{d}/events.parquet'")
        orows = sorted(
            (r[3], int(r[1].timestamp() * 1_000_000), r[4], r[6])
            for r in ocon.execute(SESSION_ORACLE).fetchall()
            if r[0] == "timer"
        )
        assert orows == want, orows
    finally:
        clear_artifact_caches(spark)
        spark._mea_views_sf_dir = None


def test_replay_reprobes_schema_after_in_place_encoding_rewrite(spark, sf_dir, tmp_path):
    """The stream's read schema is the footer schema of the CURRENT
    file snapshot: rewrite events.parquet in place from TIMESTAMP(NANOS)
    to TIMESTAMP(MICROS) and the next replay must still equal the batch
    answer. A schema probe cached by directory alone reads the micros
    column as nanos-as-long and collapses every window into 1970 (the
    1000x-compressed-timestamp failure)."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from monday_etl_automation_spark.plans.windows_ops import tumbling_window_counts
    from monday_etl_automation_spark.sources.tables import clear_artifact_caches

    table = pq.read_table(os.path.join(sf_dir, "events.parquet"))
    path = str(tmp_path / "events.parquet")
    d = str(tmp_path)

    def land(unit: str) -> None:
        ts = table.schema.get_field_index("ts")
        recast = table.set_column(ts, "ts", table.column("ts").cast(pa.timestamp(unit)))
        pq.write_table(recast, path, version="2.6")

    clear_artifact_caches(spark)
    try:
        land("ns")
        want = sorted(map(tuple, tumbling_window_counts(spark, d).collect()))
        assert sorted(map(tuple, run_replay(spark, d).collect())) == want
        land("us")
        got = sorted(map(tuple, run_replay(spark, d).collect()))
        assert len(want) > 10
        assert got == sorted(map(tuple, tumbling_window_counts(spark, d).collect())) == want
    finally:
        clear_artifact_caches(spark)


def test_replays_remove_their_temp_dirs(spark, sf_dir, tmp_path, monkeypatch):
    """Checkpoints and split-source copies are deleted once a query has
    drained; only a sink's own output directory outlives the run, and
    the returned frames still collect."""
    import os
    import tempfile

    from monday_etl_automation_spark.streaming.pipeline import run_status_upsert

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    assert len(run_replay(spark, sf_dir).collect()) > 0
    assert len(run_status_upsert(spark, sf_dir).collect()) > 0
    left = sorted(os.listdir(tmp_path))
    assert len(left) == 1 and left[0].startswith("status_upsert_"), left


def test_only_the_launch_helper_starts_streaming_queries():
    """Every streaming query in the package starts through
    streaming/pipeline.py:_available_now — no other site may call
    ``.writeStream`` or ``awaitTermination(``."""
    import ast
    import pathlib

    import monday_etl_automation_spark as pkg
    from monday_etl_automation_spark.streaming import pipeline

    root = pathlib.Path(pkg.__file__).parent
    helper_lines = {
        no
        for n in ast.parse(pathlib.Path(pipeline.__file__).read_text()).body
        if isinstance(n, ast.FunctionDef) and n.name == "_available_now"
        for no in range(n.lineno, n.end_lineno + 1)
    }
    inside, outside = [], []
    for f in sorted(root.rglob("*.py")):
        for no, line in enumerate(f.read_text().splitlines(), 1):
            if ".writeStream" in line or "awaitTermination(" in line:
                in_helper = f.samefile(pipeline.__file__) and no in helper_lines
                (inside if in_helper else outside).append(f"{f.relative_to(root)}:{no}")
    assert outside == [], outside
    assert len(inside) == 2, inside


def test_sink_drivers_leave_only_owned_dirs(spark, sf_dir, tmp_path, monkeypatch):
    """Every directory a sink driver leaves behind is an owned dir, so
    interpreter exit deletes it; the returned frames still collect."""
    import os
    import tempfile

    from monday_etl_automation_spark.sources import tables
    from monday_etl_automation_spark.streaming.pipeline import (
        run_dead_letter,
        run_dedup_ingest,
        run_rollup_sink,
        run_status_upsert,
    )

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    delivered, quarantined = run_dead_letter(spark, sf_dir)
    frames = [
        delivered,
        quarantined,
        run_rollup_sink(spark, sf_dir, n_splits=2),
        run_status_upsert(spark, sf_dir, n_splits=2),
        run_dedup_ingest(spark, sf_dir, n_splits=2),
    ]
    assert all(len(f.collect()) > 0 for f in frames)
    left = sorted(str(tmp_path / d) for d in os.listdir(tmp_path))
    prefixes = sorted(os.path.basename(d).split("_")[0] for d in left)
    assert prefixes == ["dead", "dedup", "rollup", "status"], left
    assert all(d in tables._OWNED_DIRS for d in left), left
    tables._drop_owned(left)


def test_dead_letter_counts_drops_its_sink_dirs(spark, sf_dir, tmp_path, monkeypatch):
    """A dead_letter_counts call keeps no sink table once it returns:
    repeated calls in one session give the same counts and leave no
    ``dead_letter_*`` or ``status_upsert_*`` dir behind."""
    import os
    import tempfile

    from monday_etl_automation_spark.plans.windows_ops import dead_letter_counts

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    runs = [sorted(map(tuple, dead_letter_counts(spark, sf_dir).collect())) for _ in range(3)]
    assert runs[0] and runs[1] == runs[0] and runs[2] == runs[0]
    left = [d for d in os.listdir(tmp_path) if d.startswith(("dead_letter_", "status_upsert_"))]
    assert left == [], left
