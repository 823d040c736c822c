"""Drift-proofing for the one external boundary: the driver-written
parquet testdata.

The driver regenerates /root/testdata between rounds and the physical
encoding of ``events.ts`` has already changed once (TIMESTAMP(NANOS)
-> naive TIMESTAMP(MICROS)), which silently compressed every
timestamp 1000x through a forced-LONG read path. These tests pin the
*loaded* semantics — type and epoch range — via both ingestion paths
(batch loader and streaming source) against a DuckDB read of the same
file, so any future encoding drift fails loudly instead of emitting
wrong answers. This is the reference's dynamic-typing lesson
(Leyton_depot.py:147-153 adapts parsing to the cell's type tag)
applied at our source boundary.
"""

from __future__ import annotations

import datetime
import os

import duckdb
from pyspark.sql import functions as F
from pyspark.sql import types as T

from monday_etl_automation_spark.sources.tables import load_table, normalize_ts
from monday_etl_automation_spark.streaming.pipeline import event_stream


def _oracle_range(sf_dir: str):
    path = os.path.join(sf_dir, "events.parquet")
    return duckdb.sql(
        f"select min(ts), max(ts), count(*) from '{path}'"
    ).fetchone()


def test_batch_events_ts_matches_duckdb_to_the_microsecond(spark, sf_dir):
    lo, hi, n = _oracle_range(sf_dir)
    df = load_table(spark, sf_dir, "events")
    assert isinstance(df.schema["ts"].dataType, T.TimestampType)
    row = df.agg(
        F.min("ts").cast("timestamp_ntz").alias("lo"),
        F.max("ts").cast("timestamp_ntz").alias("hi"),
        F.count(F.lit(1)).alias("n"),
    ).collect()[0]
    # exact microsecond agreement with DuckDB's naive read — a 1000x
    # compression, unit drift, or timezone shift all fail here
    assert row["lo"] == lo
    assert row["hi"] == hi
    assert row["n"] == n
    # sanity-pin the era: the generator writes 2024 events; epoch-ish
    # values (the round-5 failure collapsed everything to ~1970-01-20)
    # are caught even if the oracle read drifted identically
    assert row["lo"] > datetime.datetime(2020, 1, 1)
    assert row["hi"] < datetime.datetime(2100, 1, 1)


def test_stream_events_ts_matches_batch(spark, sf_dir):
    lo, hi, n = _oracle_range(sf_dir)
    stream = event_stream(spark, sf_dir)
    assert isinstance(stream.schema["ts"].dataType, T.TimestampType)
    # run the stream's exact projection as a batch over the same file
    # (identical plan from the first transformation on)
    raw = (
        spark.read.schema(
            spark.read.parquet(os.path.join(sf_dir, "events.parquet")).schema
        )
        .parquet(os.path.join(sf_dir, "events.parquet"))
    )
    row = (
        normalize_ts(raw)
        .agg(
            F.min("ts").cast("timestamp_ntz").alias("lo"),
            F.max("ts").cast("timestamp_ntz").alias("hi"),
            F.count(F.lit(1)).alias("n"),
        )
        .collect()[0]
    )
    assert (row["lo"], row["hi"], row["n"]) == (lo, hi, n)


# The loaded (post-normalize_ts) logical schema every operator and
# oracle in this repo is written against. If the driver regenerates the
# testdata under different physical types, this names the exact
# table/column that moved instead of letting 50 queries fail obscurely
# (or worse, pass wrongly — the round-5 failure mode).
_EXPECTED_SCHEMAS = {
    "region": "r_regionkey:int, r_name:string",
    "nation": "n_nationkey:int, n_name:string, n_regionkey:int",
    "customer": "c_custkey:bigint, c_name:string, c_nationkey:int, c_acctbal:double, c_mktsegment:string",
    "supplier": "s_suppkey:bigint, s_name:string, s_nationkey:int, s_acctbal:double",
    "part": "p_partkey:bigint, p_name:string, p_brand:string, p_type:string, p_size:int, p_retailprice:double",
    "orders": "o_orderkey:bigint, o_custkey:bigint, o_orderstatus:string, o_totalprice:double, o_orderdate:timestamp_ntz, o_orderpriority:string",
    "lineitem": "l_orderkey:bigint, l_partkey:bigint, l_suppkey:bigint, l_linenumber:int, l_quantity:double, l_extendedprice:double, l_discount:double, l_tax:double, l_returnflag:string, l_linestatus:string, l_shipdate:timestamp_ntz",
    "events": "event_id:bigint, ts:timestamp, user_id:bigint, event_type:string, value:double, props:string",
    "documents": "doc_id:bigint, text:string, lang:string, source:string, n_chars:bigint",
    "embeddings": "vec_id:bigint, embedding:array<float>, label:int",
}


def test_loaded_schemas_are_pinned(spark, sf_dir):
    from monday_etl_automation_spark.sources.tables import TABLES

    assert set(_EXPECTED_SCHEMAS) == set(TABLES)
    for name in TABLES:
        got = ", ".join(
            f"{f.name}:{f.dataType.simpleString()}"
            for f in load_table(spark, sf_dir, name).schema.fields
        )
        assert got == _EXPECTED_SCHEMAS[name], (
            f"testdata drift in table {name!r}:\n  loaded   {got}\n"
            f"  expected {_EXPECTED_SCHEMAS[name]}\n"
            "If the driver re-wrote the parquet with new physical types, "
            "extend sources/tables.py normalize_ts (events.ts) or re-pin "
            "here after auditing every consumer."
        )


def test_normalize_ts_handles_all_known_encodings(spark):
    base = datetime.datetime(2024, 3, 1, 12, 30, 45, 123456)
    micros = int(base.replace(tzinfo=datetime.timezone.utc).timestamp() * 1_000_000)

    # nanos-as-long (the pre-round-5 physical encoding)
    df_long = spark.createDataFrame([(micros * 1000,)], "ts long")
    # naive micros (the current encoding)
    df_ntz = spark.createDataFrame([(base,)], "ts timestamp_ntz")
    # already normalized
    df_ts = spark.createDataFrame([(base,)], "ts timestamp")

    outs = []
    for df in (df_long, df_ntz, df_ts):
        out = normalize_ts(df)
        assert isinstance(out.schema["ts"].dataType, T.TimestampType)
        outs.append(out.select(F.col("ts").cast("timestamp_ntz")).collect()[0][0])
    assert outs == [base, base, base]


def test_artifact_cache_eviction_removes_owned_dirs(tmp_path, monkeypatch):
    """Superseded snapshot entries release the directories they own: an
    owned dir named by an evicted value (the value itself, or a tuple
    element) is removed on identity-eviction and on clear(), never for
    an unrelated key; a path the engine does not own survives, and a
    failing removal never propagates."""
    import tempfile

    from monday_etl_automation_spark.sources.tables import _ArtifactCache, owned_tempdir

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    d1, d2, other, bad = (owned_tempdir(f"probe{i}_") for i in range(4))
    foreign = tmp_path / "sf_dir"
    foreign.mkdir()

    c = _ArtifactCache()
    c[("sfA", "events", 1, 10)] = (d1, str(foreign))
    c[("sfB", "events", 1, 10)] = other  # different identity: no evict
    assert os.path.isdir(d1) and os.path.isdir(other)
    c[("sfA", "events", 2, 20)] = d2  # same identity, new snapshot
    assert not os.path.exists(d1)
    assert os.path.isdir(d2) and os.path.isdir(other) and foreign.is_dir()
    c.clear()
    assert not os.path.exists(d2) and not os.path.exists(other)
    assert foreign.is_dir()
    # a removal that fails (the owned path is now a file) is swallowed
    os.rmdir(bad)
    open(bad, "w").close()
    c[("sfA", "events", 3, 30)] = (bad,)
    c[("sfA", "events", 4, 40)] = "v4"
    assert c[("sfA", "events", 4, 40)] == "v4"
    assert os.path.isfile(bad)  # the removal did fail


def test_only_owned_tempdir_makes_lasting_dirs():
    """One owner for engine-made directories: in the package only
    sources/tables.py:owned_tempdir and the two call-scoped streaming
    helpers (whose ``finally`` deletes the dir) call
    ``tempfile.mkdtemp``, no module outside sources/tables.py registers
    an ``atexit`` hook, and no per-cache eviction hook exists."""
    import ast
    import pathlib

    import monday_etl_automation_spark

    pkg = pathlib.Path(monday_etl_automation_spark.__file__).parent
    allowed = {
        ("sources/tables.py", "owned_tempdir"),
        ("streaming/pipeline.py", "_available_now"),
        ("streaming/pipeline.py", "_drain_in_splits"),
    }

    class Sites(ast.NodeVisitor):
        def __init__(self):
            self.stack, self.found = ["<module>"], []

        def visit_FunctionDef(self, node):
            self.stack.append(node.name)
            self.generic_visit(node)
            self.stack.pop()

        def visit_Call(self, node):
            fn = node.func
            if getattr(fn, "attr", getattr(fn, "id", None)) == "mkdtemp":
                self.found.append(self.stack[-1])
            self.generic_visit(node)

    offenders, atexit_users, evict_users = [], [], []
    for p in sorted(pkg.rglob("*.py")):
        rel = p.relative_to(pkg).as_posix()
        text = p.read_text()
        sites = Sites()
        sites.visit(ast.parse(text))
        offenders += [f"{rel}:{fn}" for fn in sites.found if (rel, fn) not in allowed]
        if "atexit" in text and rel != "sources/tables.py":
            atexit_users.append(rel)
        if "on_evict" in text:
            evict_users.append(rel)
    assert offenders == []
    assert atexit_users == []
    assert evict_users == []


def test_owned_dirs_are_removed_at_exit(tmp_path):
    """Owned dirs still alive when the interpreter exits are deleted,
    contents and all, wherever ``TMPDIR`` placed them."""
    import pathlib
    import subprocess
    import sys

    import monday_etl_automation_spark

    root = pathlib.Path(monday_etl_automation_spark.__file__).parent.parent
    script = (
        "import os, sys\n"
        f"sys.path.insert(0, {str(root)!r})\n"
        "from monday_etl_automation_spark.sources.tables import owned_tempdir\n"
        "for prefix in ('dead_letter_', 'timer_src_'):\n"
        "    open(os.path.join(owned_tempdir(prefix), 'part.parquet'), 'w').close()\n"
        "print(len(os.listdir(os.environ['TMPDIR'])))\n"
    )
    env = {**os.environ, "TMPDIR": str(tmp_path)}
    out = subprocess.run(
        [sys.executable, "-c", script], env=env, capture_output=True, text=True, timeout=120
    )
    assert out.returncode == 0, out.stderr
    assert out.stdout.strip() == "2"  # both existed before exit
    assert os.listdir(tmp_path) == []


def test_only_tables_module_calls_session_artifact_cache():
    """One home for the snapshot-memo rule: every derived artifact is
    memoized through sources/tables.py:snapshot_memo, so no other
    module may hand-roll the get / build / put sequence."""
    import pathlib

    import monday_etl_automation_spark

    pkg = pathlib.Path(monday_etl_automation_spark.__file__).parent
    home = pkg / "sources" / "tables.py"
    offenders = sorted(
        str(p.relative_to(pkg))
        for p in pkg.rglob("*.py")
        if p != home and "session_artifact_cache(" in p.read_text()
    )
    assert offenders == []


def test_snapshot_memo_builds_once_per_snapshot(tmp_path, monkeypatch):
    """snapshot_memo builds once per key, rebuilds (evicting the old
    entry and deleting the dir it owned) when the file's (mtime, size)
    changes, and stores nothing when the build raises. Only session
    attributes are touched, so a bare namespace stands in for the
    SparkSession."""
    import tempfile
    import types

    import pytest

    from monday_etl_automation_spark.sources.tables import (
        owned_tempdir,
        snapshot_key,
        snapshot_memo,
    )

    session = types.SimpleNamespace()
    f = tmp_path / "events.parquet"
    f.write_bytes(b"a")
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    builds = []

    def build():
        builds.append(owned_tempdir("probe_"))
        return builds[-1]

    def memo():
        return snapshot_memo(session, "probe", snapshot_key(str(tmp_path), "events"), build)

    assert memo() == builds[0]
    assert memo() == builds[0]
    assert len(builds) == 1

    f.write_bytes(b"ab")
    os.utime(f, ns=(1, 1))
    assert memo() == builds[1]
    assert not os.path.exists(builds[0]), "the superseded entry's dir must go"
    assert os.path.isdir(builds[1])
    assert list(session._mea_cache_probe) == [snapshot_key(str(tmp_path), "events")]
    session._mea_cache_probe.clear()

    def boom():
        raise RuntimeError("build failed")

    with pytest.raises(RuntimeError):
        snapshot_memo(session, "failing", snapshot_key(str(tmp_path), "events"), boom)
    assert dict(session._mea_cache_failing) == {}


def _restore_views(spark, sf_dir, saved) -> None:
    from monday_etl_automation_spark.sources.tables import clear_artifact_caches, register_views

    clear_artifact_caches(spark)
    spark._mea_views_sf_dir = None
    register_views(spark, sf_dir)
    spark._mea_views_sf_dir = saved


def test_landing_a_byte_identical_snapshot_runs_no_spark_job(spark, sf_dir, tmp_path, spark_jobs):
    """Once the session has seen a snapshot's parquet footers, landing a
    byte-identical copy in a new directory opens every table from the
    footer-keyed schema memo: no schema-inference job (one per table
    when each open inferred its schema), and the fixture views over the
    copy serve the same rows."""
    import shutil

    from monday_etl_automation_spark.sources.fixtures import register_fixture_views

    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    shutil.copytree(sf_dir, a)
    saved = getattr(spark, "_mea_views_sf_dir", None)
    try:
        register_fixture_views(spark, a)
        want = {t: sorted(spark.table(t).collect()) for t in ("items", "files")}
        shutil.copytree(a, b)
        _, jobs = spark_jobs(lambda: register_fixture_views(spark, b))
        assert jobs == []
        assert {t: sorted(spark.table(t).collect()) for t in ("items", "files")} == want
        assert want["items"] and want["files"]
    finally:
        _restore_views(spark, sf_dir, saved)


def test_load_table_schema_matches_spark_inference(spark, sf_dir):
    """The schema handed to every table scan is exactly what Spark
    infers (and normalize_ts maps) for the same file."""
    from monday_etl_automation_spark.sources.tables import TABLES

    for name in TABLES:
        got = load_table(spark, sf_dir, name).schema
        inferred = normalize_ts(spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))).schema
        assert got == inferred, name


def test_schema_memo_separates_timestamp_encodings(spark, sf_dir, tmp_path):
    """events.ts written as TIMESTAMP(NANOS) and as TIMESTAMP(MICROS) in
    one session: the footers differ, so the memo never serves the nanos
    copy's LongType read schema to the micros file, and both load as
    the same TimestampType values."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from monday_etl_automation_spark.sources.tables import parquet_schema

    table = pq.read_table(os.path.join(sf_dir, "events.parquet"))
    ts = table.schema.get_field_index("ts")
    dirs = {}
    for unit in ("ns", "us"):
        d = tmp_path / unit
        d.mkdir()
        recast = table.set_column(ts, "ts", table.column("ts").cast(pa.timestamp(unit)))
        pq.write_table(recast, str(d / "events.parquet"), version="2.6")
        dirs[unit] = str(d)
    values = {}
    for unit, d in dirs.items():
        df = load_table(spark, d, "events")
        assert isinstance(df.schema["ts"].dataType, T.TimestampType)
        values[unit] = sorted(r[0] for r in df.select(F.col("ts").cast("timestamp_ntz")).collect())
    raw = {u: parquet_schema(spark, os.path.join(d, "events.parquet"))["ts"].dataType for u, d in dirs.items()}
    assert isinstance(raw["ns"], T.LongType) and isinstance(raw["us"], T.TimestampNTZType)
    assert len(values["us"]) == table.num_rows > 0
    assert values["ns"] == values["us"]


def test_table_cache_holds_only_live_snapshots(spark, sf_dir, tmp_path):
    """A refresh loop lands each snapshot in a new directory and keeps
    the newest two. After four landings the table cache holds exactly
    the live snapshots' relations, and none whose file is gone."""
    import shutil

    from monday_etl_automation_spark.sources.tables import TABLES, register_views

    saved = getattr(spark, "_mea_views_sf_dir", None)
    live: list[str] = []
    try:
        for i in range(4):
            d = str(tmp_path / f"snapshot_{i}")
            shutil.copytree(sf_dir, d)
            live.append(d)
            while len(live) > 2:
                shutil.rmtree(live.pop(0))
            register_views(spark, d)
        cache = spark._mea_table_cache
        ours = [k for k in cache if k[0].startswith(str(tmp_path))]
        assert sorted({k[0] for k in ours}) == sorted(live)
        assert len(ours) == len(live) * len(TABLES)
        gone = [k for k in cache if not os.path.exists(os.path.join(k[0], f"{k[1]}.parquet"))]
        assert gone == []
    finally:
        _restore_views(spark, sf_dir, saved)


# the job-free builders served through sources/tables.py:snapshot_plan
_PLAN_MEMO_ENTRIES = {
    "flagship_depot_selection",
    "binary_pipeline",
    "media_pipeline",
    "s1_point_lookup",
    "s4_formula_routing",
    "p1_extract_pdf_asset_ids",
    "a1_next_start_id",
    "a2_success_counts",
    "a3_processed_counters",
    "w3_auto_increment",
    "f_naming_pipeline",
    "g1_structure_lot",
}


def _plan_memo_builders() -> dict:
    from monday_etl_automation_spark.plans import registry

    return {n: fn for n, fn in registry.queries().items() if hasattr(fn, "__wrapped__")}


def _drop_plan_memos(spark) -> None:
    for attr in list(vars(spark)):
        if attr.startswith("_mea_cache_plan_"):
            getattr(spark, attr).clear()


def test_plan_memo_reserves_the_same_handle(spark, sf_dir):
    """Each memoized builder hands back the very same DataFrame on a
    repeat call for the same snapshot."""
    builders = _plan_memo_builders()
    assert set(builders) == _PLAN_MEMO_ENTRIES
    for name, fn in builders.items():
        assert fn(spark, sf_dir) is fn(spark, sf_dir), name


def test_plan_memo_fresh_build_runs_no_job(spark, sf_dir, spark_jobs):
    """A memoized plan is only a plan: building one afresh (views and
    schema memo already warm) runs no Spark job."""
    builders = _plan_memo_builders()
    assert set(builders) == _PLAN_MEMO_ENTRIES
    for fn in builders.values():
        fn(spark, sf_dir)
    _drop_plan_memos(spark)
    ran = {}
    for name, fn in builders.items():
        _, ran[name] = spark_jobs(lambda fn=fn: fn(spark, sf_dir))
    assert ran == dict.fromkeys(builders, [])


def test_plan_memo_rebuilds_for_a_copied_snapshot(spark, sf_dir, tmp_path):
    """A byte-identical copy at a new path is a new snapshot: the memo
    builds a new handle for it, over the copy, with the same rows."""
    import shutil

    copy = str(tmp_path / "copy")
    shutil.copytree(sf_dir, copy)
    builders = _plan_memo_builders()
    saved = getattr(spark, "_mea_views_sf_dir", None)
    try:
        for name in ("s1_point_lookup", "w3_auto_increment", "media_pipeline"):
            fn = builders[name]
            here = fn(spark, sf_dir)
            want = sorted(here.collect())
            there = fn(spark, copy)
            assert there is not here, name
            files = there.inputFiles()
            assert files and all(copy in f for f in files), name
            assert sorted(there.collect()) == want, name
    finally:
        _restore_views(spark, sf_dir, saved)


def test_reserved_plan_reexecutes_every_write(spark, sf_dir, spark_jobs):
    """A re-served handle never reuses a QueryExecution: each noop write
    runs as many jobs and stages (with tasks) as the first."""
    df = _plan_memo_builders()["a2_success_counts"](spark, sf_dir)
    st = spark.sparkContext.statusTracker()

    def write():
        _, jobs = spark_jobs(lambda: df.write.format("noop").mode("overwrite").save())
        stages = {s for j in jobs for s in st.getJobInfo(j).stageIds}
        return len(jobs), sum(1 for s in stages if st.getStageInfo(s).numCompletedTasks > 0)

    first = write()
    assert first[0] > 1 and first[1] > 1, first
    assert write() == first
