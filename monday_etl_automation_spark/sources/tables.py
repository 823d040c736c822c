"""Parquet table sources.

The engine's batch sources are columnar parquet scans — Catalyst pushes
filters and prunes columns into the scan (the reference hand-rolled both
as GraphQL query construction, fixed_signature_utils.py:257-289; here
they are free). At 100 TB these scans are the leaves of every plan, so
nothing below ever materializes a table eagerly: loaders return lazy
DataFrames and all pruning happens in the optimizer.

A snapshot table is opened only by `load_table`, with the schema
`parquet_schema` hands it up front (Spark SQL lets a data source declare
its schema, so a known schema needs no discovery pass). `parquet_schema`
keys a per-session memo on the file's parquet footer — read with
pyarrow, metadata only — so landing a byte-identical snapshot in a new
directory runs no Spark job; only a footer schema the session has not
seen pays Spark's schema-inference job. `event_stream` takes the stream
schema from the same helper.

Every directory the engine makes that outlives one call comes from
`owned_tempdir`; evicting the artifact entry that names it,
`drop_owned_inputs` on the frames that read it, or interpreter exit
deletes it.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
from urllib.parse import unquote, urlparse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def normalize_ts(df: DataFrame, col: str = "ts") -> DataFrame:
    """Normalize a timestamp column to TimestampType regardless of the
    physical parquet encoding it arrived under.

    The driver regenerates the test parquet between rounds and the
    ``events.ts`` encoding has already drifted once (TIMESTAMP(NANOS)
    -> naive TIMESTAMP(MICROS)); this is the single choke point where
    every encoding becomes the same logical column:

    - ``LongType`` — nanos-as-long (``spark.sql.legacy.parquet
      .nanosAsLong``): integer ``div 1000`` to micros, then
      ``timestamp_micros``. ``/`` would widen to double and lose
      precision above 2^53 (nanos since epoch is ~2^60).
    - ``TimestampNTZType`` — naive micros: with the UTC session the
      ``cast("timestamp")`` is instant-identical and lossless.
    - ``TimestampType`` — already normalized, no-op.

    Batch (`load_table`) and streaming (`streaming.pipeline
    .event_stream`) both route through here, so a future drift breaks
    in exactly one place — and `tests/test_sources.py` pins the
    loaded range so it breaks loudly.
    """
    for field in df.schema.fields:
        if field.name != col:
            continue
        if isinstance(field.dataType, T.LongType):
            df = df.withColumn(col, F.timestamp_micros(F.expr(f"{col} div 1000")))
        elif isinstance(field.dataType, T.TimestampNTZType):
            df = df.withColumn(col, F.col(col).cast("timestamp"))
    return df


# Every SQL conf Spark's parquet-to-Spark schema converter
# (ParquetToSparkSchemaConverter) reads: one footer maps to a different
# Spark schema under another setting, so each is part of the memo key.
_PARQUET_SCHEMA_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.fieldId.read.enabled",
    "spark.sql.parquet.ignoreVariantAnnotation",
    "spark.sql.parquet.reader.respectUnknownTypeAnnotation.enabled",
    "spark.sql.caseSensitive",
)


def _footer_key(path: str) -> tuple:
    """What Spark derives a file's schema from, read from the parquet
    footer alone: the schema structure (group annotations via the arrow
    view, every leaf's physical/logical type and levels) and the
    key-value metadata, which holds Spark's own row-metadata schema when
    Spark wrote the file. Raises on anything that is not one readable
    parquet file (a Spark output directory, a missing path)."""
    import pyarrow.parquet as pq

    meta = pq.read_metadata(path)
    schema = meta.schema
    leaves = tuple(
        (c.path, c.physical_type, c.logical_type.to_json(), c.converted_type,
         c.max_definition_level, c.max_repetition_level, c.length, c.precision, c.scale)
        for c in map(schema.column, range(len(schema)))
    )
    arrow = schema.to_arrow_schema().to_string(show_schema_metadata=False)
    return arrow, leaves, tuple(sorted((meta.metadata or {}).items()))


def parquet_schema(spark: SparkSession, path: str) -> T.StructType:
    """The Spark schema of the parquet file at ``path``, without a
    schema-inference job when the session has already inferred it for
    an identical footer under the same conversion confs.

    The memo key IS the footer schema (plus the confs), so an in-place
    rewrite under another encoding misses and nothing can go stale; the
    value always comes from Spark's own inference
    (``spark.read.parquet(path).schema``). The memo is a plain session
    attribute, not a ``_mea_cache_*`` artifact cache: those are emptied
    on every view registration, which would re-infer on every landing.
    A path that is not a single readable parquet file is inferred
    uncached."""
    try:
        key = _footer_key(path)
    except Exception:  # noqa: BLE001 (directory or unreadable: Spark decides)
        return spark.read.parquet(path).schema
    key += tuple(spark.conf.get(c) for c in _PARQUET_SCHEMA_CONFS)
    memo = getattr(spark, "_mea_parquet_schemas", None)
    if memo is None:
        memo = {}
        spark._mea_parquet_schemas = memo  # noqa: SLF001 (own session tag)
    schema = memo.get(key)
    if schema is None:
        schema = memo[key] = spark.read.parquet(path).schema
    return schema


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Lazy parquet scan of one test table.

    ``events.ts`` has shipped under multiple physical encodings across
    driver rounds; `normalize_ts` maps them all to a microsecond
    TimestampType. DuckDB reads the same column as a naive microsecond
    TIMESTAMP, so under the UTC session the two engines agree to the
    microsecond and the conversion is oracle-exact.
    """
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    # memoized per (session, sf_dir, table): opening a relation costs a
    # driver-side file listing (~100ms); multi-shape queries
    # (tpch_extra: 16 shapes x ~3 tables) would otherwise pay it ~50x
    # per BUILD. DataFrames are immutable logical plans, so sharing one
    # relation across queries in a session is free and safe.
    cache = getattr(spark, "_mea_table_cache", None)
    if cache is None:
        cache = {}
        spark._mea_table_cache = cache  # noqa: SLF001 (own session tag)
    # the key carries the file's (mtime_ns, size): the cached plan pins
    # the parquet footer/listing from first read, and this environment
    # is KNOWN to regenerate /root/testdata mid-round (round-5
    # incident) — a stale plan would silently read the old snapshot.
    # One os.stat per call is ~1000x cheaper than the listing it saves.
    key = snapshot_key(sf_dir, name)
    cached = cache.get(key)
    if cached is not None:
        return cached
    # a miss: drop this table's superseded snapshots and every relation
    # whose file is gone, or a refresh loop that lands each snapshot in
    # a new directory grows the cache by one relation per table forever
    for k in list(cache):
        if k[:2] == key[:2] or not os.path.exists(os.path.join(k[0], f"{k[1]}.parquet")):
            del cache[k]
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # oracle parity must not depend on the caller's session config:
    # DuckDB timestamps are UTC-naive, so timestamp rendering/windowing
    # must be UTC even if the driver built its own SparkSession
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    fpath = os.path.join(sf_dir, f"{name}.parquet")
    df = normalize_ts(spark.read.schema(parquet_schema(spark, fpath)).parquet(fpath))
    cache[key] = df
    return df


def snapshot_key(sf_dir: str, name: str) -> tuple:
    """(sf_dir, table, mtime_ns, size) — the cache key that pins a
    derived artifact (trained quantizer, LSH bucket index, near-pair
    relation) to the exact file snapshot it was computed from. This
    environment is KNOWN to regenerate /root/testdata mid-round; a
    derived artifact served across a regeneration would silently
    describe vanished rows."""
    fpath = os.path.join(sf_dir, f"{name}.parquet")
    try:
        st = os.stat(fpath)
        return (sf_dir, name, st.st_mtime_ns, st.st_size)
    except OSError:
        return (sf_dir, name, None, None)


def scan_split_ceiling(sf_dir: str, name: str) -> int:
    """Upper bound on the number of scan tasks the table's parquet
    layout can yield: row groups are Spark's split granularity, so a
    file written as ONE row group is read by ONE task no matter what
    ``maxPartitionBytes`` says. Footer-only read (KBs), memoized by
    callers via snapshot_key. Returns a huge number on any error so
    the adaptive branch below never fires on uncertainty."""
    try:
        import pyarrow.parquet as pq

        return pq.ParquetFile(os.path.join(sf_dir, f"{name}.parquet")).metadata.num_row_groups
    except Exception:  # noqa: BLE001
        return 1 << 30


def spread_n(spark: SparkSession, sf_dir: str, name: str) -> int | None:
    """Guide §2.5 input-skew gate ("one huge unsplittable file ...
    otherwise repartition immediately after the read"): the partition
    count to spread an unsplittable scan of ``name`` over, or None when
    the parquet layout already yields >= cores/2 scan tasks (the 100 TB
    case, where spreading must not fire). LAYOUT-adaptive, not
    scale-tuned: it fires only on the pathological single-row-group
    input the guide describes. Callers apply it as ``df.repartition(n)``
    right after the read or as a ``/*+ REPARTITION(n) */`` hint, BEFORE
    heavy derivations so the exchange carries raw columns, never derived
    payloads (the r14 lesson: repartitioning encoded binary cost more
    than it saved). Footer-only row-group probe, snapshot-memoized."""
    cpus = spark.sparkContext.defaultParallelism
    key = ("scan_split_ceiling",) + snapshot_key(sf_dir, name)
    ceiling = snapshot_memo(spark, "scan_split_ceiling", key, lambda: scan_split_ceiling(sf_dir, name))
    return None if ceiling * 2 > cpus else cpus


_OWNED_DIRS: set[str] = set()


def owned_tempdir(prefix: str) -> str:
    """THE way to make a directory that outlives one call: a fresh
    ``tempfile.mkdtemp`` (so ``tempfile.tempdir`` still places it) that
    the engine owns. An artifact cache entry naming it deletes it on
    eviction (``_ArtifactCache``); whatever is left goes at interpreter
    exit."""
    path = tempfile.mkdtemp(prefix=prefix)
    _OWNED_DIRS.add(path)
    return path


def _drop_owned(paths) -> None:
    for path in paths:
        _OWNED_DIRS.discard(path)
        shutil.rmtree(path, ignore_errors=True)  # cleanup never fails a query


@atexit.register
def _drop_all_owned() -> None:
    _drop_owned(list(_OWNED_DIRS))


def drop_owned_inputs(*frames: DataFrame) -> None:
    """Delete the owned dirs that ``frames`` read, for a caller that has
    already materialized all it needs from them: afterwards the frames
    themselves can no longer run."""
    files = [unquote(urlparse(f).path) for df in frames for f in df.inputFiles()]
    _drop_owned([d for d in list(_OWNED_DIRS) if any(f.startswith(d + os.sep) for f in files)])


def _owned_by(value) -> set[str]:
    """The owned directories a cached value names: the value itself, or
    the elements of a tuple value. Any other path (an sf_dir, say) is
    never the engine's to delete."""
    parts = value if isinstance(value, tuple) else (value,)
    return {p for p in parts if isinstance(p, str) and p in _OWNED_DIRS}


class _ArtifactCache(dict):
    """Snapshot-keyed artifact dict that EVICTS superseded snapshots on
    insert: a testdata regeneration changes the (mtime, size) part of
    the key, and without eviction the old entry's checkpointed blocks
    (linear in corpus size for shingle/pair relations) stay pinned in
    executor storage for the session lifetime. Identity = the key with
    mtime/size stripped, so one entry per (sf_dir, table [, ...])
    survives. Dropping the reference lets Spark's ContextCleaner
    unpersist the orphaned checkpoint blocks; an evicted entry's owned
    dirs (``owned_tempdir``), which no collector reclaims, are deleted.

    CONSUMER CONTRACT (r16 advice): for entries that name owned dirs,
    eviction (clear() or a snapshot regeneration) invalidates any lazy
    DataFrame previously returned for the evicted entry — its parquet
    source is gone, and executing the stale handle fails with missing
    files. Consumers must re-resolve the artifact through the builder
    after any clear/regeneration, never hold a handle across one; every
    builder in this repo is already re-entrant (cache-miss -> rebuild),
    so "re-resolve" is just calling the builder again.
    """

    @staticmethod
    def _identity(key):
        if isinstance(key, tuple) and key and isinstance(key[0], tuple):
            return tuple(_ArtifactCache._identity(k) for k in key)
        if isinstance(key, tuple) and len(key) >= 2:
            return key[:2]
        return key

    def __setitem__(self, key, value):
        ident = self._identity(key)
        for k in [k for k in self if self._identity(k) == ident and k != key]:
            _drop_owned(_owned_by(dict.pop(self, k)))
        dict.__setitem__(self, key, value)

    def clear(self):
        for old in self.values():
            _drop_owned(_owned_by(old))
        dict.clear(self)


def session_artifact_cache(spark: SparkSession, tag: str) -> dict:
    """Per-session dict for snapshot-keyed derived artifacts."""
    attr = f"_mea_cache_{tag}"
    cache = getattr(spark, attr, None)
    if cache is None:
        cache = _ArtifactCache()
        setattr(spark, attr, cache)
    return cache


def snapshot_memo(spark: SparkSession, tag: str, key, build):
    """THE way to memoize a derived artifact per (session, file snapshot):
    return the ``tag`` cache's entry for ``key`` (built from
    ``snapshot_key``), calling ``build()`` and storing its result on a
    miss. DataFrames are immutable logical plans, so re-serving a stored
    handle is safe. A ``build()`` that raises stores nothing; storing a
    new snapshot's entry evicts the superseded one (``_ArtifactCache``).
    Resolves the cache through ``session_artifact_cache`` on every call."""
    cache = session_artifact_cache(spark, tag)
    hit = cache.get(key)
    if hit is None:
        hit = build()
        cache[key] = hit
    return hit


def bind_table(spark: SparkSession, sf_dir: str, name: str) -> None:
    """Direct-call cache-poisoning guard for snapshot-keyed builders:
    ensure view ``name`` reflects THIS sf_dir before training/indexing
    reads it, without requiring the full 10-table registration (a
    partial snapshot dir — e.g. an embeddings-only fixture — must
    still work).

    If the session's full view mapping is already bound to sf_dir, the
    views are right (including deliberate test overrides of a single
    view, which leave the tag in place — those keep working). Otherwise
    rebind just this table and DROP the tag: the session now holds a
    mixed mapping, so the next register_views must not skip."""
    if getattr(spark, "_mea_views_sf_dir", None) == sf_dir:
        return
    load_table(spark, sf_dir, name).createOrReplaceTempView(name)
    spark._mea_views_sf_dir = None  # noqa: SLF001 (mixed mapping: force re-register)


def clear_artifact_caches(spark: SparkSession) -> None:
    """Drop every snapshot-keyed derived artifact (signature indexes,
    ANN buckets, IVF assignments) in this session.

    The snapshot key covers the FILE, not the temp view: a caller that
    overrides the ``documents``/``embeddings`` view (the injection
    tests do, to plant duplicates) would otherwise poison the cache —
    the artifact built from the overridden view stays keyed under the
    untouched file's snapshot and serves wrong answers after the view
    is restored. Every view override must bracket itself with this."""
    for attr in list(vars(spark)):
        if attr.startswith("_mea_cache_"):
            getattr(spark, attr).clear()


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register all the test tables as temp views for the SQL surface
    (``bind_table`` rebinds a single view).

    Idempotent per (session, sf_dir): repeat calls with the same
    sf_dir skip the parquet re-open (file listing + footer read per
    table costs >1s wall for 10 tables, which would otherwise be paid
    by every query build). Switching sf_dir re-registers everything.
    """
    if getattr(spark, "_mea_views_sf_dir", None) == sf_dir:
        return
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
    spark._mea_views_sf_dir = sf_dir  # noqa: SLF001 (own session tag)
    # base views changed — any fixture views derived from them are stale
    spark._mea_fixtures_sf_dir = None  # noqa: SLF001
    # ...and so is any artifact built while a DIFFERENT view mapping
    # was live. Clearing here makes the common restore idiom
    # (`spark._mea_views_sf_dir = None; register_views(...)`) safe even
    # when the caller forgets clear_artifact_caches; direct
    # createOrReplaceTempView overrides still need the explicit bracket.
    clear_artifact_caches(spark)
