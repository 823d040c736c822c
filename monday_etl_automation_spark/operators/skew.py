"""Skew mitigation: salted joins and two-phase aggregation.

AQE's skew-join splitting (on in ``session.py``) handles most hot keys
by splitting oversized shuffle partitions, but it only kicks in for
sort-merge joins and can't help a hot *grouping* key (one reducer still
owns the whole group) or a replicated (broadcast-too-big) dim join.
These operators are the explicit levers SCALE.md documents for those
cases — deterministic (retry-safe: salts derive from row content via
``xxhash64``, never from ``rand()``), exact (salt is internal plumbing,
results match the unsalted twin bit-for-bit — pinned by
tests/test_skew.py), and shaped so the call site chooses ``n_salts``
from observed key frequencies, not hardcoded.

Reference parity note: the reference never meets skew (it processes one
webhook at a time); this is §2.12 scale surface. At 100 TB a zipfian
``user_id`` or a default/null key routinely owns >10% of a table, and a
single straggler task serializes the stage — salting bounds any task's
share of a hot key at 1/n_salts.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _salt_col(df: DataFrame, n_salts: int, salt_on: str | None) -> Column:
    """Deterministic per-row salt in [0, n_salts). Derived from a
    row-unique column when the caller names one (stable under task
    retry and under AQE re-execution), else from the whole row."""
    src = F.col(salt_on) if salt_on else F.struct(*[F.col(c) for c in df.columns])
    return F.pmod(F.xxhash64(src), F.lit(n_salts)).cast("int")


def salted_join(
    skewed: DataFrame,
    other: DataFrame,
    on: list[str],
    n_salts: int = 8,
    how: str = "inner",
    salt_on: str | None = None,
) -> DataFrame:
    """Equi-join where ``skewed`` has hot keys: each skewed row gets a
    salt in [0, n_salts); ``other`` is replicated n_salts times (one
    copy per salt) so the join key becomes (keys..., salt) and a hot
    key's rows spread over n_salts reducers instead of one.

    Cost model: ``other`` is shuffled n_salts× (replication is the
    price of spreading the hot side) — use when ``other`` is much
    smaller than the skewed side but too big to broadcast, or when one
    key dominates enough that a straggler costs more than the
    replication. Exact: same rows as the unsalted join, any join type
    whose semantics survive replication on the ``other`` side (inner /
    left with skewed on the left).

    At 100 TB: pair with a frequency sketch (``hot_keys``) to salt
    ONLY the hot keys (two-path union) when replicating ``other``
    n_salts× is itself too expensive; plan shape here stays the same.
    """
    if how not in ("inner", "left"):
        raise ValueError(f"salted_join supports inner/left, got {how!r}")
    salted = skewed.withColumn("_salt", _salt_col(skewed, n_salts, salt_on))
    replicated = other.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1)))
    ).withColumn("_salt", F.col("_salt").cast("int"))
    return salted.join(replicated, [*on, "_salt"], how).drop("_salt")


def salted_join_hot_only(
    skewed: DataFrame,
    other: DataFrame,
    on: list[str],
    hot: DataFrame,
    n_salts: int = 8,
    how: str = "inner",
    salt_on: str | None = None,
) -> DataFrame:
    """Two-path salted join: ONLY the hot keys pay the salting tax.

    ``salted_join`` replicates the whole ``other`` side n_salts× even
    though only the hot keys need spreading — for a mostly-uniform key
    distribution that's n_salts× wasted shuffle. This variant splits
    on membership in ``hot`` (a key frame from ``hot_keys`` — small by
    construction, broadcast to both sides):

    - hot path:  skewed∩hot  salted-joins  other∩hot  (only the hot
      keys' dim rows are replicated);
    - cold path: plain equi-join for everything else (AQE handles it).

    Exact: the two paths partition the key space, so the union equals
    the unsalted join row-for-row (pinned by tests/test_skew.py).
    At 100 TB this is the default posture: the hot set is typically a
    handful of keys, so the replicated slice of ``other`` is KB-sized
    while the cold 99.99% of both tables moves exactly once."""
    if how not in ("inner", "left"):
        raise ValueError(f"salted_join_hot_only supports inner/left, got {how!r}")
    hot_k = F.broadcast(hot.select(*on).distinct())
    skew_hot = skewed.join(hot_k, on, "left_semi")
    skew_cold = skewed.join(hot_k, on, "left_anti")
    other_hot = other.join(hot_k, on, "left_semi")
    hot_joined = salted_join(skew_hot, other_hot, on, n_salts, how, salt_on)
    cold_joined = skew_cold.join(other, on, how)
    return hot_joined.unionByName(cold_joined)


def hot_keys(df: DataFrame, on: list[str], min_share: float = 0.01) -> DataFrame:
    """Keys owning more than ``min_share`` of the rows — the frequency
    probe that decides which keys need salting. ONE scan of ``df``:
    the per-key counts are materialized (|keys|-sized, spillable), and
    both the total and the threshold filter read that frame — a naive
    ``df.count()`` + ``groupBy`` would scan the (possibly unmaterialized,
    recomputed) input twice. At 100 TB run the probe on a sample
    (``df.sample(0.001)``) — hot keys by definition survive sampling."""
    counts = (
        df.groupBy(*on)
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .localCheckpoint(eager=True)
    )
    total = counts.agg(F.sum("n_rows")).collect()[0][0] or 0
    return counts.where(F.col("n_rows") >= F.lit(max(1.0, min_share * total)))


def salted_aggregate(
    df: DataFrame,
    keys: list[str],
    aggs: dict[str, tuple[str, Column]],
    n_salts: int = 8,
    salt_on: str | None = None,
) -> DataFrame:
    """Two-phase aggregation for hot grouping keys: groupBy
    (keys..., salt) computes partials in parallel across n_salts
    reducers, then groupBy(keys) merges n_salts partial rows per key.

    ``aggs`` maps output-column -> (agg_name, input Column) where
    agg_name is one of the associative built-ins sum / count / min /
    max — the same aggregate merges its own partials, except count,
    whose merge phase is sum.

    Note Spark's hash aggregate already does map-side partials, which
    handles *input* skew; what it cannot do is parallelize the FINAL
    merge of one hot key — that final merge is a single reducer
    receiving one partial per map task. Salting inserts a tree level:
    the hot key's final merge sees n_salts rows, each produced in
    parallel. Use for high-cardinality-input aggregations (collect-ish,
    exact distinct via two-level groupBy) or extreme single-key skew.
    """
    salted = df.withColumn("_salt", _salt_col(df, n_salts, salt_on))
    partial_exprs, merge_exprs = [], []
    for out, (fn, col) in aggs.items():
        if fn == "count":
            partial_exprs.append(F.count(col).alias(out))
            merge_exprs.append(F.sum(out).alias(out))
        elif fn in ("sum", "min", "max"):
            agg_f = getattr(F, fn)
            partial_exprs.append(agg_f(col).alias(out))
            merge_exprs.append(agg_f(out).alias(out))
        else:
            raise ValueError(f"non-associative aggregate {fn!r}")
    partial = salted.groupBy(*keys, "_salt").agg(*partial_exprs)
    return partial.groupBy(*keys).agg(*merge_exprs)


def salted_distinct_count(df: DataFrame, keys: list[str], distinct_col: str) -> DataFrame:
    """Exact COUNT(DISTINCT x) per hot key without routing every
    occurrence of the key to one reducer: phase 1 dedups on
    (keys, x) — the distinct shuffle spreads by (keys, x), which is
    high-cardinality even when keys is hot — phase 2 counts per key.
    This is the classic exact-distinct skew rewrite (what Spark does
    internally for one COUNT DISTINCT via Expand; provided explicitly
    for multi-stage pipelines that need the deduped intermediate)."""
    return (
        df.select(*keys, distinct_col)
        .distinct()
        .groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("n_distinct"))
    )
