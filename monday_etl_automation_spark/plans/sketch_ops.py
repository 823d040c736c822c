"""Approximate sketches — the sublinear-memory aggregation family.

Exact distinct counts, percentiles, and heavy-hitter lists all require
state proportional to cardinality; at 100 TB the sketch versions are
the only ones that fit an executor. Everything here is a built-in JVM
aggregate (DataSketches HLL, Spark's GK-quantile, count-min), so the
map-side partials ARE the sketches: a 1000-executor scan sends one
KB-sized sketch per partition instead of the key universe.

Why these are trustworthy enough to ship: each has a pytest contract in
tests/test_sketches.py pinning (a) error vs the exact answer on the
test tables (tolerance = the sketch's published bound), and (b) the
MERGE law — union of per-partition sketches equals the whole-table
sketch — which is the property that makes them correct under Spark's
partial/final aggregation, task retry, and AQE re-planning.

These are deliberately pytest-only (not registry entries): approximate
answers cannot hash-match a DuckDB oracle; the contract is a bound, not
equality (CLAUDE.md registry-cap pattern).

Reference parity: the reference has no aggregation surface at all
(SURVEY §2.4 — its counters are Python loops, Leyton_depot.py:517-545);
this is §2.12 scale surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from monday_etl_automation_spark.sources.tables import load_table

# lg_k=12 → 4 KB sketches, ~1.6% relative standard error — the trade
# for billion-key cardinalities.
_LG_K = 12
_GK_ACCURACY = 10000  # rank error <= 1/accuracy
_CMS_EPS, _CMS_CONFIDENCE, _CMS_SEED = 0.001, 0.99, 42


def hll_distinct_per_group(df: DataFrame, keys: list[str], col: str) -> DataFrame:
    """Per-group distinct-count estimates via DataSketches HLL."""
    return df.groupBy(*keys).agg(
        F.hll_sketch_estimate(F.hll_sketch_agg(F.col(col), F.lit(_LG_K))).alias("n_distinct_est")
    )


def hll_sketch_per_group(df: DataFrame, keys: list[str], col: str) -> DataFrame:
    """Materialize the per-group sketches themselves (BINARY) — the
    shape for incremental pipelines: store sketches per partition/day,
    answer any rollup later with hll_union_agg, never rescan."""
    return df.groupBy(*keys).agg(F.hll_sketch_agg(F.col(col), F.lit(_LG_K)).alias("hll"))


def hll_union_estimate(sketches: DataFrame, keys: list[str] | None = None) -> DataFrame:
    """Merge stored sketches (optionally regrouped by a coarser key)
    and estimate — the rollup-without-rescan read path."""
    grouped = sketches.groupBy(*keys) if keys else sketches.groupBy()
    return grouped.agg(F.hll_sketch_estimate(F.hll_union_agg("hll")).alias("n_distinct_est"))


def approx_quantiles_per_group(
    df: DataFrame, keys: list[str], col: str, probabilities: list[float]
) -> DataFrame:
    """Per-group approximate percentiles (Greenwald-Khanna): rank error
    <= 1/accuracy, state O(accuracy * log n) per group vs O(n) for the
    exact sort-based quantile (`quantile_stats` is the exact twin)."""
    return df.groupBy(*keys).agg(
        F.approx_percentile(
            F.col(col), F.array(*[F.lit(p) for p in probabilities]), F.lit(_GK_ACCURACY)
        ).alias("quantiles")
    )


def frequent_items(df: DataFrame, col: str) -> DataFrame:
    """Heavy hitters above 1% frequency (Karp-Papadimitriou-Shenker
    single-pass): the skew probe at corpus scale — candidates
    may include false positives (the algorithm's contract), so pair
    with one exact count over the small candidate set to confirm
    (`operators/skew.py:hot_keys` is that exact pass at test scale)."""
    return df.stat.freqItems([col], 0.01)


def count_min_error_bound(df: DataFrame, col: str):
    """Count-min sketch over a column; returns the sketch (binary,
    mergeable) — point-lookup frequency estimates with additive error
    <= eps * N at the given confidence. Exposed for feature pipelines
    that need per-token/user counts without a groupBy the size of the
    vocabulary."""
    return df.select(
        F.count_min_sketch(
            F.col(col), F.lit(_CMS_EPS), F.lit(_CMS_CONFIDENCE), F.lit(_CMS_SEED)
        ).alias("cms")
    )


def sketch_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-stop sketch demo over events: per-type HLL user estimates
    beside exact counts (the error columns tests assert on)."""
    ev = load_table(spark, sf_dir, "events")
    est = hll_distinct_per_group(ev, ["event_type"], "user_id")
    exact = ev.groupBy("event_type").agg(F.countDistinct("user_id").alias("n_distinct"))
    return (
        est.join(exact, "event_type")
        .select(
            "event_type",
            "n_distinct",
            "n_distinct_est",
            (F.abs(F.col("n_distinct_est") - F.col("n_distinct")) / F.col("n_distinct")).alias(
                "rel_err"
            ),
        )
        .orderBy("event_type")
    )
