"""Enrichment joins (SURVEY.md §2.3).

J1 — asset->URL enrichment (Leyton_depot.py:372-388). The reference
collects distinct asset ids, batch-resolves URLs in chunks of 50, then
maps them back by hand. In Spark that whole dance is one broadcast
left-outer hash join: the asset registry is a dimension, the distinct
+ chunking are what a broadcast join does internally, and missing
assets come back as NULL url (the reference's ``None`` path).

At 100 TB the fact side never shuffles for this join while the asset
registry is dim-sized; when it is NOT (the synthetic ``assets`` view
derives from lineitem, so it scales WITH the facts), the caller turns
the hint off and AQE picks the join from runtime sizes — the r18 sf10
probe measured the forced broadcast at 12.43x per 10x data (a ~2.5 GB
driver collect + rebroadcast, 96.2s); size-gated it re-measured 8.02x
(56.4s), back under the data ratio.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from monday_etl_automation_spark.sources.tables import normalize_ts


def enrich_with_assets(selected: DataFrame, assets: DataFrame, hint: bool = True) -> DataFrame:
    """Left-join the asset registry's public_url onto ``selected``.

    ``hint=True`` pins the broadcast (deterministic plan for the pin
    tests; correct whenever the registry is dim-sized). Callers whose
    registry scales with the fact side pass ``hint=False`` — the plan
    stays identical below spark.sql.autoBroadcastJoinThreshold (AQE
    converts to broadcast at runtime) and degrades to a shuffle join
    above it instead of force-collecting a fact-scale relation onto
    the driver."""
    dim = assets.select("asset_id", "public_url")
    return selected.join(F.broadcast(dim) if hint else dim, "asset_id", "left")


def asof_join_backward(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    payload: dict[str, str],
) -> DataFrame:
    """Backward (inclusive) as-of join: for each left row, attach the
    right-side row of the same ``key`` with the greatest ``right_ts``
    <= ``left_ts``; NULL payload when no such row exists.

    Spark has no as-of join operator; the idiomatic distributed shape
    is the union-marker trick: union both sides ordered by (key, ts,
    marker), then a running ``last(ignorenulls)`` window fills each
    left row with the most recent right payload. ONE shuffle on key —
    no range join, no per-key collect; at 100 TB this is the same cost
    as any keyed window.

    Ties: right rows sort before left rows at equal ts (inclusive
    semantics); among right rows with identical (key, ts) the payload
    struct's field order is the tiebreak, so pass the discriminating
    column (e.g. an event id) first in ``payload``.

    payload maps right-column -> output-column name.

    Accepts TIMESTAMP or TIMESTAMP_NTZ ts columns (normalized on
    entry) so an upstream encoding drift can't break the union's type
    resolution.
    """
    left = normalize_ts(left, left_ts)
    right = normalize_ts(right, right_ts)
    payload_struct = F.struct(*[F.col(c).alias(out) for c, out in payload.items()])
    r = right.select(
        F.col(key).alias("_k"),
        F.col(right_ts).alias("_t"),
        F.lit(0).alias("_m"),
        payload_struct.alias("_p"),
    )
    null_payload = F.lit(None).cast(r.schema["_p"].dataType)
    l = left.select(
        F.col(key).alias("_k"),
        F.col(left_ts).alias("_t"),
        F.lit(1).alias("_m"),
        null_payload.alias("_p"),
        *[F.col(c) for c in left.columns],
    )
    u = r.unionByName(l, allowMissingColumns=True)
    w = (
        Window.partitionBy("_k")
        .orderBy(F.col("_t").asc(), F.col("_m").asc(), F.col("_p").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    filled = u.withColumn("_last", F.last("_p", ignorenulls=True).over(w))
    out_cols = [F.col(c) for c in left.columns] + [
        F.col("_last").getField(out).alias(out) for out in payload.values()
    ]
    return filled.where(F.col("_m") == 1).select(*out_cols)


def bucketed_range_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    window_seconds: int,
) -> DataFrame:
    """Pairs (l, r) with same ``key`` and ``r.ts`` in
    ``[l.ts - window_seconds, l.ts)`` — a sliding-lookback range join;
    right columns come out prefixed ``r_``.

    A naive theta-join on the range predicate degenerates to
    per-key nested loops; the scale shape is candidate pruning by
    time bucket: with bucket width == window length, every matching
    right row lives in the left row's bucket or the one before it, so
    the probe side explodes into exactly 2 bucket keys and the join is
    a plain equi-join on (key, bucket) + an exact range filter.
    Output is exact (each right row belongs to exactly one bucket —
    no duplicate pairs, nothing missed).

    Accepts TIMESTAMP or TIMESTAMP_NTZ ts columns (normalized on
    entry — ``unix_micros`` rejects NTZ, which is exactly how the
    round-5 testdata drift surfaced here).
    """
    left = normalize_ts(left, left_ts)
    right = normalize_ts(right, right_ts)
    w_us = window_seconds * 1_000_000
    r = right.select(
        F.col(key).alias("_rk"),
        F.col(right_ts).alias("_rt"),
        (F.unix_micros(F.col(right_ts)) / F.lit(w_us)).cast("long").alias("_rbucket"),
        *[F.col(c).alias(f"r_{c}") for c in right.columns],
    )
    l = left.withColumn(
        "_lbucket",
        F.explode(
            F.array(
                (F.unix_micros(F.col(left_ts)) / F.lit(w_us)).cast("long") - 1,
                (F.unix_micros(F.col(left_ts)) / F.lit(w_us)).cast("long"),
            )
        ),
    )
    joined = l.join(
        r,
        (F.col(key) == F.col("_rk"))
        & (F.col("_lbucket") == F.col("_rbucket"))
        & (F.col("_rt") >= F.col(left_ts) - F.expr(f"INTERVAL {window_seconds} SECOND"))
        & (F.col("_rt") < F.col(left_ts)),
    )
    return joined.drop("_lbucket", "_rbucket", "_rk", "_rt")
