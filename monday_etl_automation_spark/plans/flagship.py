"""Flagship query (SURVEY.md §7.2; reference lifecycle §3.3).

"Latest matching document per item/column with fallback": the core of
``POST /depot_leyton/`` (Leyton_depot.py:648-696) as one declarative
Spark plan over the fixture tables —

    file cells (JSON, with malformed/NULL rows)
      -> from_json + explode (P1/P2, silent-null)
      -> accent-normalized predicates (P3/P4 via F1/F2)
      -> rule-tier cascade, min tier wins (U2/J3)
      -> top-1 / capped-all per (item, column) by created_at desc (W1)
      -> broadcast left join asset URLs (J1)

The JSON-cell stage exists because that IS the reference's input shape
(semi-structured cells, fixed_signature_utils.py:301-306); the DuckDB
oracle computes the same answer straight from the relational fixture,
which independently cross-checks the JSON round-trip.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from monday_etl_automation_spark.operators.joins import enrich_with_assets
from monday_etl_automation_spark.operators.selection import apply_rules, parse_file_cells
from monday_etl_automation_spark.sources.fixtures import register_fixture_views, with_fixtures
from monday_etl_automation_spark.sources.tables import snapshot_plan, spread_n

# Spark-only: fold the exploded fixture back into JSON cells, injecting
# the malformed / NULL cells the silent-null path must survive.
# {src} is `files`, optionally wrapped in a keyed REPARTITION (below).
FILE_CELLS_SQL = """
SELECT
  item_id,
  column_id,
  CASE
    WHEN item_id % 97 = 0 THEN '{{not valid json'
    WHEN item_id % 89 = 1 THEN NULL
    ELSE to_json(named_struct('files', collect_list(named_struct(
           'assetId', asset_id, 'name', file_name, 'createdAt', created_at))))
  END AS cell
FROM {src}
GROUP BY item_id, column_id
""".strip()

# r19: when the base parquet cannot yield even cores/2 scan tasks, the
# fold's map-side ObjectHashAggregate (partial collect_list) runs on
# ONE task — and partial collect_list never reduces shuffle bytes (the
# lists carry every row), so that single-task pass is pure overhead.
# A keyed REPARTITION on the group keys replaces the aggregation's own
# exchange (guide §2.4: two operations keyed the same way share one
# exchange) and moves the list building onto every core. Gated on the
# same footer probe as every spread (sources/tables.py): at 100 TB the
# scan has thousands of tasks and the plan stays byte-identical to
# r18's. Interleaved A/B at sf0.1: flagship 3.016 -> 2.295 min-of-5,
# rows identical (295,689).
_REPART_SRC = "(SELECT /*+ REPARTITION(item_id, column_id) */ * FROM files) files"


def build_file_cells(spark: SparkSession, spread: bool = False) -> DataFrame:
    return spark.sql(FILE_CELLS_SQL.format(src=_REPART_SRC if spread else "files"))


# Broadcast the assets join only while the base snapshot is small
# enough that the DISTINCT-derived assets view is genuinely dim-sized
# (it scales WITH lineitem, unlike a real asset registry). 32 MB of
# lineitem parquet ~ a few tens of MB of in-memory dim — comfortably
# inside the session's 64 MB autoBroadcastJoinThreshold. Above the
# bound the hint comes OFF and AQE picks from runtime sizes: the r18
# two-decade probe measured the forced broadcast at 12.43x per 10x
# data at sf10 (a ~2.5 GB collect-to-driver + rebroadcast, 96.2s);
# size-gated it re-measured 8.02x (56.4s), under the data ratio. The
# gate is file METADATA (os.stat), not a probe job, so plan shape
# stays deterministic per snapshot. All driver/pytest SFs (<= sf0.1,
# 11 MB) keep the pinned broadcast plan bit-identically.
_ASSETS_BCAST_FILE_MAX = 32 * 1024 * 1024


@snapshot_plan
def flagship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run the flagship selection pipeline over ``sf_dir``.

    Memoized per (session, snapshot): analyzing the
    fold→parse→rules→window→join chain costs ~0.3s of driver-side
    Catalyst work per build (measured r15), and the build runs no job.
    """
    register_fixture_views(spark, sf_dir)
    cells = build_file_cells(spark, spread=spread_n(spark, sf_dir, "lineitem") is not None)
    files = parse_file_cells(cells)
    selected = apply_rules(files, spark.table("rules"))
    try:
        small = os.path.getsize(os.path.join(sf_dir, "lineitem.parquet")) <= _ASSETS_BCAST_FILE_MAX
    except OSError:
        small = False
    enriched = enrich_with_assets(selected, spark.table("assets"), hint=small)
    return enriched.select(
        "item_id",
        "column_id",
        F.col("tier").cast("int").alias("tier"),
        F.col("sel_rank").cast("int").alias("sel_rank"),
        "asset_id",
        "file_name",
        # NTZ output (UTC session) = DuckDB's naive timestamp, arrow-exact
        F.col("created_key").cast("timestamp_ntz").alias("created_key"),
        "public_url",
    )


# DuckDB oracle: identical semantics, straight from the fixture CTEs.
# Dialect notes: DuckDB regexp_replace needs the 'g' flag (Spark is
# global by default); strip_accents ≡ our unaccent pandas UDF;
# row_number cast to INT to match Spark's IntegerType.
FLAGSHIP_ORACLE = with_fixtures(
    """
, f AS (
  SELECT
    item_id, column_id, asset_id, file_name, created_at,
    trim(regexp_replace(lower(strip_accents(file_name)), '\\s+', ' ', 'g')) AS nname,
    regexp_extract(lower(file_name), '\\.(pdf|jpe?g|png|xlsx?|docx?|txt)$', 1) AS ext
  FROM files
  WHERE item_id % 97 <> 0 AND item_id % 89 <> 1
),
cand AS (
  SELECT
    f.item_id, f.column_id, r.tier, r.pick, r.max_count, f.asset_id, f.file_name,
    COALESCE(f.created_at, TIMESTAMP '1970-01-01 00:00:00') AS created_key
  FROM f
  JOIN rules r ON f.column_id = r.column_id
  WHERE (r.file_type = 'any' OR f.ext = r.file_type)
    AND ((r.include_kw1 IS NULL AND r.include_kw2 IS NULL)
         OR (r.include_kw1 IS NOT NULL AND f.nname LIKE '%' || r.include_kw1 || '%')
         OR (r.include_kw2 IS NOT NULL AND f.nname LIKE '%' || r.include_kw2 || '%'))
    AND (r.exclude_kw1 IS NULL OR f.nname NOT LIKE '%' || r.exclude_kw1 || '%')
),
tiered AS (
  SELECT *, MIN(tier) OVER (PARTITION BY item_id, column_id) AS min_tier FROM cand
),
ranked AS (
  SELECT
    item_id, column_id, tier, pick, max_count, asset_id, file_name, created_key,
    CAST(ROW_NUMBER() OVER (
      PARTITION BY item_id, column_id
      ORDER BY created_key DESC, asset_id DESC, file_name
    ) AS INTEGER) AS sel_rank
  FROM tiered WHERE tier = min_tier
)
SELECT
  r.item_id, r.column_id, CAST(r.tier AS INTEGER) AS tier, r.sel_rank,
  r.asset_id, r.file_name, r.created_key, a.public_url
FROM ranked r
LEFT JOIN assets a USING (asset_id)
WHERE (r.pick IN ('latest', 'first') AND r.sel_rank = 1)
   OR (r.pick = 'all' AND r.sel_rank <= COALESCE(r.max_count, 2147483647))
""".strip()
)
