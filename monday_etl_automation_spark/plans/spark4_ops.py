"""Spark 4 native surface: VARIANT semi-structured processing
(SURVEY.md §2.11 extension — the modern API twin of an operator this
engine already serves through the classic path).

``variant_props_stats`` is the P2 silent-null JSON analog over the
events stream using Spark 4's VARIANT type (``try_parse_json`` +
``variant_get``) instead of ``get_json_object``. VARIANT is the 100 TB
answer to repeated JSON-path extraction: parse once into a
binary-encoded document, then O(1)-ish typed path reads — versus
re-parsing the string per path expression. try_parse_json keeps the
reference's silent-null posture (malformed payloads yield NULL, not an
error — Leyton_depot.py's _parse_column_value behavior). It rides the
``event_hygiene`` entry (plans/windows_ops.py) as its ``*_variant``
columns, so the driver hash pins it against DuckDB's JSON extraction.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from monday_etl_automation_spark.sources.tables import register_views


def variant_props_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event_type stats over VARIANT-parsed props — must equal the
    classic JSON extraction, as computed by the DuckDB oracle below
    (pinned in tests/test_spark4.py and by ``event_hygiene``)."""
    register_views(spark, sf_dir)
    return spark.sql(
        """
WITH v AS (
  SELECT event_type,
         variant_get(try_parse_json(props), '$.k', 'int') AS k
  FROM events
)
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(count(k) AS BIGINT) AS n_with_k,
       CAST(sum(k) AS BIGINT) AS sum_k,
       min(k) AS min_k,
       max(k) AS max_k
FROM v
GROUP BY event_type
ORDER BY event_type
""".strip()
    )


VARIANT_PROPS_ORACLE = """
WITH v AS (
  SELECT event_type,
         CAST(json_extract_string(props, '$.k') AS INT) AS k
  FROM events
)
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(count(k) AS BIGINT) AS n_with_k,
       CAST(sum(k) AS BIGINT) AS sum_k,
       min(k) AS min_k,
       max(k) AS max_k
FROM v
GROUP BY event_type
ORDER BY event_type
""".strip()
