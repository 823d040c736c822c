"""Spark 4 native surface: VARIANT semi-structured processing and
Python UDTFs (SURVEY.md §2.11/§2.12 extensions — the modern API
twins of operators this engine already serves through classic paths).

Both operators are TWINNED against the engine's existing,
battle-tested equivalents, so the new API surface can never drift
from the proven semantics:

- ``variant_props_stats`` — the P2 silent-null JSON analog over the
  events stream using Spark 4's VARIANT type (``try_parse_json`` +
  ``variant_get``) instead of ``get_json_object``. VARIANT is the
  100 TB answer to repeated JSON-path extraction: parse once into a
  binary-encoded document, then O(1)-ish typed path reads — versus
  re-parsing the string per path expression. try_parse_json keeps the
  reference's silent-null posture (malformed payloads yield NULL, not
  an error — Leyton_depot.py's _parse_column_value behavior).
- ``chunk_documents_udtf`` — the token-window chunker as a Python
  UDTF consumed via LATERAL join. The SQL expression chunker
  (plans/text_ops.py) stays the production path (JVM codegen, no
  Python); the UDTF exists for the operator class built-ins cannot
  express — per-row fan-out with imperative logic — and is pinned
  row-identical to the SQL chunker so the two paths cannot diverge.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from monday_etl_automation_spark.plans.text_ops import CHUNK_OVERLAP, CHUNK_SIZE
from monday_etl_automation_spark.sources.tables import register_views


def variant_props_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event_type stats over VARIANT-parsed props — must equal the
    classic get_json_object aggregation (pinned in tests/test_spark4.py
    and against the DuckDB oracle below)."""
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


def chunk_documents_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The chunker as a Python UDTF + LATERAL join. Same contract as
    text_ops.chunk_documents (ws counter): identical rows, different
    execution surface."""
    from pyspark.sql.functions import udtf

    size, overlap = CHUNK_SIZE, CHUNK_OVERLAP
    stride = size - overlap

    @udtf(returnType="chunk_idx BIGINT, chunk_text STRING, n_chunk_tokens BIGINT")
    class ChunkText:
        def eval(self, text: str):  # noqa: ANN001
            import re

            # mirror the SQL chunker EXACTLY: Spark's split('', '\\s+')
            # yields [''] (size 1), which re.split reproduces and
            # str.split() would not — an empty text therefore emits ONE
            # ('', 1) chunk on both paths (re.split never returns [],
            # matching the SQL side's n_tokens > 0 always holding)
            toks = re.split(r"\s+", (text or "").strip())
            n = len(toks)
            n_chunks = max(-(-(n - overlap) // stride), 1)
            for i in range(n_chunks):
                piece = toks[i * stride : i * stride + size]
                yield i, " ".join(piece), min(n - i * stride, size)

    register_views(spark, sf_dir)
    spark.udtf.register("_chunk_text_udtf", ChunkText)
    return spark.sql(
        """
SELECT d.doc_id, c.chunk_idx, c.chunk_text, c.n_chunk_tokens
FROM documents d, LATERAL _chunk_text_udtf(d.text) c
ORDER BY d.doc_id, c.chunk_idx
""".strip()
    )
