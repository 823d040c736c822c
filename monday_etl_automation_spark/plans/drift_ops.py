"""Corpus snapshot drift monitoring (SURVEY.md §2.12).

A recurring ingest pipeline needs to know when a snapshot's source
mixture moved: a crawler change that silently doubles one domain's
share, a vanished source, a tokenizer regression that shifts token
counts. ``source_drift`` compares two corpus snapshots per source —
doc counts, token counts, and token SHARE in exact ppm — with a full
outer join so appearing/vanishing sources surface as rows instead of
silently dropping out.

Share arithmetic is quantized to ppm BIGINTs (one double division,
then floor — both engines identical), so per-source deltas and any
downstream total-variation distance are integer-exact and
order-insensitive: no libm, no float-sum ordering, same discipline as
the BM25/sampling operators. Total variation distance in ppm =
sum(abs_delta_ppm) / 2 — left to the caller (one tiny aggregation)
so the per-source rows stay the primary artifact.

Scale shape: one aggregation per snapshot (or per sample at 100 TB —
shares survive sampling), a |sources|-row join; at scale snapshot A's
aggregate is read from the stats the previous run persisted, so a
drift check costs ONE scan of the new snapshot only.

Pytest-only (driver registry capped at 50); DuckDB twin under
tests/test_drift.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from monday_etl_automation_spark.plans.sampling_ops import _TOKS
from monday_etl_automation_spark.plans.sqltext import tail_order
from monday_etl_automation_spark.sources.tables import load_table


def _drift_sql(dialect: str, rel_a: str, rel_b: str) -> str:
    toks = _TOKS[dialect]
    ppm = "CAST(floor(CAST({t} AS DOUBLE) / {tot} * 1000000) AS BIGINT)"

    def agg(rel: str) -> str:
        return (
            f"SELECT source, CAST(count(*) AS BIGINT) AS n_docs,"
            f" CAST(sum({toks}) AS BIGINT) AS n_tokens,"
            f" CAST(sum(sum({toks})) OVER () AS BIGINT) AS total_tokens"
            f" FROM {rel} GROUP BY source"
        )

    share_a = ppm.format(t="coalesce(a.n_tokens, 0)", tot="ta.v")
    share_b = ppm.format(t="coalesce(b.n_tokens, 0)", tot="tb.v")
    return f"""
WITH a AS ({agg(rel_a)}),
b AS ({agg(rel_b)}),
-- snapshot totals as single-row relations: a FULL OUTER JOIN row may
-- miss one side entirely, so totals cannot ride the per-source rows.
-- greatest(1, coalesce(..)): an EMPTY snapshot (failed crawl — the
-- loudest drift there is) must yield share 0 and delta = full share,
-- not NULL columns that silence a TVD alarm; Spark's x/NULL and
-- x/0.0 behaviors also differ from DuckDB's, so the denominator is
-- pinned to a positive BIGINT in both engines
ta AS (SELECT greatest(CAST(1 AS BIGINT), coalesce(max(total_tokens), 0)) AS v FROM a),
tb AS (SELECT greatest(CAST(1 AS BIGINT), coalesce(max(total_tokens), 0)) AS v FROM b)
SELECT coalesce(a.source, b.source) AS source,
       CAST(coalesce(a.n_docs, 0) AS BIGINT) AS docs_a,
       CAST(coalesce(b.n_docs, 0) AS BIGINT) AS docs_b,
       CAST(coalesce(a.n_tokens, 0) AS BIGINT) AS tokens_a,
       CAST(coalesce(b.n_tokens, 0) AS BIGINT) AS tokens_b,
       {share_a} AS share_ppm_a,
       {share_b} AS share_ppm_b,
       abs({share_a} - {share_b}) AS abs_delta_ppm
FROM a FULL OUTER JOIN b ON a.source = b.source
CROSS JOIN ta CROSS JOIN tb{tail_order(dialect, "source")}
""".strip()


def source_drift(spark: SparkSession, dir_a: str, dir_b: str) -> DataFrame:
    """Per-source drift between the documents tables of two snapshot
    directories (older first, by convention)."""
    load_table(spark, dir_a, "documents").createOrReplaceTempView("_drift_docs_a")
    load_table(spark, dir_b, "documents").createOrReplaceTempView("_drift_docs_b")
    return spark.sql(_drift_sql("spark", "_drift_docs_a", "_drift_docs_b"))


def source_drift_oracle(rel_a: str = "documents_a", rel_b: str = "documents_b") -> str:
    return _drift_sql("duckdb", rel_a, rel_b)
