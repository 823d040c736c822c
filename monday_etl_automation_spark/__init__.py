"""monday_etl_automation_spark — a PySpark-native analytics engine.

A brand-new, idiomatic Spark (DataFrame / SQL / Structured Streaming)
engine with the query and data-processing capabilities of the reference
ETL service Haitham2122/MONDAY-ETL-AUTOMATION (see SURVEY.md for the
operator inventory with file:line citations), extended with
LLM-data-pipeline operators (dedup, similarity search, text analysis,
multimodal binary columns) and designed for 100 TB scale:

- declarative plans only (Catalyst does pushdown / pruning / join choice)
- broadcast joins for dimension lookups, AQE for skew and runtime re-plan
- Arrow-vectorized pandas UDFs for the few things built-ins can't express
- no ``collect()`` / driver-side loops anywhere in an operator path

Importing the package loads no pyspark: Python workers start through
``pydaemon``, which must rewrite ``sys.path`` before pyspark is imported.
"""

__version__ = "0.1.0"
