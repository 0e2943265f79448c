"""PySpark-native analytics engine with the query & data-processing
capabilities of the reference pipeline (paddyinpdx/redpanda-ais-demo).

The reference is a maritime AIS streaming stack (Python producers/consumers
+ Redpanda + ClickHouse + Streamlit, see SURVEY.md). This package
re-expresses the entire surface Spark-first:

- ``sources``    — batch/stream readers (parquet test tables, rate/file
                   streams, Kafka gated behind availability).
- ``functions``  — scalar/text/vector column functions (F1-F10 of
                   SURVEY.md §2.3 plus text-analysis & vector math).
- ``operators``  — relational + LLM-data-pipeline operators (routing,
                   validity filters, joins, latest-per-key, dedup family,
                   similarity search, multimodal plumbing).
- ``plans``      — the declared-query registry: every operator exposed as a
                   (spark, sf_dir) -> DataFrame callable with a DuckDB
                   oracle SQL string for the correctness gate.
- ``streaming``  — Structured Streaming spine: ingest -> enrich ->
                   materialize with latest-per-key upsert semantics.
"""

from .dist import guard_worker_zip_imports

__version__ = "0.1.0"

# inside a Spark Python worker: stop every task re-reading the worker's
# zip/jar directories (dist.py); a no-op on the driver
guard_worker_zip_imports()
