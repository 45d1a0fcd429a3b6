"""sparksynch — a PySpark-native CDC/ETL + analytics engine.

A from-scratch rebuild of the capabilities of long2ice/synch (reference
at /root/reference, a Python CDC pipeline replicating MySQL/Postgres
into ClickHouse), re-expressed Spark-first:

- full-snapshot ETL        -> partitioned read -> managed parquet table
- continuous CDC           -> Structured Streaming + foreachBatch apply
- ClickHouse engine semantics -> Replacing: the merge keeps the
  max-version row; (Versioned)Collapsing: DataFrame window/aggregate views
- DDL sync (ALTER translate) -> schema evolution on parquet tables
- count/checksum verification, per-batch monitor records in the commit log
- beyond-reference LLM-data-pipeline operators: dedup (exact, minhash
  LSH, simhash, n-gram jaccard, embedding cosine), similarity search,
  text analysis, multimodal column plumbing.

Everything is a DataFrame; Catalyst owns physical planning.
"""

__version__ = "0.1.0"

from synch_spark.session import get_spark  # noqa: F401
