"""ror_etl_spark — a PySpark-native analytics engine with the capabilities of
georgetown-cset/ror-etl, extended with the operator surface a large-scale
(100 TB) LLM-training-data pipeline needs.

Layout
------
- ``session``    : SparkSession builder tuned for local[N] testing and
                   cluster-scale defaults (AQE, shuffle partitions, Arrow).
- ``tables``     : lazy loaders for the driver test tables and temp-view
                   registration.
- ``operators/`` : distributed operators that Spark lacks natively
                   (ultimate-parent fixpoint rollup, as-of join, dedup
                   families, similarity search, sessionization).
- ``sources/``   : source connectors (Zenodo/ROR fetch with offline fake,
                   schema-enforced JSON, multimodal binary).
- ``functions/`` : column-level function libraries (text analysis,
                   vector math) built from pyspark.sql.functions.
- ``plans/``     : the reference-parity ROR pipeline (staging → checks →
                   promote → snapshot) expressed as gated DataFrame stages.
- ``queries/``   : the driver-contract query registry; every entry has a
                   DuckDB oracle where SQL-expressible.

Reference parity notes cite /root/reference files as ``file:line`` in
docstrings. No code is copied from the reference: it is a single-process
Python + BigQuery ETL; this engine re-expresses the same semantics as
Catalyst-optimized DataFrame plans.
"""

__version__ = "0.1.0"
