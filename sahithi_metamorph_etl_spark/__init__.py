"""sahithi_metamorph_etl_spark — a PySpark-native analytics/ETL engine.

A ground-up, Spark-first re-expression of the capabilities of the
Metamorph-ETL/Sahithi-Metamorph-ETL reference warehouse (see SURVEY.md):

- layered warehouse (raw overwrite / legacy append keyed by DAY_DT)
- typed source/sink connectors with explicit StructType contracts
- composable DataFrame operators (projection/filter/join/agg/window)
- pre-publish validators (uniqueness, non-empty, schema conformance)
- a dataset reconciliation (diff) module ("Raptor"-equivalent)
- three analytics marts (supplier/product performance, customer sales report)
- LLM-data-pipeline extensions: dedup (exact/MinHash-LSH/SimHash/Jaccard),
  embedding similarity search, text analysis, multimodal column plumbing
- a Structured Streaming layer for the events stream

Everything is DataFrame/SQL-first: logical plans are declared with the
public PySpark API and physical strategy is left to Catalyst + AQE.
"""

__version__ = "0.1.0"
