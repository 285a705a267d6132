"""data_engineering_project_spotify_app_spark — a PySpark-native analytics engine.

Brand-new engine with the query/data-processing capabilities of the
reference ETL service (``thecodemancer/data_engineering_project_spotify_app``,
surveyed in SURVEY.md), re-expressed Spark-first:

- every dataflow operator of the reference (SURVEY.md §2) lowered to
  declarative DataFrame/SQL so Catalyst + AQE pick the physical plan;
- the reference's BigQuery relational surface (schemas, NDJSON load,
  overwrite-replace) as schema'd Spark reads/writes (``sources/``);
- the full reference pipeline (search→paginate→dedup→enrich→inject→sink,
  app.py:133–220): the point lookup resolved once, then literal-set
  filters over the entity tables (``plans/pipeline.py``);
- LLM-training-data extensions: dedup (exact/MinHash-LSH/SimHash/Jaccard),
  embedding similarity search, text analysis, multimodal column plumbing
  (``operators/``);
- a Structured Streaming twin of the batch surface (``streaming/``).

Layout:
    session.py    SparkSession factory (AQE, UTC, Arrow, scale-aware confs)
    tables.py     parquet table loaders for the driver fixtures
    schemas.py    Spotify entity StructTypes ported from the reference
    operators/    the query corpus: core relational, tpch, dedup, text, similarity
    sources/      ingest: NDJSON staging load / JSON sink / overwrite load
    functions/    shared column expressions (dates, text, vectors)
    plans/        composed pipelines (the reference-equivalent ETL DAG)
    streaming/    Structured Streaming twins of the batch operators
"""

__version__ = "0.1.0"
