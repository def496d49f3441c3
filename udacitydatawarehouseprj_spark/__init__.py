"""udacitydatawarehouseprj_spark — a PySpark-native analytics engine.

A brand-new engine with the query and data-processing capabilities of the
reference repo ``anvo268/UdacityDataWarehousePrj`` (a Redshift star-schema
ETL for the "Sparkify" music-streaming dataset), re-expressed Spark-first:

* declarative DataFrame/SQL logical plans, optimized by Catalyst + AQE;
* Parquet columnar storage standing in for Redshift's columnar slices;
* broadcast joins / repartition-by-key / sortWithinPartitions standing in
  for DISTSTYLE ALL / distkey / sortkey physical hints;
* Structured Streaming as the incremental path for the event load;
* Arrow-vectorized pandas UDFs only where built-ins can't express the
  semantics (multimodal byte plumbing) — never on the relational hot path.

Layout:
    session.py    SparkSession factory + testdata table registry
    pyworker.py   Python worker daemon for the sessions session.py builds
    schemas.py    explicit StructTypes (Sparkify staging/star + testdata)
    functions/    scalar Column-level function library (datetime semantics)
    operators/    relational + dedup + similarity + text + multimodal operators
    sources/      JSON/Parquet readers and layout-aware writers
    plans/        the star-schema build (the reference's etl.py equivalent)
    streaming/    incremental event ingestion (Structured Streaming)
    queries.py    the public query surface + DuckDB oracle SQL (driver contract)
"""

__version__ = "0.1.0"
