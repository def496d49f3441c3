"""The ETL pipeline driver — the reference's ``etl.py`` + ``create_tables.py``
re-expressed Spark-first.

Reference flow (etl.py:24-39): connect → COPY two S3 JSON datasets into
staging → five INSERT…SELECT transforms (fact first, then 4 dims), one
transaction per statement. Here: read JSON with explicit schemas → build
the five DataFrames (plans/star_schema.py) → write parquet with the
declared physical layout (sources/sinks.py). Idempotence comes from
``mode='overwrite'`` rather than DROP+CREATE (SURVEY §4 O8).

The staging events frame is read once and reused by three transforms;
caching it avoids re-parsing JSON three times — the analogue of staging
tables being materialized once.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from udacitydatawarehouseprj_spark import schemas
from udacitydatawarehouseprj_spark.plans import star_schema
from udacitydatawarehouseprj_spark.sources import json_source, sinks


def run_etl(
    spark: SparkSession,
    events_path: str,
    songs_path: str,
    out_dir: str,
    time_dim_limit: int | None = None,
    dedupe_users: bool = False,
) -> dict[str, str]:
    """Full star-schema build: JSON staging → fact + 4 dims → parquet.

    Returns {table: output_path}. ``time_dim_limit`` reproduces quirk Q2;
    ``dedupe_users`` switches quirk Q3 to the fixed variant.
    """
    events = json_source.read_events_json(spark, events_path, corrupt_col=None)
    songs = json_source.read_songs_json(spark, songs_path)
    events.cache()
    songs.cache()
    try:
        tables = star_schema.build_star_schema(
            events, songs, time_dim_limit=time_dim_limit, dedupe_users=dedupe_users
        )
        out: dict[str, str] = {}
        for name, df in tables.items():
            path = os.path.join(out_dir, name)
            sinks.write_parquet(df, path, sinks.SPARKIFY_LAYOUTS.get(name))
            out[name] = path
        return out
    finally:
        events.unpersist()
        songs.unpersist()


def validation_counts(spark: SparkSession, table_paths: dict[str, str]) -> dict[str, int]:
    """The reference's manual notebook validation (Fiddle.ipynb cells
    44-50): one COUNT per output table."""
    return {name: df.count() for name, df in load_star(spark, table_paths).items()}


def load_star(spark: SparkSession, table_paths: dict[str, str]) -> dict[str, DataFrame]:
    """Read star-schema tables back with their declared schemas
    (``schemas.STAR``), so no parquet schema-inference job runs."""
    return {
        name: spark.read.schema(schemas.STAR[name]).parquet(path)
        for name, path in table_paths.items()
    }


def main(argv: list[str] | None = None) -> None:
    """CLI — the reference's ``python etl.py`` invocation shape
    (etl.py:42-44), with paths as arguments instead of dwh.cfg endpoints:

        python -m udacitydatawarehouseprj_spark.pipeline \\
            --events <log_data dir> --songs <song_data dir> --out <dir>
    """
    import argparse

    from udacitydatawarehouseprj_spark import session as S

    p = argparse.ArgumentParser(description="Run the star-schema ETL")
    p.add_argument("--events", required=True, help="newline-JSON app log dir")
    p.add_argument("--songs", required=True, help="song catalog dir (recursive)")
    p.add_argument("--out", required=True, help="output warehouse dir")
    p.add_argument("--time-dim-limit", type=int, default=None,
                   help="reproduce quirk Q2 (reference debug LIMIT)")
    p.add_argument("--dedupe-users", action="store_true",
                   help="fixed variant of quirk Q3 (one row per user)")
    args = p.parse_args(argv)

    spark = S.get_spark("sparkify-etl")
    tables = run_etl(spark, args.events, args.songs, args.out,
                     time_dim_limit=args.time_dim_limit,
                     dedupe_users=args.dedupe_users)
    for name, count in validation_counts(spark, tables).items():
        print(f"{name}: {count} rows -> {tables[name]}")


if __name__ == "__main__":
    main()
