"""JSON ingestion — the reference's two COPY paths (SURVEY §2.1 S1/S2).

S1  ``COPY stg_song_events FROM 's3://…/log_data' JSON 's3://…/
    log_json_path.json'`` (reference sql_queries.py:138-143): newline-
    delimited JSON where a jsonpaths file maps JSON keys onto 18 declared
    columns. Spark-native equivalent: ``spark.read.schema(EVENTS).json``
    — the explicit StructType plays the jsonpaths role (key mapping + type
    coercion), PERMISSIVE mode captures malformed rows instead of
    aborting the load.

S2  ``COPY stg_songs FROM 's3://…/song_data' JSON 'auto'`` (reference
    sql_queries.py:145-150): one JSON object per file under a recursive
    prefix (``song_data/A/A/A/TR….json``). Spark recurses natively
    (``recursiveFileLookup``) and auto-maps keys to the declared columns.

Scale: ``spark.read.json`` parallelizes by file/split — the analogue of
Redshift COPY fanning out across slices (SURVEY §4 O7). For the
million-small-files catalog layout, per-file task overhead dominates;
``wholeTextFiles``-style coalescing is unnecessary here because the JSON
reader already packs small files into shared partitions
(spark.sql.files.openCostInBytes), but at 100 TB the right fix is
compacting the landing zone, not tuning the reader. Defining a read lists
its files: past 32 paths (a daily-file glob) Spark lists them with a
Spark job, so ``session.get_spark`` keeps listing on the driver for a
local master, where that job's one task per path runs in the same JVM and
cost ~25x the CPU of a driver listing. A cluster master keeps the
parallel listing, which spreads a huge landing zone over executors.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from udacitydatawarehouseprj_spark import schemas


def read_events_json(
    spark: SparkSession, path: str, corrupt_col: str | None = "_corrupt_record"
) -> DataFrame:
    """S1: newline-JSON app log with explicit schema (jsonpaths-equivalent).

    Malformed lines land in ``corrupt_col`` (PERMISSIVE) rather than
    failing the load — pass None to drop them silently (DROPMALFORMED).
    """
    schema = schemas.STG_SONG_EVENTS
    if corrupt_col:
        from pyspark.sql import types as T

        schema = T.StructType(
            list(schema.fields) + [T.StructField(corrupt_col, T.StringType())]
        )
        return spark.read.schema(schema).option("mode", "PERMISSIVE").option(
            "columnNameOfCorruptRecord", corrupt_col
        ).json(path)
    return spark.read.schema(schema).option("mode", "DROPMALFORMED").json(path)


def read_songs_json(spark: SparkSession, path: str, schema=None) -> DataFrame:
    """S2: one-object-per-file catalog under a recursive prefix, auto
    key-mapping against the declared schema (STG_SONGS unless the caller
    supplies another catalog shape)."""
    return (
        spark.read.schema(schema if schema is not None else schemas.STG_SONGS)
        .option("recursiveFileLookup", "true")
        .option("multiLine", "true")  # one object per file, possibly pretty-printed
        .json(path)
    )
