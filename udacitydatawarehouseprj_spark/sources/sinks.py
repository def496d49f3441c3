"""Layout-aware sinks — Redshift physical hints re-expressed for Spark
(SURVEY §4 O1-O4, §2.1 S3-S5).

The reference declares physical layout in DDL:
* ``distkey col``   → co-locate join keys on the same slice
                      (reference sql_queries.py:78,100,108,119)
* ``DISTSTYLE ALL`` → replicate small dims to every slice (…:95)
* ``sortkey col``   → zone-map skipping for the hot predicate column
                      (…:74,92,101,113,121)

Spark equivalents applied at write time:
* distkey  → ``repartition(key)`` (or ``bucketBy`` for a managed table:
  both sides bucketed on the join key join WITHOUT a shuffle);
* diststyle all → nothing at write time — broadcast at JOIN time
  (``F.broadcast``/AQE auto-broadcast replaces replicated storage);
* sortkey  → ``sortWithinPartitions(key)`` — parquet row-group min/max
  stats become selective, so predicate pushdown skips row groups exactly
  like a zone map.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


@dataclass(frozen=True)
class TableLayout:
    """Physical layout policy for one table (≙ one CREATE TABLE's
    distkey/sortkey/diststyle triple)."""

    dist_key: str | None = None      # repartition / bucket column
    sort_keys: tuple[str, ...] = ()  # sortWithinPartitions columns
    broadcast: bool = False          # DISTSTYLE ALL: broadcast at join time
    buckets: int | None = None       # bucketBy count for managed tables


#: The reference's declared layouts (reference sql_queries.py:71-134;
#: README.md:63-87 gives the rationale per table).
SPARKIFY_LAYOUTS: dict[str, TableLayout] = {
    "fct_song_plays": TableLayout(dist_key="song_id", sort_keys=("item_in_session",)),
    "dim_users": TableLayout(broadcast=True, sort_keys=("registration",)),
    "dim_songs": TableLayout(dist_key="song_id", sort_keys=("title",)),
    "dim_artists": TableLayout(dist_key="artist_id", sort_keys=("artist_name",)),
    "dim_time_dimensions": TableLayout(dist_key="time_key", sort_keys=("date",)),
}


def apply_layout(df: DataFrame, layout: TableLayout) -> DataFrame:
    out = df
    if layout.dist_key:
        out = out.repartition(layout.dist_key)
    if layout.sort_keys:
        out = out.sortWithinPartitions(*layout.sort_keys)
    return out


def write_parquet(
    df: DataFrame, path: str, layout: TableLayout | None = None,
    mode: str = "overwrite",
) -> None:
    """S3 (INSERT INTO … SELECT) + S4 (CREATE TABLE) as a parquet write.

    ``mode='overwrite'`` gives the reference's drop-and-reload idempotence
    (create_tables.py:36-37 + etl.py full reload) in one atomic-enough
    operation instead of DROP+CREATE+INSERT."""
    out = apply_layout(df, layout) if layout else df
    out.write.mode(mode).parquet(path)


def write_table(
    df: DataFrame, name: str, layout: TableLayout | None = None,
    mode: str = "overwrite",
) -> None:
    """Managed-table variant; with a layout dist_key + buckets this writes
    a bucketed table, making later key-joins shuffle-free on both sides.

    The frame is repartitioned on the bucket key into exactly ``buckets``
    partitions first: a bucketed write otherwise emits one file per
    (task × bucket) pair — up to tasks·buckets small files, the metadata
    killer at scale — while pre-partitioning on the same hash puts each
    bucket's rows in one task, so the table lands as exactly ``buckets``
    files."""
    out = df
    if layout and layout.dist_key and layout.buckets:
        out = df.repartition(layout.buckets, F.col(layout.dist_key))
    writer = out.write.mode(mode).format("parquet")
    if layout and layout.dist_key and layout.buckets:
        writer = writer.bucketBy(layout.buckets, layout.dist_key)
        if layout.sort_keys:
            writer = writer.sortBy(*layout.sort_keys)
    writer.saveAsTable(name)


def drop_table(spark, name: str) -> None:
    """S5: DROP TABLE IF EXISTS (reference sql_queries.py:9-29).

    Also removes an ORPHANED warehouse location — a directory left by a
    previous session whose (in-memory/derby) catalog is gone. DROP on a
    registered managed table already purges its location; the orphan
    case otherwise fails the next saveAsTable with
    LOCATION_ALREADY_EXISTS, breaking drop-and-reload idempotence
    across sessions."""
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    if "." not in name and not spark.catalog.tableExists(name):
        jvm = spark._jvm
        wh = spark.conf.get("spark.sql.warehouse.dir")
        path = jvm.org.apache.hadoop.fs.Path(wh, name.lower())
        fs = path.getFileSystem(spark._jsc.hadoopConfiguration())
        if fs.exists(path):
            fs.delete(path, True)
