"""Explicit StructType schemas.

The reference declares every table with an explicit ``CREATE TABLE``
(reference sql_queries.py:33-134); the Spark-native equivalent is an
explicit ``StructType`` used both at JSON load time (playing the role of
the jsonpaths file / ``JSON 'auto'`` column mapping, sql_queries.py:138-150)
and as the written Parquet schema.

Type mapping follows SURVEY.md §1 (TEXT→string, VARCHAR→string,
CHAR(1)→string, INT→int, SMALLINT→short, BIGINT→long, FLOAT→double,
DATE/TIMESTAMP/BOOLEAN→same).
"""

from __future__ import annotations

from pyspark.sql import types as T

# --- staging: raw Sparkify app log (reference sql_queries.py:33-54) ---
STG_SONG_EVENTS = T.StructType(
    [
        T.StructField("artist", T.StringType()),
        T.StructField("auth", T.StringType()),
        T.StructField("firstName", T.StringType()),
        T.StructField("gender", T.StringType()),  # CHAR(1) — compare trimmed
        T.StructField("itemInSession", T.IntegerType()),
        T.StructField("lastName", T.StringType()),
        T.StructField("length", T.DoubleType()),
        T.StructField("level", T.StringType()),
        T.StructField("location", T.StringType()),
        T.StructField("method", T.StringType()),
        T.StructField("page", T.StringType()),
        T.StructField("registration", T.LongType()),
        T.StructField("sessionId", T.IntegerType()),
        T.StructField("song", T.StringType()),
        T.StructField("status", T.IntegerType()),
        T.StructField("ts", T.LongType()),  # epoch MILLIS (SURVEY §2.8 F1)
        T.StructField("userAgent", T.StringType()),
        T.StructField("userId", T.IntegerType()),
    ]
)

# --- staging: song catalog (reference sql_queries.py:56-69) ---
STG_SONGS = T.StructType(
    [
        T.StructField("num_songs", T.IntegerType()),
        T.StructField("artist_id", T.StringType()),
        T.StructField("artist_latitude", T.DoubleType()),
        T.StructField("artist_longitude", T.DoubleType()),
        T.StructField("artist_location", T.StringType()),
        T.StructField("artist_name", T.StringType()),
        T.StructField("song_id", T.StringType()),
        T.StructField("title", T.StringType()),
        T.StructField("duration", T.DoubleType()),
        T.StructField("year", T.IntegerType()),
    ]
)

# --- star schema outputs (reference sql_queries.py:71-134; FIXTURES.md §3) ---
FCT_SONG_PLAYS = T.StructType(
    [
        T.StructField("auth", T.StringType()),
        T.StructField("item_in_session", T.IntegerType()),
        T.StructField("level", T.StringType()),
        T.StructField("location", T.StringType()),
        T.StructField("session_id", T.IntegerType()),
        T.StructField("song_id", T.StringType()),
        T.StructField("user_id", T.IntegerType()),
        T.StructField("time_key", T.LongType()),
        T.StructField("ts", T.TimestampType()),
    ]
)

DIM_USERS = T.StructType(
    [
        T.StructField("firstname", T.StringType()),
        T.StructField("lastname", T.StringType()),
        T.StructField("gender", T.StringType()),
        T.StructField("level", T.StringType()),
        T.StructField("registration", T.LongType()),
        T.StructField("user_id", T.IntegerType()),
    ]
)

DIM_SONGS = T.StructType(
    [
        T.StructField("song_id", T.StringType()),
        T.StructField("title", T.StringType()),
        T.StructField("duration", T.DoubleType()),
        T.StructField("year", T.IntegerType()),
    ]
)

DIM_ARTISTS = T.StructType(
    [
        T.StructField("artist_id", T.StringType()),
        T.StructField("artist_latitude", T.DoubleType()),
        T.StructField("artist_longitude", T.DoubleType()),
        T.StructField("artist_location", T.StringType()),
        T.StructField("artist_name", T.StringType()),
    ]
)

DIM_TIME_DIMENSIONS = T.StructType(
    [
        T.StructField("time_key", T.LongType(), nullable=False),
        T.StructField("hour", T.IntegerType(), nullable=False),
        T.StructField("date", T.DateType(), nullable=False),
        T.StructField("day", T.IntegerType(), nullable=False),
        T.StructField("week", T.IntegerType(), nullable=False),
        T.StructField("month", T.IntegerType(), nullable=False),
        T.StructField("quarter", T.IntegerType(), nullable=False),
        T.StructField("year", T.IntegerType(), nullable=False),
        T.StructField("day_of_week", T.IntegerType(), nullable=False),
        T.StructField("is_weekend", T.BooleanType(), nullable=False),
        T.StructField("fiscal_year", T.IntegerType(), nullable=False),
        T.StructField("fiscal_quarter", T.IntegerType(), nullable=False),
        T.StructField("season", T.StringType(), nullable=False),
        T.StructField("special_event", T.StringType()),  # NULL placeholder
    ]
)

#: The star schema by output table name. The ETL's read-back passes these
#: to ``spark.read.schema`` so reading a table runs no schema-inference job.
STAR = {
    "fct_song_plays": FCT_SONG_PLAYS,
    "dim_users": DIM_USERS,
    "dim_songs": DIM_SONGS,
    "dim_artists": DIM_ARTISTS,
    "dim_time_dimensions": DIM_TIME_DIMENSIONS,
}
