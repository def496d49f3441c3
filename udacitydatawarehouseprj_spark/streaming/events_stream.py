"""Structured Streaming — incremental event ingestion (SURVEY §2.9, §7 M6).

The reference is a batch full-reload pipeline (etl.py runs once after
create_tables.py drops everything). The streaming growth path keeps the
same hour-grain semantics incrementally:

* ``readStream`` over the landing directory (JSON or parquet),
* watermark for late events, tumbling 1-hour window ≙ the reference's
  hour-truncated ``time_key`` (sql_queries.py:164-172),
* ``dropDuplicates`` on the event id within the watermark for exactly-once
  per event id,
* append-mode sink: only closed windows are emitted, so downstream sees
  each finalized hour exactly once.

Every runner drains what the source holds and stops (``availableNow``):
the registered streaming proofs in ``queries.py`` compare each drained
sink with a batch SQL oracle. The hourly rollup writes a day-partitioned
parquet table; every other runner ends in one in-memory sink,
``_drain_to_memory``, named after the table its proof reads back.

Scale: state is bounded by the watermark (hours of state, not history);
partitioned by window start, the shuffle matches the batch groupBy. The
batch and streaming builds share the same aggregation logic
(hourly_event_counts), so batch parity is testable with availableNow.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

EVENTS_STREAM_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


#: Event-time lateness contract of every watermarked runner: events later
#: than this behind the newest one seen are dropped.
WATERMARK = "2 hours"


def hourly_event_counts(df: DataFrame) -> DataFrame:
    """Shared batch/stream aggregation: tumbling 1h window per event_type
    → count + sum(value). The window start is the hour bucket — identical
    semantics to the batch time_key derivation."""
    return (
        df.groupBy(
            F.window(F.col("ts"), "1 hour").alias("w"), F.col("event_type")
        )
        .agg(F.count("*").alias("n_events"), F.sum("value").alias("total_value"))
        .select(
            F.col("w.start").alias("hour_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def read_events_stream(
    spark: SparkSession,
    source_dir: str,
    fmt: str = "json",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    reader = (
        spark.readStream.schema(EVENTS_STREAM_SCHEMA).format(fmt)
    )
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return reader.load(source_dir)


def _drain_to_memory(
    df: DataFrame, output_mode: str, sink_table: str, checkpoint_dir: str
):
    """Start ``df`` into the in-memory table ``sink_table``; the stream
    drains everything currently in its source and stops."""
    return (
        df.writeStream.outputMode(output_mode)
        .format("memory")
        .queryName(sink_table)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def run_running_totals_stream(
    spark: SparkSession, source_dir: str, checkpoint_dir: str
):
    """Custom stateful operator via ``applyInPandasWithState``: per-user
    running (n_events, total_value) maintained in group state and emitted
    on every update — the template for stateful logic that windows can't
    express (counters, custom sessionizers, online aggregates).

    State is a single (count, sum) pair per user — constant memory per
    key; the groupBy shuffle partitions users across executors exactly
    like a batch aggregation."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    src = read_events_stream(spark, source_dir)

    output_schema = "user_id long, n_events long, total_value double"
    state_schema = "n long, micro long"

    def update(key, pdfs, state: GroupState):
        (user_id,) = key
        # state accumulates VALUE IN MICRO-UNITS (exact integers): a
        # float running sum would depend on batch/row arrival order —
        # non-deterministic across retries and unverifiable by a SQL
        # oracle; the integer path is bit-identical for any arrival
        # order (the engine's fixed-point determinism family)
        n, micro = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            n += len(pdf)
            micro += int(
                (pdf["value"] * 1e6).round().astype("int64").sum()
            )
        state.update((n, micro))
        yield pd.DataFrame(
            {
                "user_id": [user_id],
                "n_events": [n],
                "total_value": [micro / 1e6],
            }
        )

    agg = src.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=output_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return _drain_to_memory(agg, "update", "rt_totals_readback", checkpoint_dir)


def run_hourly_stream_to_parquet(
    spark: SparkSession,
    source_dir: str,
    checkpoint_dir: str,
    out_dir: str,
):
    """Production-shaped sink: the hourly rollup appended to a parquet
    table, partitioned by DAY. Events later than ``WATERMARK`` are
    dropped, and so are duplicates by event_id within it; only closed
    hours are emitted. Exactly-once via the checkpoint (file-sink
    manifest). The partition key is deliberately coarser than the rollup
    grain: hour-level partitioning of an *aggregate* table puts a handful
    of rows in every directory (the small-files antipattern — measured
    3,378 files for a 3,600-row rollup); day-level keeps pruning on the
    time axis (``hour_date`` + min/max row-group stats on ``hour_start``)
    while each emission batch lands one file per day touched — the
    ``repartition`` on the partition column aligns task boundaries with
    directory boundaries so a batch never fans one day across many
    writers."""
    src = read_events_stream(spark, source_dir)
    deduped = src.withWatermark("ts", WATERMARK).dropDuplicatesWithinWatermark(
        ["event_id"]
    )
    agg = hourly_event_counts(deduped).withColumn(
        "hour_date", F.to_date("hour_start")
    )
    return (
        agg.repartition("hour_date")
        .writeStream.outputMode("append")
        .format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .partitionBy("hour_date")
        .trigger(availableNow=True)
        .start()
    )


def run_purchase_attribution_stream(
    spark: SparkSession, source_dir: str, checkpoint_dir: str
):
    """Stream-stream join: each purchase joined to the same user's view
    events within the preceding hour (attribution). The source is
    parquet: the readback checks row-level timestamps, which parquet
    keeps to the microsecond and the JSON writer truncates to the
    millisecond.

    Both sides carry watermarks and the join condition bounds event time,
    so Spark can expire join state — the canonical bounded-state
    stream-stream join. Inner join: a purchase emits once per qualifying
    view (the as-of/latest-only variant is the batch
    ``asof_join_purchase_view``)."""
    src = read_events_stream(spark, source_dir, fmt="parquet")
    purchases = (
        src.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", WATERMARK)
    )
    views = (
        src.filter(F.col("event_type") == "view")
        .select(
            F.col("event_id").alias("view_id"),
            F.col("user_id").alias("view_user"),
            F.col("ts").alias("view_ts"),
        )
        .withWatermark("view_ts", WATERMARK)
    )
    joined = purchases.join(
        views,
        (F.col("user_id") == F.col("view_user"))
        & (F.col("view_ts") <= F.col("purchase_ts"))
        & (F.col("view_ts") >= F.col("purchase_ts") - F.expr("INTERVAL 1 hour")),
        "inner",
    ).select("purchase_id", "user_id", "purchase_ts", "view_id", "view_ts")
    return _drain_to_memory(joined, "append", "attrib_readback", checkpoint_dir)


def run_stateful_sessionizer_stream(
    spark: SparkSession, source_dir: str, checkpoint_dir: str
):
    """Custom stateful SESSIONIZER via ``applyInPandasWithState`` — the
    logic ``session_window`` can't express when you need the session
    list itself maintained incrementally: per-user event-time stamps are
    merged into group state across micro-batches (arrival order is
    irrelevant — the state is re-sessionized after every merge), and
    each update emits the user's CURRENT session list tagged with a
    monotone ``n_seen`` so a reader selects the final emission per user
    deterministically. A gap of more than 30 minutes between a user's
    consecutive events starts a new session; the source drains two
    files per micro-batch, so a landing zone of several files carries
    state across batch boundaries.

    Determinism contract: everything is int64 epoch-milliseconds and
    counts — no floats touch the state or the output, so the final
    session set is bit-identical to the batch lag/gap-cumsum SQL
    regardless of how many micro-batches the source splits into.

    Scale: state is one sorted long array per user. The oracle-exact
    form keeps every stamp; the production path ages closed sessions out
    of state via event-time timeout once the watermark passes their gap
    horizon (the final session set is identical — only the re-scan cost
    changes), keeping state proportional to OPEN sessions.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    src = read_events_stream(spark, source_dir, max_files_per_trigger=2)
    out_schema = (
        "user_id long, n_seen long, session_start_ms long, n_events long"
    )
    state_schema = "ts_ms array<long>"
    gap_ms = 30 * 60_000

    def update(key, pdfs, state: GroupState):
        (user_id,) = key
        stamps = list(state.get[0]) if state.exists else []
        for pdf in pdfs:
            stamps.extend(
                (pdf["ts"].astype("int64") // 1_000_000).tolist()
            )
        stamps.sort()
        state.update((stamps,))
        starts: list[int] = []
        counts: list[int] = []
        for i, t in enumerate(stamps):
            if i == 0 or t - stamps[i - 1] > gap_ms:
                starts.append(t)
                counts.append(1)
            else:
                counts[-1] += 1
        yield pd.DataFrame(
            {
                "user_id": user_id,
                "n_seen": len(stamps),
                "session_start_ms": starts,
                "n_events": counts,
            }
        )

    agg = src.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return _drain_to_memory(
        agg, "update", "stateful_sessions_stream", checkpoint_dir
    )


def run_stream_static_enrich(
    spark: SparkSession,
    source_dir: str,
    checkpoint_dir: str,
    static_profile: DataFrame,
):
    """Stream-static join: the event stream enriched against a STATIC
    batch dimension (per-user profile), then aggregated — the lookup-
    enrichment shape every production stream runs (user profile, device
    registry, feature store snapshot).

    Semantics worth pinning: Spark re-evaluates the static side per
    micro-batch (so a backing table CAN move between batches — here it
    is a fixed DataFrame, the deterministic case), the join is
    stateless (no watermark needed, unlike stream-stream joins), and
    with a small static side it executes as a broadcast hash join
    inside each micro-batch — the fact stream never shuffles for the
    enrichment, exactly like the batch star join. Output: complete-mode
    integer counts per (profile_type, event_type) — fully
    deterministic, so the readback sits under the hash gate.
    """
    src = read_events_stream(spark, source_dir)
    enriched = src.join(F.broadcast(static_profile), "user_id")
    agg = enriched.groupBy("profile_type", "event_type").agg(
        F.count("*").alias("n_events")
    )
    return _drain_to_memory(
        agg, "complete", "stream_static_readback", checkpoint_dir
    )


def run_stream_stream_join(
    spark: SparkSession, source_dir: str, checkpoint_dir: str
):
    """STREAM-STREAM inner join — the hardest stateful shape in
    Structured Streaming, completing the join family next to the
    stateless stream-static enrich: a stream of views joined to a
    stream of purchases by the same user within 60 minutes (the
    horizon) AFTER the view (the attribution window expressed as a join, not a
    stateful sessionizer).

    The load-bearing parts: BOTH sides carry watermarks and the join
    condition includes an EVENT-TIME RANGE (p.ts between v.ts and
    v.ts + horizon) — that pair is what lets Spark bound the join
    state (a view older than watermark + horizon can never match a
    future purchase and is evicted; without the time bound, state
    grows forever and a 100 TB stream OOMs on principle). Inner-join
    matches emit as soon as both sides arrive (append mode, no
    watermark wait), so with availableNow the drained pair set is
    exactly the batch join — which is what puts a stream-stream JOIN
    under the batch SQL oracle.
    """
    views = (
        read_events_stream(spark, source_dir)
        .filter(F.col("event_type") == "view")
        .select(
            F.col("event_id").alias("view_id"),
            F.col("user_id"),
            F.col("ts").alias("view_ts"),
        )
        .withWatermark("view_ts", WATERMARK)
    )
    purchases = (
        read_events_stream(spark, source_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", WATERMARK)
    )
    joined = views.join(
        purchases,
        (views["user_id"] == purchases["user_id"])
        & (F.col("purchase_ts") >= F.col("view_ts"))
        & (
            F.col("purchase_ts")
            <= F.col("view_ts")
            + F.expr("INTERVAL 60 MINUTES")
        ),
        "inner",
    ).select(views["user_id"], "view_id", "purchase_id")
    return _drain_to_memory(
        joined, "append", "stream_stream_pairs_rb", checkpoint_dir
    )
