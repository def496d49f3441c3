"""Streaming corpus ingestion with cross-batch dedup.

The crawl-ingest shape for a training corpus: documents arrive
continuously; each micro-batch must be deduped (exact + verified
near-dup) against EVERYTHING already accepted before it lands. The
accumulated state here is a whole table (the dedup index over the
corpus), far beyond per-key state-store budgets — so this is a
``foreachBatch`` pipeline, not a stateful operator: each micro-batch
runs the batch ``incremental_dedup`` against the index-so-far, appends
survivors to the corpus and their rows to the index.

Scale: the per-batch work is the incremental join (batch × index bands,
id-targeted text fetches) — corpus text is never re-shingled. The index
and corpus live as partitioned parquet; writes use dynamic partition
overwrite keyed by batch_id so a replayed batch (failure between write
and checkpoint commit) overwrites its own partition instead of
duplicating it — idempotent, hence effectively exactly-once.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.utils import AnalysisException

from udacitydatawarehouseprj_spark import session as S
from udacitydatawarehouseprj_spark.operators import dedup

DOCS_STREAM_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
    ]
)

_INDEX_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("band_id", T.IntegerType()),
        T.StructField("band_hash", T.LongType()),
        T.StructField("text_hash", T.LongType()),
    ]
)


def _read_or_empty(spark: SparkSession, path: str, schema: T.StructType) -> DataFrame:
    # probe before read: letting spark.read fail on the first batch works
    # but logs a WARN stack trace per lookup (FileStreamSink metadata
    # probe) — noisy in stream logs. Local-fs probe is enough here; on an
    # object store swap in the Hadoop FileSystem API.
    import os

    if not os.path.isdir(path):
        return spark.createDataFrame([], schema)
    try:
        return spark.read.schema(schema).parquet(path)
    except AnalysisException:  # dir exists but holds no parquet yet
        return spark.createDataFrame([], schema)


def run_incremental_dedup_stream(
    spark: SparkSession,
    source_dir: str,
    checkpoint_dir: str,
    corpus_dir: str,
    index_dir: str,
):
    """Start the ingest stream: JSON docs in ``source_dir`` →
    deduped survivors appended to ``corpus_dir`` (partitioned by
    batch_id) and their band/text-hash rows to ``index_dir``."""
    # StructType.add mutates in place — build fresh copies
    corpus_schema = T.StructType(
        DOCS_STREAM_SCHEMA.fields + [T.StructField("batch_id", T.LongType())]
    )
    index_schema = T.StructType(
        _INDEX_SCHEMA.fields + [T.StructField("batch_id", T.LongType())]
    )

    def process(batch_df: DataFrame, batch_id: int) -> None:
        sess = batch_df.sparkSession
        sess.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        docs = batch_df.select("doc_id", "text").persist()
        corpus = _read_or_empty(sess, corpus_dir, corpus_schema).select(
            "doc_id", "text"
        )
        index = _read_or_empty(sess, index_dir, index_schema).select(
            "doc_id", "band_id", "band_hash", "text_hash"
        )
        surv_ids, surv_index = dedup.incremental_dedup(docs, corpus, index)
        # both writes below read the survivor ids: cache them so the
        # kill-rule joins run once per batch
        surv_ids = S.track_cache(surv_ids)
        survivors = (
            docs.join(surv_ids, "doc_id", "left_semi")
            .withColumn("batch_id", F.lit(batch_id))
            .persist()
        )
        survivors.write.mode("overwrite").partitionBy("batch_id").parquet(corpus_dir)
        (
            surv_index.select(
                "doc_id",
                F.col("band_id").cast("int").alias("band_id"),
                "band_hash",
                "text_hash",
            )
            .withColumn("batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .partitionBy("batch_id")
            .parquet(index_dir)
        )
        survivors.unpersist()
        docs.unpersist()
        S.release_tracked_caches()

    return (
        spark.readStream.schema(DOCS_STREAM_SCHEMA)
        .json(source_dir)
        .writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def run_crash_recovery_stream(
    spark: SparkSession,
    source_dir: str,
    checkpoint_dir: str,
    out_dir: str,
    crash_marker: str,
):
    """Exactly-once crash-recovery harness: a file-source stream
    (1 file per micro-batch) whose ``foreachBatch`` WRITES its output
    partition and then — on the FIRST attempt at batch 1 only — raises
    before the checkpoint commit can land. That is precisely the
    failure window exactly-once semantics must survive: output durable,
    offset commit lost. On restart the engine replays batch 1 from the
    offset WAL; the batch_id-keyed dynamic partition overwrite makes
    the replay overwrite its own half-written partition instead of
    duplicating it — idempotent sink + replayed source = effectively
    exactly-once (the same discipline run_incremental_dedup_stream
    relies on, here with the crash actually injected rather than
    assumed).

    The crash fires exactly once per ``crash_marker`` path: the marker
    file is created just before raising, so the replay takes the
    success path. Callers assert the marker exists afterwards — a
    vacuous proof (crash never fired) is detectable.
    """
    import os

    def process(batch_df: DataFrame, batch_id: int) -> None:
        sess = batch_df.sparkSession
        sess.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        (
            batch_df.withColumn("batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .partitionBy("batch_id")
            .parquet(out_dir)
        )
        if batch_id == 1 and not os.path.exists(crash_marker):
            with open(crash_marker, "w") as fh:
                fh.write("crash injected after write, before commit\n")
            raise RuntimeError(
                "injected crash: batch 1 output written, checkpoint"
                " commit suppressed"
            )

    src = (
        spark.readStream.schema(DOCS_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .json(source_dir)
    )
    return (
        src.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
