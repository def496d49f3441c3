"""Unit tests for the custom Python DataSource (sources/python_source)."""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.datasource import (
    GreaterThanOrEqual,
    LessThan,
    StringContains,
)

from udacitydatawarehouseprj_spark.sources import python_source as ps


def _reader(**opts):
    return ps.SynthCorpusReader({k: str(v) for k, v in opts.items()})


def test_push_filters_narrows_partition_planning():
    r = _reader(n_rows=10000, partitions=8)
    leftover = list(
        r.pushFilters(
            [
                GreaterThanOrEqual(("doc_id",), 6000),
                LessThan(("doc_id",), 9000),
                StringContains(("group_key",), "x"),  # unsupported
            ]
        )
    )
    # the unsupported filter is handed back for Spark to re-apply
    assert len(leftover) == 1 and isinstance(leftover[0], StringContains)
    parts = r.partitions()
    assert parts[0].start == 6000 and parts[-1].end == 9000
    covered = sum(p.end - p.start for p in parts)
    assert covered == 3000  # skipped ids are never planned, let alone read


def test_partitions_cover_range_disjointly():
    r = _reader(n_rows=1000, partitions=7)
    parts = r.partitions()
    spans = sorted((p.start, p.end) for p in parts)
    assert spans[0][0] == 0 and spans[-1][1] == 1000
    for (s1, e1), (s2, e2) in zip(spans, spans[1:]):
        assert e1 == s2  # no gaps, no overlaps


def test_empty_range_yields_no_rows(spark):
    ps.register(spark)
    df = (
        spark.read.format("synthcorpus")
        .option("n_rows", 100)
        .load()
        .filter(F.col("doc_id") >= 1000)
    )
    assert df.count() == 0


def test_register_on_a_second_session(spark):
    """A session of the same application registers the format even after
    another session did."""
    ps.register(spark)
    other = spark.newSession()
    ps.register(other)
    assert other.read.format("synthcorpus").option("n_rows", 100).load().count() == 100


def test_scan_values_match_formula(spark):
    ps.register(spark)
    rows = (
        spark.read.format("synthcorpus")
        .option("n_rows", 200)
        .option("partitions", 4)
        .load()
        .collect()
    )
    assert len(rows) == 200
    import numpy as np

    ids = np.array([r.doc_id for r in rows])
    scores = np.array([r.score for r in rows])
    assert (np.sort(ids) == np.arange(200)).all()
    order = np.argsort(ids)
    assert np.array_equal(scores[order], ps.score_of(np.arange(200)))
    for r in rows[:10]:
        assert r.group_key == r.doc_id % ps.N_GROUPS


def test_sink_commit_protocol_atomicity(spark, tmp_path):
    """Uncommitted staging files must be invisible to the manifest
    reader; committed files must carry exactly the written rows."""
    import json
    import os

    from pyspark.sql import types as T

    ps.register_sink(spark)
    out = str(tmp_path / "sink")
    df = spark.range(100).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    df.repartition(4).write.format("ndjsonatomic").mode("append").save(out)
    # manifest exists, staging is gone
    assert os.path.exists(os.path.join(out, "_MANIFEST.json"))
    assert not os.path.exists(os.path.join(out, "_tmp"))
    manifest = json.load(open(os.path.join(out, "_MANIFEST.json")))
    assert manifest["n_rows"] == 100
    # plant an UNCOMMITTED file: the reader must not see it
    with open(os.path.join(out, "part-99999-0.json"), "w") as fh:
        fh.write('{"k": 424242, "v": 0}\n')
    schema = T.StructType(
        [T.StructField("k", T.LongType()), T.StructField("v", T.LongType())]
    )
    back = ps.read_committed(spark, out, schema)
    assert back.count() == 100
    assert back.filter(F.col("k") == 424242).count() == 0
    assert back.agg(F.sum("v")).collect()[0][0] == sum(2 * i for i in range(100))


def test_sink_roundtrips_doubles_exactly(spark, tmp_path):
    """JSON shortest-roundtrip serialization must reproduce doubles
    bit-for-bit through the sink and the declared-schema reader."""
    from pyspark.sql import types as T

    ps.register_sink(spark)
    out = str(tmp_path / "sinkd")
    vals = [(i, i / 7.0) for i in range(50)]
    df = spark.createDataFrame(vals, "k long, v double")
    df.write.format("ndjsonatomic").mode("append").save(out)
    schema = T.StructType(
        [T.StructField("k", T.LongType()), T.StructField("v", T.DoubleType())]
    )
    back = {
        r.k: r.v
        for r in ps.read_committed(spark, out, schema).collect()
    }
    for k, v in vals:
        assert back[k] == v  # exact, no tolerance


def test_streaming_source_drains_deterministically(spark, tmp_path):
    """The custom streaming source must deliver exactly the id range in
    micro-batches, and offset replay must regenerate identical rows."""
    import time

    ps.register_stream(spark)
    q = (
        spark.readStream.format("synthcorpusstream")
        .option("n_rows", 500)
        .option("rows_per_batch", 128)
        .load()
        .writeStream.format("memory")
        .queryName("synth_stream_t")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        deadline = time.time() + 120
        while time.time() < deadline:
            if spark.sql("SELECT COUNT(*) FROM synth_stream_t").collect()[0][0] >= 500:
                break
            time.sleep(0.5)
    finally:
        q.stop()
    rows = spark.sql("SELECT * FROM synth_stream_t").collect()
    assert len(rows) == 500
    ids = sorted(r.doc_id for r in rows)
    assert ids == list(range(500))
    by_id = {r.doc_id: r.score for r in rows}
    for i in (0, 1, 137, 499):
        assert by_id[i] == ps.score_of_scalar(i)
    # replay contract: identical rows for identical offsets
    rdr = ps.SynthCorpusStreamReader({"n_rows": "500", "rows_per_batch": "128"})
    replay = list(rdr.readBetweenOffsets({"pos": 128}, {"pos": 256}))
    first_read, nxt = rdr.read({"pos": 128})
    assert list(first_read) == replay and nxt == {"pos": 256}


def test_sink_append_merges_manifest_and_overwrite_replaces(spark, tmp_path):
    """Commit protocol across jobs: a second append must keep the first
    job's files visible (manifest merge), and an overwrite must clear
    them — including their data files — so read_committed always
    reflects exactly the committed history."""
    import json
    import os

    from pyspark.sql import types as T

    ps.register_sink(spark)
    out = str(tmp_path / "sink_multi")
    schema = T.StructType(
        [T.StructField("k", T.LongType()), T.StructField("v", T.LongType())]
    )
    mk = lambda lo, hi: spark.range(lo, hi).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    mk(0, 50).write.format("ndjsonatomic").mode("append").save(out)
    mk(50, 80).write.format("ndjsonatomic").mode("append").save(out)
    manifest = json.load(open(os.path.join(out, "_MANIFEST.json")))
    assert manifest["n_rows"] == 80
    back = ps.read_committed(spark, out, schema)
    assert back.count() == 80
    assert back.agg(F.sum("k")).collect()[0][0] == sum(range(80))
    # overwrite: only the new write is visible, old data files are gone
    mk(1000, 1010).write.format("ndjsonatomic").mode("overwrite").save(out)
    manifest2 = json.load(open(os.path.join(out, "_MANIFEST.json")))
    assert manifest2["n_rows"] == 10
    back2 = ps.read_committed(spark, out, schema)
    assert back2.count() == 10
    assert back2.agg(F.min("k")).collect()[0][0] == 1000
    on_disk = {f for f in os.listdir(out) if f.endswith(".json") and f != "_MANIFEST.json"}
    assert on_disk == set(manifest2["files"])
