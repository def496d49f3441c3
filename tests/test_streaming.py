"""Structured Streaming tests: availableNow drain, batch parity for closed
windows, duplicate-event drop."""

from __future__ import annotations

import json
import os
from datetime import datetime

import pytest

from udacitydatawarehouseprj_spark.streaming import events_stream


def _write_events(path, rows):
    os.makedirs(path, exist_ok=True)
    with open(os.path.join(path, "part-0.json"), "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")


@pytest.fixture()
def stream_rows():
    # three closed hours + one trailing hour that stays open under the
    # 2h watermark (max ts 06:10 → watermark 04:10 → windows ending ≤04:10
    # emit: 01:00-02:00, 02:00-03:00, 03:00-04:00)
    def ts(h, m):
        return f"2024-03-01T{h:02d}:{m:02d}:00.000Z"

    return [
        {"event_id": 1, "ts": ts(1, 5), "user_id": 1, "event_type": "view", "value": 1.0, "props": "{}"},
        {"event_id": 2, "ts": ts(1, 30), "user_id": 2, "event_type": "view", "value": 2.0, "props": "{}"},
        {"event_id": 2, "ts": ts(1, 30), "user_id": 2, "event_type": "view", "value": 2.0, "props": "{}"},  # dup id
        {"event_id": 3, "ts": ts(2, 10), "user_id": 1, "event_type": "click", "value": 0.5, "props": "{}"},
        {"event_id": 4, "ts": ts(3, 59), "user_id": 3, "event_type": "view", "value": 4.0, "props": "{}"},
        {"event_id": 5, "ts": ts(6, 10), "user_id": 1, "event_type": "view", "value": 9.0, "props": "{}"},
    ]


def _hourly_rollup(spark, tmp_path, rows):
    """Drain ``rows`` through the hourly parquet sink; read it back as
    {(hour_start, event_type): (n_events, total_value)}."""
    src, out = str(tmp_path / "landing"), str(tmp_path / "hourly")
    _write_events(src, rows)
    q = events_stream.run_hourly_stream_to_parquet(
        spark, src, str(tmp_path / "ckpt"), out
    )
    q.awaitTermination(120)
    return src, {(r.hour_start, r.event_type): (r.n_events, r.total_value)
                 for r in spark.read.parquet(out).collect()}


def test_available_now_hourly_rollup(spark, tmp_path, stream_rows):
    _, out = _hourly_rollup(spark, tmp_path, stream_rows)
    h = lambda hh: datetime(2024, 3, 1, hh, 0)
    # duplicate event_id=2 dropped → hour 1 has 2 views, not 3
    assert out[(h(1), "view")] == (2, 3.0)
    assert out[(h(2), "click")] == (1, 0.5)
    assert out[(h(3), "view")] == (1, 4.0)
    # the 06:00 window is still open under the watermark → not emitted
    assert (h(6), "view") not in out


def test_batch_parity_for_closed_windows(spark, tmp_path, stream_rows):
    src, streamed = _hourly_rollup(spark, tmp_path, stream_rows)
    batch_df = events_stream.hourly_event_counts(
        spark.read.schema(events_stream.EVENTS_STREAM_SCHEMA)
        .json(src)
        .dropDuplicates(["event_id"])
    )
    batch = {(r.hour_start, r.event_type): (r.n_events, r.total_value)
             for r in batch_df.collect()}
    # streamed output == batch output restricted to closed windows
    for key, val in streamed.items():
        assert batch[key] == val
    closed = {k for k in batch if k[0] <= datetime(2024, 3, 1, 3, 0)}
    assert set(streamed) == closed


def test_running_totals_stateful_operator(spark, tmp_path, stream_rows):
    src = str(tmp_path / "landing")
    _write_events(src, stream_rows)
    q = events_stream.run_running_totals_stream(
        spark, src, str(tmp_path / "ckpt")
    )
    q.awaitTermination(120)
    rows = spark.table(q.name).collect()
    # one availableNow drain → one update per user; dup event_id=2 is NOT
    # deduped here (raw running totals over arriving rows)
    by_user = {r.user_id: (r.n_events, r.total_value) for r in rows}
    assert by_user[1] == (3, 1.0 + 0.5 + 9.0)
    assert by_user[2] == (2, 4.0)
    assert by_user[3] == (1, 4.0)


def test_parquet_sink_exactly_once(spark, tmp_path, stream_rows):
    src = str(tmp_path / "landing")
    _write_events(src, stream_rows)
    out = str(tmp_path / "warehouse" / "hourly")
    ckpt = str(tmp_path / "ckpt")
    q = events_stream.run_hourly_stream_to_parquet(spark, src, ckpt, out)
    q.awaitTermination(120)
    first = spark.read.parquet(out).collect()
    got = {(r.hour_start, r.event_type): (r.n_events, r.total_value) for r in first}
    assert got[(datetime(2024, 3, 1, 1, 0), "view")] == (2, 3.0)
    # re-running over the same checkpoint must be a no-op (exactly-once)
    q2 = events_stream.run_hourly_stream_to_parquet(spark, src, ckpt, out)
    q2.awaitTermination(120)
    assert len(spark.read.parquet(out).collect()) == len(first)


def test_stream_stream_attribution_join(spark, tmp_path):
    def ts(h, m):
        return f"2024-03-01T{h:02d}:{m:02d}:00.000Z"

    rows = [
        {"event_id": 1, "ts": ts(1, 0), "user_id": 1, "event_type": "view", "value": 1.0, "props": "{}"},
        {"event_id": 2, "ts": ts(1, 30), "user_id": 1, "event_type": "view", "value": 1.0, "props": "{}"},
        {"event_id": 3, "ts": ts(1, 45), "user_id": 1, "event_type": "purchase", "value": 9.0, "props": "{}"},
        # view outside the 1h lookback of the purchase below
        {"event_id": 4, "ts": ts(2, 0), "user_id": 2, "event_type": "view", "value": 1.0, "props": "{}"},
        {"event_id": 5, "ts": ts(4, 0), "user_id": 2, "event_type": "purchase", "value": 9.0, "props": "{}"},
    ]
    # the attribution stream reads a parquet landing zone
    _write_events(str(tmp_path / "json"), rows)
    src = str(tmp_path / "landing")
    spark.read.schema(events_stream.EVENTS_STREAM_SCHEMA).json(
        str(tmp_path / "json")
    ).write.parquet(src)
    q = events_stream.run_purchase_attribution_stream(
        spark, src, str(tmp_path / "ckpt")
    )
    q.awaitTermination(120)
    got = {(r.purchase_id, r.view_id) for r in spark.table(q.name).collect()}
    # purchase 3 attributes to both in-window views; purchase 5 to none
    assert got == {(3, 1), (3, 2)}


def _write_docs(path, fname, rows):
    os.makedirs(path, exist_ok=True)
    with open(os.path.join(path, fname), "w") as f:
        for doc_id, text in rows:
            f.write(json.dumps({"doc_id": doc_id, "text": text}) + "\n")


def test_incremental_dedup_stream_across_batches(spark, tmp_path):
    """Two micro-batches (two stream runs over one checkpoint): batch 2's
    exact and near duplicates of batch-1 docs are dropped by the index
    built from batch 1; its genuinely new doc survives."""
    from udacitydatawarehouseprj_spark.streaming import corpus_stream

    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    corpus = str(tmp_path / "corpus")
    index = str(tmp_path / "index")
    base = "the quick brown fox jumps over the lazy dog again and again today"
    near = "the quick brown fox jumps over the lazy dog again and again tonight"

    _write_docs(src, "b1.json", [
        (1, base),
        (2, "an entirely different first-batch document about streaming"),
        (3, "an entirely different first-batch document about streaming"),  # in-batch exact dup
    ])
    q = corpus_stream.run_incremental_dedup_stream(spark, src, ckpt, corpus, index)
    q.awaitTermination(120)
    got1 = {r.doc_id for r in spark.read.parquet(corpus).collect()}
    assert got1 == {1, 2}

    _write_docs(src, "b2.json", [
        (11, base),   # exact dup of accepted doc 1 → dropped
        (12, near),   # near dup of accepted doc 1 → dropped
        (13, "a brand new second-batch document unlike anything before"),
    ])
    q2 = corpus_stream.run_incremental_dedup_stream(spark, src, ckpt, corpus, index)
    q2.awaitTermination(120)
    got2 = {r.doc_id for r in spark.read.parquet(corpus).collect()}
    assert got2 == {1, 2, 13}
    # index rows accumulated for every accepted doc, none for dropped
    idx_ids = {r.doc_id for r in spark.read.parquet(index).collect()}
    assert idx_ids == {1, 2, 13}
