"""Multimodal plumbing tests: binary payload schema, Arrow mapInPandas
round-trip, frame sampling, stubbed decoder gating."""

from __future__ import annotations

import pytest
from pyspark.sql import Row

from udacitydatawarehouseprj_spark.operators import multimodal as mm


def _docs(spark):
    return spark.createDataFrame(
        [Row(doc_id=0, text="hello"), Row(doc_id=1, text="spark!")]
    )


def test_attach_payload_schema(spark):
    df = mm.attach_payload(_docs(spark))
    assert [f.name for f in df.schema.fields] == ["doc_id", "payload", "meta"]
    assert df.schema["payload"].dataType.typeName() == "binary"
    row = df.filter("doc_id = 0").collect()[0]
    assert bytes(row.payload) == b"hello"
    assert row.meta.media_type == "text" and row.meta.n_bytes == 5


def test_byte_features_roundtrip(spark):
    out = {
        r.doc_id: r
        for r in mm.extract_byte_features(mm.attach_payload(_docs(spark))).collect()
    }
    assert out[0].n_bytes == 5
    assert out[0].first_byte == ord("h")
    assert out[0].checksum == sum(b"hello") % mm.CHECKSUM_MOD
    assert out[1].n_bytes == 6
    assert out[1].checksum == sum(b"spark!") % mm.CHECKSUM_MOD


def test_frame_sampling(spark):
    big = spark.createDataFrame([Row(doc_id=7, text="x" * 9000)])
    frames = sorted(
        mm.sample_frames(
            mm.attach_payload(big), frame_size=1024, stride=4096
        ).collect(),
        key=lambda f: f.frame_idx,
    )
    # windows at offsets 0, 4096, 8192; the last is clamped to the tail
    assert [f.frame_idx for f in frames] == [0, 1, 2]
    assert len(bytes(frames[0].frame_bytes)) == 1024
    assert len(bytes(frames[2].frame_bytes)) == 9000 - 8192


def test_image_decode_stub_raises(spark):
    df = mm.decode_image_features(mm.attach_payload(_docs(spark)))
    with pytest.raises(Exception) as exc_info:
        df.collect()
    assert "NotImplementedError" in str(exc_info.value) or isinstance(
        exc_info.value, NotImplementedError
    )


def test_ppm_roundtrip_decodes_exactly(spark):
    """encode_ppm → decode_image_features recovers the analytic means."""
    df = spark.createDataFrame([(i,) for i in range(4)], "doc_id long")
    out = {
        r.doc_id: r
        for r in mm.decode_image_features(mm.attach_ppm_payload(df)).collect()
    }
    for did in range(4):
        vals = [
            (31 * did + 7 * x + 13 * y + 5 * c) % 256
            for y in range(8)
            for x in range(16)
            for c in range(3)
        ]
        r = out[did]
        assert (r.width, r.height) == (16, 8)
        assert r.mean_luma == sum(vals) / len(vals)
        assert r.mean_r == sum(vals[0::3]) / 128
        assert r.mean_b == sum(vals[2::3]) / 128


def test_ppm_parser_handles_comments():
    from udacitydatawarehouseprj_spark.operators.multimodal import _decode_ppm

    body = bytes(range(2 * 1 * 3))
    buf = b"P6\n# a comment\n2 1\n# more\n255\n" + body
    w, h, px = _decode_ppm(buf)
    assert (w, h) == (2, 1)
    assert px.tobytes() == body


def test_wav_roundtrip_and_malformed_rejected(spark):
    from udacitydatawarehouseprj_spark.operators import multimodal as mm
    import numpy as np
    import pytest

    buf = mm.encode_wav(7, n_samples=16, rate=8000)
    rate, samples = mm._decode_wav(buf)
    assert rate == 8000 and len(samples) == 16
    expect = (((7 * 31 + np.arange(16) * 7) % 2003) - 1001)
    assert np.array_equal(samples.astype("int64"), expect)
    with pytest.raises(ValueError):
        mm._decode_wav(b"OggS" + b"\x00" * 40)
    # stereo / non-16-bit rejected by the fmt gate
    import struct
    bad_fmt = struct.pack("<HHIIHH", 1, 2, 8000, 32000, 4, 16)
    bad = (b"RIFF" + struct.pack("<I", 4 + 8 + len(bad_fmt)) + b"WAVE"
           + b"fmt " + struct.pack("<I", len(bad_fmt)) + bad_fmt)
    with pytest.raises(ValueError):
        mm._decode_wav(bad)
