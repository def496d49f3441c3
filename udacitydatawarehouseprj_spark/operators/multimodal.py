"""Multimodal columns: opaque ``binary`` payloads + typed metadata.

Beyond-reference operators (BASELINE.json north star). The pattern for
image/audio/video at 100 TB: store the payload as a ``binary`` column (or
a reference + fetched bytes) with a typed metadata struct alongside, and
run decode / feature-extract / resize / frame-sample as Arrow-batched
pandas functions over ``mapInPandas`` — the bytes never round-trip through
row-at-a-time Python, and partitioning stays Spark-managed.

The decode step itself is STUBBED (no image/audio libraries in this
container — ``NotImplementedError`` behind an import-try), but the
Spark-side plumbing is real and tested: schema, Arrow batch shape,
``mapInPandas`` signature, and a deterministic byte-level feature extractor
(`extract_byte_features`) that exercises the full binary path end-to-end.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: metadata struct carried alongside every payload column
MEDIA_META = T.StructType(
    [
        T.StructField("media_type", T.StringType()),  # 'image' | 'audio' | 'video' | 'text'
        T.StructField("encoding", T.StringType()),
        T.StructField("n_bytes", T.LongType()),
    ]
)

BYTE_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("first_byte", T.IntegerType()),
        T.StructField("checksum", T.LongType()),
    ]
)

CHECKSUM_MOD = 2_147_483_647


def attach_payload(df: DataFrame, id_col: str = "doc_id",
                   text_col: str = "text") -> DataFrame:
    """Build a multimodal-shaped frame from a text table: payload =
    utf-8 bytes (binary), metadata struct alongside. In a real pipeline the
    payload column arrives from the source (S3 object bytes, parquet
    binary); this adapter lets every downstream operator be tested."""
    payload = F.encode(F.col(text_col), "utf-8")
    meta = F.struct(
        F.lit("text").alias("media_type"),
        F.lit("utf-8").alias("encoding"),
        F.octet_length(payload).cast("long").alias("n_bytes"),
    )
    return df.select(F.col(id_col), payload.alias("payload"), meta.alias("meta"))


def extract_byte_features(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Arrow-batched byte-level feature extraction via ``mapInPandas``.

    Computes (n_bytes, first_byte, rolling checksum) per payload in pandas
    over whole Arrow batches — the template every real decoder below
    follows. Deterministic, so oracle-checkable end-to-end.
    """

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            payloads = pdf["payload"]
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_col].astype("int64"),
                    "n_bytes": payloads.map(len).astype("int64"),
                    "first_byte": payloads.map(
                        lambda b: int(b[0]) if len(b) else -1
                    ).astype("int32"),
                    # empty payload → NULL, matching the oracle's
                    # list_sum([]) semantics
                    "checksum": payloads.map(
                        lambda b: sum(b) % CHECKSUM_MOD if len(b) else None
                    ).astype("Int64"),
                }
            )

    return df.mapInPandas(batches, schema=BYTE_FEATURES_SCHEMA)


# --- image decode: pure-stdlib PPM(P6) codec + gated fallback ------------
#
# Binary PPM is decodable with nothing but header parsing + a byte buffer,
# so the decode path is EXECUTABLE in this codec-free container (the
# former stub). Non-PPM payloads still gate on PIL: the plumbing is the
# same, only the codec import differs.

IMAGE_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("mean_r", T.DoubleType()),
        T.StructField("mean_g", T.DoubleType()),
        T.StructField("mean_b", T.DoubleType()),
        T.StructField("mean_luma", T.DoubleType()),
    ]
)


def encode_ppm(doc_id: int, width: int = 16, height: int = 8) -> bytes:
    """Deterministic synthetic P6 image: channel ``c`` of pixel ``(x, y)``
    is ``(doc_id*31 + x*7 + y*13 + c*5) % 256`` — pure integer arithmetic
    a SQL oracle can replay, emitted as REAL binary PPM bytes so the
    decoder exercises actual header parsing + buffer decoding."""
    import numpy as np

    x = np.arange(width)[None, :, None]
    y = np.arange(height)[:, None, None]
    c = np.arange(3)[None, None, :]
    px = ((int(doc_id) * 31 + x * 7 + y * 13 + c * 5) % 256).astype(np.uint8)
    header = f"P6\n{width} {height}\n255\n".encode("ascii")
    return header + px.tobytes()


def attach_ppm_payload(df: DataFrame, id_col: str = "doc_id",
                       width: int = 16, height: int = 8) -> DataFrame:
    """(doc_id, payload=P6 bytes) — the image-corpus adapter for testing
    the decode path end-to-end without external media files."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ids = pdf[id_col].astype("int64")
            yield pd.DataFrame(
                {
                    "doc_id": ids,
                    "payload": [encode_ppm(i, width, height) for i in ids],
                }
            )

    return df.mapInPandas(batches, schema="doc_id long, payload binary")


def _decode_ppm(buf: bytes):
    """Parse binary PPM (P6): header is ASCII tokens (magic, width,
    height, maxval; '#' comments allowed) followed by one whitespace byte
    and the raw RGB buffer. Returns (width, height, uint8 array [h,w,3])."""
    import numpy as np

    if buf[:2] != b"P6":
        raise ValueError("not a binary PPM (P6) payload")
    tokens, pos = [], 2
    while len(tokens) < 3:
        while pos < len(buf) and buf[pos : pos + 1].isspace():
            pos += 1
        if buf[pos : pos + 1] == b"#":  # comment to end of line
            while pos < len(buf) and buf[pos : pos + 1] != b"\n":
                pos += 1
            continue
        start = pos
        while pos < len(buf) and not buf[pos : pos + 1].isspace():
            pos += 1
        tokens.append(int(buf[start:pos]))
    pos += 1  # single whitespace after maxval
    width, height, maxval = tokens
    if maxval != 255:
        raise ValueError(f"only maxval=255 PPM supported, got {maxval}")
    n = width * height * 3
    px = np.frombuffer(buf, dtype=np.uint8, count=n, offset=pos)
    return width, height, px.reshape(height, width, 3)


def decode_image_features(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Decode image payloads → (width, height, per-channel means, mean
    luminance). PPM (P6) decodes with the pure-stdlib parser above; any
    other format gates on PIL (absent in this container). Means are
    integer channel sums over the pixel grid divided once (single IEEE
    division of exact ints) — deterministic and oracle-checkable."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        out_id, out_w, out_h = [], [], []
        out_r, out_g, out_b, out_l = [], [], [], []
        for pdf in it:
            for did, payload in zip(pdf[id_col], pdf["payload"]):
                buf = bytes(payload)
                if buf[:2] == b"P6":
                    w, h, px = _decode_ppm(buf)
                else:
                    try:
                        from PIL import Image  # noqa: F401
                    except ImportError as e:
                        raise NotImplementedError(
                            "non-PPM image decode requires a codec "
                            "(PIL/cv2); PPM(P6) decodes natively"
                        ) from e
                    raise NotImplementedError(
                        "non-PPM decode via PIL not wired in this build"
                    )
                n_px = w * h
                sums = px.astype("int64").sum(axis=(0, 1))  # per-channel
                out_id.append(int(did))
                out_w.append(w)
                out_h.append(h)
                out_r.append(int(sums[0]) / n_px)
                out_g.append(int(sums[1]) / n_px)
                out_b.append(int(sums[2]) / n_px)
                out_l.append(int(sums.sum()) / (3 * n_px))
        if out_id:
            yield pd.DataFrame(
                {
                    "doc_id": out_id,
                    "width": pd.array(out_w, dtype="int32"),
                    "height": pd.array(out_h, dtype="int32"),
                    "mean_r": out_r,
                    "mean_g": out_g,
                    "mean_b": out_b,
                    "mean_luma": out_l,
                }
            )

    return df.mapInPandas(batches, schema=IMAGE_FEATURES_SCHEMA)


AUDIO_FRAME_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("frame_idx", T.IntegerType()),
        T.StructField("frame_bytes", T.BinaryType()),
    ]
)


def sample_frames(df: DataFrame, id_col: str = "doc_id",
                  frame_size: int = 1024, stride: int = 4096) -> DataFrame:
    """Frame-sample a binary payload: emit every ``stride``-th window of
    ``frame_size`` bytes (the audio/video frame-sampling shape, applied to
    raw bytes so it runs without codecs). One-to-many ``mapInPandas``."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out_ids, out_idx, out_frames = [], [], []
            for did, payload in zip(pdf[id_col], pdf["payload"]):
                for n, off in enumerate(range(0, len(payload), stride)):
                    out_ids.append(int(did))
                    out_idx.append(n)
                    out_frames.append(bytes(payload[off : off + frame_size]))
            yield pd.DataFrame(
                {"doc_id": out_ids, "frame_idx": out_idx, "frame_bytes": out_frames}
            )

    return df.mapInPandas(batches, schema=AUDIO_FRAME_SCHEMA)


# --- Executable AUDIO decode path (WAV/PCM, stdlib-only) ----------------

AUDIO_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("n_samples", T.IntegerType()),
        T.StructField("duration_ms", T.DoubleType()),
        T.StructField("mean_abs", T.DoubleType()),
        T.StructField("rms", T.DoubleType()),
    ]
)


def encode_wav(doc_id: int, n_samples: int = 256, rate: int = 8000) -> bytes:
    """Deterministic synthetic mono 16-bit PCM WAV: sample ``i`` is
    ``((doc_id*31 + i*7) % 2003) - 1001`` — pure integer arithmetic a SQL
    oracle can replay, wrapped in a REAL RIFF/WAVE container so the
    decoder exercises actual chunk parsing (fmt + data), not a shortcut."""
    import struct

    import numpy as np

    i = np.arange(n_samples, dtype=np.int64)
    samples = (((int(doc_id) * 31 + i * 7) % 2003) - 1001).astype("<i2")
    data = samples.tobytes()
    fmt = struct.pack("<HHIIHH", 1, 1, rate, rate * 2, 2, 16)  # PCM mono
    return (
        b"RIFF"
        + struct.pack("<I", 4 + 8 + len(fmt) + 8 + len(data))
        + b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(data)) + data
    )


def attach_wav_payload(df: DataFrame, id_col: str = "doc_id",
                       n_samples: int = 256, rate: int = 8000) -> DataFrame:
    """(doc_id, payload=WAV bytes) — the audio-corpus adapter for testing
    the decode path end-to-end without external media files."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ids = pdf[id_col].astype("int64")
            yield pd.DataFrame(
                {
                    "doc_id": ids,
                    "payload": [encode_wav(i, n_samples, rate) for i in ids],
                }
            )

    return df.mapInPandas(batches, schema="doc_id long, payload binary")


def _decode_wav(buf: bytes):
    """Parse a RIFF/WAVE container: walk chunks to find ``fmt `` (must be
    16-bit mono PCM) and ``data``. Returns (sample_rate, int16 array)."""
    import struct

    import numpy as np

    if buf[:4] != b"RIFF" or buf[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    pos, rate, data = 12, None, None
    while pos + 8 <= len(buf):
        cid = buf[pos : pos + 4]
        size = struct.unpack("<I", buf[pos + 4 : pos + 8])[0]
        body = buf[pos + 8 : pos + 8 + size]
        if cid == b"fmt ":
            fmt_code, channels, rate, _, _, bits = struct.unpack(
                "<HHIIHH", body[:16]
            )
            if (fmt_code, channels, bits) != (1, 1, 16):
                raise ValueError("only 16-bit mono PCM WAV supported")
        elif cid == b"data":
            data = np.frombuffer(body, dtype="<i2")
        pos += 8 + size + (size & 1)  # chunks are word-aligned
    if rate is None or data is None:
        raise ValueError("WAV missing fmt or data chunk")
    return rate, data


def decode_audio_features(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Decode audio payloads → (sample_rate, n_samples, duration_ms,
    mean |amplitude|, RMS). WAV/PCM decodes with the stdlib chunk parser
    above; compressed codecs (mp3/flac/ogg) gate on a codec library
    (absent in this container). Aggregates are exact integer sums with
    ONE final IEEE division/sqrt — deterministic and oracle-checkable."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import math

        # one output frame per INPUT Arrow batch — accumulating the whole
        # partition in memory would defeat mapInPandas batch streaming on
        # a large partition of audio payloads
        for pdf in it:
            out = {k: [] for k in
                   ("doc_id", "sample_rate", "n_samples", "duration_ms",
                    "mean_abs", "rms")}
            for did, payload in zip(pdf[id_col], pdf["payload"]):
                buf = bytes(payload)
                if buf[:4] == b"RIFF":
                    rate, samples = _decode_wav(buf)
                else:
                    try:
                        import soundfile  # noqa: F401
                    except ImportError as e:
                        raise NotImplementedError(
                            "compressed audio decode requires a codec "
                            "(soundfile/librosa); WAV/PCM decodes natively"
                        ) from e
                    raise NotImplementedError(
                        "compressed decode via soundfile not wired here"
                    )
                n = len(samples)
                s64 = samples.astype("int64")
                out["doc_id"].append(int(did))
                out["sample_rate"].append(rate)
                out["n_samples"].append(n)
                out["duration_ms"].append(n * 1000.0 / rate)
                out["mean_abs"].append(int(abs(s64).sum()) / n)
                out["rms"].append(math.sqrt(int((s64 * s64).sum()) / n))
            if out["doc_id"]:
                yield pd.DataFrame(
                    {
                        "doc_id": out["doc_id"],
                        "sample_rate": pd.array(out["sample_rate"],
                                                dtype="int32"),
                        "n_samples": pd.array(out["n_samples"],
                                              dtype="int32"),
                        "duration_ms": out["duration_ms"],
                        "mean_abs": out["mean_abs"],
                        "rms": out["rms"],
                    }
                )

    return df.mapInPandas(batches, schema=AUDIO_FEATURES_SCHEMA)


RESIZE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("out_width", T.IntegerType()),
        T.StructField("out_height", T.IntegerType()),
        T.StructField("sum_r", T.LongType()),
        T.StructField("sum_g", T.LongType()),
        T.StructField("sum_b", T.LongType()),
        T.StructField("checksum", T.LongType()),
    ]
)


def resize_image_features(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """2× box-filter downsample of PPM payloads — the canonical image
    preprocessing op (resize-before-embed), run as a REAL decode →
    block-reduce inside Arrow-batched ``mapInPandas``.

    Each output pixel is the 2×2 source-block sum (integer — no
    division, so the result is exactly replayable); emitted features
    are the per-channel totals plus a POSITION-WEIGHTED checksum
    Σ block[y, x, c] · (1 + x + 2y + 3c) — sensitive to stride, offset,
    transpose, and channel-order bugs that a bare mean would mask.
    One output row per input row, streamed batch-by-batch (never
    accumulated across the partition — the round-3 audio-decode
    lesson)."""
    import numpy as np

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ids, ows, ohs = [], [], []
            sr, sg, sb, cks = [], [], [], []
            for did, payload in zip(pdf[id_col], pdf["payload"]):
                w, h, px = _decode_ppm(bytes(payload))
                if w % 2 or h % 2:
                    raise ValueError("2x box resize needs even dims")
                blocks = (
                    px.astype("int64")
                    .reshape(h // 2, 2, w // 2, 2, 3)
                    .sum(axis=(1, 3))
                )  # [h/2, w/2, 3]
                oh, ow = blocks.shape[0], blocks.shape[1]
                ys = np.arange(oh)[:, None, None]
                xs = np.arange(ow)[None, :, None]
                cs = np.arange(3)[None, None, :]
                weight = 1 + xs + 2 * ys + 3 * cs
                ids.append(int(did))
                ows.append(ow)
                ohs.append(oh)
                sr.append(int(blocks[:, :, 0].sum()))
                sg.append(int(blocks[:, :, 1].sum()))
                sb.append(int(blocks[:, :, 2].sum()))
                cks.append(int((blocks * weight).sum()))
            yield pd.DataFrame(
                {
                    "doc_id": ids,
                    "out_width": pd.array(ows, dtype="int32"),
                    "out_height": pd.array(ohs, dtype="int32"),
                    "sum_r": sr,
                    "sum_g": sg,
                    "sum_b": sb,
                    "checksum": cks,
                }
            )

    return df.mapInPandas(batches, schema=RESIZE_SCHEMA)


FRAME_ENERGY_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("frame_idx", T.IntegerType()),
        T.StructField("n_samples", T.IntegerType()),
        T.StructField("sum_sq", T.LongType()),
        T.StructField("zcr", T.IntegerType()),
        T.StructField("rms", T.DoubleType()),
    ]
)


def frame_audio_energy(
    df: DataFrame, id_col: str = "doc_id", frame: int = 32
) -> DataFrame:
    """Short-time frame features over 16-bit PCM WAV payloads — the
    windowed-analysis primitive under every audio pipeline (VAD,
    segmentation, silence trimming): non-overlapping ``frame``-sample
    windows, per frame the EXACT integer energy Σs², the zero-crossing
    count (sign flips between consecutive samples inside the frame),
    and RMS with a single final IEEE divide+sqrt — deterministic, so a
    SQL oracle can replay every value from the synthetic PCM generator
    (``encode_wav``). Arrow-batched mapInPandas, one output frame per
    input batch; real STFT/mel features swap into the same shape
    behind a DSP library, gated like compressed codecs."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import math

        for pdf in it:
            out = {k: [] for k in
                   ("doc_id", "frame_idx", "n_samples", "sum_sq",
                    "zcr", "rms")}
            for did, payload in zip(pdf[id_col], pdf["payload"]):
                _, samples = _decode_wav(bytes(payload))
                s64 = samples.astype("int64")
                n = len(s64)
                for f in range(n // frame):
                    w = s64[f * frame : (f + 1) * frame]
                    neg = w < 0
                    zcr = int((neg[1:] != neg[:-1]).sum())
                    ss = int((w * w).sum())
                    out["doc_id"].append(int(did))
                    out["frame_idx"].append(f)
                    out["n_samples"].append(frame)
                    out["sum_sq"].append(ss)
                    out["zcr"].append(zcr)
                    out["rms"].append(math.sqrt(ss / frame))
            if out["doc_id"]:
                yield pd.DataFrame(
                    {
                        "doc_id": out["doc_id"],
                        "frame_idx": pd.array(out["frame_idx"],
                                              dtype="int32"),
                        "n_samples": pd.array(out["n_samples"],
                                              dtype="int32"),
                        "sum_sq": out["sum_sq"],
                        "zcr": pd.array(out["zcr"], dtype="int32"),
                        "rms": out["rms"],
                    }
                )

    return df.mapInPandas(batches, schema=FRAME_ENERGY_SCHEMA)
