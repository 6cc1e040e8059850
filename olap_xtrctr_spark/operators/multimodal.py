"""Multimodal column plumbing: image/audio/video as opaque binary columns
with typed metadata, processed via Arrow-batched mapInPandas.

The Spark-side plumbing (schemas, batch iteration, partition-preserving
UDF signatures) is real and tested.  Codec status is split by format:

* **Real codecs, no external libs** — uncompressed containers parsed
  with the stdlib + numpy: RIFF/WAVE PCM16 (``decode_wav``, via the
  stdlib ``wave`` module) and binary PPM / P6 images (``decode_ppm``,
  header parse + ``np.frombuffer``), plus a real nearest-neighbor
  resize (``resize_nearest``).  The synthetic fixtures for these carry
  *closed-form* sample/pixel content, so an external SQL oracle can
  verify the decoded values bit-exactly (see workloads/multimodal).
* **Compressed formats (JPEG/MP3/MP4)** — env-blocked: no PIL/ffmpeg
  in this container.  ``real_decode`` stays an honest
  NotImplementedError slot; the deterministic ``_fake_decode`` digest
  chain stands in so the distributed shape is still exercised.
"""
from __future__ import annotations

import hashlib
import io
import struct
import wave
from collections.abc import Iterator
from typing import Callable

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

MEDIA_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType()),
    T.StructField("kind", T.StringType()),       # image | audio | video
    T.StructField("payload", T.BinaryType()),    # opaque encoded bytes
    T.StructField("mime", T.StringType()),
    T.StructField("meta", T.MapType(T.StringType(), T.StringType())),
])

FEATURE_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType()),
    T.StructField("kind", T.StringType()),
    T.StructField("n_bytes", T.IntegerType()),
    T.StructField("digest", T.StringType()),
    T.StructField("feature", T.ArrayType(T.FloatType())),
])


def _digest(payload: bytes) -> str:
    """sha256 over the payload's lowercase-hex form (not the raw bytes):
    deliberately chosen so an external SQL oracle can recompute it —
    DuckDB's hash functions are VARCHAR-only, and hex round-trips."""
    return hashlib.sha256(payload.hex().encode("ascii")).hexdigest()


def _fake_decode(payload: bytes, dim: int = 8) -> list[float]:
    """Deterministic stand-in for a real decoder: derives a fixed-size
    feature vector from the payload digest (little-endian uint32 per
    4 digest bytes, scaled to [0,1)).  Replace with a real decode+embed
    step; the mapInPandas plumbing stays identical."""
    assert dim <= 8, "fake codec yields at most 8 features per digest"
    digest = hashlib.sha256(_digest(payload).encode("ascii")).digest()
    return [struct.unpack("<I", digest[4 * i:4 * i + 4])[0] / 2**32
            for i in range(dim)]


def real_decode(payload: bytes) -> list[float]:
    raise NotImplementedError(
        "no media codec available in this environment; "
        "plug PIL/torchaudio here and pass decoder=real_decode")


def extract_features(media: DataFrame, dim: int = 8,
                     decoder: Callable[[bytes], list[float]] | None = None,
                     ) -> DataFrame:
    """binary payload → fixed-size feature vector via mapInPandas
    (Arrow batches; one python worker per partition — scale by
    repartitioning upstream on media_id)."""
    decode = decoder or (lambda p: _fake_decode(p, dim))

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out = pd.DataFrame({
                "media_id": pdf["media_id"],
                "kind": pdf["kind"],
                "n_bytes": pdf["payload"].map(len).astype("int32"),
                "digest": pdf["payload"].map(_digest),
                "feature": pdf["payload"].map(decode),
            })
            yield out

    return media.mapInPandas(batches, FEATURE_SCHEMA)


def synthetic_media(spark, n: int = 64) -> DataFrame:
    """Deterministic fixture: payload = repeatable bytes per id."""
    rows = [(i, ("image", "audio", "video")[i % 3],
             hashlib.md5(str(i).encode()).digest() * (1 + i % 4),
             ("image/png", "audio/wav", "video/mp4")[i % 3],
             {"w": str(64 + i % 4), "h": str(64)})
            for i in range(n)]
    return spark.createDataFrame(rows, MEDIA_SCHEMA)


RESIZED_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType()),
    T.StructField("kind", T.StringType()),
    T.StructField("target_w", T.IntegerType()),
    T.StructField("target_h", T.IntegerType()),
    T.StructField("payload", T.BinaryType()),
    T.StructField("digest", T.StringType()),
])


def resize_images(media: DataFrame, w: int = 64, h: int = 64) -> DataFrame:
    """Resize pass over image payloads (audio/video rows pass through a
    kind filter upstream).  The codec is stubbed: the "resized" payload
    is a deterministic digest chain over (payload_hex, WxH) — an
    external oracle can recompute it — but the distributed shape is the
    real one: narrow mapInPandas, binary in → binary out, partitioning
    preserved, no shuffle.  Swap the body for PIL's resize and nothing
    else changes."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            hexes = pdf["payload"].map(bytes.hex)
            digests = hexes.map(
                lambda x: hashlib.sha256(
                    f"{x}:{w}x{h}".encode("ascii")).hexdigest())
            yield pd.DataFrame({
                "media_id": pdf["media_id"],
                "kind": pdf["kind"],
                "target_w": w,
                "target_h": h,
                "payload": digests.map(bytes.fromhex),
                "digest": digests,
            })

    return media.mapInPandas(batches, RESIZED_SCHEMA)


FRAME_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType()),
    T.StructField("frame_idx", T.IntegerType()),
    T.StructField("frame_digest", T.StringType()),
])


def sample_frames(media: DataFrame, stride: int = 2) -> DataFrame:
    """Frame sampling for video payloads: each video row fans out to
    ceil(n_frames/stride) frame rows — the 1→N row-explosion shape real
    frame extraction has (each output row would carry the decoded frame;
    here a deterministic per-frame digest stands in for the pixels).
    Fake frame count = 1 + n_bytes % 5 so fixtures exercise ragged
    fan-out.  mapInPandas keeps it narrow: the fan-out happens inside
    the Arrow batch, no shuffle, no driver involvement."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            vids = pdf[pdf["kind"] == "video"]
            ids, idxs, digs = [], [], []
            for mid, payload in zip(vids["media_id"], vids["payload"]):
                d = _digest(payload)
                n_frames = 1 + len(payload) % 5
                for i in range(0, n_frames, stride):
                    ids.append(mid)
                    idxs.append(i)
                    digs.append(hashlib.sha256(
                        f"{d}:{i}".encode("ascii")).hexdigest())
            yield pd.DataFrame({"media_id": pd.Series(ids, dtype="int64"),
                                "frame_idx": pd.Series(idxs, dtype="int32"),
                                "frame_digest": pd.Series(digs,
                                                          dtype="object")})

    return media.mapInPandas(batches, FRAME_SCHEMA)


# ---- real codecs: uncompressed formats, stdlib + numpy only ---------------
# Fixture content is CLOSED-FORM (pure integer arithmetic on ids and
# coordinates) so the decode path is verifiable by an external SQL
# oracle: Spark parses real container bytes, the oracle recomputes the
# expected samples/pixels from the formula, and the aggregates must
# match bit-exactly.

WAV_MUL, WAV_STEP = 2654435761, 69069    # Knuth multiplicative / LCG step


def wav_samples(media_id: int, n: int) -> np.ndarray:
    """Closed-form PCM16 mono samples: full-range pseudo-noise,
    s(t) = ((id*2654435761 + t*69069) mod 65536) - 32768."""
    t = np.arange(n, dtype=np.int64)
    return (((media_id * WAV_MUL + t * WAV_STEP) % 65536) - 32768) \
        .astype(np.int16)


def make_wav(media_id: int, n_samples: int, rate: int) -> bytes:
    """A real RIFF/WAVE container (stdlib ``wave`` writer, PCM16 mono)."""
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(rate)
        w.writeframes(wav_samples(media_id, n_samples).tobytes())
    return buf.getvalue()


def decode_wav(payload: bytes) -> tuple[int, np.ndarray]:
    """REAL decode: parse the RIFF/WAVE header with the stdlib reader
    and return (sample_rate, int16 sample array).  Mono PCM16 only —
    the supported-subset contract is explicit, not silent.  Malformed
    containers surface as ValueError (one structured rejection type
    across the codec family, fuzz-tested), never as a hang or a raw
    library internal."""
    try:
        with wave.open(io.BytesIO(payload), "rb") as w:
            if w.getsampwidth() != 2 or w.getnchannels() != 1:
                raise ValueError(
                    f"unsupported WAV: {w.getnchannels()}ch "
                    f"{8 * w.getsampwidth()}-bit (PCM16 mono only)")
            rate = w.getframerate()
            frames = w.readframes(w.getnframes())
    except (wave.Error, EOFError, RuntimeError) as exc:
        # RuntimeError: CPython's wave module raises it BARE when a
        # corrupted chunk header seeks past the end of the payload
        # (wave.py _Chunk.seek) — found by the corruption fuzz test.
        raise ValueError(f"not a decodable RIFF/WAVE payload: {exc}") \
            from exc
    return rate, np.frombuffer(frames, dtype="<i2")


WAV_STATS_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType()),
    T.StructField("sample_rate", T.IntegerType()),
    T.StructField("n_samples", T.LongType()),
    T.StructField("sum_amp", T.LongType()),
    T.StructField("sum_sq", T.LongType()),
    T.StructField("min_amp", T.IntegerType()),
    T.StructField("max_amp", T.IntegerType()),
    T.StructField("n_zero_cross", T.LongType()),
])


def wav_decode_stats(media: DataFrame) -> DataFrame:
    """payload -> decoded-audio statistics via mapInPandas (narrow, no
    shuffle; scales with partitions).  All-integer outputs so the match
    against an external oracle is exact: sum, sum of squares, min/max
    amplitude, and sign-change count (zero crossings)."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                rate, s = decode_wav(payload)
                s64 = s.astype(np.int64)
                rows.append((
                    mid, rate, len(s),
                    int(s64.sum()), int((s64 * s64).sum()),
                    int(s.min()), int(s.max()),
                    int(((s[:-1] < 0) != (s[1:] < 0)).sum())))
            yield pd.DataFrame(rows, columns=[f.name for f in
                                              WAV_STATS_SCHEMA.fields])

    return media.mapInPandas(batches, WAV_STATS_SCHEMA)


def ppm_pixels(media_id: int, w: int, h: int) -> np.ndarray:
    """Closed-form RGB raster, p(x,y,c) = (id*31 + x*7 + y*13 + c*101)
    mod 256, shaped (h, w, 3) in PPM raster order."""
    y, x, c = np.ogrid[0:h, 0:w, 0:3]
    return ((media_id * 31 + x * 7 + y * 13 + c * 101) % 256) \
        .astype(np.uint8)


def make_ppm(media_id: int, w: int, h: int) -> bytes:
    """A real binary PPM (P6) image: ASCII header + raw RGB raster."""
    return b"P6\n%d %d\n255\n" % (w, h) + \
        ppm_pixels(media_id, w, h).tobytes()


def decode_ppm(payload: bytes) -> np.ndarray:
    """REAL decode: parse the P6 header (magic, whitespace/comment
    tolerant, maxval 255) and return the (h, w, 3) uint8 raster."""
    if payload[:2] != b"P6":
        raise ValueError("not a binary PPM (P6) payload")
    # header = magic + 3 ints (w, h, maxval), '#' comments allowed
    vals, pos = [], 2
    while len(vals) < 3:
        while pos < len(payload) and payload[pos:pos + 1].isspace():
            pos += 1
        if payload[pos:pos + 1] == b"#":
            pos = payload.index(b"\n", pos) + 1
            continue
        start = pos
        while pos < len(payload) and not payload[pos:pos + 1].isspace():
            pos += 1
        if pos == start:
            # Truncated header: must raise, not spin — past-the-end
            # slices are b"" and b"".isspace() is False, so an unbounded
            # scan here never terminates (a poison payload would hang
            # the executor; found by the header fuzz test).
            raise ValueError("truncated PPM header")
        vals.append(int(payload[start:pos]))
    w, h, maxval = vals
    if w <= 0 or h <= 0:
        raise ValueError(f"invalid PPM dimensions {w}x{h}")
    if maxval != 255:
        raise ValueError(f"unsupported PPM maxval {maxval} (8-bit only)")
    pos += 1                                   # single whitespace after maxval
    raster = np.frombuffer(payload, dtype=np.uint8, count=w * h * 3,
                           offset=pos)
    return raster.reshape(h, w, 3)


def resize_nearest(img: np.ndarray, out_w: int, out_h: int) -> np.ndarray:
    """Real nearest-neighbor resize by index mapping:
    src_x = floor(x_out * w / out_w), src_y = floor(y_out * h / out_h)
    (top-left convention — chosen over center-alignment so an external
    integer-arithmetic oracle can reproduce the mapping exactly)."""
    h, w = img.shape[:2]
    ys = (np.arange(out_h, dtype=np.int64) * h) // out_h
    xs = (np.arange(out_w, dtype=np.int64) * w) // out_w
    return img[np.ix_(ys, xs)]


PPM_STATS_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType()),
    T.StructField("width", T.IntegerType()),
    T.StructField("height", T.IntegerType()),
    T.StructField("sum_r", T.LongType()),
    T.StructField("sum_g", T.LongType()),
    T.StructField("sum_b", T.LongType()),
    T.StructField("wsum_px", T.LongType()),
])


def _ppm_stats_row(mid: int, img: np.ndarray) -> tuple:
    """Per-channel sums + a position-weighted checksum over the raster:
    wsum = sum(v * (1 + byte_offset mod 97)) — order-sensitive, so a
    transposed axis or swapped channel order cannot cancel out."""
    h, w = img.shape[:2]
    v = img.astype(np.int64).ravel()           # raster order: y, x, c
    weights = 1 + (np.arange(v.size, dtype=np.int64) % 97)
    return (mid, w, h,
            int(img[:, :, 0].astype(np.int64).sum()),
            int(img[:, :, 1].astype(np.int64).sum()),
            int(img[:, :, 2].astype(np.int64).sum()),
            int((v * weights).sum()))


def ppm_decode_stats(media: DataFrame) -> DataFrame:
    """payload -> decoded-image statistics via mapInPandas (narrow)."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = [_ppm_stats_row(mid, decode_ppm(p))
                    for mid, p in zip(pdf["media_id"], pdf["payload"])]
            yield pd.DataFrame(rows, columns=[f.name for f in
                                              PPM_STATS_SCHEMA.fields])

    return media.mapInPandas(batches, PPM_STATS_SCHEMA)


def ppm_resize_stats(media: DataFrame, out_w: int, out_h: int) -> DataFrame:
    """payload -> decode, REAL nearest-neighbor resize, statistics of
    the *resized* raster (same stats shape as ppm_decode_stats, so the
    oracle verifies the resize index mapping pixel-for-pixel)."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = [_ppm_stats_row(
                        mid, resize_nearest(decode_ppm(p), out_w, out_h))
                    for mid, p in zip(pdf["media_id"], pdf["payload"])]
            yield pd.DataFrame(rows, columns=[f.name for f in
                                              PPM_STATS_SCHEMA.fields])

    return media.mapInPandas(batches, PPM_STATS_SCHEMA)


def synthetic_wav_media(spark, n: int = 128) -> DataFrame:
    """Real WAV payloads: id i gets 200 + (i%5)*40 samples at
    8000*(1 + i%3) Hz, content per ``wav_samples``."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ids = pdf["id"]
            yield pd.DataFrame({
                "media_id": ids,
                "payload": [make_wav(int(i), 200 + int(i) % 5 * 40,
                                     8000 * (1 + int(i) % 3))
                            for i in ids]})

    schema = T.StructType([T.StructField("media_id", T.LongType()),
                           T.StructField("payload", T.BinaryType())])
    return spark.range(n).mapInPandas(batches, schema)


def synthetic_ppm_media(spark, n: int = 96) -> DataFrame:
    """Real P6 payloads: id i is (16 + (i%4)*4) x (12 + (i%3)*4),
    pixels per ``ppm_pixels``."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ids = pdf["id"]
            yield pd.DataFrame({
                "media_id": ids,
                "payload": [make_ppm(int(i), 16 + int(i) % 4 * 4,
                                     12 + int(i) % 3 * 4)
                            for i in ids]})

    schema = T.StructType([T.StructField("media_id", T.LongType()),
                           T.StructField("payload", T.BinaryType())])
    return spark.range(n).mapInPandas(batches, schema)
