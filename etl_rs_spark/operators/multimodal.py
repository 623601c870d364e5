"""Multimodal column plumbing: image/audio/video as opaque binary
columns with typed metadata.

The Spark-side contract is real and tested — schema, Arrow batch shape,
mapInPandas partitioning. Codecs come in two tiers:

- REAL decoders, no external library: PCM16 WAV (RIFF chunk walk +
  numpy frombuffer), binary PPM (P6), PNG (zlib + all five scanline
  filters), and baseline JPEG (operators/jpeg.py — full T.81 baseline
  Huffman decode). ``synth_media`` emits genuine WAV/PPM/PNG (and,
  opt-in, JPEG) payloads, so ``extract_features`` /
  ``extract_decoded_stats`` exercise real decodes end-to-end in tests.
- A clearly marked STUB for compressed-video codecs (H.264 et al.),
  which genuinely need pyav: strict mode raises NotImplementedError,
  test mode produces a deterministic fake. Swapping in pyav later
  changes ONE function, not the pipeline.

At 100 TB: binary payloads never pass through Python row-at-a-time —
they move as Arrow buffers into mapInPandas batches; metadata-only
stages (filter by mime/size/dims) are pure Column expressions that never
touch the bytes, and Parquet column pruning means a metadata query never
reads the binary column at all.
"""

from __future__ import annotations

import struct
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

MEDIA_SCHEMA = StructType(
    [
        StructField("media_id", StringType()),
        StructField("mime", StringType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("n_bytes", IntegerType()),
        StructField("payload", BinaryType()),
    ]
)

FEATURE_SCHEMA = StructType(
    [
        StructField("media_id", StringType()),
        StructField("mime", StringType()),
        StructField("feature", ArrayType(FloatType())),
    ]
)


def _synth_wav(media_id: int) -> bytes:
    """Deterministic REAL PCM16 WAV payload for a synth row: a seeded
    integer ramp, 64-127 samples."""
    n = 64 + media_id % 64
    k = np.arange(n, dtype=np.int64)
    samples = ((media_id * 2654435761 + k * 40503) % 65536) - 32768
    return encode_wav(samples.astype(np.int16))


def _synth_ppm(media_id: int) -> bytes:
    """Deterministic REAL binary-PPM (P6) payload: a seeded byte ramp
    over a small (4-8)x(3-6) RGB raster. Pure integer arithmetic, so a
    SQL oracle regenerates every decoded pixel value exactly."""
    w = 4 + media_id % 5
    h = 3 + media_id % 4
    idx = np.arange(w * h * 3, dtype=np.int64)
    pix = ((media_id * 2654435761 + idx * 97) % 256).astype(np.uint8)
    return encode_ppm(pix.reshape(h, w, 3))


def _synth_png(media_id: int) -> bytes:
    """Deterministic REAL PNG payload (same raster shape as the PPM,
    different byte ramp): zlib-compressed, decoded by decode_png."""
    w = 4 + media_id % 5
    h = 3 + media_id % 4
    idx = np.arange(w * h * 3, dtype=np.int64)
    pix = ((media_id * 2654435761 + idx * 101) % 256).astype(np.uint8)
    return encode_png(pix.reshape(h, w, 3))


def _synth_jpeg(media_id: int) -> bytes:
    """Deterministic REAL baseline-JPEG payload: a seeded smooth ramp
    over a 16x16 RGB raster through operators.jpeg.encode_jpeg. Unlike
    the WAV/PPM/PNG ramps the decoded pixels are NOT SQL-replayable
    (JPEG is lossy); parity tests compare the Spark decode against a
    driver-side decode_jpeg instead."""
    from etl_rs_spark.operators.jpeg import encode_jpeg

    yy, xx = np.mgrid[0:16, 0:16]
    base = (media_id * 37) % 200
    pix = np.stack(
        [
            np.clip(base + yy * 3, 0, 255),
            np.clip(base // 2 + xx * 3, 0, 255),
            np.clip(255 - base - yy - xx, 0, 255),
        ],
        axis=-1,
    ).astype(np.uint8)
    return encode_jpeg(pix, quality=90, subsampling="444")


def synth_media(
    spark: SparkSession, n: int, seed: int = 42, partitions: int = 8,
    hash_mode: str = "xxhash64", include_ppm: bool = False,
    real_jpeg: bool = False,
) -> DataFrame:
    """Deterministic fake media table. audio/wav rows carry a REAL
    PCM16 WAV container (Arrow-batched UDF encode) and — with
    ``include_ppm=True`` — image/ppm rows carry a REAL binary-PPM
    raster and png rows a REAL zlib PNG. With ``real_jpeg=True`` the
    jpeg rows additionally carry a genuine baseline JFIF container
    (operators/jpeg.py); the default keeps them opaque seeded bytes
    because every existing SQL oracle replays THOSE bytes — JPEG being
    lossy, its decode parity is tested against a driver-side
    decode_jpeg, not DuckDB. Generated distributed from spark.range —
    no driver materialization. Small test fixtures default to 8
    partitions so a tiny table doesn't spin up one Python worker per
    core.

    ``hash_mode="portable"`` assigns mime/width/height via the binlog's
    polynomial fold hash (sources.binlog._fold) so a SQL oracle can
    regenerate the table exactly — the same trick as
    BinlogSpec.hash_mode. ``include_ppm`` rotates over 4 mimes instead
    of 3 (kept opt-in so the 3-mime oracle replay stays byte-stable)."""
    from pyspark.sql.types import BinaryType as _Bin

    from etl_rs_spark.sources.binlog import _fold, portable_salt

    wav_udf = F.pandas_udf(
        lambda ids: ids.map(lambda i: _synth_wav(int(i))), _Bin()
    )
    ppm_udf = F.pandas_udf(
        lambda ids: ids.map(lambda i: _synth_ppm(int(i))), _Bin()
    )
    png_udf = F.pandas_udf(
        lambda ids: ids.map(lambda i: _synth_png(int(i))), _Bin()
    )
    jpeg_udf = F.pandas_udf(
        lambda ids: ids.map(lambda i: _synth_jpeg(int(i))), _Bin()
    )

    def H(salt: str) -> F.Column:
        if hash_mode == "portable":
            return _fold(seed, portable_salt(salt), F.col("id"))
        return F.xxhash64("id", F.lit(salt))

    # xxhash64 mode reproduces the original round-1 stream exactly
    mime_h = (
        _fold(seed, portable_salt("mime"), F.col("id"))
        if hash_mode == "portable"
        else F.xxhash64("id", F.lit(seed))
    )
    mime_list = ["image/png", "image/jpeg", "audio/wav"] + (
        ["image/ppm"] if include_ppm else []
    )
    mimes = F.array(*[F.lit(m) for m in mime_list])
    df = (
        spark.range(0, n, 1, numPartitions=min(partitions, max(1, n // 8)))
        .withColumn("media_id", F.format_string("m-%08d", F.col("id")))
        .withColumn(
            "mime",
            F.element_at(mimes, (F.pmod(mime_h, F.lit(len(mime_list))) + 1).cast("int")),
        )
        .withColumn("width", (F.pmod(H("w"), F.lit(512)) + 16).cast("int"))
        .withColumn("height", (F.pmod(H("h"), F.lit(512)) + 16).cast("int"))
        .withColumn(
            "payload",
            F.when(F.col("mime") == "audio/wav", wav_udf(F.col("id")))
            .when(F.col("mime") == "image/ppm", ppm_udf(F.col("id")))
            # real-codec mode also makes png rows GENUINE PNG containers
            .when(
                F.lit(include_ppm) & (F.col("mime") == "image/png"),
                png_udf(F.col("id")),
            )
            .when(
                F.lit(real_jpeg) & (F.col("mime") == "image/jpeg"),
                jpeg_udf(F.col("id")),
            )
            .otherwise(F.encode(F.format_string("payload-%d", F.col("id")), "utf-8")),
        )
        .withColumn("n_bytes", F.length("payload").cast("int"))
    )
    return df.select([f.name for f in MEDIA_SCHEMA.fields])


def filter_media_metadata(
    df: DataFrame,
    mimes: tuple[str, ...] | None = None,
    min_pixels: int | None = None,
    max_bytes: int | None = None,
) -> DataFrame:
    """Metadata-only gate — never dereferences the payload column, so a
    Parquet scan prunes the binary bytes entirely (check ReadSchema)."""
    out = df
    if mimes is not None:
        out = out.filter(F.col("mime").isin(*mimes))
    if min_pixels is not None:
        out = out.filter(F.col("width") * F.col("height") >= min_pixels)
    if max_bytes is not None:
        out = out.filter(F.col("n_bytes") <= max_bytes)
    return out


# -- real codecs (no external libraries required) ---------------------------

def encode_wav(samples: np.ndarray, sample_rate: int = 8000) -> bytes:
    """Canonical PCM16 mono WAV: RIFF header + fmt + data chunks."""
    pcm = np.asarray(samples, dtype="<i2").tobytes()
    hdr = b"RIFF" + struct.pack("<I", 36 + len(pcm)) + b"WAVE"
    fmt = b"fmt " + struct.pack(
        "<IHHIIHH", 16, 1, 1, sample_rate, sample_rate * 2, 2, 16
    )
    return hdr + fmt + b"data" + struct.pack("<I", len(pcm)) + pcm


def decode_wav(payload: bytes) -> tuple[np.ndarray, int]:
    """Real RIFF/WAVE parse: walk chunks, require PCM16, return
    (float64 samples in [-1, 1], sample_rate). Raises ValueError on a
    malformed container — null-on-invalid is the CALLER's policy."""
    if len(payload) < 12 or payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE container")
    pos, rate, bits, data = 12, None, None, None
    while pos + 8 <= len(payload):
        cid = payload[pos : pos + 4]
        (size,) = struct.unpack_from("<I", payload, pos + 4)
        body = payload[pos + 8 : pos + 8 + size]
        if len(body) < size:
            raise ValueError("truncated WAV chunk")
        if cid == b"fmt ":
            if len(body) < 16:
                raise ValueError("truncated WAV fmt chunk")
            fmt_code, ch, rate, _br, _ba, bits = struct.unpack_from("<HHIIHH", body, 0)
            if fmt_code != 1:
                raise ValueError(f"unsupported WAV format code {fmt_code}")
            if ch != 1:
                # interleaved multi-channel would silently pool across
                # channels downstream — reject like other unsupported
                # variants instead
                raise ValueError(f"only mono PCM16 supported, got {ch} channels")
        elif cid == b"data":
            data = body
        pos += 8 + size + (size % 2)  # chunks are word-aligned
    if rate is None or data is None:
        raise ValueError("WAV missing fmt or data chunk")
    if bits != 16:
        raise ValueError(f"only PCM16 supported, got {bits}-bit")
    return np.frombuffer(data, dtype="<i2").astype(np.float64) / 32768.0, rate


#: PNG file signature (8 bytes)
PNG_MAGIC = b"\x89PNG\r\n\x1a\n"

#: decode ceiling shared by the raster codecs: 2^26 pixels (~8K x 8K)
#: is far above any training-payload image, and a corrupt header
#: claiming more must be a clean ValueError rather than a multi-GB
#: allocation that OOMs the executor on one hostile row
MAX_DECODE_PIXELS = 1 << 26


def _png_chunk(ctype: bytes, body: bytes) -> bytes:
    import zlib

    return (
        struct.pack(">I", len(body)) + ctype + body
        + struct.pack(">I", zlib.crc32(ctype + body) & 0xFFFFFFFF)
    )


def encode_png(pixels: np.ndarray) -> bytes:
    """REAL PNG encoder (stdlib zlib only): 8-bit RGB, colour type 2,
    non-interlaced, filter 0 per scanline. pixels (h, w, 3) uint8."""
    import zlib

    h, w, c = pixels.shape
    if c != 3:
        raise ValueError("encode_png expects (h, w, 3) RGB")
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    raw = np.asarray(pixels, dtype=np.uint8)
    scanlines = b"".join(b"\x00" + raw[y].tobytes() for y in range(h))
    return (
        PNG_MAGIC
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(scanlines))
        + _png_chunk(b"IEND", b"")
    )


def decode_png(payload: bytes) -> np.ndarray:
    """REAL PNG decoder (stdlib zlib only): walks IHDR/IDAT/IEND
    chunks, inflates, and reverses all five scanline filters (None,
    Sub, Up, Average, Paeth). Supports 8-bit RGB (colour type 2) and
    RGBA (type 6), non-interlaced — the common case emitted by every
    standard encoder at these settings. Returns (h, w, channels)
    uint8; raises ValueError on anything else (palette, 16-bit,
    interlaced), keeping null-on-invalid the CALLER's policy."""
    import zlib

    if payload[:8] != PNG_MAGIC:
        raise ValueError("not a PNG (bad signature)")
    pos, ihdr, idat = 8, None, b""
    while pos + 8 <= len(payload):
        (length,) = struct.unpack_from(">I", payload, pos)
        ctype = payload[pos + 4 : pos + 8]
        body = payload[pos + 8 : pos + 8 + length]
        if len(body) < length:
            raise ValueError("truncated PNG chunk")
        if ctype == b"IHDR":
            if len(body) < 13:
                raise ValueError("truncated PNG IHDR chunk")
            ihdr = struct.unpack(">IIBBBBB", body[:13])
        elif ctype == b"IDAT":
            idat += body
        elif ctype == b"IEND":
            break
        pos += 12 + length  # length + type + body + crc
    if ihdr is None or not idat:
        raise ValueError("PNG missing IHDR or IDAT")
    w, h, depth, ctype_i, _comp, _filt, interlace = ihdr
    if depth != 8 or ctype_i not in (2, 6) or interlace != 0:
        raise ValueError(
            f"unsupported PNG (depth={depth} colour={ctype_i} "
            f"interlace={interlace}); only 8-bit RGB/RGBA non-interlaced"
        )
    if w == 0 or h == 0:
        raise ValueError("PNG frame with zero dimension")
    if w * h > MAX_DECODE_PIXELS:
        # a bit-flipped IHDR can claim absurd dimensions: the huge
        # expected size overflows the C ssize_t of the bounded inflate
        # (found by fuzzing), and a "plausible" 2^32-pixel frame would
        # OOM the task on allocation before any data check
        raise ValueError(f"PNG dimensions {w}x{h} exceed the decode ceiling")
    ch = 3 if ctype_i == 2 else 4
    stride = w * ch
    expected = h * (stride + 1)
    try:
        # BOUNDED inflate: a deflate bomb packs GBs of zeros into a few
        # KB, and an unbounded zlib.decompress would OOM the task before
        # the length check below ever ran. Cap at expected+1 — one extra
        # byte distinguishes "too much data" from "exactly right".
        dec = zlib.decompressobj()
        raw = dec.decompress(idat, expected + 1)
    except zlib.error as e:
        # ValueError is the ONLY malformed-input exception decode_media's
        # non-strict fallback catches — a leaked zlib.error would kill
        # the whole Spark task on one corrupt row (found by fuzzing)
        raise ValueError(f"corrupt PNG IDAT stream: {e}") from e
    # dec.eof: the bounded path must not LOSE the stream-completeness +
    # adler32 validation plain zlib.decompress performed — an IDAT cut
    # at the trailer yields exactly `expected` bytes with eof=False and
    # previously raised, so it must still raise. unused_data: trailing
    # garbage after a complete stream is equally corrupt.
    if len(raw) != expected or dec.unconsumed_tail or not dec.eof or dec.unused_data:
        raise ValueError("PNG scanline data has wrong length or truncated stream")
    out = np.empty((h, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.uint8)
    for y in range(h):
        row = raw[y * (stride + 1) : (y + 1) * (stride + 1)]
        ftype, line = row[0], np.frombuffer(row[1:], dtype=np.uint8).copy()
        if ftype == 0:  # None
            cur = line
        elif ftype == 2:  # Up
            cur = (line.astype(np.int32) + prev) % 256
        elif ftype in (1, 3, 4):  # Sub / Average / Paeth need left state
            cur = np.zeros(stride, dtype=np.int32)
            li = line.astype(np.int32)
            pv = prev.astype(np.int32)
            for x in range(stride):
                a = cur[x - ch] if x >= ch else 0        # left
                b = pv[x]                                 # up
                if ftype == 1:
                    pred = a
                elif ftype == 3:
                    pred = (a + b) // 2
                else:  # Paeth
                    c_ = pv[x - ch] if x >= ch else 0     # up-left
                    p = a + b - c_
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c_)
                    pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c_)
                cur[x] = (li[x] + pred) % 256
        else:
            raise ValueError(f"unknown PNG filter type {ftype}")
        out[y] = cur.astype(np.uint8)
        prev = out[y]
    return out.reshape(h, w, ch)


def encode_ppm(pixels: np.ndarray) -> bytes:
    """Binary PPM (P6): ASCII header + raw RGB bytes; pixels (h, w, 3)."""
    h, w, _ = pixels.shape
    return f"P6\n{w} {h}\n255\n".encode() + np.asarray(pixels, dtype=np.uint8).tobytes()


def decode_ppm(payload: bytes) -> np.ndarray:
    """Real P6 parse (header tokens may be separated by any whitespace or
    comments) -> (h, w, 3) uint8 array."""
    if payload[:2] != b"P6":
        raise ValueError("not a P6 PPM")
    toks: list[int] = []
    pos = 2
    while len(toks) < 3:
        while pos < len(payload) and payload[pos : pos + 1].isspace():
            pos += 1
        if payload[pos : pos + 1] == b"#":  # comment to end of line
            while pos < len(payload) and payload[pos : pos + 1] != b"\n":
                pos += 1
            continue
        start = pos
        while pos < len(payload) and not payload[pos : pos + 1].isspace():
            pos += 1
        toks.append(int(payload[start:pos]))
    w, h, maxval = toks
    if maxval != 255:
        raise ValueError(f"only maxval 255 supported, got {maxval}")
    if w <= 0 or h <= 0:
        # a mutated "0 23" header would otherwise "decode" to an empty
        # raster — fabricated success on a frame with no pixels (found
        # by fuzzing; PNG/JPEG already reject zero dims)
        raise ValueError(f"PPM frame with non-positive dimension {w}x{h}")
    raw = payload[pos + 1 : pos + 1 + w * h * 3]
    if len(raw) != w * h * 3:
        raise ValueError("truncated PPM pixel data")
    return np.frombuffer(raw, dtype=np.uint8).reshape(h, w, 3)


def _pool_to_dim(values: np.ndarray, dim: int) -> list[float]:
    """Mean-pool a 1-D signal into dim buckets (the deterministic
    'featurization' stage — a real model embeds here)."""
    v = np.asarray(values, dtype=np.float64).ravel()
    if v.size == 0:
        return [0.0] * dim
    pad = (-v.size) % dim
    if pad:
        v = np.concatenate([v, np.zeros(pad)])
    return v.reshape(dim, -1).mean(axis=1).astype(np.float32).tolist()


def decode_media(payload: bytes, mime: str, dim: int, strict: bool) -> list[float]:
    """Dispatch: REAL decode for wav/ppm/png/jpeg, stub for formats
    whose codecs aren't shipped here (compressed video). Strict mode
    propagates a real codec's ValueError (and raises for stub formats);
    non-strict (test) mode falls back to the deterministic stub on ANY
    malformed payload — mislabeled fixtures must not kill the whole
    Spark task."""
    try:
        if mime == "audio/wav":
            samples, _rate = decode_wav(payload)
            return _pool_to_dim(samples, dim)
        if mime in ("image/ppm", "image/x-portable-pixmap"):
            return _pool_to_dim(decode_ppm(payload).astype(np.float64) / 255.0, dim)
        if mime == "image/png":
            # dispatch on mime ALONE (r3 ADVICE): a payload labeled png
            # with a bad signature must hit decode_png's truthful
            # "not a PNG" ValueError — strict mode propagates it; the
            # magic is NOT part of the dispatch condition, which would
            # route the row to the stub's misleading NotImplementedError
            return _pool_to_dim(decode_png(payload).astype(np.float64) / 255.0, dim)
        if mime == "image/jpeg":
            from etl_rs_spark.operators.jpeg import decode_jpeg

            return _pool_to_dim(decode_jpeg(payload).astype(np.float64) / 255.0, dim)
    except ValueError:
        if strict:
            raise
    return _decode_stub(payload, dim, strict)


def _decode_stub(payload: bytes, dim: int, strict: bool) -> list[float]:
    """THE STUB: real deployments replace this with Pillow / libsndfile /
    pyav decode + model featurization. Deterministic fake in test mode."""
    if strict:
        raise NotImplementedError(
            "media decode requires image/audio libraries not present in "
            "this environment; swap _decode_stub for a real codec"
        )
    rng = np.frombuffer(payload, dtype=np.uint8).astype(np.float64)
    base = np.resize(rng, dim)
    return (base / 255.0).astype(np.float32).tolist()


def extract_features(df: DataFrame, dim: int = 8, strict: bool = False) -> DataFrame:
    """Arrow-batched feature extraction over the binary payload.

    mapInPandas: payload bytes arrive as zero-copy Arrow buffers per
    batch; output drops the payload (features only), so downstream
    stages shuffle small rows.
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "mime": pdf["mime"],
                    "feature": [
                        decode_media(p, m, dim, strict)
                        for p, m in zip(pdf["payload"], pdf["mime"])
                    ],
                }
            )

    return df.mapInPandas(run, FEATURE_SCHEMA)


DECODED_STATS_SCHEMA = StructType(
    [
        StructField("media_id", StringType()),
        StructField("mime", StringType()),
        StructField("n_values", IntegerType()),
        StructField("sum_values", LongType()),
    ]
)


def decoded_stats(payload: bytes, mime: str) -> tuple[int, int]:
    """Integer summary of a REAL decode — no stub path exists here.
    WAV: (n_samples, sum of int16 samples) via decode_wav (the float
    samples are exact k/32768 rationals, so rint(x*32768) recovers the
    raw PCM losslessly); PPM: (n_bytes, sum of pixel bytes) via
    decode_ppm. Integer stats, so a SQL oracle replays them exactly
    with no float-summation-order concerns."""
    if mime == "audio/wav":
        samples, _rate = decode_wav(payload)
        ints = np.rint(samples * 32768.0).astype(np.int64)
        return int(ints.size), int(ints.sum())
    if mime in ("image/ppm", "image/x-portable-pixmap"):
        px = decode_ppm(payload).astype(np.int64)
        return int(px.size), int(px.sum())
    if mime == "image/png":
        px = decode_png(payload).astype(np.int64)
        return int(px.size), int(px.sum())
    if mime == "image/jpeg":
        from etl_rs_spark.operators.jpeg import decode_jpeg

        px = decode_jpeg(payload).astype(np.int64)
        return int(px.size), int(px.sum())
    raise ValueError(f"no real codec for {mime!r} — decoded_stats never stubs")


def extract_decoded_stats(df: DataFrame) -> DataFrame:
    """Arrow-batched REAL-decode stats over the binary payload
    (mapInPandas, same batch shape as extract_features). Strict by
    construction: a mime without a real codec raises — this is the
    path that proves the container parsers run end-to-end."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            stats = [
                decoded_stats(p, m) for p, m in zip(pdf["payload"], pdf["mime"])
            ]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "mime": pdf["mime"],
                    "n_values": [s[0] for s in stats],
                    "sum_values": [s[1] for s in stats],
                }
            )

    return df.mapInPandas(run, DECODED_STATS_SCHEMA)


def frame_sample_plan(
    df: DataFrame, every_n: int = 10, id_col: str = "media_id"
) -> DataFrame:
    """Video frame-sampling *plan*: emits (media_id, frame_idx) rows for
    every_n-th frame from the metadata duration proxy (n_bytes), without
    decoding. The decode of selected frames then routes through
    extract_features / sample_and_decode_frames on a frame table.
    Zero-frame media emit NO rows (an unguarded greatest(n-1, 0) would
    fabricate frame 0)."""
    n_frames = F.col("n_bytes").cast("int")
    idx = F.when(
        n_frames > 0, F.sequence(F.lit(0), n_frames - 1, F.lit(every_n))
    ).otherwise(F.array().cast("array<int>"))
    return df.select(id_col, F.explode(idx).alias("frame_idx"))


def _synth_frame_ppm(media_id: int, frame_idx: int) -> bytes:
    """Deterministic REAL P6 raster for one video frame: the _synth_ppm
    ramp shifted per frame — pure integer arithmetic, so a pandas/SQL
    oracle regenerates every pixel of every frame exactly."""
    w = 4 + media_id % 5
    h = 3 + media_id % 4
    idx = np.arange(w * h * 3, dtype=np.int64)
    pix = ((media_id * 2654435761 + frame_idx * 40503 + idx * 97) % 256).astype(
        np.uint8
    )
    return encode_ppm(pix.reshape(h, w, 3))


def synth_video_frames(
    spark: SparkSession, n_videos: int, frames_per_video: int, partitions: int = 8
) -> DataFrame:
    """Deterministic decoded-frame side table: (media_id, frame_idx,
    mime, payload) with a REAL binary-PPM raster per frame — the table a
    video ingest materializes at scale (pyav demux/decode would emit it;
    the per-frame payloads here are genuine P6 containers so the decode
    stage downstream is a real codec, not the stub). Generated
    distributed from spark.range; media_id matches synth_media's
    ``m-%08d`` scheme."""
    from pyspark.sql.types import BinaryType as _Bin

    frame_udf = F.pandas_udf(
        lambda vid, fidx: pd.Series(
            [_synth_frame_ppm(int(v), int(x)) for v, x in zip(vid, fidx)]
        ),
        _Bin(),
    )
    total = n_videos * frames_per_video
    return (
        spark.range(0, total, 1, numPartitions=min(partitions, max(1, total // 8)))
        .withColumn("_vid", (F.col("id") / frames_per_video).cast("bigint"))
        .withColumn("frame_idx", (F.col("id") % frames_per_video).cast("int"))
        .withColumn("media_id", F.format_string("m-%08d", F.col("_vid")))
        .withColumn("mime", F.lit("image/ppm"))
        .withColumn("payload", frame_udf(F.col("_vid"), F.col("frame_idx")))
        .select("media_id", "frame_idx", "mime", "payload")
    )


FRAME_STATS_SCHEMA = StructType(
    [
        StructField("media_id", StringType()),
        StructField("frame_idx", IntegerType()),
        StructField("mime", StringType()),
        StructField("n_values", IntegerType()),
        StructField("sum_values", LongType()),
    ]
)


def sample_and_decode_frames(
    video_meta: DataFrame,
    frames: DataFrame,
    every_n: int = 10,
    id_col: str = "media_id",
) -> DataFrame:
    """The video pipeline END-TO-END: frame_sample_plan over the
    metadata (no decode) -> equi join against the frame table on
    (media_id, frame_idx) — only the SAMPLED frames' payloads are ever
    read — -> Arrow-batched REAL decode (decoded_stats, strict: no stub
    path) producing integer per-frame stats.

    At 100 TB the frame table is parquet partitioned by media_id
    prefix; the plan side is metadata-derived and orders of magnitude
    smaller, so Spark's size estimate broadcast-joins it against the
    frame scan and the join degenerates to a payload-pruned filtered
    read. jpeg/full-video CONTAINER demux stays the honest stub
    (multimodal module docstring); this path proves the plan -> join ->
    decode plumbing with genuine per-frame rasters."""
    plan = frame_sample_plan(video_meta, every_n, id_col)
    sampled = plan.join(frames, [id_col, "frame_idx"]).select(
        F.col(id_col).alias("media_id"), "frame_idx", "mime", "payload"
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            stats = [
                decoded_stats(p, m) for p, m in zip(pdf["payload"], pdf["mime"])
            ]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "frame_idx": pdf["frame_idx"],
                    "mime": pdf["mime"],
                    "n_values": [s[0] for s in stats],
                    "sum_values": [s[1] for s in stats],
                }
            )

    return sampled.mapInPandas(run, FRAME_STATS_SCHEMA)
