"""Multimodal column plumbing: image/audio/video as opaque BINARY
columns with typed metadata (north-star extension).

What's REAL here (and tested): the Spark-side dataflow — schema,
Arrow-batched ``mapInPandas`` UDF signatures, per-partition batch
shapes, partitioning discipline — AND the decode itself for the
formats this environment can reach:

- **Images**: a pure-stdlib path that fully decodes 8-bit
  non-interlaced PNG (zlib inflate + per-scanline unfilter → real
  pixels, real mean luma, real pHash) and parses JPEG SOF / GIF
  headers for true dimensions (JPEG/GIF luma is NULL; only PNG gets a
  real pHash).
- **Audio**: stdlib ``wave`` for RIFF/WAV (real sample rate, frame
  count, RMS).
- **Fallback**: payloads that are not decodable media (e.g. the
  deterministic sha256 fake payloads ``attach_fake_media`` builds for
  fixture tables) take the documented deterministic stub, keeping the
  DuckDB oracle replays byte-stable.

Dispatch is by content sniffing (magic bytes), so real and fake
payloads can share a table and each row takes the right path.

Scale design:
- media bytes travel ONCE through an Arrow batch into the Python
  worker; features come back as small fixed-width columns — never
  ship bytes back out.
- batch size is bounded via ``spark.sql.execution.arrow.maxRecordsPerBatch``
  (set in the session factory's Arrow block) so a partition of 10 MB
  images can't blow worker memory.
- downstream joins/apply happen on the *feature* columns; the binary
  column is pruned away by Catalyst the moment it's unused.
"""

from __future__ import annotations

import io
import struct
import zlib
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

#: Canonical media-row schema: opaque payload + typed metadata.
MEDIA_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("kind", StringType(), False),  # image | audio | video
        StructField("mime", StringType(), True),
        StructField("payload", BinaryType(), True),
        StructField("n_bytes", LongType(), True),
    ]
)

#: Feature schema produced by the image-decode stage.
IMAGE_FEATURES_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("width", IntegerType(), True),
        StructField("height", IntegerType(), True),
        StructField("channels", IntegerType(), True),
        StructField("mean_luma", StringType(), True),
    ]
)


def attach_fake_media(df: DataFrame, id_col: str, seed_col: str) -> DataFrame:
    """Build a deterministic fake media table from any fixture table:
    payload bytes derive from sha2(seed) — stable across runs, no RNG.
    This stands in for `spark.read.format('binaryFile')` in an
    environment with real assets."""
    payload = F.sha2(F.col(seed_col).cast("string"), 256).cast("binary")
    return df.select(
        F.col(id_col).cast("long").alias("media_id"),
        (
            F.when(F.col(id_col) % 3 == 0, F.lit("image"))
            .when(F.col(id_col) % 3 == 1, F.lit("audio"))
            .otherwise(F.lit("video"))
        ).alias("kind"),
        F.lit("application/octet-stream").alias("mime"),
        payload.alias("payload"),
        F.length(payload).cast("long").alias("n_bytes"),
    )


def extract_media_meta(df: DataFrame) -> DataFrame:
    """Metadata pass that never touches Python: size/kind stats as
    plain expressions — the cheap pre-filter before any decode."""
    return df.groupBy("kind").agg(
        F.count(F.lit(1)).alias("n_media"),
        F.sum("n_bytes").alias("total_bytes"),
        F.max("n_bytes").alias("max_bytes"),
    )


# ---------------------------------------------------------------------------
# Content sniffing + pure-stdlib codecs (no optional dependencies)
# ---------------------------------------------------------------------------

_PNG_MAGIC = b"\x89PNG\r\n\x1a\n"


def sniff_media_format(payload: bytes | None) -> str:
    """Magic-byte format sniff: 'png' | 'jpeg' | 'gif' | 'wav' |
    'unknown'.  Decides real-codec vs deterministic-stub dispatch."""
    if not payload:
        return "unknown"
    if payload[:8] == _PNG_MAGIC:
        return "png"
    if payload[:3] == b"\xff\xd8\xff":
        return "jpeg"
    if payload[:6] in (b"GIF87a", b"GIF89a"):
        return "gif"
    if payload[:4] == b"RIFF" and payload[8:12] == b"WAVE":
        return "wav"
    return "unknown"


#: PNG color type → channel count (greyscale, RGB, palette, grey+A, RGBA)
_PNG_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}


def _png_header(payload: bytes) -> tuple[int, int, int, int, int, int]:
    """(width, height, bit_depth, color_type, interlace, channels)
    from the IHDR chunk (always first, per the PNG spec)."""
    if payload[12:16] != b"IHDR":
        raise ValueError("malformed PNG: IHDR not first chunk")
    w, h = struct.unpack(">II", payload[16:24])
    bit_depth, color_type, _comp, _filt, interlace = payload[24:29]
    return w, h, bit_depth, color_type, interlace, _PNG_CHANNELS[color_type]


def _png_pixels(payload: bytes):
    """Fully decode an 8-bit non-interlaced non-palette PNG to an
    ``ndarray[h, w, channels]`` (uint8) with the five standard
    scanline filters reversed — pure zlib + numpy, no imaging library.
    Returns None for PNG variants outside that envelope (callers then
    report header metadata only)."""
    import numpy as np

    w, h, bit_depth, color_type, interlace, ch = _png_header(payload)
    if bit_depth != 8 or interlace != 0 or color_type == 3:
        return None
    idat = b""
    off = 8
    while off + 8 <= len(payload):
        (length,) = struct.unpack(">I", payload[off : off + 4])
        ctype = payload[off + 4 : off + 8]
        if ctype == b"IDAT":
            idat += payload[off + 8 : off + 8 + length]
        elif ctype == b"IEND":
            break
        off += 12 + length
    raw = zlib.decompress(idat)
    stride = w * ch
    out = np.empty((h, stride), dtype=np.uint8)
    pos = 0
    prev = np.zeros(stride, dtype=np.uint8)
    for row in range(h):
        ftype = raw[pos]
        line = np.frombuffer(raw, dtype=np.uint8, count=stride, offset=pos + 1).copy()
        pos += 1 + stride
        if ftype == 1:  # Sub
            for i in range(ch, stride):
                line[i] = (int(line[i]) + int(line[i - ch])) & 0xFF
        elif ftype == 2:  # Up
            line = ((line.astype(np.int32) + prev) & 0xFF).astype(np.uint8)
        elif ftype == 3:  # Average
            for i in range(stride):
                left = line[i - ch] if i >= ch else 0
                line[i] = (line[i] + ((int(left) + int(prev[i])) >> 1)) & 0xFF
        elif ftype == 4:  # Paeth
            for i in range(stride):
                a = int(line[i - ch]) if i >= ch else 0
                b = int(prev[i])
                c = int(prev[i - ch]) if i >= ch else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                line[i] = (line[i] + pred) & 0xFF
        out[row] = line
        prev = out[row]
    return out.reshape(h, w, ch)


def _jpeg_dims(payload: bytes) -> tuple[int, int, int]:
    """(width, height, channels) from the first SOF0/1/2 marker —
    header walk only, no entropy decode."""
    i = 2
    n = len(payload)
    while i + 9 < n:
        if payload[i] != 0xFF:
            i += 1
            continue
        marker = payload[i + 1]
        if marker in (0xC0, 0xC1, 0xC2):
            h, w = struct.unpack(">HH", payload[i + 5 : i + 9])
            return w, h, payload[i + 9]
        if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
            i += 2
            continue
        (seg,) = struct.unpack(">H", payload[i + 2 : i + 4])
        i += 2 + seg
    raise ValueError("malformed JPEG: no SOF marker")


def _gif_dims(payload: bytes) -> tuple[int, int, int]:
    w, h = struct.unpack("<HH", payload[6:10])
    return w, h, 3


def _luma(pixels) -> float:
    """Rec.601 mean luma in [0, 1] from an (h, w, ch) uint8 array."""
    import numpy as np

    px = pixels.astype(np.float64)
    ch = px.shape[2]
    if ch >= 3:
        y = 0.299 * px[..., 0] + 0.587 * px[..., 1] + 0.114 * px[..., 2]
    else:
        y = px[..., 0]
    return float(y.mean() / 255.0)


def _decode_image_real(payload: bytes) -> tuple[int, int, int, str | None] | None:
    """Real image decode through the stdlib PNG/JPEG/GIF paths.
    Returns None when the payload is not a recognized image (caller
    falls back to the stub)."""
    fmt = sniff_media_format(payload)
    if fmt == "png":
        w, h, _bd, _ct, _il, ch = _png_header(payload)
        px = _png_pixels(payload)
        return w, h, ch, (f"{_luma(px):.4f}" if px is not None else None)
    if fmt == "jpeg":
        w, h, ch = _jpeg_dims(payload)
        return w, h, ch, None  # luma needs an entropy decoder
    if fmt == "gif":
        w, h, ch = _gif_dims(payload)
        return w, h, ch, None
    return None


def _decode_audio_real(payload: bytes) -> tuple[int, int, int, str] | None:
    """Real audio decode through stdlib ``wave`` for RIFF/WAV.
    Returns None for unrecognized payloads."""
    import numpy as np

    if sniff_media_format(payload) != "wav":
        return None
    import wave

    with wave.open(io.BytesIO(payload), "rb") as wf:
        sr = wf.getframerate()
        n = wf.getnframes()
        width = wf.getsampwidth()
        frames = wf.readframes(n)
    dtype = {1: np.uint8, 2: np.int16, 4: np.int32}.get(width)
    if dtype is None:
        return sr, n, (n * 1000) // sr, None
    samples = np.frombuffer(frames, dtype=dtype).astype(np.float64)
    scale = float(2 ** (8 * width - 1))
    if width == 1:
        samples -= 128.0
        scale = 128.0
    rms = float(((samples / scale) ** 2).mean() ** 0.5) if len(samples) else 0.0
    return sr, n, (n * 1000) // sr, f"{rms:.4f}"


def _phash_real(payload: bytes) -> int | None:
    """Real 63-bit perceptual hash (pHash): decode → 32×32 grayscale
    (block-mean resample) → 2-D DCT-II → 8×8 low-frequency block →
    threshold against the median.  The DC coefficient is EXCLUDED from
    both the median and the bit vector (classic pHash — DC is overall
    brightness, not structure), which also keeps the hash inside
    signed-int64 range: bit 63 can never be set, so the value survives
    the ``phash long`` Arrow/mapInPandas schema (an unsigned 64th bit
    made pandas promote to uint64 and ArrowInvalid-crash the stage).
    Pixels come from the stdlib PNG decoder; None for any other format
    or when pixels are unreachable."""
    import numpy as np

    if sniff_media_format(payload) != "png":
        return None
    rgb = _png_pixels(payload)
    if rgb is None:
        return None
    ch = rgb.shape[2]
    if ch >= 3:
        g = 0.299 * rgb[..., 0] + 0.587 * rgb[..., 1] + 0.114 * rgb[..., 2]
    else:
        g = rgb[..., 0].astype(np.float64)
    # block-mean resample to 32×32 via index mapping (any size in)
    h, w = g.shape
    yi = (np.arange(32) * h) // 32
    xi = (np.arange(32) * w) // 32
    px = g[np.ix_(yi, xi)]
    n = 32
    k = np.arange(n)
    dct_m = np.cos(np.pi * (2 * k[None, :] + 1) * k[:, None] / (2 * n))
    d = dct_m @ px @ dct_m.T
    low = d[:8, :8].flatten()
    med = np.median(low[1:])  # skip DC term
    bits = 0
    for i, v in enumerate(low[1:]):  # DC excluded: 63 bits, int64-safe
        if v > med:
            bits |= 1 << i
    return bits


def _decode_image_stub(payload: bytes) -> tuple[int, int, int, str]:
    """STUB decoder for NON-media payloads (e.g. attach_fake_media's
    sha256 bytes) — deterministic fake dimensions derived from the
    payload bytes, keeping fixture oracles byte-stable.  Recognized
    image formats never reach this (see :func:`decode_one_image`).
    """
    if payload is None or len(payload) < 3:
        # the stub indexes payload[0..2]; short payloads take the same
        # not-decodable branch as empty ones instead of IndexError-ing
        # the whole mapInPandas stage
        raise ValueError("payload too short to fingerprint")
    w = 64 + payload[0] % 192
    h = 64 + payload[1] % 192
    c = 1 + payload[2] % 4
    luma = f"{(sum(payload[:16]) % 256) / 255.0:.4f}"
    return w, h, c, luma


def encode_png_solid(width: int, height: int, rgb: tuple[int, int, int]) -> bytes:
    """Minimal valid 8-bit RGB PNG of one solid color (filter-0
    scanlines) — the executor-side fixture generator for the
    real-decode correctness rows: any spec-compliant decoder recovers
    exactly (width, height, 3, luma(rgb))."""
    def chunk(ctype: bytes, data: bytes) -> bytes:
        c = ctype + data
        return struct.pack(">I", len(data)) + c + struct.pack(">I", zlib.crc32(c))

    ihdr = struct.pack(">IIBBBBB", width, height, 8, 2, 0, 0, 0)
    raw = b"".join(b"\x00" + bytes(rgb) * width for _ in range(height))
    return (
        _PNG_MAGIC
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )


def encode_wav_square(sample_rate: int, n_frames: int, amplitude: int) -> bytes:
    """Minimal valid 16-bit mono RIFF/WAV square wave (+a, -a, ...) —
    the audio twin of :func:`encode_png_solid`: constant |sample|, so
    RMS is exactly ``amplitude / 32768`` for any decoder."""
    import wave

    buf = io.BytesIO()
    with wave.open(buf, "wb") as wf:
        wf.setnchannels(1)
        wf.setsampwidth(2)
        wf.setframerate(sample_rate)
        half = n_frames // 2
        wf.writeframes(
            struct.pack(f"<{half * 2}h", *([amplitude, -amplitude] * half))
        )
    return buf.getvalue()


def decode_one_image(payload: bytes) -> tuple[int, int, int, str | None]:
    """Decode dispatch for a single image payload: real codec for
    recognized formats (the stdlib PNG/JPEG/GIF paths), deterministic
    stub for anything else."""
    real = _decode_image_real(payload)
    return real if real is not None else _decode_image_stub(payload)


def decode_image_features(df: DataFrame) -> DataFrame:
    """Arrow-batched decode: mapInPandas over (media_id, payload),
    emitting fixed-width features.  Bytes in, features out — the
    binary column dies here."""

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                w, h, c, luma = decode_one_image(bytes(payload))
                rows.append((mid, w, h, c, luma))
            yield pd.DataFrame(
                rows, columns=["media_id", "width", "height", "channels", "mean_luma"]
            )

    return (
        df.filter(F.col("kind") == "image")
        .select("media_id", "payload")
        .mapInPandas(decode, IMAGE_FEATURES_SCHEMA)
    )


def sample_video_frames(df: DataFrame, every_n_bytes: int = 8) -> DataFrame:
    """Frame-sampling plumbing: one row per sampled 'frame' via
    posexplode of a byte-stride sequence — the dataflow shape of real
    frame extraction (explode → per-frame features), with the codec
    stubbed to byte slices."""
    frames = F.transform(
        F.sequence(
            F.lit(0),
            F.greatest((F.length("payload") / every_n_bytes).cast("int") - 1, F.lit(0)),
        ),
        lambda i: F.substring(F.col("payload").cast("string"), i * every_n_bytes + 1, 4),
    )
    return (
        df.filter(F.col("kind") == "video")
        .select("media_id", F.posexplode(frames).alias("frame_idx", "frame_sig"))
    )


#: Feature schema produced by the audio-decode stage.
AUDIO_FEATURES_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("sample_rate", IntegerType(), True),
        StructField("n_samples", LongType(), True),
        StructField("duration_ms", LongType(), True),
        StructField("rms", StringType(), True),
    ]
)


def _decode_audio_stub(payload: bytes) -> tuple[int, int, int, str]:
    """STUB audio decoder for NON-media payloads — deterministic fake
    waveform stats derived from the payload bytes, keeping fixture
    oracles byte-stable.  Recognized audio (WAV) never reaches this (see
    :func:`decode_one_audio`)."""
    if payload is None or len(payload) < 2:
        # the stub indexes payload[0] and payload[1]; a 0/1-byte payload
        # is not a decodable header either way
        raise ValueError("payload too short to fingerprint")
    rates = (8000, 16000, 22050, 44100, 48000)
    sr = rates[payload[0] % len(rates)]
    n = 1000 * (1 + payload[1])  # fake sample count from the header byte
    dur = (n * 1000) // sr
    rms = f"{(sum(payload[:32]) % 1000) / 1000.0:.4f}"
    return sr, n, dur, rms


def decode_one_audio(payload: bytes) -> tuple[int, int, int, str | None]:
    """Decode dispatch for a single audio payload: real codec for
    recognized formats, deterministic stub otherwise."""
    real = _decode_audio_real(payload)
    return real if real is not None else _decode_audio_stub(payload)


def extract_audio_features(df: DataFrame) -> DataFrame:
    """Arrow-batched audio feature extraction, mirroring
    :func:`decode_image_features`: (media_id, payload) batches in,
    fixed-width waveform stats out, payload pruned after this stage.
    The same shape carries real resample/VAD/fingerprint stages — each
    is another mapInPandas over the previous stage's feature frame."""

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                sr, n, dur, rms = decode_one_audio(bytes(payload))
                rows.append((mid, sr, n, dur, rms))
            yield pd.DataFrame(
                rows,
                columns=["media_id", "sample_rate", "n_samples", "duration_ms", "rms"],
            )

    return (
        df.filter(F.col("kind") == "audio")
        .select("media_id", "payload")
        .mapInPandas(decode, AUDIO_FEATURES_SCHEMA)
    )


def _phash_image_stub(payload: bytes) -> int:
    """STUB perceptual hash for NON-media payloads — 60 bits derived
    deterministically from the payload (the ASCII hex form of the fake
    sha256 content, see attach_fake_media), keeping fixture oracles
    byte-stable; same content bytes → same hash, which is the part of
    the pHash contract downstream blocking relies on.  Recognized
    images get the REAL DCT pHash (see :func:`phash_one_image`)."""
    if payload is None or len(payload) < 15:
        raise ValueError("payload too short to fingerprint")
    return int(payload[:15].decode("ascii"), 16)


def phash_one_image(payload: bytes) -> int:
    """pHash dispatch: real 64-bit DCT hash when pixels are reachable
    (the stdlib PNG decoder), content-stable stub otherwise."""
    real = _phash_real(payload)
    return real if real is not None else _phash_image_stub(payload)


def perceptual_hash_images(df: DataFrame) -> DataFrame:
    """Arrow-batched perceptual hashing: (media_id, payload) batches
    in, ``(media_id, phash)`` out — the fingerprint stage feeding
    operators.dedup.hamming_pairs_from_fingerprints for image
    near-dup.  Payload bytes die here; downstream blocking moves
    8 bytes per image, not the image."""

    def ph(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "phash": [phash_one_image(bytes(p)) for p in pdf["payload"]],
                }
            )

    return (
        df.filter(F.col("kind") == "image")
        .select("media_id", "payload")
        .mapInPandas(ph, "media_id long, phash long")
    )
