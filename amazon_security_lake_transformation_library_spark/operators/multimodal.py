"""Multimodal column handling: image/audio/video as opaque ``binary``
columns with typed metadata, processed in Arrow batches via
``mapInPandas`` — the standard shape for decode / feature-extract /
resize / frame-sample stages in a training-data pipeline.

Container constraint: no image/audio codec LIBRARIES are installed, so
:func:`decode_image` ships its own pure-numpy 24-bit BMP / binary-P6 PPM
decoder (``backend='auto'`` uses Pillow when importable and falls back to
numpy; only ``backend='pillow'`` without Pillow raises
``NotImplementedError``). :func:`fake_decode_meta` and
:func:`fake_frame_sample` remain the deterministic stand-ins for
codec-only formats (JPEG/PNG/audio/video); their outputs are pure
functions of the payload length, so they are plain JVM expressions
(``length``, ``sequence`` + ``explode``) and start no Python worker.
Everything Spark-side is real and tested:
schema, Arrow batch shape, partition-preserving plumbing, and the pattern
of keeping the big binary column OUT of the returned frame (decode emits
only small typed features, so the shuffle after a decode stage never
carries the raw bytes).

At 100 TB: ``mapInPandas`` streams Arrow record batches through one Python
worker per core with no shuffle; batch size is governed by
``spark.sql.execution.arrow.maxRecordsPerBatch``. Binary payloads should
live in their own parquet column chunk so column pruning skips them when
only metadata is queried.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def fake_decode_meta(
    df: DataFrame, id_col: str = "doc_id", payload_col: str = "payload"
) -> DataFrame:
    """'Decode' each binary payload into typed metadata
    ``(doc_id, n_bytes, width, height, n_frames)``, all longs.

    Stands in for a real image/audio decoder: same schema discipline
    (drops the binary column on output). A NULL payload gives NULL
    metadata for its ``doc_id``.
    """
    n = F.length(F.col(payload_col)).cast("long")
    return df.select(
        F.col(id_col).cast("long").alias("doc_id"),
        n.alias("n_bytes"),
        (64 + n % 512).alias("width"),
        (64 + (n * 7) % 512).alias("height"),
        (1 + n % 8).alias("n_frames"),
    )


def fake_frame_sample(
    df: DataFrame, id_col: str = "doc_id", payload_col: str = "payload"
) -> DataFrame:
    """One-to-many 'frame sampling': each payload of ``n`` bytes expands
    into its ``1 + n % 8`` rows ``(doc_id, frame_idx, frame_off)`` with
    ``frame_off = n * (frame_idx + 1) % 997`` (stand-in for video frame
    extraction). Frame metadata is a pure function of (payload length,
    frame index) so the SQL oracle can recompute it. A NULL payload gives
    no frame rows."""
    n = F.length(F.col(payload_col)).cast("long")
    return df.select(
        F.col(id_col).cast("long").alias("doc_id"),
        n.alias("_n"),
        F.explode(F.sequence(F.lit(0).cast("long"), n % 8)).alias("frame_idx"),
    ).select(
        "doc_id",
        "frame_idx",
        (F.col("_n") * (F.col("frame_idx") + 1) % 997).alias("frame_off"),
    )


IMAGE_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("mode", T.StringType()),
        T.StructField("mean_luma", T.DoubleType()),
    ]
)


def encode_bmp(pixels) -> bytes:
    """Minimal 24-bit uncompressed BMP encoder (numpy HxWx3 uint8 array,
    RGB) — fixture/synthesis helper so the decode path has real bytes to
    chew on in codec-less environments. Rows bottom-up, 4-byte padded,
    BITMAPINFOHEADER; round-trips through :func:`decode_image`'s numpy
    backend and through Pillow where installed."""
    import struct

    import numpy as np

    a = np.asarray(pixels, dtype=np.uint8)
    h, w, _ = a.shape
    pad = (-3 * w) % 4
    row_bytes = 3 * w + pad
    data_size = row_bytes * h
    off = 14 + 40
    header = struct.pack("<2sIHHI", b"BM", off + data_size, 0, 0, off)
    info = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, data_size,
                       2835, 2835, 0, 0)
    rows = np.zeros((h, row_bytes), dtype=np.uint8)
    rows[:, : 3 * w] = a[::-1, :, ::-1].reshape(h, 3 * w)  # bottom-up BGR
    return header + info + rows.tobytes()


def encode_ppm(pixels) -> bytes:
    """Binary P6 PPM encoder (numpy HxWx3 uint8, RGB) — second fixture
    format for :func:`decode_image`'s numpy backend."""
    import numpy as np

    a = np.asarray(pixels, dtype=np.uint8)
    h, w, _ = a.shape
    return f"P6\n{w} {h}\n255\n".encode() + a.tobytes()


def _luma_mean(rgb) -> float:
    """Mean luma under the SHARED backend contract: per-pixel ITU-R 601
    integer luma ``(19595R + 38470G + 7471B + 32768) >> 16`` — exactly
    Pillow's ``convert("L")`` arithmetic, so the numpy and Pillow
    backends agree bit-for-bit and the differential oracle can recompute
    it in SQL."""
    import numpy as np

    a = np.asarray(rgb, dtype=np.uint32)
    l8 = (a[..., 0] * 19595 + a[..., 1] * 38470 + a[..., 2] * 7471
          + 32768) >> 16
    return float(l8.mean())


def _decode_rgb_numpy(payload: bytes):
    """Pure-numpy decode of 24-bit BMP and binary P6 PPM payloads ->
    ``(width, height, "RGB", HxWx3 uint8)``. Raises ValueError on any
    other container — the caller surfaces it with the doc id."""
    import struct

    import numpy as np

    if payload[:2] == b"BM":
        off = struct.unpack_from("<I", payload, 10)[0]
        w, h_signed = struct.unpack_from("<ii", payload, 18)
        bpp = struct.unpack_from("<H", payload, 28)[0]
        comp = struct.unpack_from("<I", payload, 30)[0]
        if bpp != 24 or comp != 0:
            raise ValueError(f"unsupported BMP (bpp={bpp}, compression={comp})")
        h = abs(h_signed)
        row_bytes = (3 * w + 3) // 4 * 4
        rows = np.frombuffer(
            payload, dtype=np.uint8, count=row_bytes * h, offset=off
        ).reshape(h, row_bytes)
        rgb = rows[:, : 3 * w].reshape(h, w, 3)[:, :, ::-1]  # BGR -> RGB
        if h_signed > 0:
            rgb = rgb[::-1]  # bottom-up storage
        return w, h, "RGB", rgb
    if payload[:2] == b"P6":
        parts, i = [], 2
        while len(parts) < 3:
            while i < len(payload) and payload[i : i + 1].isspace():
                i += 1
            if payload[i : i + 1] == b"#":  # comment line
                i = payload.index(b"\n", i) + 1
                continue
            j = i
            while j < len(payload) and not payload[j : j + 1].isspace():
                j += 1
            parts.append(int(payload[i:j]))
            i = j
        i += 1  # single whitespace after maxval
        w, h, maxval = parts
        if maxval != 255:
            raise ValueError(f"unsupported PPM maxval {maxval}")
        rgb = np.frombuffer(
            payload, dtype=np.uint8, count=3 * w * h, offset=i
        ).reshape(h, w, 3)
        return w, h, "RGB", rgb
    raise ValueError("unsupported image container (numpy backend "
                     "handles 24-bit BMP and binary P6 PPM)")


def decode_image(
    df: DataFrame,
    id_col: str = "doc_id",
    payload_col: str = "payload",
    backend: str = "auto",
) -> DataFrame:
    """Image decode -> typed features, dropping the binary column. Two
    backends behind one contract (``backend="auto"`` prefers Pillow,
    falls back to numpy; or force ``"pillow"`` / ``"numpy"``):

    * **pillow** — any format Pillow reads (not installed in this
      container; ``backend="pillow"`` then raises NotImplementedError).
    * **numpy** — 24-bit BMP + binary P6 PPM, decoded with
      ``np.frombuffer`` reshapes (no codec libs). Always available.

    ``mean_luma`` uses the identical integer ITU-R 601 arithmetic on both
    backends (:func:`_luma_mean` == Pillow's ``convert("L")``), so the
    backend choice is output-transparent on the shared formats — pinned
    by tests/test_multimodal.py and the ``multimodal_decode_image``
    differential gate."""
    if backend not in ("auto", "pillow", "numpy"):
        raise ValueError(f"unknown backend {backend!r}")
    use_pillow = False
    if backend in ("auto", "pillow"):
        try:
            from PIL import Image  # noqa: F401

            use_pillow = True
        except ImportError as exc:
            if backend == "pillow":
                raise NotImplementedError(
                    "backend='pillow' requires Pillow; backend='auto' "
                    "falls back to the numpy BMP/PPM decoder"
                ) from exc

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import io  # noqa: F401 (pillow branch)

        import numpy as np

        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf[id_col], pdf[payload_col]):
                if use_pillow:  # pragma: no cover - env-dependent
                    from PIL import Image

                    img = Image.open(io.BytesIO(payload))
                    rgb = np.asarray(img.convert("RGB"))
                    # mode = the SOURCE image mode ('L', 'RGBA', 'P',
                    # ...), not the post-convert 'RGB' — downstream
                    # filters select on what the corpus contains. On the
                    # shared BMP24/PPM-P6 formats Pillow reports 'RGB',
                    # matching the numpy backend bit-for-bit.
                    w, h, mode = img.width, img.height, img.mode
                else:
                    w, h, mode, rgb = _decode_rgb_numpy(bytes(payload))
                rows.append((int(doc_id), w, h, mode, _luma_mean(rgb)))
            yield pd.DataFrame(
                rows, columns=["doc_id", "width", "height", "mode", "mean_luma"]
            )

    return df.mapInPandas(decode, schema=IMAGE_FEATURES_SCHEMA)


RESIZED_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("out_w", T.IntegerType()),
        T.StructField("out_h", T.IntegerType()),
        T.StructField("mean_luma", T.DoubleType()),
        T.StructField("payload", T.BinaryType()),
    ]
)


def resize_nearest(
    df: DataFrame,
    out_w: int,
    out_h: int,
    id_col: str = "doc_id",
    payload_col: str = "payload",
) -> DataFrame:
    """Image resize (nearest-neighbor) as a true binary→binary transform:
    decode with the pure-numpy BMP/PPM backend, resample with integer
    index math (``src = floor(dst·in/out)`` — deterministic, no
    interpolation arithmetic to drift across platforms), re-encode BMP,
    and report the resized mean luma. The thumbnail/normalization pass of
    an image-corpus pipeline; Arrow-batched mapInPandas, one vectorized
    fancy-index per image, no Python pixel loops."""

    def work(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf[id_col], pdf[payload_col]):
                w, h, _, rgb = _decode_rgb_numpy(bytes(payload))
                xi = (np.arange(out_w) * w) // out_w
                yi = (np.arange(out_h) * h) // out_h
                resized = rgb[np.ix_(yi, xi)]
                rows.append((int(doc_id), out_w, out_h,
                             _luma_mean(resized),
                             bytearray(encode_bmp(resized))))
            yield pd.DataFrame(
                rows,
                columns=["doc_id", "out_w", "out_h", "mean_luma", "payload"],
            )

    return df.mapInPandas(work, schema=RESIZED_SCHEMA)


# ----------------------------------------------------------------- audio

AUDIO_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("n_samples", T.LongType()),
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("n_channels", T.IntegerType()),
        T.StructField("rms", T.DoubleType()),
        T.StructField("zero_crossings", T.LongType()),
    ]
)


def encode_wav_pcm16(samples, sample_rate: int = 8000) -> bytes:
    """Minimal RIFF/WAVE PCM16 mono encoder (numpy int16 array) —
    fixture/synthesis helper so the audio decode path has real container
    bytes in codec-less environments."""
    import struct

    a = np.asarray(samples, dtype="<i2")
    data = a.tobytes()
    fmt = struct.pack("<HHIIHH", 1, 1, sample_rate, sample_rate * 2, 2, 16)
    return (
        b"RIFF" + struct.pack("<I", 4 + 8 + len(fmt) + 8 + len(data))
        + b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(data)) + data
    )


def _parse_wav(payload: bytes):
    """Real RIFF chunk walk (no audio libs): locate 'fmt ' and 'data',
    reject non-PCM; returns (rate, channels, int16 sample array)."""
    import struct

    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    pos, rate, channels, data = 12, None, None, None
    while pos + 8 <= len(payload):
        cid = payload[pos:pos + 4]
        (size,) = struct.unpack("<I", payload[pos + 4:pos + 8])
        body = payload[pos + 8:pos + 8 + size]
        if cid == b"fmt ":
            audio_fmt, channels, rate = struct.unpack("<HHI", body[:8])
            (bits,) = struct.unpack("<H", body[14:16])
            if audio_fmt != 1 or bits != 16:
                raise ValueError("only PCM16 supported")
        elif cid == b"data":
            data = np.frombuffer(body, dtype="<i2")
        pos += 8 + size + (size % 2)  # chunks are word-aligned
    if rate is None or data is None:
        raise ValueError("missing fmt/data chunk")
    return rate, channels, data


def decode_audio(
    df: DataFrame,
    id_col: str = "doc_id",
    payload_col: str = "payload",
) -> DataFrame:
    """Audio decode → typed features, dropping the binary column: REAL
    RIFF/WAVE PCM16 parsing (struct chunk walk + one ``np.frombuffer``
    — no codec libs), then the two standard gate signals computed
    vectorized per clip:

    * ``rms`` — root-mean-square amplitude (exact: int16² sums stay far
      inside float64's integer range, so the value is partitioning- and
      engine-reproducible)
    * ``zero_crossings`` — count of strict sign flips
      (``s_i·s_{i-1} < 0``; zeros break runs) — the classic
      silence/noisiness discriminator.

    Multichannel data is interleaved per the WAV spec; features here are
    computed over the interleaved stream (mono fixtures in tests — the
    channel de-interleave is a reshape away when needed)."""

    def work(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf[id_col], pdf[payload_col]):
                rate, channels, s = _parse_wav(bytes(payload))
                sf = s.astype(np.float64)
                rms = float(np.sqrt(np.mean(sf * sf))) if len(s) else 0.0
                zc = int(np.sum(sf[1:] * sf[:-1] < 0)) if len(s) > 1 else 0
                rows.append((int(doc_id), len(s), rate, channels, rms, zc))
            yield pd.DataFrame(
                rows,
                columns=["doc_id", "n_samples", "sample_rate",
                         "n_channels", "rms", "zero_crossings"],
            )

    return df.mapInPandas(work, schema=AUDIO_FEATURES_SCHEMA)
