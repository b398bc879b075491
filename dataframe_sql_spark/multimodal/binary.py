"""Multimodal column plumbing: image/audio/video as opaque binary
columns with typed metadata (north-star extension, BASELINE.json).

The Spark-side plumbing — schemas, partition-friendly batch shapes,
Arrow-batched UDF signatures — is real and tested. The actual media
decode is STUBBED: codec libraries (Pillow/ffmpeg/librosa) are not in
this container. ``decode_image_batch`` and ``chunk_audio`` have real
dependency-free paths (image headers, RIFF/WAVE); the feature and
frame stubs raise ``NotImplementedError`` at call time unless
``fake=True``. ``fake=True`` substitutes a deterministic byte-derived
fake everywhere, so the downstream pipeline shape can be exercised
end-to-end.

Scale notes: every stage here is ``mapInPandas``
(``operators.scalars.map_batches``) or expression map-side work over
binary blobs — no shuffle; blobs never pass through the
driver; Arrow moves them zero-copy between JVM and Python workers.
"""

from __future__ import annotations

import functools

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..operators.scalars import _fan_out, map_batches

__all__ = [
    "MEDIA_META_SCHEMA",
    "sniff_media_type",
    "attach_blob_metadata",
    "decode_image_batch",
    "extract_image_features",
    "chunk_audio",
    "sample_video_frames",
]

# typed metadata carried alongside every media blob
MEDIA_META_SCHEMA = T.StructType(
    [
        T.StructField("media_type", T.StringType()),
        T.StructField("byte_length", T.LongType()),
        T.StructField("content_hash", T.StringType()),
    ]
)

_MAGIC = {
    "89504e47": "image/png",
    "ffd8ff": "image/jpeg",
    "47494638": "image/gif",
    "52494646": "audio/wav-or-avi",  # RIFF container
    "00000018": "video/mp4",
    "00000020": "video/mp4",
    "494433": "audio/mp3",
}


def sniff_media_type(blob: Column) -> Column:
    """Magic-byte sniffing as a pure expression over the hex prefix."""
    prefix = F.lower(F.hex(F.substring(blob, 1, 4)))
    expr = F.lit("application/octet-stream")
    for magic, mtype in _MAGIC.items():
        expr = F.when(prefix.startswith(magic.lower()), F.lit(mtype)).otherwise(expr)
    return expr


def attach_blob_metadata(df: DataFrame, blob_col: str) -> DataFrame:
    """Add the typed metadata struct for a binary column — length,
    content hash (md5, cross-engine stable), sniffed type. All
    JVM-side expressions."""
    b = F.col(blob_col)
    meta = F.struct(
        sniff_media_type(b).alias("media_type"),
        F.length(b).cast("long").alias("byte_length"),
        F.md5(b).alias("content_hash"),
    )
    return df.withColumn(f"{blob_col}_meta", meta)


def _fake_decode(blob: bytes) -> tuple[int, int, int]:
    """Deterministic FAKE decode for environments without codecs:
    width/height/channels derived from the first bytes. Clearly not a
    real image decode — exists so the pipeline shape is testable."""
    if not blob:
        return 0, 0, 0
    w = 1 + blob[0] % 64
    h = 1 + (blob[1] if len(blob) > 1 else 0) % 64
    c = 3
    return w, h, c


_PNG_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}


def _parse_image_header(b: bytes) -> tuple[int, int, int] | None:
    """Pure-Python (width, height, channels) from PNG/GIF/JPEG headers —
    a REAL metadata decode with zero codec dependencies (only pixel
    decode needs Pillow). Returns None for unrecognized/corrupt data."""
    if len(b) >= 26 and b[:8] == b"\x89PNG\r\n\x1a\n" and b[12:16] == b"IHDR":
        return (
            int.from_bytes(b[16:20], "big"),
            int.from_bytes(b[20:24], "big"),
            _PNG_CHANNELS.get(b[25], 3),
        )
    if len(b) >= 10 and b[:6] in (b"GIF87a", b"GIF89a"):
        return (
            int.from_bytes(b[6:8], "little"),
            int.from_bytes(b[8:10], "little"),
            3,
        )
    if len(b) >= 4 and b[:2] == b"\xff\xd8":  # JPEG: scan for a SOF marker
        i = 2
        while i + 9 < len(b):
            if b[i] != 0xFF:
                return None
            marker = b[i + 1]
            if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
                i += 2
                continue
            seglen = int.from_bytes(b[i + 2 : i + 4], "big")
            if marker in (0xC0, 0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB):
                return (
                    int.from_bytes(b[i + 7 : i + 9], "big"),
                    int.from_bytes(b[i + 5 : i + 7], "big"),
                    b[i + 9],
                )
            i += 2 + seglen
    return None


def _pil_decode(b: bytes) -> tuple[int, int, int] | None:
    from io import BytesIO

    from PIL import Image

    try:
        with Image.open(BytesIO(b)) as im:
            return im.width, im.height, len(im.getbands())
    except Exception:
        return None


@functools.cache
def _image_decoder():
    """The real image decode of this worker: Pillow when importable,
    else the pure-Python header parse (probed once per process)."""
    try:
        import PIL.Image  # noqa: F401

        return _pil_decode
    except ImportError:
        return _parse_image_header


def decode_image_batch(
    df: DataFrame, blob_col: str, fake: bool = False
) -> DataFrame:
    """Decode image blobs → (width, height, channels) via Arrow-batched
    ``mapInPandas``.

    Real path (``fake=False``), probed at runtime ON THE WORKER:
    Pillow when importable (full decode, any format it knows);
    otherwise a pure-Python PNG/GIF/JPEG header parse — real metadata
    decode with zero dependencies. Unrecognized blobs yield NULL dims
    rather than failing the batch. ``fake=True`` keeps the
    deterministic byte-derived stub (what the hash-checked catalog
    entries use, so oracles stay environment-independent).

    The batch shape is the part that matters at scale: blobs stream
    through in Arrow record batches partition-by-partition; output
    schema = input schema + the three ints.
    """

    def dims(pdf):
        decode = _fake_decode if fake else _image_decoder()
        decoded = pdf[blob_col].map(lambda b: decode(b or b"") or (None,) * 3)
        return pdf.assign(
            width=decoded.map(lambda t: t[0]).astype("Int32"),
            height=decoded.map(lambda t: t[1]).astype("Int32"),
            channels=decoded.map(lambda t: t[2]).astype("Int32"),
        )

    return map_batches(df, "`width` int,`height` int,`channels` int", dims)


def extract_image_features(
    df: DataFrame, blob_col: str, dim: int = 16, fake: bool = False
) -> DataFrame:
    """Feature-extract blobs → array<float> embedding via mapInPandas.
    Stub: deterministic byte-histogram features when ``fake=True``;
    real model inference is out of scope for this container."""
    if not fake:
        raise NotImplementedError(
            "real feature extraction needs a vision model; pass fake=True"
        )

    def feat(b: bytes | None) -> list[float]:
        b = b or b""
        hist = [0] * dim
        for byte in b[:4096]:
            hist[byte % dim] += 1
        total = float(sum(hist)) or 1.0
        return [h / total for h in hist]

    return map_batches(
        df, "`features` array<float>", lambda pdf: pdf.assign(features=pdf[blob_col].map(feat))
    )


def _wav_chunks(b: bytes, chunk_seconds: float) -> list[bytes] | None:
    """Chunk a RIFF/WAVE blob into fixed-duration PCM slices using the
    stdlib ``wave`` module — a REAL audio chunk path with zero codec
    dependencies (non-WAV formats still need ffmpeg/soundfile).
    Returns None when the blob isn't parseable WAV."""
    import io
    import wave

    if len(b) < 12 or b[:4] != b"RIFF" or b[8:12] != b"WAVE":
        return None
    try:
        with wave.open(io.BytesIO(b)) as w:
            frames_per_chunk = max(1, int(chunk_seconds * w.getframerate()))
            chunks = []
            while True:
                data = w.readframes(frames_per_chunk)
                if not data:
                    break
                chunks.append(data)
            return chunks or [b""]
    except (wave.Error, EOFError):
        return None


def _byte_windows(pdf, blob_col: str, width: int, n_windows):
    """The stub fan-out: each row repeated once per ``width``-byte
    window of its blob (``n_windows`` maps the blob lengths to window
    counts; a NULL blob is empty). Returns the rows, each copy's window
    index and the window bytes — only the slicing stays Python."""
    blobs = pdf[blob_col].map(lambda b: b or b"")
    counts = n_windows(blobs.map(len))
    out, idx = _fan_out(pdf, counts)
    windows = [
        b[i * width : (i + 1) * width] for b, c in zip(blobs, counts.to_numpy()) for i in range(c)
    ]
    return out, idx, windows


def chunk_audio(
    df: DataFrame,
    blob_col: str,
    chunk_seconds: float = 10.0,
    bytes_per_second: int = 32000,
    fake: bool = False,
) -> DataFrame:
    """Chunk audio blobs → exploded (chunk_idx, chunk_start_s,
    chunk_blob) rows, the standard pre-ASR/pre-training segmentation.

    Real path (``fake=False``): RIFF/WAVE blobs are chunked on actual
    frame boundaries at the header's true sample rate via the stdlib
    ``wave`` module; unparseable/non-WAV blobs yield one row with NULL
    chunk fields (count them to monitor decode coverage — compressed
    formats need ffmpeg/soundfile, probed for nothing here since the
    PCM path covers the honest-without-codecs case). ``fake=True``
    keeps the deterministic byte-window stub (16 kHz 16-bit mono PCM
    assumption) the hash-checked catalog entries rely on.

    Same fan-out caveat as frame sampling: one row becomes
    ceil(duration/chunk_seconds) rows before any shuffle.
    """
    step = int(chunk_seconds * bytes_per_second)

    def real_chunks(pdf):
        chunk_lists = pdf[blob_col].map(
            lambda b: _wav_chunks(b or b"", chunk_seconds)
        )
        counts = chunk_lists.map(lambda L: len(L) if L else 1)
        out, idx = _fan_out(pdf, counts)
        idx = idx.astype("float64")
        nulls = np.concatenate(
            [np.full(c, L is None) for L, c in zip(chunk_lists, counts)]
        )
        out["chunk_idx"] = pd.array(
            np.where(nulls, np.nan, idx), dtype="Int32"
        )
        out["chunk_start_s"] = np.where(nulls, np.nan, idx * chunk_seconds)
        out["chunk_blob"] = [
            c for L in chunk_lists for c in (L if L else [None])
        ]
        return out

    def fake_chunks(pdf):
        out, idx, windows = _byte_windows(
            pdf, blob_col, step, lambda n: n.floordiv(-step).mul(-1).clip(lower=1)  # ceil, ≥1
        )
        return out.assign(
            chunk_idx=idx.astype("int32"), chunk_start_s=idx * chunk_seconds, chunk_blob=windows
        )

    return map_batches(
        df,
        "`chunk_idx` int,`chunk_start_s` double,`chunk_blob` binary",
        fake_chunks if fake else real_chunks,
    )


def sample_video_frames(
    df: DataFrame, blob_col: str, every_n_bytes: int = 1024, max_frames: int = 8, fake: bool = False
) -> DataFrame:
    """Frame-sample video blobs → exploded (frame_idx, frame_blob)
    rows. Stub samples fixed-offset byte windows when ``fake=True``
    (real path: ffmpeg). One input row fans out to ≤ max_frames rows —
    partition sizes grow by that factor, which is why this runs before
    any shuffle stage in a real pipeline."""
    if not fake:
        raise NotImplementedError("real frame sampling needs ffmpeg; pass fake=True")

    def frames(pdf):
        out, idx, windows = _byte_windows(
            pdf,
            blob_col,
            every_n_bytes,
            lambda n: n.floordiv(every_n_bytes).clip(lower=1, upper=max_frames),
        )
        return out.assign(frame_idx=idx.astype("int32"), frame_blob=windows)

    return map_batches(df, "`frame_idx` int,`frame_blob` binary", frames)
