"""Multimodal columns for training-data pipelines (brief: first-class).

Images / audio / video ride as opaque ``binary`` columns with typed
metadata structs.  Each operator is one narrow ``mapInPandas`` pass: no
shuffle, media blobs never move between executors.

The ``_decode_*`` seams dispatch on the blob's container magic:

- PNG / JPEG -> Pillow;
- RIFF/WAVE -> soundfile (first channel, float32 PCM);
- RIFF/AVI -> pyav (frames decoded to grayscale);
- anything unrecognized -> the md5-chain deterministic fake, which is what
  the hermetic driver oracles pin (any engine with md5 recomputes it).

The module carries no codecs of its own: a recognized container whose
package is not installed raises ``NotImplementedError`` naming the package.
A real decode whose dimensions disagree with the declared metadata raises
``ValueError``.  A row with null ``content`` keeps its output shape and
carries null values, as SQL NULL propagation gives the oracle twins.
"""

from __future__ import annotations

import hashlib
import importlib
import io
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

IMAGE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("content", T.BinaryType()),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("format", T.StringType()),
                    T.StructField("width", T.IntegerType()),
                    T.StructField("height", T.IntegerType()),
                    T.StructField("n_bytes", T.LongType()),
                ]
            ),
        ),
    ]
)

AUDIO_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("content", T.BinaryType()),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("codec", T.StringType()),
                    T.StructField("sample_rate", T.IntegerType()),
                    T.StructField("n_samples", T.LongType()),
                ]
            ),
        ),
    ]
)


VIDEO_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("content", T.BinaryType()),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("codec", T.StringType()),
                    T.StructField("width", T.IntegerType()),
                    T.StructField("height", T.IntegerType()),
                    T.StructField("n_frames", T.IntegerType()),
                    T.StructField("fps", T.FloatType()),
                ]
            ),
        ),
    ]
)

# --- codec seams -------------------------------------------------------------


def _md5_chain_bytes(content: bytes, n: int) -> np.ndarray:
    """n deterministic pseudo-random bytes from an md5 chain over the
    content: block b = md5(md5(content).hexdigest() + ':' + b).  Every step
    is md5-on-ASCII, so ANY engine with an md5 function (DuckDB, Spark SQL)
    can recompute the stream — the property the driver oracle uses."""
    seed_hex = hashlib.md5(content).hexdigest()
    blocks = (n + 15) // 16
    buf = b"".join(
        hashlib.md5(f"{seed_hex}:{b}".encode()).digest() for b in range(blocks)
    )
    return np.frombuffer(buf[:n], dtype=np.uint8)


_PNG_MAGIC = b"\x89PNG\r\n\x1a\n"
_JPEG_MAGIC = b"\xff\xd8\xff"


def _require(module: str, package: str):
    """Import the codec ``module`` for a recognized container, or raise
    naming the ``package`` to install."""
    try:
        return importlib.import_module(module)
    except ImportError:
        raise NotImplementedError(
            f"decoding this container needs {package}; install it "
            "(unrecognized blobs take the deterministic fake instead)"
        ) from None


def _check_shape(decoded: tuple, declared: tuple) -> None:
    # a blob whose real dimensions disagree with the declared metadata would
    # otherwise pass silently and drift every downstream shape assumption
    # off the schema — fail loudly at the decode seam
    if decoded != declared:
        raise ValueError(
            f"decoded shape {decoded} disagrees with the metadata, which "
            f"declares {declared}"
        )


def _decode_image(content: bytes, width: int, height: int) -> np.ndarray:
    """[h, w, 3] uint8.  PNG/JPEG magic -> Pillow; opaque blobs -> md5
    fake.  Declared dims of (0, 0) mean "unknown" and skip the check."""
    content = bytes(content)  # Arrow hands bytearray
    if content[:8] == _PNG_MAGIC or content[:3] == _JPEG_MAGIC:
        image = _require("PIL.Image", "Pillow")
        img = np.asarray(image.open(io.BytesIO(content)).convert("RGB"))
        if (height, width) != (0, 0):
            _check_shape(img.shape[:2], (height, width))
        return img
    return _md5_chain_bytes(content, height * width * 3).reshape(height, width, 3)


def _decode_audio(content: bytes, n_samples: int) -> np.ndarray:
    """[n] float32 PCM in [-1, 1).  RIFF/WAVE magic -> soundfile (first
    channel); opaque blobs -> md5 fake."""
    content = bytes(content)
    if content[:4] == b"RIFF" and content[8:12] == b"WAVE":
        data, _rate = _require("soundfile", "soundfile").read(
            io.BytesIO(content), dtype="float32"
        )
        if data.ndim > 1:
            data = data[:, 0]
        return np.ascontiguousarray(data, dtype=np.float32)
    raw = _md5_chain_bytes(content, n_samples).astype(np.float32)
    return (raw - 128.0) / 128.0


def _decode_video_frame(content: bytes, frame_idx: int, width: int, height: int) -> np.ndarray:
    """[h, w] uint8 grayscale frame.  RIFF/AVI magic -> pyav, checked
    against the declared dims like :func:`_decode_image`.

    Fake (unrecognized containers): per-frame md5 chain seeded by
    (md5(content), frame_idx) — every frame is independently addressable
    without decoding its predecessors, mirroring keyframe seeks, and any
    engine with md5 can recompute it.
    """
    content = bytes(content)  # Arrow hands bytearray
    if content[:4] == b"RIFF" and content[8:12] == b"AVI ":
        av = _require("av", "pyav")
        with av.open(io.BytesIO(content)) as container:
            for i, frame in enumerate(container.decode(video=0)):
                if i == frame_idx:
                    gray = frame.to_ndarray(format="gray")
                    break
            else:
                raise ValueError(
                    f"AVI frame {frame_idx} out of range (metadata n_frames "
                    "disagrees with the stream?)"
                )
        _check_shape(gray.shape, (height, width))
        return gray
    seed_hex = hashlib.md5(content).hexdigest()
    frame_key = f"{seed_hex}:f{frame_idx}".encode()
    return _md5_chain_bytes(frame_key, height * width).reshape(height, width)


# --- operators ------------------------------------------------------------------


def image_features(df: DataFrame, grid: int = 4) -> DataFrame:
    """Decode -> grid-pooled mean-channel features, batched per partition.

    Output adds ``features: array<float>`` of length grid*grid*3 — the
    shape a downstream embedding model consumes.  Narrow pass: one
    ``mapInPandas`` batch per Arrow chunk, blobs never shuffle.
    """
    out_schema = T.StructType(
        [
            T.StructField("media_id", T.LongType()),
            T.StructField("features", T.ArrayType(T.FloatType())),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = []
            for content, meta in zip(pdf["content"], pdf["meta"]):
                if content is None:
                    feats.append([None] * (grid * grid * 3))
                    continue
                img = _decode_image(content, int(meta["width"]), int(meta["height"]))
                h, w, _ = img.shape
                gh, gw = max(h // grid, 1), max(w // grid, 1)
                pooled = [
                    float(img[i * gh:(i + 1) * gh, j * gw:(j + 1) * gw, c].mean())
                    for i in range(grid)
                    for j in range(grid)
                    for c in range(3)
                ]
                feats.append(pooled)
            yield pd.DataFrame({"media_id": pdf["media_id"], "features": feats})

    return df.mapInPandas(run, schema=out_schema)


def audio_frame_sample(
    df: DataFrame, frame_len: int = 400, hop: int = 160, max_frames: int = 8
) -> DataFrame:
    """Decode audio -> fixed-hop frame energies (the feature-extraction
    batch shape of a filterbank front-end), one row per (media, frame)."""
    out_schema = T.StructType(
        [
            T.StructField("media_id", T.LongType()),
            T.StructField("frame_idx", T.IntegerType()),
            T.StructField("energy", T.FloatType()),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, energies = [], [], []
            for media_id, content, meta in zip(
                pdf["media_id"], pdf["content"], pdf["meta"]
            ):
                n = int(meta["n_samples"])
                sq = None  # null content: a null energy per declared frame
                if content is not None:
                    # mean of squares in float64.  For the md5-chain fake
                    # the samples are dyadic rationals k/128 (|k| <= 128),
                    # so every square and partial sum is EXACT in f64 and
                    # the single division is the only rounding — a SQL
                    # engine recomputing sum((raw-128)^2) / (16384 *
                    # frame_len) lands on the same bits (the driver oracle
                    # relies on this)
                    sq = _decode_audio(content, n).astype(np.float64) ** 2
                    n = len(sq)
                for k in range(max_frames):
                    s = k * hop
                    if s + frame_len > n:
                        break
                    ids.append(media_id)
                    idxs.append(k)
                    energies.append(
                        None if sq is None
                        else float(sq[s:s + frame_len].sum() / frame_len)
                    )
            yield pd.DataFrame(
                {"media_id": ids, "frame_idx": idxs, "energy": energies}
            )

    return df.mapInPandas(run, schema=out_schema)


def video_frame_sample(df: DataFrame, n_out: int = 4) -> DataFrame:
    """Uniformly sample ``n_out`` frames per video and decode each to a
    mean-intensity scalar — the frame-sampling front-end of a video
    embedding pipeline (sample -> decode -> per-frame features).

    Sampled indices are ``(k * n_frames) // n_out`` for k in [0, n_out) —
    deterministic, order-free, and seek-addressable (no sequential decode).
    Narrow ``mapInPandas`` pass: blobs never shuffle; one row per
    (media_id, sample_idx).
    """
    out_schema = T.StructType(
        [
            T.StructField("media_id", T.LongType()),
            T.StructField("sample_idx", T.IntegerType()),
            T.StructField("frame_idx", T.IntegerType()),
            T.StructField("mean_intensity", T.FloatType()),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, sidx, fidx, means = [], [], [], []
            for mid, content, meta in zip(
                pdf["media_id"], pdf["content"], pdf["meta"]
            ):
                w, h = int(meta["width"]), int(meta["height"])
                nf = int(meta["n_frames"])
                for k in range(n_out):
                    f = (k * nf) // n_out
                    ids.append(mid)
                    sidx.append(k)
                    fidx.append(f)
                    if content is None:
                        means.append(None)
                        continue
                    frame = _decode_video_frame(content, f, w, h)
                    # integer sum then ONE double division (not np.mean's
                    # pairwise summation) so the SQL twin is bit-exact
                    means.append(int(frame.astype(np.int64).sum()) / (w * h))
            yield pd.DataFrame(
                {
                    "media_id": pd.Series(ids, dtype="int64"),
                    "sample_idx": pd.Series(sidx, dtype="int32"),
                    "frame_idx": pd.Series(fidx, dtype="int32"),
                    "mean_intensity": pd.Series(means, dtype="float32"),
                }
            )

    return df.mapInPandas(run, schema=out_schema)
