"""Multimodal columns for training-data pipelines (brief: first-class).

Images / audio / video ride as opaque ``binary`` columns with typed
metadata structs.  The Spark-side plumbing — schemas, partition-preserving
Arrow batches, UDF signatures, deterministic batch shapes — is real and
tested.  The ``_decode_*`` seams dispatch on the blob's actual container
magic:

- PNG -> Pillow when importable, else a stdlib (zlib+struct) PNG decoder
  (8-bit gray/RGB/RGBA, all 5 scanline filters, non-interlaced);
- JPEG -> Pillow when importable, else a stdlib (struct+numpy) BASELINE
  decoder written from ITU T.81 (SOF0/SOF1 huffman, 8-bit, gray/YCbCr,
  4:4:4 / 4:2:2 / 4:2:0, restart markers); progressive and arithmetic
  coding still raise ``NotImplementedError`` naming Pillow;
- RIFF/WAVE -> soundfile when importable, else the stdlib ``wave`` module
  (8/16-bit PCM, first channel);
- RIFF/AVI video -> a stdlib RIFF chunk walker yielding a seek-addressable
  per-frame index; MJPEG frames decode through the JPEG seam above,
  uncompressed DIB frames (8-bit gray / 24-bit BGR, bottom-up, 4-byte row
  stride) through struct+numpy; other FourCCs raise naming pyav/ffmpeg;
- anything unrecognized -> the md5-chain deterministic fake, which is
  what the hermetic driver oracles pin.

So real PNG/JPEG/WAV/MJPEG-AVI content decodes for real even in this
dependency-free container, and swapping in a full codec stack
(Pillow/soundfile/pyav) changes nothing but availability.  Inter-frame
codecs (H.264 etc.) have no stdlib decoder; those blobs stay
fake-or-raise behind the same seam.

Scale notes: media blobs are the heaviest columns a pipeline carries, so
every operator here is a narrow ``mapInPandas`` pass (no shuffle, blobs
never move between executors) and metadata-only queries prune the binary
column at the parquet scan (verified by ReadSchema in tests).
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
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


def _png_decode(data: bytes) -> np.ndarray:
    """Minimal correct PNG decode -> [h, w, 3] uint8 using only stdlib
    zlib/struct: 8-bit grayscale(0)/RGB(2)/RGBA(6), non-interlaced, all 5
    scanline filter types per the PNG spec §9 (None/Sub/Up/Average/Paeth).
    Grayscale broadcasts to 3 channels; alpha is dropped.  Test-path
    Python-loop unfiltering is fine — decode is a Python seam by design."""
    import struct
    import zlib

    if data[:8] != _PNG_MAGIC:
        raise ValueError("not a PNG")
    pos, idat = 8, []
    w = h = color_type = None
    while pos + 8 <= len(data):
        (length,) = struct.unpack(">I", data[pos:pos + 4])
        ctype = data[pos + 4:pos + 8]
        chunk = data[pos + 8:pos + 8 + length]
        pos += 12 + length  # length + type + data + crc
        if ctype == b"IHDR":
            w, h, depth, color_type, _comp, _filt, interlace = struct.unpack(
                ">IIBBBBB", chunk
            )
            if depth != 8 or color_type not in (0, 2, 6) or interlace:
                raise NotImplementedError(
                    f"PNG depth={depth} color_type={color_type} "
                    f"interlace={interlace}: install Pillow for full coverage"
                )
        elif ctype == b"IDAT":
            idat.append(chunk)
        elif ctype == b"IEND":
            break
    if color_type is None:
        # a truncated/malformed stream without IHDR would otherwise surface
        # as an opaque KeyError(None) at the channel lookup below
        raise ValueError("PNG missing IHDR chunk")
    nch = {0: 1, 2: 3, 6: 4}[color_type]
    raw = zlib.decompress(b"".join(idat))
    stride = w * nch
    out = np.empty((h, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.uint8)
    pos = 0
    for y in range(h):
        ft = raw[pos]
        cur = np.frombuffer(raw[pos + 1:pos + 1 + stride], dtype=np.uint8).copy()
        pos += 1 + stride
        if ft == 1:  # Sub
            for x in range(nch, stride):
                cur[x] = (int(cur[x]) + int(cur[x - nch])) & 0xFF
        elif ft == 2:  # Up (uint8 add wraps mod 256, as the spec requires)
            cur = cur + prev
        elif ft == 3:  # Average
            for x in range(stride):
                left = int(cur[x - nch]) if x >= nch else 0
                cur[x] = (int(cur[x]) + (left + int(prev[x])) // 2) & 0xFF
        elif ft == 4:  # Paeth
            for x in range(stride):
                a = int(cur[x - nch]) if x >= nch else 0
                b = int(prev[x])
                c = int(prev[x - nch]) if x >= nch else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                cur[x] = (int(cur[x]) + pred) & 0xFF
        elif ft != 0:
            raise ValueError(f"bad PNG filter type {ft}")
        out[y] = cur
        prev = cur
    img = out.reshape(h, w, nch)
    if nch == 1:
        img = np.repeat(img, 3, axis=2)
    elif nch == 4:
        img = img[:, :, :3]
    return np.ascontiguousarray(img)


def _wav_decode(content: bytes) -> np.ndarray:
    """RIFF/WAVE -> float32 PCM in [-1, 1), first channel.  soundfile when
    importable (any codec libsndfile knows), stdlib ``wave`` otherwise
    (8/16-bit integer PCM)."""
    import io

    try:
        import soundfile as sf

        data, _sr = sf.read(io.BytesIO(content), dtype="float32")
        if data.ndim > 1:
            data = data[:, 0]
        return np.ascontiguousarray(data, dtype=np.float32)
    except ImportError:
        pass
    import wave

    with wave.open(io.BytesIO(content)) as wv:
        nch, sw = wv.getnchannels(), wv.getsampwidth()
        frames = wv.readframes(wv.getnframes())
    if sw == 2:
        arr = np.frombuffer(frames, dtype="<i2").astype(np.float32) / 32768.0
    elif sw == 1:  # 8-bit WAV is unsigned
        arr = (np.frombuffer(frames, dtype=np.uint8).astype(np.float32) - 128.0) / 128.0
    else:
        raise NotImplementedError(f"{8 * sw}-bit WAV needs soundfile")
    if nch > 1:
        arr = arr.reshape(-1, nch)[:, 0]
    return np.ascontiguousarray(arr)


# --- stdlib baseline-JPEG decoder (ITU T.81 sequential DCT) -------------------

_ZIGZAG = np.array(
    [  # zigzag scan order -> (row, col) flat index, T.81 Figure 5
        0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
        12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
        35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
        58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
    ],
    dtype=np.int64,
)


def _dct_matrix() -> np.ndarray:
    """8x8 DCT-II basis with T.81 normalization: forward = A s A^T,
    inverse = A^T S A (a constant-v block has DC exactly 8*v)."""
    x = np.arange(8, dtype=np.float64)
    a = np.cos((2 * x[None, :] + 1) * x[:, None] * np.pi / 16) / 2.0
    a[0] /= np.sqrt(2.0)
    return a


class _BitReader:
    """MSB-first bit reader over entropy-coded data with 0xFF00 unstuffing;
    RSTn markers are consumed (byte-aligned) by ``restart``."""

    def __init__(self, data: bytes, pos: int):
        self.data, self.pos, self.buf, self.nbits = data, pos, 0, 0

    def _fill(self) -> None:
        b = self.data[self.pos]
        if b == 0xFF:
            nxt = self.data[self.pos + 1]
            if nxt == 0x00:  # stuffed literal FF
                self.pos += 2
            else:  # a real marker mid-stream: entropy data exhausted
                raise ValueError(f"unexpected marker FF{nxt:02X} in scan")
        else:
            self.pos += 1
        self.buf = (self.buf << 8) | b
        self.nbits += 8

    def read(self, n: int) -> int:
        while self.nbits < n:
            self._fill()
        self.nbits -= n
        out = (self.buf >> self.nbits) & ((1 << n) - 1)
        self.buf &= (1 << self.nbits) - 1
        return out

    def restart(self, k: int) -> None:
        """Byte-align and consume the expected RSTk marker."""
        self.buf, self.nbits = 0, 0
        if self.data[self.pos] != 0xFF or self.data[self.pos + 1] != 0xD0 + k:
            raise ValueError("missing JPEG restart marker")
        self.pos += 2


def _huff_decode(br: _BitReader, table: dict) -> int:
    code, length = 0, 0
    while length < 16:
        code = (code << 1) | br.read(1)
        length += 1
        sym = table.get((length, code))
        if sym is not None:
            return sym
    raise ValueError("bad JPEG huffman code")


def _extend(v: int, s: int) -> int:
    """T.81 F.2.2.1 EXTEND: map an s-bit magnitude to its signed value."""
    return v if s == 0 or v >= (1 << (s - 1)) else v - (1 << s) + 1


def _jpeg_decode(data: bytes) -> np.ndarray:
    """[h, w, 3] uint8 from a BASELINE JPEG (SOF0/SOF1, huffman, 8-bit),
    written from the ITU T.81 spec with stdlib + numpy only — the same
    no-third-party seam as :func:`_png_decode`.  Grayscale broadcasts to
    3 channels; 4:2:0 / 4:2:2 chroma upsample is nearest-neighbor (the
    JFIF baseline).  Progressive (SOF2) and arithmetic coding raise —
    install Pillow for those.  Python-loop entropy decode is fine here:
    decode is a test/seam path by design (module doc)."""
    if data[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG")
    qt: dict[int, np.ndarray] = {}
    huff: dict[tuple, dict] = {}  # (class 0=DC/1=AC, id) -> {(len, code): sym}
    comps: list = []  # (id, h, v, tq) in SOF order
    w = h = None
    restart_interval = 0
    pos = 2
    while pos < len(data):
        if data[pos] != 0xFF:
            raise ValueError("bad JPEG marker stream")
        marker = data[pos + 1]
        if marker == 0xD9:  # EOI
            break
        seg_len = int.from_bytes(data[pos + 2:pos + 4], "big")
        seg = data[pos + 4:pos + 2 + seg_len]
        pos += 2 + seg_len
        if marker == 0xDB:  # DQT (possibly several tables per segment)
            i = 0
            while i < len(seg):
                pq, tq = seg[i] >> 4, seg[i] & 15
                n = 64 * (2 if pq else 1)
                raw = seg[i + 1:i + 1 + n]
                vals = (
                    np.frombuffer(raw, dtype=">u2") if pq
                    else np.frombuffer(raw, dtype=np.uint8)
                ).astype(np.float64)
                tbl = np.zeros(64)
                tbl[_ZIGZAG] = vals  # stored in zigzag order
                qt[tq] = tbl.reshape(8, 8)
                i += 1 + n
        elif marker in (0xC0, 0xC1):  # SOF0 baseline / SOF1 ext. sequential
            if seg[0] != 8:
                raise NotImplementedError("only 8-bit JPEG supported")
            h = int.from_bytes(seg[1:3], "big")
            w = int.from_bytes(seg[3:5], "big")
            n_comp = seg[5]
            comps = [
                (seg[6 + 3 * c], seg[7 + 3 * c] >> 4, seg[7 + 3 * c] & 15,
                 seg[8 + 3 * c])
                for c in range(n_comp)
            ]
        elif marker in (0xC2, 0xC9, 0xCA, 0xCB):
            raise NotImplementedError(
                "progressive/arithmetic JPEG: install Pillow"
            )
        elif marker == 0xC4:  # DHT (possibly several tables per segment)
            i = 0
            while i < len(seg):
                tc, th = seg[i] >> 4, seg[i] & 15
                counts = seg[i + 1:i + 17]
                syms = seg[i + 17:i + 17 + sum(counts)]
                table, code, si = {}, 0, 0
                for length in range(1, 17):
                    for _ in range(counts[length - 1]):
                        table[(length, code)] = syms[si]
                        code += 1
                        si += 1
                    code <<= 1
                huff[(tc, th)] = table
                i += 17 + sum(counts)
        elif marker == 0xDD:  # DRI
            restart_interval = int.from_bytes(seg[:2], "big")
        elif marker == 0xDA:  # SOS: entropy data follows the segment
            n_scan = seg[0]
            scan = {seg[1 + 2 * c]: (seg[2 + 2 * c] >> 4, seg[2 + 2 * c] & 15)
                    for c in range(n_scan)}
            if w is None or len(scan) != len(comps):
                raise NotImplementedError(
                    "non-interleaved/multi-scan JPEG: install Pillow"
                )
            break
    else:
        raise ValueError("JPEG has no scan")

    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    mcux = -(-w // (8 * hmax))
    mcuy = -(-h // (8 * vmax))
    planes = {
        cid: np.zeros((mcuy * 8 * v, mcux * 8 * hs))
        for cid, hs, v, _ in comps
    }
    idct = _dct_matrix().T
    br = _BitReader(data, pos)
    pred = {cid: 0 for cid, *_ in comps}
    rst = 0
    for m in range(mcux * mcuy):
        if restart_interval and m and m % restart_interval == 0:
            br.restart(rst)
            rst = (rst + 1) & 7
            pred = {cid: 0 for cid in pred}
        my, mx = divmod(m, mcux)
        for cid, hs, v, tq in comps:
            dc_tbl = huff[(0, scan[cid][0])]
            ac_tbl = huff[(1, scan[cid][1])]
            for by in range(v):
                for bx in range(hs):
                    zz = np.zeros(64)
                    s = _huff_decode(br, dc_tbl)
                    pred[cid] += _extend(br.read(s), s)
                    zz[0] = pred[cid]
                    k = 1
                    while k < 64:
                        rs = _huff_decode(br, ac_tbl)
                        r, s = rs >> 4, rs & 15
                        if s == 0:
                            if r != 15:  # EOB (ZRL advances 16)
                                break
                            k += 16
                            continue
                        k += r
                        zz[_ZIGZAG[k]] = _extend(br.read(s), s)
                        k += 1
                    block = idct @ (zz.reshape(8, 8) * qt[tq]) @ idct.T
                    y0 = (my * v + by) * 8
                    x0 = (mx * hs + bx) * 8
                    planes[cid][y0:y0 + 8, x0:x0 + 8] = block
    full = []
    for cid, hs, v, _ in comps:
        p = planes[cid]
        if hs < hmax or v < vmax:  # nearest-neighbor chroma upsample
            p = np.repeat(np.repeat(p, vmax // v, axis=0), hmax // hs, axis=1)
        full.append(p[:h, :w] + 128.0)
    if len(full) == 1:
        img = np.repeat(full[0][:, :, None], 3, axis=2)
    elif len(full) == 3:  # JFIF YCbCr -> RGB
        y, cb, cr = full
        img = np.stack(
            [
                y + 1.402 * (cr - 128.0),
                y - 0.344136 * (cb - 128.0) - 0.714136 * (cr - 128.0),
                y + 1.772 * (cb - 128.0),
            ],
            axis=2,
        )
    else:
        raise NotImplementedError(f"{len(full)}-component JPEG: install Pillow")
    return np.ascontiguousarray(
        np.clip(np.rint(img), 0, 255).astype(np.uint8)
    )


def _decode_image(content: bytes, width: int, height: int) -> np.ndarray:
    """[h, w, 3] uint8.  Real container magic -> real codec (PIL when
    importable, stdlib PNG / baseline-JPEG decode otherwise); opaque
    blobs -> md5 fake."""
    content = bytes(content)  # Arrow hands bytearray
    if content[:8] == _PNG_MAGIC or content[:3] == _JPEG_MAGIC:
        try:
            import io

            from PIL import Image

            img = np.asarray(Image.open(io.BytesIO(content)).convert("RGB"))
        except ImportError:
            img = (
                _png_decode(content)
                if content[:8] == _PNG_MAGIC
                else _jpeg_decode(content)
            )
        # a blob whose real dimensions disagree with the declared metadata
        # would otherwise pass silently and drift every downstream shape
        # assumption off the schema — fail loudly at the decode seam
        if (height, width) not in ((0, 0), img.shape[:2]):
            raise ValueError(
                f"decoded image is {img.shape[0]}x{img.shape[1]} but metadata "
                f"declares {height}x{width}"
            )
        return img
    return _md5_chain_bytes(content, height * width * 3).reshape(height, width, 3)


def _decode_audio(content: bytes, n_samples: int) -> np.ndarray:
    """[n] float32 PCM.  RIFF/WAVE magic -> real codec (soundfile when
    importable, stdlib wave otherwise); opaque blobs -> md5 fake."""
    content = bytes(content)
    if content[:4] == b"RIFF" and content[8:12] == b"WAVE":
        return _wav_decode(content)
    raw = _md5_chain_bytes(content, n_samples).astype(np.float32)
    return (raw - 128.0) / 128.0


# --- operators (real plumbing) ------------------------------------------------


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


def image_resize_plan(df: DataFrame, target: int = 224) -> DataFrame:
    """Metadata-only resize planning: scale factors + output dims WITHOUT
    touching the binary column — must prune ``content`` at the scan."""
    return df.select(
        "media_id",
        F.col("meta.width").alias("width"),
        F.col("meta.height").alias("height"),
        F.least(
            F.lit(float(target)) / F.col("meta.width"),
            F.lit(float(target)) / F.col("meta.height"),
        ).alias("scale"),
    ).withColumn(
        "out_width", F.floor(F.col("width") * F.col("scale")).cast("int")
    ).withColumn(
        "out_height", F.floor(F.col("height") * F.col("scale")).cast("int")
    )


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
                pcm = _decode_audio(content, int(meta["n_samples"]))
                # mean of squares in float64.  For the md5-chain fake the
                # samples are dyadic rationals k/128 (|k| <= 128), so every
                # square and partial sum is EXACT in f64 and the single
                # division is the only rounding — a SQL engine recomputing
                # sum((raw-128)^2) / (16384 * frame_len) lands on the same
                # bits (the driver oracle relies on this)
                sq = pcm.astype(np.float64) ** 2
                for k in range(max_frames):
                    s = k * hop
                    if s + frame_len > len(pcm):
                        break
                    ids.append(media_id)
                    idxs.append(k)
                    energies.append(float(sq[s:s + frame_len].sum() / frame_len))
            yield pd.DataFrame(
                {"media_id": ids, "frame_idx": idxs, "energy": energies}
            )

    return df.mapInPandas(run, schema=out_schema)


def media_dedup_hashes(df: DataFrame) -> DataFrame:
    """Exact media dedup by content hash — JVM-side md5 on the binary
    column, no Python in the path."""
    return df.select(
        "media_id",
        F.md5(F.col("content")).alias("content_hash"),
        F.length(F.col("content")).alias("n_bytes"),
    )


def gen_fake_media(spark, n: int = 64, seed: int = 42, kind: str = "image") -> DataFrame:
    """Deterministic fake media table for tests/benchmarks."""
    rng = np.random.default_rng(seed)
    rows = []
    for i in range(n):
        blob = rng.integers(0, 256, size=int(rng.integers(512, 4096)), dtype=np.uint8).tobytes()
        if kind == "image":
            w, h = int(rng.integers(16, 64)), int(rng.integers(16, 64))
            rows.append((i, bytearray(blob), ("png", w, h, len(blob))))
        else:
            ns = int(rng.integers(2000, 8000))
            rows.append((i, bytearray(blob), ("pcm16", 16000, ns)))
    schema = IMAGE_SCHEMA if kind == "image" else AUDIO_SCHEMA
    return spark.createDataFrame(rows, schema=schema)


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


# --- stdlib AVI (RIFF) video: MJPEG + uncompressed DIB frames -----------------

_AVI_MAGIC = (b"RIFF", b"AVI ")  # bytes [0:4] and [8:12]


def _avi_index(data: bytes):
    """Parse a RIFF/AVI container with stdlib struct only: returns
    (width, height_signed, bit_count, compression_fourcc, frames) where
    frames is a tuple of (offset, size) into ``data`` for stream 0's
    ``00db``/``00dc`` chunks, in stream order.  The index makes every
    frame independently seek-addressable — the access pattern
    :func:`video_frame_sample` relies on (no sequential decode).  Cached
    per blob so sampling k frames walks the chunk tree once."""
    import struct

    if data[:4] != _AVI_MAGIC[0] or data[8:12] != _AVI_MAGIC[1]:
        raise ValueError("not an AVI")
    width = height = bit_count = comp = None
    frames: list[tuple[int, int]] = []

    def scan(pos: int, end: int) -> None:
        nonlocal width, height, bit_count, comp
        while pos + 8 <= end:
            cid = data[pos:pos + 4]
            (size,) = struct.unpack("<I", data[pos + 4:pos + 8])
            body = pos + 8
            if cid == b"LIST":
                if data[body:body + 4] in (b"hdrl", b"strl", b"movi"):
                    scan(body + 4, body + size)
            elif cid == b"strf" and width is None:
                # BITMAPINFOHEADER: biWidth/biHeight are SIGNED (negative
                # height = top-down rows); keep the sign for the DIB path
                width, height = struct.unpack("<ii", data[body + 4:body + 12])
                (bit_count,) = struct.unpack("<H", data[body + 14:body + 16])
                comp = data[body + 16:body + 20]
            elif cid[:2] == b"00" and cid[2:4] in (b"db", b"dc"):
                frames.append((body, size))
            pos = body + size + (size & 1)  # RIFF chunks are word-aligned

    scan(12, min(len(data), 8 + int.from_bytes(data[4:8], "little")))
    if width is None:
        raise ValueError("AVI missing strf (BITMAPINFOHEADER)")
    return width, height, bit_count, comp, tuple(frames)


# tiny per-executor memo: repeated frame seeks into the same blob reuse one
# chunk walk; keyed by content md5 (bytes themselves would pin large blobs)
_AVI_INDEX_CACHE: dict[str, tuple] = {}


def _rgb_to_gray(img: np.ndarray) -> np.ndarray:
    """BT.601 luma, integer-rounded — the conventional Y' of the JFIF/AVI
    world; channel-equal (gray-content) frames pass through exactly."""
    r, g, b = (img[:, :, c].astype(np.float64) for c in range(3))
    return np.clip(
        np.rint(0.299 * r + 0.587 * g + 0.114 * b), 0, 255
    ).astype(np.uint8)


def _avi_decode_frame(data: bytes, frame_idx: int) -> np.ndarray:
    """[h, w] uint8 grayscale from AVI frame ``frame_idx``.  MJPEG frames
    route through the image seam (Pillow when importable, else the stdlib
    baseline-JPEG decoder); ``00db`` DIB frames decode 8-bit gray or
    24-bit BGR with bottom-up rows and 4-byte stride per the BMP layout.
    Inter-frame FourCCs raise an actionable error naming pyav/ffmpeg."""
    key = hashlib.md5(data).hexdigest()
    idx = _AVI_INDEX_CACHE.get(key)
    if idx is None:
        idx = _avi_index(data)
        if len(_AVI_INDEX_CACHE) > 64:
            _AVI_INDEX_CACHE.clear()
        _AVI_INDEX_CACHE[key] = idx
    w, h_signed, bit_count, comp, frames = idx
    if not 0 <= frame_idx < len(frames):
        raise ValueError(
            f"AVI frame {frame_idx} out of range ({len(frames)} frames in "
            "the container — metadata n_frames disagrees with the stream?)"
        )
    off, size = frames[frame_idx]
    buf = data[off:off + size]
    if comp in (b"MJPG", b"mjpg") or buf[:3] == _JPEG_MAGIC:
        try:
            import io

            from PIL import Image

            rgb = np.asarray(Image.open(io.BytesIO(buf)).convert("RGB"))
        except ImportError:
            rgb = _jpeg_decode(buf)
        return _rgb_to_gray(rgb)
    if comp == b"\x00\x00\x00\x00":  # BI_RGB: uncompressed DIB
        absh = abs(h_signed)
        if bit_count == 24:
            stride = (w * 3 + 3) & ~3
            rows = np.frombuffer(buf[:stride * absh], np.uint8)
            bgr = rows.reshape(absh, stride)[:, :w * 3].reshape(absh, w, 3)
            gray = _rgb_to_gray(bgr[:, :, ::-1])
        elif bit_count == 8:
            stride = (w + 3) & ~3
            rows = np.frombuffer(buf[:stride * absh], np.uint8)
            gray = rows.reshape(absh, stride)[:, :w]
        else:
            raise NotImplementedError(
                f"{bit_count}-bit DIB AVI frames not supported"
            )
        # positive biHeight = bottom-up row order, per the BMP layout
        return np.ascontiguousarray(gray[::-1] if h_signed > 0 else gray)
    raise NotImplementedError(
        f"AVI codec {comp!r} needs a real video stack (pyav/ffmpeg); "
        "stdlib decode covers MJPG and uncompressed DIB"
    )


def _decode_video_frame(content: bytes, frame_idx: int, width: int, height: int) -> np.ndarray:
    """[h, w] uint8 grayscale frame.  RIFF/AVI containers decode for real
    (MJPEG via the stdlib JPEG seam, uncompressed DIB via struct+numpy;
    Pillow preferred for the JPEG step when importable) and fail loudly
    when the decoded shape disagrees with the declared metadata — the
    same contract as :func:`_decode_image`.  Inter-frame codecs raise.

    Fake (unrecognized containers): per-frame md5 chain seeded by
    (md5(content), frame_idx) — every frame is independently addressable
    without decoding its predecessors, mirroring keyframe seeks, and any
    engine with md5 can recompute it.
    """
    content = bytes(content)  # Arrow hands bytearray
    if content[:4] == _AVI_MAGIC[0] and content[8:12] == _AVI_MAGIC[1]:
        frame = _avi_decode_frame(content, frame_idx)
        if frame.shape != (height, width):
            raise ValueError(
                f"AVI frame shape {frame.shape} disagrees with declared "
                f"metadata ({height}, {width})"
            )
        return frame
    seed_hex = hashlib.md5(content).hexdigest()
    frame_key = f"{seed_hex}:f{frame_idx}".encode()
    return _md5_chain_bytes(frame_key, height * width).reshape(height, width)


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
                    frame = _decode_video_frame(content, f, w, h)
                    # integer sum then ONE double division (not np.mean's
                    # pairwise summation) so the SQL twin is bit-exact
                    mean = np.float32(int(frame.astype(np.int64).sum()) / (w * h))
                    ids.append(mid)
                    sidx.append(k)
                    fidx.append(f)
                    means.append(float(mean))
            yield pd.DataFrame(
                {
                    "media_id": pd.Series(ids, dtype="int64"),
                    "sample_idx": pd.Series(sidx, dtype="int32"),
                    "frame_idx": pd.Series(fidx, dtype="int32"),
                    "mean_intensity": pd.Series(means, dtype="float32"),
                }
            )

    return df.mapInPandas(run, schema=out_schema)


def gen_fake_video(spark, n: int = 16, seed: int = 42) -> DataFrame:
    """Deterministic fake video table for tests/benchmarks."""
    rng = np.random.default_rng(seed)
    rows = []
    for i in range(n):
        blob = rng.integers(0, 256, size=int(rng.integers(512, 2048)), dtype=np.uint8).tobytes()
        w, h = int(rng.integers(8, 24)), int(rng.integers(8, 24))
        nf = int(rng.integers(4, 40))
        rows.append((i, bytearray(blob), ("fake", w, h, nf, 25.0)))
    return spark.createDataFrame(rows, schema=VIDEO_SCHEMA)
