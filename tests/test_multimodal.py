"""Multimodal plumbing: schemas, batch shapes, determinism, codec seams,
null content."""

import sys
import types

import numpy as np
import pandas as pd
import pytest

from deep_ner_spark.operators import multimodal as mm


def gen_fake_media(spark, n: int = 64, seed: int = 42, kind: str = "image"):
    """Deterministic opaque-blob media table (the md5 fake decodes it)."""
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
    schema = mm.IMAGE_SCHEMA if kind == "image" else mm.AUDIO_SCHEMA
    return spark.createDataFrame(rows, schema=schema)


def gen_fake_video(spark, n: int = 16, seed: int = 42):
    """Deterministic opaque-blob video table (the md5 fake decodes it)."""
    rng = np.random.default_rng(seed)
    rows = []
    for i in range(n):
        blob = rng.integers(0, 256, size=int(rng.integers(512, 2048)), dtype=np.uint8).tobytes()
        w, h = int(rng.integers(8, 24)), int(rng.integers(8, 24))
        nf = int(rng.integers(4, 40))
        rows.append((i, bytearray(blob), ("fake", w, h, nf, 25.0)))
    return spark.createDataFrame(rows, schema=mm.VIDEO_SCHEMA)


@pytest.fixture(scope="module")
def images(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("media") / "images.parquet")
    gen_fake_media(spark, n=32, seed=9, kind="image").write.parquet(path)
    return spark.read.parquet(path)


@pytest.fixture(scope="module")
def audio(spark):
    return gen_fake_media(spark, n=16, seed=9, kind="audio")


def test_image_features_shape_and_determinism(images, spark):
    out = mm.image_features(images, grid=4)
    rows = {r["media_id"]: r["features"] for r in out.collect()}
    assert len(rows) == 32
    assert all(len(v) == 4 * 4 * 3 for v in rows.values())
    rows2 = {r["media_id"]: r["features"] for r in mm.image_features(images, grid=4).collect()}
    for k in rows:
        assert np.allclose(rows[k], rows2[k])


def test_audio_frames(audio, spark):
    out = mm.audio_frame_sample(audio, frame_len=400, hop=160, max_frames=5)
    rows = out.collect()
    assert len(rows) > 0
    per_media = {}
    for r in rows:
        per_media.setdefault(r["media_id"], []).append(r["frame_idx"])
        assert r["energy"] >= 0.0
    for idxs in per_media.values():
        assert sorted(idxs) == list(range(len(idxs)))  # dense frame indices


def test_video_frame_sample(spark):
    vids = gen_fake_video(spark, n=6, seed=5)
    out = mm.video_frame_sample(vids, n_out=4)
    rows = out.collect()
    assert len(rows) == 6 * 4
    # uniform sampling: frame_idx = (k * n_frames) // 4, strictly within range
    meta = {r["media_id"]: r["meta"] for r in vids.collect()}
    for r in rows:
        nf = meta[r["media_id"]]["n_frames"]
        assert r["frame_idx"] == (r["sample_idx"] * nf) // 4
        assert 0 <= r["frame_idx"] < nf
    # bit-exact against a hand computation through the decode seam
    v0 = vids.where("media_id = 0").collect()[0]
    w, h = v0["meta"]["width"], v0["meta"]["height"]
    frame = mm._decode_video_frame(bytes(v0["content"]), 0, w, h)
    want = np.float32(int(frame.astype(np.int64).sum()) / (w * h))
    got = [r for r in rows if r["media_id"] == 0 and r["sample_idx"] == 0][0]
    assert got["mean_intensity"] == want
    # determinism across runs
    again = {(r["media_id"], r["sample_idx"]): r["mean_intensity"]
             for r in mm.video_frame_sample(vids, n_out=4).collect()}
    assert all(again[(r["media_id"], r["sample_idx"])] == r["mean_intensity"]
               for r in rows)


# --- codec seams: stand-in codec packages ------------------------------------

_PNG = mm._PNG_MAGIC + b"opaque-png-body"
_JPEG = mm._JPEG_MAGIC + b"\xe0opaque-jpeg-body"
_WAV = b"RIFF\x24\x00\x00\x00WAVEfmt opaque"
_AVI = b"RIFF\x24\x00\x00\x00AVI LIST opaque"


def _install_fake_pil(monkeypatch, opened, shape=(5, 4)):
    """Stand-in ``PIL.Image`` whose ``open`` records the bytes it is given
    and returns an RGBA image of ``shape`` (converted to RGB on request)."""

    class _Img:
        def __init__(self, mode):
            self.mode = mode

        def convert(self, mode):
            return _Img(mode)

        def __array__(self, dtype=None, copy=None):
            assert self.mode == "RGB"
            return np.full(shape + (3,), 7, dtype=np.uint8)

    def open_(buf):
        opened.append(buf.read())
        return _Img("RGBA")

    image = types.ModuleType("PIL.Image")
    image.open = open_
    pil = types.ModuleType("PIL")
    pil.Image = image
    monkeypatch.setitem(sys.modules, "PIL", pil)
    monkeypatch.setitem(sys.modules, "PIL.Image", image)


def _install_fake_soundfile(monkeypatch, opened, data):
    fake = types.ModuleType("soundfile")

    def read(buf, dtype):
        opened.append(buf.read())
        return data.astype(dtype), 16000

    fake.read = read
    monkeypatch.setitem(sys.modules, "soundfile", fake)


def _install_fake_av(monkeypatch, frames):
    """Stand-in ``av`` whose container decodes to the given gray frames."""

    class _Frame:
        def __init__(self, arr):
            self.arr = arr

        def to_ndarray(self, format):
            assert format == "gray"
            return self.arr

    class _Container:
        def __enter__(self):
            return self

        def __exit__(self, *exc):
            return False

        def decode(self, video):
            assert video == 0
            return (_Frame(f) for f in frames)

    fake = types.ModuleType("av")
    fake.open = lambda buf: _Container()
    monkeypatch.setitem(sys.modules, "av", fake)


def test_codec_seams_route_through_package(monkeypatch):
    """PNG/JPEG blobs reach Pillow, WAV blobs soundfile and AVI blobs pyav,
    each with the blob's exact bytes (Arrow's bytearray included)."""
    opened = []
    _install_fake_pil(monkeypatch, opened)
    for blob in (_PNG, _JPEG):
        img = mm._decode_image(bytearray(blob), 4, 5)
        assert img.shape == (5, 4, 3) and img.dtype == np.uint8
    assert opened == [_PNG, _JPEG]

    heard = []
    mono = np.array([0.0, 0.5, -0.25], dtype=np.float64)
    _install_fake_soundfile(monkeypatch, heard, mono)
    pcm = mm._decode_audio(bytearray(_WAV), n_samples=999)
    assert heard == [_WAV] and pcm.dtype == np.float32
    assert np.array_equal(pcm, mono.astype(np.float32))

    frames = [np.full((3, 2), v, dtype=np.uint8) for v in (10, 20, 30)]
    _install_fake_av(monkeypatch, frames)
    assert np.array_equal(mm._decode_video_frame(bytearray(_AVI), 2, 2, 3), frames[2])


def test_wav_decode_real_pcm(monkeypatch):
    """soundfile's float32 PCM passes through; a multi-channel read keeps
    the first channel."""
    i16 = np.array([0, 1, -1, 32767, -32768, 12345], dtype=np.int16)
    mono = i16.astype(np.float32) / 32768.0
    stereo = np.stack([mono, np.ones_like(mono)], axis=1)
    _install_fake_soundfile(monkeypatch, [], stereo)
    got = mm._decode_audio(_WAV, n_samples=0)
    assert got.dtype == np.float32 and got.flags["C_CONTIGUOUS"]
    assert np.array_equal(got, mono)


def test_decoded_shape_must_match_metadata(monkeypatch):
    """A real decode whose dimensions disagree with the declared metadata
    fails loudly at the seam instead of silently drifting the schema."""
    _install_fake_pil(monkeypatch, [], shape=(5, 4))
    assert mm._decode_image(_PNG, 4, 5).shape == (5, 4, 3)  # agreeing meta
    assert mm._decode_image(_PNG, 0, 0).shape == (5, 4, 3)  # dims unknown
    with pytest.raises(ValueError, match="metadata"):
        mm._decode_image(_PNG, 9, 9)
    with pytest.raises(ValueError, match="metadata"):
        mm._decode_image(_JPEG, 5, 4)  # transposed


def test_avi_decode_error_contract(monkeypatch):
    frames = [np.zeros((8, 8), dtype=np.uint8)]
    _install_fake_av(monkeypatch, frames)
    # metadata n_frames beyond the container's actual stream
    with pytest.raises(ValueError, match="out of range"):
        mm._decode_video_frame(_AVI, 5, 8, 8)
    # declared dims disagreeing with the decoded frame
    with pytest.raises(ValueError, match="disagrees"):
        mm._decode_video_frame(_AVI, 0, 4, 4)
    # without pyav an AVI is an actionable error, never the fake
    monkeypatch.setitem(sys.modules, "av", None)
    with pytest.raises(NotImplementedError, match="pyav"):
        mm._decode_video_frame(_AVI, 0, 8, 8)
    # unrecognized containers still hit the deterministic fake
    assert mm._decode_video_frame(b"not-a-container", 0, 4, 4).shape == (4, 4)


def test_unrecognized_container_still_raises_without_fake(monkeypatch):
    """With no codec package importable, each recognized container raises
    naming the package to install; only opaque blobs take the md5 fake."""
    for mod in ("PIL", "PIL.Image", "soundfile", "av"):
        monkeypatch.setitem(sys.modules, mod, None)  # import raises
    for blob in (_PNG, _JPEG):
        with pytest.raises(NotImplementedError, match="Pillow"):
            mm._decode_image(blob, 4, 4)
    with pytest.raises(NotImplementedError, match="soundfile"):
        mm._decode_audio(_WAV, 16)
    with pytest.raises(NotImplementedError, match="pyav"):
        mm._decode_video_frame(_AVI, 0, 4, 4)
    # the fake is a pure function of the bytes: the pinned md5 chain
    assert mm._decode_image(b"opaque", 2, 3).shape == (3, 2, 3)
    assert mm._decode_audio(b"opaque", 16).shape == (16,)
    assert np.array_equal(
        mm._decode_image(b"opaque", 2, 3).reshape(-1), mm._md5_chain_bytes(b"opaque", 18)
    )
