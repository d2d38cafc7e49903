"""Multimodal plumbing: schemas, batch shapes, determinism, column pruning."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from deep_ner_spark.operators import multimodal as mm


@pytest.fixture(scope="module")
def images(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("media") / "images.parquet")
    mm.gen_fake_media(spark, n=32, seed=9, kind="image").write.parquet(path)
    return spark.read.parquet(path)


@pytest.fixture(scope="module")
def audio(spark):
    return mm.gen_fake_media(spark, n=16, seed=9, kind="audio")


def test_image_features_shape_and_determinism(images, spark):
    out = mm.image_features(images, grid=4)
    rows = {r["media_id"]: r["features"] for r in out.collect()}
    assert len(rows) == 32
    assert all(len(v) == 4 * 4 * 3 for v in rows.values())
    rows2 = {r["media_id"]: r["features"] for r in mm.image_features(images, grid=4).collect()}
    for k in rows:
        assert np.allclose(rows[k], rows2[k])


def test_resize_plan_prunes_binary(images, spark):
    plan_df = mm.image_resize_plan(images, target=224)
    rows = plan_df.collect()
    for r in rows:
        assert r["out_width"] <= 224 and r["out_height"] <= 224
        assert max(r["out_width"], r["out_height"]) >= 50
    explained = plan_df._jdf.queryExecution().executedPlan().toString()
    # metadata-only query must not read the blob column from parquet
    assert "content" not in explained.split("ReadSchema")[-1][:400]


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


def test_media_dedup_hash(images, spark):
    out = mm.media_dedup_hashes(images)
    rows = out.collect()
    assert len({r["content_hash"] for r in rows}) == len(rows)  # all distinct
    assert all(len(r["content_hash"]) == 32 for r in rows)


# --- real-codec dispatch (PNG via stdlib zlib, WAV via stdlib wave) ----------


def _png_encode(img: np.ndarray, row_filters) -> bytes:
    """Test-fixture PNG encoder (stdlib struct+zlib): 8-bit gray/RGB/RGBA,
    per-row filter types chosen by the caller so every unfilter branch of
    the decoder is exercised."""
    import struct
    import zlib

    h, w, nch = img.shape
    color_type = {1: 0, 3: 2, 4: 6}[nch]
    lines, prev = [], np.zeros(w * nch, dtype=np.int32)
    for y in range(h):
        cur = img[y].reshape(-1).astype(np.int32)
        left = np.concatenate([np.zeros(nch, np.int32), cur[:-nch]])
        ft = row_filters[y % len(row_filters)]
        if ft == 0:
            filt = cur
        elif ft == 1:
            filt = (cur - left) % 256
        elif ft == 2:
            filt = (cur - prev) % 256
        elif ft == 3:
            filt = (cur - (left + prev) // 2) % 256
        elif ft == 4:
            filt = np.empty_like(cur)
            for x in range(len(cur)):
                a = int(cur[x - nch]) if x >= nch else 0
                b, c = int(prev[x]), (int(prev[x - nch]) if x >= nch else 0)
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                filt[x] = (int(cur[x]) - pred) % 256
        lines.append(bytes([ft]) + filt.astype(np.uint8).tobytes())
        prev = cur

    def chunk(typ: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data)) + typ + data
            + struct.pack(">I", zlib.crc32(typ + data) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(b"".join(lines)))
        + chunk(b"IEND", b"")
    )


def _wav_encode(samples_i16: np.ndarray, rate: int = 16000, nch: int = 1) -> bytes:
    import io
    import wave

    buf = io.BytesIO()
    with wave.open(buf, "wb") as wv:
        wv.setnchannels(nch)
        wv.setsampwidth(2)
        wv.setframerate(rate)
        wv.writeframes(samples_i16.astype("<i2").tobytes())
    return buf.getvalue()


def test_png_decode_all_filters_roundtrip():
    rng = np.random.default_rng(7)
    img = rng.integers(0, 256, size=(10, 7, 3), dtype=np.uint8)
    # rows cycle through every filter type 0..4
    got = mm._decode_image(_png_encode(img, row_filters=[0, 1, 2, 3, 4]), 7, 10)
    assert got.shape == (10, 7, 3) and np.array_equal(got, img)
    # grayscale broadcasts to 3 channels; RGBA drops alpha
    g = rng.integers(0, 256, size=(5, 6, 1), dtype=np.uint8)
    got_g = mm._decode_image(_png_encode(g, row_filters=[4, 3, 2, 1, 0]), 6, 5)
    assert np.array_equal(got_g, np.repeat(g, 3, axis=2))
    rgba = rng.integers(0, 256, size=(4, 4, 4), dtype=np.uint8)
    got_a = mm._decode_image(_png_encode(rgba, row_filters=[1, 4]), 4, 4)
    assert np.array_equal(got_a, rgba[:, :, :3])


def test_png_missing_ihdr_is_actionable():
    # magic + a lone IEND chunk: malformed, but must not surface as an
    # opaque KeyError(None) from the channel-count lookup
    import struct
    import zlib

    iend = struct.pack(">I", 0) + b"IEND" + struct.pack(">I", zlib.crc32(b"IEND"))
    with pytest.raises(ValueError, match="IHDR"):
        mm._png_decode(mm._PNG_MAGIC + iend)


def test_decoded_shape_must_match_metadata():
    """A real decode whose dimensions disagree with the declared metadata
    fails loudly at the seam instead of silently drifting the schema."""
    rng = np.random.default_rng(11)
    img = rng.integers(0, 256, size=(5, 4, 3), dtype=np.uint8)
    blob = _png_encode(img, row_filters=[0])
    assert mm._decode_image(blob, 4, 5).shape == (5, 4, 3)  # agreeing meta
    with pytest.raises(ValueError, match="metadata"):
        mm._decode_image(blob, 9, 9)


def test_wav_decode_real_pcm():
    i16 = np.array([0, 1, -1, 32767, -32768, 12345], dtype=np.int16)
    got = mm._decode_audio(_wav_encode(i16), n_samples=0)
    assert got.dtype == np.float32
    assert np.array_equal(got, i16.astype(np.float32) / 32768.0)
    # stereo keeps the first channel
    stereo = np.stack([i16, np.zeros_like(i16)], axis=1).reshape(-1)
    got2 = mm._decode_audio(_wav_encode(stereo, nch=2), n_samples=0)
    assert np.array_equal(got2, i16.astype(np.float32) / 32768.0)


def test_real_codec_dispatch_end_to_end(spark):
    """Real PNG/WAV blobs flow through the SAME operators as the fakes:
    image_features pools the actual pixels, audio_frame_sample the actual
    PCM — the dispatch is by container magic, not a global mode switch."""
    img = np.full((8, 8, 3), 100, dtype=np.uint8)
    img[:4] = 20  # top half dark: pooled means must reflect real pixels
    png = _png_encode(img, row_filters=[0, 1, 2, 3, 4])
    rows = [(0, bytearray(png), ("png", 8, 8, len(png)))]
    df = spark.createDataFrame(rows, schema=mm.IMAGE_SCHEMA)
    feats = mm.image_features(df, grid=2).collect()[0]["features"]
    assert feats == [20.0] * 6 + [100.0] * 6  # 2x2 grid x 3 channels

    i16 = (np.sin(np.arange(1000) / 10.0) * 16384).astype(np.int16)
    wav = _wav_encode(i16)
    adf = spark.createDataFrame(
        [(0, bytearray(wav), ("wav", 16000, len(i16)))], schema=mm.AUDIO_SCHEMA
    )
    out = mm.audio_frame_sample(adf, frame_len=400, hop=160, max_frames=3).collect()
    pcm = i16.astype(np.float32) / 32768.0
    want = {
        k: float((pcm[k * 160:k * 160 + 400].astype(np.float64) ** 2).sum() / 400)
        for k in range(3)
    }
    got = {r["frame_idx"]: r["energy"] for r in out if r["media_id"] == 0}
    for k in range(3):
        assert got[k] == pytest.approx(want[k], rel=1e-6)


def test_unrecognized_container_still_raises_without_fake():
    # JPEG magic but a truncated/garbage stream: a clear ValueError from
    # the stdlib decoder (it no longer needs Pillow for baseline JPEG)
    with pytest.raises(ValueError):
        mm._decode_image(b"\xff\xd8\xff\xe0rest", 4, 4)
    # real PNG decodes for real, not through the fake
    img = np.zeros((2, 2, 3), dtype=np.uint8)
    assert mm._decode_image(_png_encode(img, [0]), 2, 2).shape == (2, 2, 3)


def test_video_frame_sample(spark):
    import numpy as np

    from deep_ner_spark.operators import multimodal as mm

    vids = mm.gen_fake_video(spark, n=6, seed=5)
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


# --- stdlib baseline-JPEG decoder ---------------------------------------------


class _BitWriter:
    def __init__(self):
        self.out = bytearray()
        self.acc, self.n = 0, 0

    def put(self, code: int, length: int):
        self.acc = (self.acc << length) | code
        self.n += length
        while self.n >= 8:
            self.n -= 8
            b = (self.acc >> self.n) & 0xFF
            self.out.append(b)
            if b == 0xFF:
                self.out.append(0x00)  # byte stuffing
            self.acc &= (1 << self.n) - 1

    def pad(self):
        if self.n:
            self.put((1 << (8 - self.n)) - 1, 8 - self.n)  # 1-fill


def _huff_spec(symbols):
    """One fixed-length canonical table over the given symbols: (bits16,
    vals, code_of) matching the T.81 canonical assignment the decoder
    rebuilds from DHT."""
    length = max(2, len(symbols).bit_length() + 1)  # < 2^L - 1 codes
    bits = [0] * 16
    bits[length - 1] = len(symbols)
    return bits, list(symbols), {s: (length, i) for i, s in enumerate(symbols)}


def _size_cat(v: int) -> int:
    return int(abs(v)).bit_length()


def _jpeg_encode(img: np.ndarray, subsample=False, restart_interval=0) -> bytes:
    """Test-fixture baseline-JPEG encoder (stdlib struct + numpy): all-ones
    quant tables, per-image canonical Huffman tables, optional 4:2:0
    subsampling and restart markers — exercises every decoder branch."""
    import struct

    A = mm._dct_matrix()
    if img.ndim == 2:
        planes = [img.astype(np.float64)]
        samp = [(1, 1)]
    else:
        r, g, b = (img[:, :, c].astype(np.float64) for c in range(3))
        y = 0.299 * r + 0.587 * g + 0.114 * b
        cb = 128.0 - 0.168736 * r - 0.331264 * g + 0.5 * b
        cr = 128.0 + 0.5 * r - 0.418688 * g - 0.081312 * b
        planes = [y, cb, cr]
        samp = [(2, 2), (1, 1), (1, 1)] if subsample else [(1, 1)] * 3
    h, w = img.shape[:2]
    hmax = max(s[0] for s in samp)
    vmax = max(s[1] for s in samp)
    mcux, mcuy = -(-w // (8 * hmax)), -(-h // (8 * vmax))
    padded = []
    for p, (hs, v) in zip(planes, samp):
        if (hs, v) != (hmax, vmax):  # chroma downsample by block mean
            fy, fx = vmax // v, hmax // hs
            ph, pw = -(-p.shape[0] // fy) * fy, -(-p.shape[1] // fx) * fx
            p = np.pad(p, ((0, ph - p.shape[0]), (0, pw - p.shape[1])), "edge")
            p = p.reshape(ph // fy, fy, pw // fx, fx).mean(axis=(1, 3))
        th, tw = mcuy * 8 * v, mcux * 8 * hs
        p = np.pad(p, ((0, th - p.shape[0]), (0, tw - p.shape[1])), "edge")
        padded.append(p)

    # coefficient pass: collect (per-MCU, interleaved) blocks + symbol stats
    mcus, pred = [], [0] * len(planes)
    dc_syms, ac_syms = set(), set()
    n_restarts = 0
    for m in range(mcux * mcuy):
        if restart_interval and m and m % restart_interval == 0:
            pred = [0] * len(planes)
            n_restarts += 1
        my, mx = divmod(m, mcux)
        units = []
        for ci, (p, (hs, v)) in enumerate(zip(padded, samp)):
            for by in range(v):
                for bx in range(hs):
                    blk = p[(my * v + by) * 8:(my * v + by) * 8 + 8,
                            (mx * hs + bx) * 8:(mx * hs + bx) * 8 + 8]
                    co = np.rint(A @ (blk - 128.0) @ A.T).astype(np.int64)
                    zz = co.reshape(-1)[mm._ZIGZAG]
                    diff = int(zz[0]) - pred[ci]
                    pred[ci] = int(zz[0])
                    dc_syms.add(_size_cat(diff))
                    run = 0
                    acs = []
                    for k in range(1, 64):
                        if zz[k] == 0:
                            run += 1
                            continue
                        while run > 15:
                            acs.append((0xF0, 0, 0))
                            ac_syms.add(0xF0)
                            run -= 16
                        s = _size_cat(int(zz[k]))
                        acs.append(((run << 4) | s, int(zz[k]), s))
                        ac_syms.add((run << 4) | s)
                        run = 0
                    if run:
                        acs.append((0x00, 0, 0))
                        ac_syms.add(0x00)
                    units.append((ci, diff, acs))
        mcus.append(units)

    dc_bits, dc_vals, dc_code = _huff_spec(sorted(dc_syms))
    ac_bits, ac_vals, ac_code = _huff_spec(sorted(ac_syms))
    out = bytearray(b"\xff\xd8")
    out += b"\xff\xdb" + struct.pack(">H", 2 + 1 + 64) + b"\x00" + b"\x01" * 64
    if restart_interval:
        out += b"\xff\xdd" + struct.pack(">HH", 4, restart_interval)
    out += b"\xff\xc0" + struct.pack(">HBHHB", 8 + 3 * len(planes), 8, h, w,
                                     len(planes))
    for ci, (hs, v) in enumerate(samp):
        out += struct.pack(">BBB", ci + 1, (hs << 4) | v, 0)
    for tc, (bits, vals) in ((0, (dc_bits, dc_vals)), (1, (ac_bits, ac_vals))):
        out += b"\xff\xc4" + struct.pack(">HB", 2 + 1 + 16 + len(vals), tc << 4)
        out += bytes(bits) + bytes(vals)
    out += b"\xff\xda" + struct.pack(">HB", 2 + 1 + 2 * len(planes) + 3,
                                     len(planes))
    for ci in range(len(planes)):
        out += struct.pack(">BB", ci + 1, 0x00)  # DC table 0, AC table 0
    out += b"\x00\x3f\x00"

    bw = _BitWriter()
    rst = 0
    for m, units in enumerate(mcus):
        if restart_interval and m and m % restart_interval == 0:
            bw.pad()
            bw.out += bytes([0xFF, 0xD0 + rst])
            rst = (rst + 1) & 7
        for _ci, diff, acs in units:
            s = _size_cat(diff)
            bw.put(*reversed(dc_code[s]))
            if s:
                bw.put(diff if diff > 0 else diff + (1 << s) - 1, s)
            for sym, val, sv in acs:
                bw.put(*reversed(ac_code[sym]))
                if sv:
                    bw.put(val if val > 0 else val + (1 << sv) - 1, sv)
    bw.pad()
    out += bw.out
    out += b"\xff\xd9"
    return bytes(out)


def test_jpeg_decode_flat_color_exact():
    """All-ones quant + flat color: every AC is 0 and the DC is exact, so
    the decode must be EXACT (incl. the 4:2:0 path, where block-constant
    chroma survives mean-downsample + nearest-upsample unchanged)."""
    img = np.zeros((16, 16, 3), dtype=np.uint8)
    img[:] = (200, 30, 90)
    for subsample in (False, True):
        got = mm._decode_image(_jpeg_encode(img, subsample=subsample), 16, 16)
        assert got.shape == (16, 16, 3)
        assert int(np.abs(got.astype(int) - img.astype(int)).max()) <= 1
    g = np.full((8, 8), 173, dtype=np.uint8)
    got_g = mm._decode_image(_jpeg_encode(g), 8, 8)
    assert np.array_equal(got_g, np.repeat(g[:, :, None], 3, axis=2))


def test_jpeg_decode_random_roundtrip_within_rounding():
    """Random RGB + gray, non-multiple-of-8 dims, 4:4:4: with unit quant
    tables the only loss is coefficient rounding (<=0.5 each), so the
    round-trip error is bounded by a few LSBs."""
    rng = np.random.default_rng(13)
    img = rng.integers(0, 256, size=(19, 13, 3), dtype=np.uint8)
    got = mm._decode_image(_jpeg_encode(img), 13, 19)
    assert got.shape == (19, 13, 3)
    err = np.abs(got.astype(int) - img.astype(int))
    assert err.max() <= 4 and err.mean() < 1.5
    g = rng.integers(0, 256, size=(10, 17), dtype=np.uint8)
    got_g = mm._decode_image(_jpeg_encode(g), 17, 10)
    err_g = np.abs(got_g[:, :, 0].astype(int) - g.astype(int))
    assert got_g.shape == (10, 17, 3) and err_g.max() <= 3
    assert np.array_equal(got_g[:, :, 0], got_g[:, :, 1])


def test_jpeg_decode_restart_markers_and_errors():
    rng = np.random.default_rng(29)
    img = rng.integers(0, 256, size=(24, 40, 3), dtype=np.uint8)
    blob = _jpeg_encode(img, restart_interval=2)
    assert b"\xff\xd0" in blob  # RST0 actually present in the stream
    got = mm._decode_image(blob, 40, 24)
    assert np.abs(got.astype(int) - img.astype(int)).max() <= 4
    with pytest.raises(ValueError):
        mm._jpeg_decode(b"\x00\x01")
    # progressive SOF2 is an actionable NotImplementedError, not garbage
    prog = blob.replace(b"\xff\xc0", b"\xff\xc2", 1)
    with pytest.raises(NotImplementedError, match="Pillow"):
        mm._jpeg_decode(prog)


# --- stdlib AVI (MJPEG / uncompressed DIB) video decode ------------------------


def _avi_encode(frames, codec="dib8", top_down=False):
    """Test-fixture AVI encoder (stdlib struct): one vids stream; frames as
    ``00db`` uncompressed DIB chunks (8-bit gray or 24-bit BGR, 4-byte row
    stride, bottom-up unless ``top_down``) or ``00dc`` MJPEG chunks reusing
    the baseline-JPEG fixture encoder above."""
    import struct

    h, w = frames[0].shape[:2]

    def chunk(cid, body):
        pad = b"\x00" if len(body) & 1 else b""
        return cid + struct.pack("<I", len(body)) + body + pad

    def lst(ltype, body):
        return chunk(b"LIST", ltype + body)

    if codec == "mjpeg":
        comp, bits, tag = b"MJPG", 24, b"00dc"
        payloads = [_jpeg_encode(f) for f in frames]
    else:
        comp, tag = b"\x00\x00\x00\x00", b"00db"
        bits = 8 if codec == "dib8" else 24
        payloads = []
        for f in frames:
            if bits == 8:
                stride = (w + 3) & ~3
                rows = np.zeros((h, stride), np.uint8)
                rows[:, :w] = f
            else:
                stride = (w * 3 + 3) & ~3
                rows = np.zeros((h, stride), np.uint8)
                rows[:, : w * 3] = f[:, :, ::-1].reshape(h, w * 3)  # RGB->BGR
            payloads.append((rows if top_down else rows[::-1]).tobytes())
    avih = struct.pack("<14I", 40000, 0, 0, 0, len(frames), 0, 1, 0, w, h,
                       0, 0, 0, 0)
    strh = (b"vids" + comp
            + struct.pack("<IHHIIIIIII", 0, 0, 0, 0, 1, 25, 0, len(frames),
                          0, 0)
            + struct.pack("<4H", 0, 0, w, h))
    strf = struct.pack("<IiiHHIIiiII", 40, w, -h if top_down else h, 1,
                       bits, int.from_bytes(comp, "little"), 0, 0, 0, 0, 0)
    hdrl = lst(b"hdrl", chunk(b"avih", avih)
               + lst(b"strl", chunk(b"strh", strh) + chunk(b"strf", strf)))
    movi = lst(b"movi", b"".join(chunk(tag, p) for p in payloads))
    body = b"AVI " + hdrl + movi
    return b"RIFF" + struct.pack("<I", len(body)) + body


def test_avi_dib_decode_bit_exact_end_to_end(spark):
    """8-bit DIB frames are lossless, so the sampled mean intensities must
    be BIT-exact through the full mapInPandas operator."""
    rng = np.random.default_rng(7)
    frames = [rng.integers(0, 256, size=(12, 10), dtype=np.uint8)
              for _ in range(6)]
    blob = _avi_encode(frames, codec="dib8")
    df = spark.createDataFrame(
        [(1, bytearray(blob), ("dib", 10, 12, 6, 25.0))],
        schema=mm.VIDEO_SCHEMA,
    )
    got = {r["sample_idx"]: (r["frame_idx"], r["mean_intensity"])
           for r in mm.video_frame_sample(df, n_out=4).collect()}
    assert len(got) == 4
    for k in range(4):
        f = (k * 6) // 4
        want = float(np.float32(int(frames[f].astype(np.int64).sum()) / 120))
        assert got[k] == (f, want)


def test_avi_dib_topdown_and_bgr24():
    rng = np.random.default_rng(11)
    gray = [rng.integers(0, 256, size=(9, 7), dtype=np.uint8)
            for _ in range(3)]
    up = _avi_encode(gray, codec="dib8")
    down = _avi_encode(gray, codec="dib8", top_down=True)
    for i in range(3):
        a = mm._avi_decode_frame(up, i)
        b = mm._avi_decode_frame(down, i)
        assert np.array_equal(a, gray[i]) and np.array_equal(b, gray[i])
    rgb = [rng.integers(0, 256, size=(5, 6, 3), dtype=np.uint8)
           for _ in range(2)]
    blob24 = _avi_encode(rgb, codec="dib24")
    for i in range(2):
        assert np.array_equal(mm._avi_decode_frame(blob24, i),
                              mm._rgb_to_gray(rgb[i]))


def test_avi_mjpeg_decode(spark):
    """Flat-color MJPEG frames decode exactly (unit quant tables, every AC
    zero); channel-equal random frames stay within JPEG rounding."""
    flats = [np.full((16, 8), v, dtype=np.uint8) for v in (0, 77, 200, 255)]
    blob = _avi_encode(flats, codec="mjpeg")
    for i, f in enumerate(flats):
        assert np.array_equal(mm._avi_decode_frame(blob, i), f)
    df = spark.createDataFrame(
        [(3, bytearray(blob), ("mjpeg", 8, 16, 4, 25.0))],
        schema=mm.VIDEO_SCHEMA,
    )
    rows = mm.video_frame_sample(df, n_out=4).collect()
    assert {(r["sample_idx"], r["frame_idx"]) for r in rows} == {
        (k, k) for k in range(4)
    }
    for r in rows:
        assert r["mean_intensity"] == float(flats[r["frame_idx"]][0, 0])
    rng = np.random.default_rng(3)
    noisy = [rng.integers(0, 256, size=(10, 13), dtype=np.uint8)
             for _ in range(2)]
    nblob = _avi_encode(noisy, codec="mjpeg")
    for i, f in enumerate(noisy):
        err = np.abs(mm._avi_decode_frame(nblob, i).astype(int)
                     - f.astype(int))
        assert err.max() <= 4


def test_avi_decode_error_contract():
    frames = [np.zeros((8, 8), dtype=np.uint8)]
    blob = _avi_encode(frames, codec="dib8")
    # metadata n_frames beyond the container's actual stream
    with pytest.raises(ValueError, match="out of range"):
        mm._decode_video_frame(blob, 5, 8, 8)
    # declared dims disagreeing with the decoded frame
    with pytest.raises(ValueError, match="disagrees"):
        mm._decode_video_frame(blob, 0, 4, 4)
    # inter-frame codec: actionable error naming a real video stack
    # (flip the strf compression field to a FourCC we can't decode)
    i = blob.find(b"strf")
    bad = bytearray(blob)
    bad[i + 8 + 16:i + 8 + 20] = b"H264"
    with pytest.raises(NotImplementedError, match="pyav"):
        mm._avi_decode_frame(bytes(bad), 0)
    # truncated/garbage AVI
    with pytest.raises(ValueError):
        mm._avi_index(b"RIFF\x04\x00\x00\x00AVI ")
    # unrecognized containers still hit the deterministic fake
    fake = mm._decode_video_frame(b"not-a-container", 0, 4, 4)
    assert fake.shape == (4, 4)
